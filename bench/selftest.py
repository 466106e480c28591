#!/usr/bin/env python3
"""Self-test of the benchmark itself.

    python3 bench/selftest.py

1. A corrupted pinned result must be caught: with one expected digest
   changed, a query_mix run must report failed operations (error_rate > 0)
   and exit non-zero.
2. Inputs are a function of the seed: for every workload, two runs with the
   same seed generate byte-identical inputs (the same SHA-256 over every
   generated row and operation), and a different seed changes them.
Exits non-zero when any of these fails.
"""
import json
import os
import subprocess
import sys
import tempfile

BENCH = os.path.dirname(os.path.abspath(__file__))
RUN = [sys.executable, os.path.join(BENCH, "run.py")]


def run(args):
    p = subprocess.run(RUN + args, capture_output=True, text=True, timeout=900)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    return p.returncode, last, p.stderr


def main():
    problems = []
    os.makedirs(os.path.join(BENCH, ".cache"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(BENCH, ".cache")) as tmp:
        with open(os.path.join(BENCH, "expected.json")) as f:
            pinned = json.load(f)
        name = sorted(pinned["queries"])[0]
        d = pinned["queries"][name]["digest"]
        pinned["queries"][name]["digest"] = d[:-1] + ("0" if d[-1] != "0" else "1")
        bad = os.path.join(tmp, "expected.json")
        with open(bad, "w") as f:
            json.dump(pinned, f)
        rc, last, err = run(["--workload", "query_mix", "--seed", "1", "--seconds", "1",
                             "--trace", "0", "--steps", "1", "--expected", bad])
        try:
            res = json.loads(last)
            error_rate = res["failed"] / res["attempted"]
        except (ValueError, KeyError, ZeroDivisionError):
            res, error_rate = None, 0.0
        print(f"corrupted digest of {name}: rc={rc} error_rate={error_rate:.4f}")
        if rc == 0 or error_rate <= 0:
            problems.append("a corrupted expected value was not reported")

        out = os.path.join(tmp, "records.jsonl")
        for wl in ("tick_read", "tick_ingest", "query_mix"):
            for seed in (1, 1, 2):
                rc, last, err = run(["--workload", wl, "--seed", str(seed), "--seconds", "1",
                                     "--trace", "0", "--steps", "2", "--out", out])
                if rc != 0:
                    problems.append(f"{wl} seed {seed} failed: {err.strip()[-300:]}")
        with open(out) as f:
            recs = [json.loads(l) for l in f]
        for wl in ("tick_read", "tick_ingest", "query_mix"):
            sha = [r["input_sha256"] for r in recs if r["workload"] == wl]
            print(f"{wl}: inputs {[s[:12] for s in sha]}")
            if len(sha) != 3 or sha[0] != sha[1] or sha[0] == sha[2]:
                problems.append(f"{wl}: inputs are not a function of the seed")
    for p in problems:
        print(f"FAIL {p}")
    print("selftest " + ("failed" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
