#!/usr/bin/env python3
"""Draw the query_mix sample and pin its expected results.

    python3 bench/run.py --pin /tmp/pinned.json --dump /tmp/dump
    python3 tools/check.py bench/.cache/fixtures_<tag> /tmp/dump > /tmp/check.txt
    python3 bench/pin.py /tmp/pinned.json /tmp/check.txt

The first command runs every declared query the mix may use over the
benchmark's fixtures, records its row count and digest, and dumps its result
for the DuckDB oracle compare. A query is eligible when it ran, its digest
repeated across two executions, it returned rows, it ran within MAX_SECONDS,
and it either has no oracle or `tools/check.py` reported it OK. The sample is
a fixed number of eligible queries per family, drawn with a fixed seed, and
is written to bench/expected.json.
"""
import json
import os
import random
import re
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
DRAW_SEED = 2026
MAX_SECONDS = 2.0
PER_FAMILY = {"ts": 2, "win": 1, "agg": 2, "join": 2, "tpch": 2, "llm": 2,
              "fn": 1, "set": 1, "sort": 1, "mm": 1, "misc": 1}


def write(out):
    with open(os.path.join(BENCH, "expected.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


def main(pinned_file, check_file):
    with open(pinned_file) as f:
        pinned = json.load(f)
    with open(check_file) as f:
        matched = {m.group(1) for m in re.finditer(r"^OK\s+(\S+):", f.read(), re.M)}
    eligible = {n: r for n, r in pinned.items()
                if "error" not in r and r["stable"] and r["rows"] > 0
                and r["seconds"] <= MAX_SECONDS and (not r["oracle"] or n in matched)}
    rng = random.Random(DRAW_SEED)
    sample = {}
    for fam, count in sorted(PER_FAMILY.items()):
        names = sorted(n for n, r in eligible.items() if r["family"] == fam)
        for n in rng.sample(names, count):
            r = eligible[n]
            sample[n] = {"family": fam, "rows": r["rows"], "digest": r["digest"],
                         "oracle": "duckdb-matched" if r["oracle"] else "none"}
    write({"draw_seed": DRAW_SEED, "per_family": PER_FAMILY, "queries": dict(sorted(sample.items()))})
    print(f"{len(eligible)} eligible of {len(pinned)}; pinned {len(sample)}")


if __name__ == "__main__":
    main(*sys.argv[1:])
