#!/usr/bin/env python3
"""Compare two commits on the benchmark, from paired runs.

    python3 bench/compare.py run BASE_DIR NEW_DIR OUT_DIR [--trace]
    python3 bench/compare.py OUT_DIR/base.jsonl OUT_DIR/new.jsonl
    python3 bench/compare.py RECORDS.jsonl

`run` benchmarks two checkouts in interleaved pairs: for each workload and
seed 1..10 it runs both sides back to back, alternating which side goes
first, and appends each run's record (`bench/run.py --out`) to
OUT_DIR/base.jsonl or OUT_DIR/new.jsonl. With --trace each pair also makes
one traced run per side.

With two record files it pairs the untraced runs by workload and seed and,
for every workload and end-to-end metric in BENCHMARK.json, prints each
side's quartiles and median and a verdict from the per-pair changes
(new - base) / base, signed so that a positive change is worse:

- `unresolved` when the quartile distance of the changes is wider than the
  bound, unless every new run reads better than every base run (`better`);
- `worse beyond bound` when the median change is worse than the bound;
- `better` when the new side wins at least 9 of every 10 pairs and the
  median change exceeds the quartile distance of the changes;
- `within bound` otherwise.

Pairing cancels a slow drift of the host's speed, which a comparison of two
sets run at different times takes for a change of the code. Noise faster
than a pair is not cancelled; it widens the spread of the changes, and the
verdict is then `unresolved`. Traced runs of the same workload and seed
are compared on the counts that repeat exactly (jobs, stages, tasks, files,
versions, bytes read and written; not shuffle bytes), and every count that
moved is listed.

With one record file it prints that set's figures and its tracing overhead:
the median over seeds of the traced minus the untraced operation median.
"""
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXACT_UNITS = {"count", "B"}
# shuffle block sizes differ by a few bytes between runs of the same inputs
NOT_EXACT = {"spark.shuffle_write_bytes", "spark.shuffle_read_bytes"}
WIN_SHARE = 0.9
PAIRS = 10


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(metric, pairs):
    """Verdict for the new side against the base, from (base, new) value pairs."""
    sign = 1 if metric["better"] == "lower" else -1
    change = [sign * (n - b) / b for b, n in pairs]
    q1, med, q3 = quartiles(change)
    wins = sum(1 for c in change if c < 0)
    if q3 - q1 > metric["bound"]:
        base, new = [b for b, _ in pairs], [n for _, n in pairs]
        if all(sign * (n - b) < 0 for n in new for b in base):
            return "better", change, wins
        return "unresolved", change, wins
    if med > metric["bound"]:
        return "worse beyond bound", change, wins
    if wins >= WIN_SHARE * len(change) and -med > q3 - q1:
        return "better", change, wins
    return "within bound", change, wins


def untraced(recs, wl):
    return {r["seed"]: r["end_to_end"] for r in recs if r["workload"] == wl and not r["trace"]}


def overhead(recs, wl):
    plain = untraced(recs, wl)
    diffs = [r["per_layer"]["trace.op_p50_ms"] - plain[r["seed"]]["op_p50_ms"]
             for r in recs if r["workload"] == wl and r["trace"] and r["seed"] in plain]
    return (statistics.median(diffs), len(diffs)) if diffs else None


def fmt(xs):
    return "/".join(f"{x:.4g}" for x in quartiles(xs))


def report_one(spec, recs):
    print(f"{'workload':12} {'metric':14} {'q1/median/q3':>32} {'spread':>7}  runs")
    for wl in sorted({r["workload"] for r in recs}):
        runs = untraced(recs, wl)
        for m in spec["end_to_end"]:
            v = [e[m["name"]] for e in runs.values()]
            if v:
                q1, med, q3 = quartiles(v)
                print(f"{wl:12} {m['name']:14} {fmt(v):>32} {(q3 - q1) / med:7.3f}  {len(v)}")
        o = overhead(recs, wl)
        if o:
            print(f"{wl:12} tracing overhead {o[0]:+.2f} ms on the operation median "
                  f"(median of {o[1]} seeds)")


def report_pairs(spec, base, new):
    print(f"{'workload':12} {'metric':14} {'base q1/med/q3':>28} {'new q1/med/q3':>28} "
          f"{'change q1/med/q3':>22} wins  verdict")
    moved = 0
    for wl in sorted({r["workload"] for r in base} & {r["workload"] for r in new}):
        b, n = untraced(base, wl), untraced(new, wl)
        seeds = sorted(b.keys() & n.keys())
        if not seeds:
            continue
        for m in spec["end_to_end"]:
            pairs = [(b[s][m["name"]], n[s][m["name"]]) for s in seeds]
            v, change, wins = verdict(m, pairs)
            ch = "/".join(f"{x:+.3f}" for x in quartiles(change))
            print(f"{wl:12} {m['name']:14} {fmt([p[0] for p in pairs]):>28} "
                  f"{fmt([p[1] for p in pairs]):>28} {ch:>22} {wins:2}/{len(pairs):<2} {v}")
        exact = [m["name"] for m in spec["per_layer"]
                 if m["unit"] in EXACT_UNITS and m["name"] not in NOT_EXACT]
        tb = {r["seed"]: r["per_layer"] for r in base if r["workload"] == wl and r["trace"]}
        tn = {r["seed"]: r["per_layer"] for r in new if r["workload"] == wl and r["trace"]}
        for seed in sorted(tb.keys() & tn.keys()):
            for name in exact:
                if tb[seed].get(name) != tn[seed].get(name):
                    moved += 1
                    print(f"{wl:12} seed {seed}: {name} moved {tb[seed].get(name)} -> {tn[seed].get(name)}")
    print(f"{moved} exact counts moved")


def run_pairs(spec, argv):
    args = [a for a in argv if not a.startswith("--")]
    base_dir, new_dir, out = args[:3]
    traces = (0, 1) if "--trace" in argv else (0,)
    os.makedirs(out, exist_ok=True)
    sides = [("base", base_dir), ("new", new_dir)]
    for wl in [w["name"] for w in spec["workloads"]]:
        for seed in range(1, PAIRS + 1):
            for trace in traces:
                for side, d in (sides if seed % 2 else sides[::-1]):
                    cmd = [sys.executable, "bench/run.py", "--workload", wl, "--seed", str(seed),
                           "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
                           "--out", os.path.abspath(os.path.join(out, f"{side}.jsonl"))]
                    p = subprocess.run(cmd, cwd=d, capture_output=True, text=True)
                    last = p.stdout.strip().splitlines()[-1:] or [p.stderr.strip()[-300:]]
                    print(f"{wl} seed {seed} trace {trace} {side}: rc={p.returncode} {last[0][:200]}",
                          flush=True)
    report_pairs(spec, load(os.path.join(out, "base.jsonl")), load(os.path.join(out, "new.jsonl")))


def main(argv):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if len(argv) < 2:
        print(__doc__)
        return 2
    if argv[1] == "run":
        run_pairs(spec, argv[2:])
    elif len(argv) == 2:
        report_one(spec, load(argv[1]))
    else:
        report_pairs(spec, load(argv[1]), load(argv[2]))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
