#!/usr/bin/env python3
"""Benchmark of the graft timeseries store and its query operators.

    python3 bench/run.py --workload tick_read --seed 1 --seconds 10 --trace 0

Builds the library and the harness from this checkout (first run only),
runs one workload in one JVM on local[k] with one client thread, checks every
output, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones. Lines above it give
the workload-specific figures. Exits non-zero when any check fails.

Development options: --out FILE appends the full record as one JSON line
(read by bench/compare.py); --spans FILE keeps the traced spans; --steps N
runs a fixed number of loop steps; --expected FILE replaces the pinned
query results; --pin FILE --dump DIR records every candidate query's result
(see bench/pin.py).
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CACHE = os.path.join(BENCH, ".cache")
TARGET = os.path.join(BENCH, "target")
EXPECTED = os.path.join(BENCH, "expected.json")
FIXTURE_SCALE = "0.1"
HEAP = "2g"
DEADLINE_S = 175

# Operations whose latency the end-to-end metrics summarise, and the tail
# percentile reported for them. A run holds too few operations for the
# highest percentile with ten samples beyond it to be a tail, so each run
# prints its percentile, sample count and how many samples lie beyond.
# query_mix summarises each query's median, so that every run weighs the
# same queries equally however many passes it completed.
PRIMARY = {
    "tick_read": ({"read"}, 90),
    "tick_ingest": ({"append", "upsert", "delete", "compact"}, 75),
    "query_mix": ({"query"}, 90),
}
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"bench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties"), os.path.join(BENCH, "src")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append(f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Compile the library and the harness once per source state."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"library sources not found ({need} missing next to bench/)")
    stamp = source_stamp()
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            have_stamp, cp = f.read().split("\n", 1)
        if have_stamp == stamp:
            return cp.strip()
    os.makedirs(TARGET, exist_ok=True)
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "-Dsbt.server.forcestart=false",
                             "export bench/Runtime/fullClasspath"],
                            cwd=BENCH, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=840).returncode
    with open(log) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if not l.startswith("[") and os.pathsep in l and ".jar" in l]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (rc={rc}); see {log}")
    with open(cp_file, "w") as f:
        f.write(stamp + "\n" + cps[-1].strip())
    return cps[-1].strip()


def fixtures():
    """Fixture tables, generated once per generator version and reused read-only."""
    with open(os.path.join(BENCH, "fixtures.py"), "rb") as f:
        tag = hashlib.sha256(f.read() + FIXTURE_SCALE.encode()).hexdigest()[:12]
    out = os.path.join(CACHE, f"fixtures_{tag}")
    if not os.path.isdir(out):
        sys.path.insert(0, BENCH)
        import fixtures as gen
        shutil.rmtree(out + ".tmp", ignore_errors=True)
        gen.main(out, FIXTURE_SCALE)
    return out


def cpu_ticks():
    """Host CPU counters (user, system, steal), to tell a slow run from a slow machine."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return {"user": v[0] + v[1], "system": v[2], "steal": v[7]}
    except (OSError, ValueError, IndexError):
        return None


def run_jvm(cp, work, args, deadline):
    k = min(4, os.cpu_count() or 1)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--work", work, "--k", str(k)] + args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=max(30.0, deadline - time.monotonic())).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0:
        with open(log, errors="replace") as f:
            tail = [l for l in f.read().splitlines() if " INFO " not in l][-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"benchmark JVM failed (rc={rc})")


def pct(xs, p):
    """Percentile by linear interpolation between closest ranks."""
    s = sorted(xs)
    if not s:
        return float("nan")
    x = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(x), math.ceil(x)
    return s[lo] + (s[hi] - s[lo]) * (x - lo)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def summarise(rec):
    """Every figure of one run: end-to-end, workload-specific and per-layer."""
    wl = rec["workload"]
    kinds, tail_p = PRIMARY[wl]
    ops = rec["ops"]
    loop = [o for o in ops if o["phase"] == "loop" and o["ok"]]
    prim = [o["ms"] for o in loop if o["kind"] in kinds]
    per_query = {}
    if wl == "query_mix":
        for o in loop:
            per_query.setdefault(o["label"], []).append(o["ms"])
        prim = [statistics.median(v) for v in per_query.values()]
    attempted, failed = len(ops), sum(1 for o in ops if not o["ok"])
    e2e = {
        "setup_s": rec["session_s"] + rec["warmup_s"] + statistics.median(rec["build_s"]),
        "op_p50_ms": pct(prim, 50),
        "op_tail_ms": pct(prim, tail_p),
        "ops_per_s": len(prim) / (sum(prim) / 1e3) if prim else float("nan"),
        "heap_live_mb": rec["heap_live_mb"],
    }
    store = rec["info"].get("store", {})
    detail = {
        "error_rate": failed / attempted,
        "tail": f"p{tail_p} of {len(prim)} ops, {sum(1 for x in prim if x > e2e['op_tail_ms'])} beyond",
        "session_s": rec["session_s"], "warmup_s": rec["warmup_s"], "build_s": rec["build_s"],
        "loop_s": rec["loop_s"], "steps": rec["info"].get("steps"),
        "store_bytes_per_row": store["bytes"] / store["rows"] if store.get("rows") else None,
    }

    def by(kind):
        return [o["ms"] for o in loop if o["kind"] == kind]
    if wl == "tick_read":
        classes = sorted({o["label"] for o in loop})
        detail.update(read_p50_ms=pct(prim, 50), read_tail_ms=e2e["op_tail_ms"],
                      reads_per_s=e2e["ops_per_s"], store_rows=rec["info"]["rows"],
                      class_p50_ms={c: [round(pct([o["ms"] for o in loop if o["label"] == c], 50), 1),
                                        sum(1 for o in loop if o["label"] == c)] for c in classes})
    elif wl == "tick_ingest":
        write_ms = sum(by("append")) + sum(by("upsert"))
        reads = by("readback")
        detail.update({f"{v}_p50_ms": pct(by(v), 50) for v in ("append", "upsert", "delete", "compact")})
        detail.update({f"{v}_n": len(by(v)) for v in ("append", "upsert", "delete", "compact")})
        detail.update(commit_tail_ms=e2e["op_tail_ms"],
                      ingest_rows_per_s=rec["info"]["ingested_rows"] / (write_ms / 1e3) if write_ms else None,
                      read_p50_ms=pct(reads, 50), readbacks=len(reads),
                      versions=store.get("versions"), checkpoints=store.get("checkpoints"))
    else:
        med = {q: statistics.median(v) / 1e3 for q, v in per_query.items()}
        fams = rec["info"]["families"]
        fam = {}
        for q, v in med.items():
            fam[fams[q]] = fam.get(fams[q], 0.0) + v
        detail.update(mix_total_s=sum(med.values()), mix_geomean_s=geomean(list(med.values())),
                      queries=len(med), executions=rec["info"]["steps"],
                      query_ms={q: round(v * 1e3, 1) for q, v in sorted(med.items())},
                      family_s={f: round(v, 4) for f, v in sorted(fam.items())})
    layers = dict(rec.get("layers", {}))
    if rec["traced"]:
        def ratio(a, b):
            return layers.get(a, 0.0) / layers[b] if layers.get(b) else 0.0
        layers["scan.file_prune_ratio"] = ratio("scan.files_read", "scan.files_live")
        layers["scan.useful_row_ratio"] = ratio("scan.rows_returned", "scan.rows_read")
        layers["store.rows_rewritten_per_row"] = ratio("store.rows_written", "store.user_rows")
        for k in ("versions", "checkpoints", "log_bytes", "files_per_partition_max"):
            layers[f"store.{k}"] = float(store.get(k, 0))
        layers["trace.op_p50_ms"] = e2e["op_p50_ms"]
        detail["self_check_max_ms"] = rec["self_check_max_ms"]
    return attempted, failed, e2e, detail, layers


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(PRIMARY))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--steps", type=int)
    ap.add_argument("--expected", default=EXPECTED)
    ap.add_argument("--out")
    ap.add_argument("--spans")
    ap.add_argument("--pin")
    ap.add_argument("--dump")
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    deadline = time.monotonic() + DEADLINE_S
    if not os.path.exists(os.path.join(BENCH, "src")):
        fail("harness sources missing")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = classpath()
    deadline = max(deadline, time.monotonic() + 150)
    os.makedirs(CACHE, exist_ok=True)
    work = os.path.join(CACHE, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(work)
    try:
        record = os.path.join(work, "record.json")
        if a.pin:
            run_jvm(cp, work, ["--fixtures", fixtures(), "--pin-dump", os.path.abspath(a.dump),
                               "--out", record],
                    time.monotonic() + 3600)
            shutil.copyfile(record, a.pin)
            print(f"fixtures: {fixtures()}")
            return 0
        if not a.workload:
            fail("--workload is required")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--expected", os.path.abspath(a.expected), "--out", record]
        if a.workload == "query_mix":
            args += ["--fixtures", fixtures()]
        if a.steps is not None:
            args += ["--steps", str(a.steps)]
        if a.spans:
            args += ["--spans", os.path.abspath(a.spans)]
        t0 = cpu_ticks()
        run_jvm(cp, work, args, deadline)
        t1 = cpu_ticks()
        with open(record) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed, e2e, detail, layers = summarise(rec)
    for o in rec["ops"]:
        if not o["ok"]:
            print(f"FAILED {o['kind']} {o['label']}: {o['error']}")
    print(f"workload={a.workload} seed={a.seed} k={rec['k']} traced={rec['traced']} "
          f"inputs={rec['input_sha256'][:16]}")
    if t0 and t1:
        hz = os.sysconf("SC_CLK_TCK")
        detail["host_cpu_s"] = {k: (t1[k] - t0[k]) / hz for k in t0}
    print("detail " + json.dumps(detail, sort_keys=True))
    if a.out:
        with open(a.out, "a") as f:
            f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                                "input_sha256": rec["input_sha256"], "end_to_end": e2e,
                                "detail": detail, "per_layer": layers}) + "\n")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = layers if a.trace else e2e
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None or math.isnan(v):
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
