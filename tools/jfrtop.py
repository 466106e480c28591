#!/usr/bin/env python3
"""Inclusive frame shares from a JFR recording.

    python3 tools/jfrtop.py REC.jfr [--thread PREFIX] [--root FRAME]
                            [--during FRAME] [--match TEXT] [--top N]
                            [--callers FRAME] [--native]

Reads the recording's `jdk.ExecutionSample` events through the JDK's `jfr`
tool and prints, for each frame (`package.Class.method`), the number and
share of samples whose stack holds it at least once: its inclusive share.

  --thread PREFIX  keep samples of threads whose name starts with PREFIX
                   (default: every thread), e.g. "Executor task launch"
                   for Spark's local-mode task threads
  --root FRAME     keep samples whose stack holds FRAME, and count only
                   FRAME and the frames it calls; shares stay relative to
                   all samples kept by --thread and --during, so the
                   root's own line is its share of the whole
  --during FRAME   keep samples taken while FRAME was on the stack of the
                   thread `main`: from the first to the last `main`
                   sample holding FRAME (a parked main thread is not
                   sampled, so the window is bounded by the samples
                   around the waits)
  --match TEXT     print only frames whose name contains TEXT
  --top N          print the N frames with the most samples (default 40)
  --callers FRAME  instead of frame shares, print for the kept samples that
                   hold FRAME, per thread (digits in its name read as N),
                   how many samples each chain of FRAME's nearest callers
                   accounts for; Guava cache, Scala closure and lambda
                   frames between them are skipped
  --native         read `jdk.NativeMethodSample` events in place of
                   execution samples (every option then applies to them,
                   the --during window too)

Why --native: JFR's execution sampler skips a thread while it runs native
code, so time spent in a JNI call is invisible to the default view. A
broadcast of the Hadoop conf spends most of its time in `Deflater`'s
native compression; in a `tick_read` recording the execution samples put
it at about 4 % of `main`, while timing it directly gave about 30 % of
the read's wall time. The native sampler records exactly those threads,
at a lower rate (20 ms under `settings=profile`), so compare shares
within one view, not counts across the two.

A frame argument matches a frame name exactly or as its suffix, so
`FileStats.ofFile` names `graft.sources.FileStats$.ofFile`'s frame once
`$` is dropped from object names (they are printed without it).

Recording a benchmark run: build first without the variable, so that the
build's own JVM is not recorded, then run with JAVA_TOOL_OPTIONS set, e.g.

    python3 bench/run.py --workload tick_ingest --seed 1 --seconds 10
    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/ingest.jfr,settings=profile \\
        -XX:FlightRecorderOptions=stackdepth=1024" \\
        python3 bench/run.py --workload tick_ingest --seed 1 --seconds 10
    python3 tools/jfrtop.py /tmp/ingest.jfr --thread "Executor task launch" \\
        --during graftbench.Workloads.loop --match Configuration

The file name must be absolute (the benchmark JVM runs in a scratch
directory), and the default stack depth of 64 cuts deep Spark stacks
before their root frames, hence `stackdepth`.

Telling apart who calls a frame, e.g. the driver's and the tasks' Janino
compiles of a `tick_read` run:

    python3 tools/jfrtop.py /tmp/read.jfr --during graftbench.Workloads.loop \\
        --callers CodeGenerator.compile

prints each thread's caller chains of `CodeGenerator.compile`, nearest
first: `WholeStageCodegenExec.doExecute` on `main`, the codegen
evaluator factory's `eval` on the executor task threads.
"""
import argparse
import collections
import json
import re
import subprocess
import sys
from datetime import datetime


def frame_name(f):
    m = f["method"]
    cls = m["type"]["name"].replace("/", ".").replace("$", "")
    return f"{cls}.{m['name']}"


def is_lambda(f):
    # a lambda's hidden class, named per run: its caller's frame says more
    return "$$Lambda" in f["method"]["type"]["name"]


def matches(name, frame):
    return name == frame or name.endswith("." + frame)


# frames between a callee and the caller that asked for it: a Guava cache
# load (Spark shades Guava), Scala closures and JDK functional plumbing
PLUMBING = re.compile(r"\.guava\.cache\.|\.common\.cache\.|anonfun|liftedTree|"
                      r"^scala\.runtime\.|^scala\.Function|^scala\.util\.Try\.|"
                      r"^java\.util\.function\.")
CALLER_DEPTH = 3


def callers(frames, frame):
    """The nearest non-plumbing callers of FRAME's outermost occurrence."""
    idx = [i for i, f in enumerate(frames) if matches(f, frame)]
    if not idx:
        return None
    out = [f for f in frames[idx[-1] + 1:] if not PLUMBING.search(f)]
    return " < ".join(out[:CALLER_DEPTH]) or "(root)"


def samples(path, event="jdk.ExecutionSample"):
    """(epoch seconds, thread name, [frame names, leaf first]) per sample."""
    # `jfr print` keeps 5 frames of each stack unless told otherwise
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "4096",
                          "--events", event, path],
                         capture_output=True, text=True, check=True).stdout
    for e in json.loads(out)["recording"]["events"]:
        v = e["values"]
        thread = (v.get("sampledThread") or {}).get("javaName") or ""
        frames = [frame_name(f) for f in (v.get("stackTrace") or {}).get("frames", [])
                  if not is_lambda(f)]
        yield parse_time(v["startTime"]), thread, frames


def parse_time(s):
    # jfr prints nanoseconds; fromisoformat takes at most microseconds
    s = re.sub(r"(\.\d{6})\d+", r"\1", s).replace("Z", "+00:00")
    return datetime.fromisoformat(s).timestamp()


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("recording")
    ap.add_argument("--thread", default="")
    ap.add_argument("--root")
    ap.add_argument("--during")
    ap.add_argument("--match")
    ap.add_argument("--top", type=int, default=40)
    ap.add_argument("--callers")
    ap.add_argument("--native", action="store_true")
    a = ap.parse_args(argv[1:])

    recs = list(samples(a.recording,
                        "jdk.NativeMethodSample" if a.native else "jdk.ExecutionSample"))
    lo, hi = float("-inf"), float("inf")
    if a.during:
        ts = [t for t, th, fr in recs
              if th == "main" and any(matches(f, a.during) for f in fr)]
        if not ts:
            sys.exit(f"no main-thread sample holds {a.during}")
        lo, hi = min(ts), max(ts)
    kept = [(th, fr) for t, th, fr in recs if th.startswith(a.thread) and lo <= t <= hi]
    if a.callers:
        return print_callers(kept, a.callers, a.top)
    counts = collections.Counter()
    under = 0
    for _, fr in kept:
        if a.root:
            idx = [i for i, f in enumerate(fr) if matches(f, a.root)]
            if not idx:
                continue
            fr = fr[:idx[-1] + 1]  # the outermost root and its callees
        under += 1
        counts.update(set(fr))
    total = len(kept)
    window = f", window {hi - lo:.1f} s" if a.during else ""
    print(f"{total} samples of threads '{a.thread or '*'}'{window}"
          + (f"; {under} under {a.root}" if a.root else ""))
    if not total:
        return 1
    rows = [(n, f) for f, n in counts.items() if not a.match or a.match in f]
    for n, f in sorted(rows, key=lambda r: (-r[0], r[1]))[:a.top]:
        print(f"{n:8d} {100.0 * n / total:6.1f}%  {f}")
    return 0


def print_callers(kept, frame, top):
    by_thread = collections.defaultdict(collections.Counter)
    for thread, fr in kept:
        chain = callers(fr, frame)
        if chain is not None:
            by_thread[re.sub(r"\d+", "N", thread)][chain] += 1
    held = sum(sum(c.values()) for c in by_thread.values())
    print(f"{held} of {len(kept)} samples hold {frame}")
    for thread, chains in sorted(by_thread.items(), key=lambda kv: -sum(kv[1].values())):
        print(f"{sum(chains.values()):8d}  {thread}")
        for chain, n in chains.most_common(top):
            print(f"{n:8d}    {chain}")
    return 0 if held else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
