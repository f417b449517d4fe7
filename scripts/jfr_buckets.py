#!/usr/bin/env python3
"""Where a JFR recording's CPU samples went, by engine layer, and how many
whole-stage-codegen classes the JVM compiled.

    python3 scripts/jfr_buckets.py REC.jfr [--classload LOG] [--marker FRAME]

Streams `jfr print --stack-depth 512 --events jdk.ExecutionSample REC.jfr`
and puts each sample in the first bucket (in BUCKETS order) with a frame
anywhere on its stack, else in `other`. Shares are printed for all
threads and for Spark's executor threads. Record with deep stacks
(`-XX:FlightRecorderOptions=stackdepth=512`): at JFR's default depth of
64 the outer frames that name a layer are cut off.

`--marker` names a frame (default: perfbench's measured-pass loop); the
first sample with it on its stack starts the measured window, and only
samples from then on are bucketed. Without a sample holding the marker
every sample counts.

`--classload` reads a `-Xlog:class+load=info:file=LOG:timemillis` log and
counts `expressions.GeneratedClass` definitions (one per janino compile)
before and after the window starts.

Prints one JSON document. `jfr` is a JVM too: this script runs it
without JAVA_TOOL_OPTIONS, which, if it held
`-XX:StartFlightRecording=filename=REC.jfr`, would overwrite the recording
being read.
"""
import argparse
import datetime
import json
import os
import re
import subprocess
import sys

BUCKETS = [
    ("codegen_compile", ("CodeGenerator$.doCompile", "org.codehaus.janino.",
                         "org.codehaus.commons.compiler.")),
    ("closure_cleaner", ("org.apache.spark.util.ClosureCleaner", "SparkClosureCleaner")),
    ("serialization", ("org.apache.spark.serializer.", "java.io.ObjectOutputStream",
                       "java.io.ObjectInputStream")),
    ("parquet", ("org.apache.parquet.", ".datasources.parquet.")),
    ("analyzer", ("org.apache.spark.sql.catalyst.analysis.Analyzer",)),
    ("aqe_reoptimize", ("AdaptiveSparkPlanExec.reOptimize",)),
    ("listener_bus", ("org.apache.spark.scheduler.AsyncEventQueue",
                      "org.apache.spark.scheduler.LiveListenerBus",
                      "org.apache.spark.util.ListenerBus")),
]
EXECUTOR_THREAD = "Executor task launch worker"
# jfr prints local time of day, with the date only when it is not today
TIME = re.compile(r"startTime = (\d+):(\d+):(\d+)\.(\d+)(?: \((\d+)-(\d+)-(\d+)\))?")


def samples(jfr_file):
    """(epoch ms, thread name, frames) per execution sample, streamed."""
    cmd = ["jfr", "print", "--stack-depth", "512", "--events", "jdk.ExecutionSample", jfr_file]
    env = dict(os.environ, TZ="UTC")
    env.pop("JAVA_TOOL_OPTIONS", None)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, bufsize=1 << 20, env=env)
    today = datetime.datetime.now(datetime.timezone.utc).date()
    t, thread, frames, in_stack = None, "", [], False
    for line in proc.stdout:
        s = line.strip()
        if s == "jdk.ExecutionSample {":
            t, thread, frames, in_stack = None, "", [], False
        elif s.startswith("startTime = "):
            m = TIME.match(s)
            if m:
                hh, mi, ss, frac, y, mo, d = m.groups()
                day = datetime.date(int(y), int(mo), int(d)) if y else today
                dt = datetime.datetime(day.year, day.month, day.day, int(hh), int(mi), int(ss),
                                       tzinfo=datetime.timezone.utc)
                t = dt.timestamp() * 1000 + int(frac.ljust(3, "0")[:3])
        elif s.startswith("sampledThread = "):
            thread = s[len("sampledThread = "):]
        elif s == "stackTrace = [":
            in_stack = True
        elif in_stack and s == "]":
            in_stack = False
        elif in_stack:
            frames.append(s)
        elif s == "}" and t is not None:
            yield t, thread, frames
            t = None
    if proc.wait() != 0:
        sys.exit(f"jfr print failed on {jfr_file}")


def bucket_of(frames):
    for name, needles in BUCKETS:
        if any(n in f for f in frames for n in needles):
            return name
    return "other"


def shares(counts):
    total = sum(counts.values())
    return {"samples": total,
            "share": {k: round(v / total, 4) for k, v in sorted(counts.items(),
                                                              key=lambda kv: -kv[1])}
            if total else {}}


def generated_loads(log, start_ms):
    before = after = 0
    stamp = re.compile(r"^\[(\d+)ms\]")
    with open(log) as fh:
        for line in fh:
            if "expressions.GeneratedClass " not in line:
                continue
            m = stamp.match(line)
            if m is None:
                sys.exit(f"{log}: lines need the timemillis decorator (-Xlog:...:file=LOG:tm)")
            if start_ms is not None and int(m.group(1)) >= start_ms:
                after += 1
            else:
                before += 1
    return {"setup": before, "measured": after}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("jfr")
    ap.add_argument("--classload")
    ap.add_argument("--marker", default="perfbench.Main$.measure$1")
    args = ap.parse_args()
    everything = list((t, th, bucket_of(fr), any(args.marker in f for f in fr))
                      for t, th, fr in samples(args.jfr))
    marked = [t for t, _, _, m in everything if m]
    start = min(marked) if marked else None
    window = [(th, b) for t, th, b, _ in everything if start is None or t >= start]
    all_threads, executor = {}, {}
    for th, b in window:
        all_threads[b] = all_threads.get(b, 0) + 1
        if th.startswith('"' + EXECUTOR_THREAD):
            executor[b] = executor.get(b, 0) + 1
    doc = {"recording": args.jfr, "window_start_ms": start,
           "all_threads": shares(all_threads), "executor_threads": shares(executor)}
    if args.classload:
        doc["generated_classes"] = generated_loads(args.classload, start)
    print(json.dumps(doc, indent=1))


if __name__ == "__main__":
    main()
