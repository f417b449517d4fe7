#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the benchmark program, runs
one workload in a fresh JVM, checks its outputs and prints its metrics.

    python3 perfbench/run.py --workload olap_tpch --seed 1 --seconds 10 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("olap_tpch", "dml")
READS = ("point_read", "range_read")
WRITES = ("insert", "update", "delete", "merge")
# JDK 17 module opens Spark needs outside spark-submit (the engine's
# build.sbt passes the same list to every JVM it forks)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
HEAP = ["-Xms1g", "-Xmx4g"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
CHILDREN = []


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg):
    log(f"[perfbench] {msg}")
    sys.exit(2)


def kill_tree(pid):
    """SIGKILLs a process and all its descendants (sbt runs its JVM as a
    child of a shell script)."""
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            if ppid == pid:
                kill_tree(int(entry))
    try:
        os.kill(pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def run_child(cmd, cwd, timeout, env=None):
    """Runs `cmd` with its output on stderr and returns its exit code, or
    None when it outlives `timeout` seconds; it never outlives this call."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=sys.stderr, stderr=sys.stderr)
    CHILDREN.append(proc)
    try:
        return proc.wait(timeout=max(1, timeout))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            kill_tree(proc.pid)
            proc.wait()
        CHILDREN.remove(proc)


def stop(signum, _frame):
    for proc in list(CHILDREN):
        kill_tree(proc.pid)
        proc.wait()
    sys.exit(128 + signum)


def tree_id():
    """Commit id, or a content hash of the sources when not in git."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha256()
    for base in ("src/main", "build.sbt", "perfbench/src", "perfbench/build.sbt"):
        p = os.path.join(ROOT, base)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return "tree-" + h.hexdigest()[:16]


def spark_jars():
    """The Spark jars the engine builds against: the `unmanagedBase` of its
    build.sbt, else those of `SPARK_HOME`."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    home = os.environ.get("SPARK_HOME")
    return os.path.join(home, "jars") if home else None


def check_inputs():
    for need in ("build.sbt", "src/main/scala", "fixtures/tpch/sf0.01"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the repository root")
    if not spark_jars() or not os.path.isdir(spark_jars()):
        fail("no Spark jars: the engine's build.sbt names none and SPARK_HOME is unset")
    qdir = os.path.join(HERE, "tpch")
    with open(os.path.join(qdir, "SHA256SUMS")) as fh:
        for line in fh:
            digest, name = line.split()
            with open(os.path.join(qdir, name), "rb") as q:
                if hashlib.sha256(q.read()).hexdigest() != digest:
                    fail(f"tpch/{name} does not match its checksum")


def sbt(cwd, deadline):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # offline: resolve only from the local caches (and the user's sbt
    # repositories file, when there is one)
    opts = "-Dsbt.offline=true -Xmx2g"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} " + opts
    env.setdefault("SBT_OPTS", opts)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    code = run_child(["sbt", f"-J-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "--batch",
                      "-Dsbt.log.noformat=true", f"-Dperfbench.sparkJars={spark_jars()}",
                      "compile"], cwd, deadline - time.time(), env)
    if code != 0:
        fail(f"sbt compile in {cwd} " + ("timed out" if code is None else "failed"))


def build():
    """Compiles the engine with its own build, then the benchmark against it,
    once per checkout."""
    stamp = os.path.join(BUILD, "built")
    if os.path.exists(stamp):
        return
    os.makedirs(BUILD, exist_ok=True)
    t = time.time()
    sbt(ROOT, t + BUILD_LIMIT_S)
    sbt(HERE, t + BUILD_LIMIT_S)
    with open(stamp, "w") as fh:
        fh.write(f"{time.time() - t:.1f}\n")
    log(f"[perfbench] built in {time.time() - t:.0f}s")


def classpath():
    return ":".join([
        os.path.join(spark_jars(), "*"),
        os.path.join(ROOT, "target", "scala-2.13", "classes"),
        os.path.join(HERE, "target", "scala-2.13", "classes"),
    ])


def run_program(args, work, result):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + HEAP + ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                     f"-Dperfbench.commit={tree_id()}",
                     "-cp", classpath(), "perfbench.Main", args.workload, str(args.seed),
                     str(args.seconds), str(args.trace), ROOT, os.path.join(work, "data"), result])
    code = run_child(cmd, work, RUN_LIMIT_S)
    if code is None:
        fail(f"{args.workload} did not finish within {RUN_LIMIT_S}s")
    if code != 0:
        fail(f"benchmark program exited with {code}")
    with open(result) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- statistics

def tail(xs):
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when there are fewer than eleven."""
    s = sorted(xs)
    if len(s) < 11:
        return s[-1], 100
    return s[len(s) - 11], math.floor(100 * (len(s) - 10) / len(s))


def latency_stats(ops):
    lat = [(o["end"] - o["start"]) / 1000 for o in ops]
    if not lat:
        return {"n": 0, "p50": 0.0, "tail": 0.0, "tail_pct": 0}
    t, pct = tail(lat)
    return {"n": len(lat), "p50": statistics.median(lat), "tail": t, "tail_pct": pct}


def throughput(ops):
    busy = sum(o["end"] - o["start"] for o in ops) / 1000
    return len(ops) / busy if busy > 0 else 0.0


# ------------------------------------------------------------------- checks

def olap_check(doc):
    """Compares every query's first result with DuckDB on the same parquet,
    by the rules of scripts/check.py: sorted column names, row count, then
    each column's values sorted, floats within rel 1e-12, integers and
    strings exact, and no integer-vs-float type mismatch."""
    import duckdb
    con = duckdb.connect()
    fix = os.path.join(ROOT, "fixtures", "tpch", "sf0.01")
    for t in ("region", "nation", "customer", "supplier", "part", "partsupp", "orders",
              "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fix}/{t}.parquet')")
    results = doc["report"]["results"]
    problems = []
    for n in range(1, 23):
        name = f"q{n:02d}"
        got = results.get(name)
        if got is None:
            problems.append(f"{name}: never ran")
            continue
        with open(os.path.join(HERE, "tpch", f"{name}.sql")) as fh:
            cur = con.execute(fh.read())
        want_rows = cur.fetchall()
        want_cols = [d[0] for d in cur.description]
        want_kinds = [duck_kind(str(d[1])) for d in cur.description]
        err = compare(got, want_cols, want_kinds, want_rows)
        if err:
            problems.append(f"{name}: {err}")
    return problems


def spark_kind(t):
    if t in ("long", "integer", "short", "byte"):
        return "int"
    if t in ("double", "float"):
        return "float"
    if t.startswith("decimal"):
        return "decimal"
    return "str"


def duck_kind(t):
    t = t.upper()
    if t in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT", "HUGEINT", "UBIGINT", "UINTEGER"):
        return "int"
    if t in ("DOUBLE", "FLOAT"):
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    return "str"


def compare(got, want_cols, want_kinds, want_rows):
    gcols = [c.lower() for c in got["columns"]]
    if sorted(gcols) != sorted(c.lower() for c in want_cols):
        return f"columns {sorted(gcols)} != {sorted(want_cols)}"
    if len(got["rows"]) != len(want_rows):
        return f"rows {len(got['rows'])} != {len(want_rows)}"
    gk = [spark_kind(t) for t in got["types"]]
    for wi, c in enumerate(want_cols):
        gi = gcols.index(c.lower())
        if {gk[gi], want_kinds[wi]} == {"int", "float"}:
            return f"{c}: integer vs float type mismatch"
        gv = sorted((str(r[gi]) if r[gi] is not None else None for r in got["rows"]),
                    key=lambda v: (v is not None, v or ""))
        wv = sorted((str(r[wi]) if r[wi] is not None else None for r in want_rows),
                    key=lambda v: (v is not None, v or ""))
        if gv == wv:
            continue
        if "float" not in (gk[gi], want_kinds[wi]):
            return f"{c}: values differ"
        ga = sorted(float(v) if v is not None else -math.inf for v in gv)
        wa = sorted(float(v) if v is not None else -math.inf for v in wv)
        for a, b in zip(ga, wa):
            if a != b and not math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12):
                return f"{c}: {a} != {b}"
    return None


def dml_check(doc):
    rep = doc["report"]
    problems = []
    if rep["replay"] != rep["table"]:
        problems.append(f"table {rep['table']} != op-log replay {rep['replay']}")
    if rep["table"]["rows"] != rep["model_rows"]:
        problems.append(f"table has {rep['table']['rows']} rows, model {rep['model_rows']}")
    return problems


# ------------------------------------------------------------------ metrics

def union_length(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def end_to_end(doc, ops):
    lat = latency_stats(ops)
    return {
        "setup_s": (doc["setup"]["setup_ms"] / 1000, "s"),
        "throughput_ops_s": (throughput(ops), "1/s"),
        "latency_p50_s": (lat["p50"], "s"),
        "latency_tail_s": (lat["tail"], "s"),
        "rss_peak_mb": (doc["rss_peak_mb"], "MB"),
    }


def per_layer(doc, ops, traced, spans):
    """Per-layer numbers over the traced passes: times and counts per op
    (mean), shares over all their tasks."""
    n = max(1, len(traced))
    c = {}
    for o in traced:
        for k, v in o["counters"].items():
            c[k] = max(c.get(k, 0), v) if k == "peak_mem_bytes" else c.get(k, 0) + v
    traced_passes = [p for p in doc["passes"] if p["traced"]]
    # the chunk metrics accumulate over every traced pass
    chunks = traced_passes[-1]
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    translate = build = gap = 0.0
    translate_calls = 0
    for o in traced:
        ss = by_op.get(o["id"], [])
        tr = [s for s in ss if s["layer"] == "sql.translate"]
        translate_calls += len(tr)
        translate += sum(s["end"] - s["start"] for s in tr)
        build += sum(s["end"] - s["start"] for s in ss if s["layer"] == "build")
        planning = [(s["start"], s["end"]) for s in ss
                    if s["layer"] in ("sql.translate", "build", "stage")]
        cc = o["counters"]
        phases = cc.get("optimization_ms", 0) + cc.get("planning_ms", 0)
        gap += max(0.0, (o["end"] - o["start"]) - union_length(planning) - phases)
    tasks = max(1, c.get("tasks", 0))
    untraced = [o for o in ops if not o["traced"]]
    tp_u, tp_t = throughput(untraced), throughput(traced)
    rep = doc["report"]
    mb = 1 << 20
    m = {
        "sql.translate_s": (translate / 1000 / n, "s"),
        "sql.translate_calls": (translate_calls, "count"),
        "plans.build_s": (build / 1000 / n, "s"),
        "plans.analysis_s": (c.get("analysis_ms", 0) / 1000 / n, "s"),
        "plans.optimization_s": (c.get("optimization_ms", 0) / 1000 / n, "s"),
        "plans.physical_s": (c.get("planning_ms", 0) / 1000 / n, "s"),
        "plans.aqe_replans": (c.get("aqe_replans", 0) / n, "count"),
        "scheduling.jobs": (c.get("jobs", 0) / n, "count"),
        "scheduling.stages": (c.get("stages", 0) / n, "count"),
        "scheduling.tasks": (c.get("tasks", 0) / n, "count"),
        "scheduling.driver_gap_s": (gap / 1000 / n, "s"),
        "executor.run_s": (c.get("run_ms", 0) / 1000 / n, "s"),
        "executor.cpu_s": (c.get("cpu_ns", 0) / 1e9 / n, "s"),
        "executor.deserialize_s": (c.get("deserialize_ms", 0) / 1000 / n, "s"),
        "executor.records_in": (c.get("records_in", 0) / n, "count"),
        "executor.peak_mem_mb": (c.get("peak_mem_bytes", 0) / mb, "MB"),
        "shuffle.write_mb": (c.get("shuffle_write_bytes", 0) / mb / n, "MB"),
        "shuffle.read_mb": (c.get("shuffle_read_bytes", 0) / mb / n, "MB"),
        "gc.task_s": (c.get("gc_ms", 0) / 1000 / n, "s"),
        "gc.jvm_s": (sum(p["jvm_gc_ms"] for p in traced_passes) / 1000 / n, "s"),
        "compaction.small_task_share": (c.get("small_tasks", 0) / tasks, "share"),
        "compaction.small_task_share_chunkmetrics": (chunks["chunk_small_task_fraction"], "share"),
        "compaction.chunk_factor": (chunks["chunk_factor"], "ratio"),
        "compaction.partitions_before_coalesce": (c.get("partitions_before", 0) / n, "count"),
        "compaction.partitions_after_coalesce": (c.get("partitions_after", 0) / n, "count"),
        "trace.overhead_share": (1 - tp_t / tp_u if tp_u > 0 else 0.0, "share"),
    }
    # olap_tpch writes no table: its sources.* read 0
    m["sources.files_live"] = (rep.get("files_live", 0), "count")
    m["sources.bytes_written_mb"] = (rep.get("bytes_written", 0) / mb, "MB")
    m["sources.files_read_per_read"] = (rep.get("files_read_per_read", 0), "count")
    m["sources.write_amp"] = (write_amp(rep), "ratio")
    m["sources.space_amp"] = (rep.get("space_amp", 0), "ratio")
    return m


def write_amp(rep):
    """Table bytes written per user byte."""
    return rep["bytes_written"] / rep["user_bytes"] if rep.get("user_bytes") else 0.0


def report_lines(doc, ops):
    """Numbers printed for reading but not bounded: per-entry medians, the
    failed share, and the read/write split of `dml`."""
    lines = []
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append((o["end"] - o["start"]) / 1000)
    prefix = "query" if doc["workload"] == "olap_tpch" else "sources"
    for name, xs in sorted(by_name.items()):
        lines.append(f"{prefix}.{name}_s {statistics.median(xs):.6f} s (median of {len(xs)})")
    n_failed = sum(not o["ok"] for o in ops)
    lines.append(f"failed_share {n_failed / max(1, len(ops)):.6f} share ({n_failed} of {len(ops)})")
    if doc["workload"] == "dml":
        for side, kinds in (("read", READS), ("write", WRITES)):
            lat = latency_stats([o for o in ops if o["kind"] in kinds])
            lines.append(f"{side}_p50_s {lat['p50']:.6f} s, {side}_tail_s {lat['tail']:.6f} s "
                         f"(p{lat['tail_pct']} of {lat['n']})")
        rep = doc["report"]
        lines.append(f"write_amp {write_amp(rep):.6f} ratio, "
                     f"space_amp {rep['space_amp']:.6f} ratio")
    return lines


def self_times(spans, ops):
    """Self time per layer: a span's duration minus the part of it its
    child spans cover. Jobs hang under the driver-side span they started
    in."""
    ids = {o["id"] for o in ops}
    spans = [s for s in spans if s["op"] in ids]
    kids = {}
    driver = [s for s in spans if s["layer"] not in ("job", "stage") and s["parent"] != 0]
    for s in spans:
        parent = s["parent"]
        if s["layer"] == "job":
            inside = [d for d in driver if d["op"] == s["op"] and d["start"] <= s["start"] <= d["end"]]
            if inside:
                parent = inside[0]["id"]
        kids.setdefault(parent, []).append(s)
    out = {}
    for s in spans:
        layer = "op" if s["parent"] == 0 else s["layer"]
        cover = union_length([(max(k["start"], s["start"]), min(k["end"], s["end"]))
                              for k in kids.get(s["id"], []) if k["end"] > s["start"]])
        out[layer] = out.get(layer, 0.0) + max(0.0, s["end"] - s["start"] - cover) / 1000
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)

    check_inputs()
    build()
    os.makedirs(BUILD, exist_ok=True)
    work = os.path.join(BUILD, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        doc = run_program(args, work, os.path.join(work, "result.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ops = doc["ops"]
    failed = [o for o in ops if not o["ok"]]
    problems = olap_check(doc) if args.workload == "olap_tpch" else dml_check(doc)
    if doc["check_errors"]:
        problems.append(f"{doc['check_errors']} output checks threw (see the op errors above)")
    for p in problems:
        log(f"[perfbench] CHECK FAILED {args.workload}: {p}")

    measured = [o for o in ops if not o["traced"]]
    traced = [o for o in ops if o["traced"]]
    st = doc["stamp"]
    print(f"# {args.workload} seed={args.seed} nproc={st['nproc']} "
          f"loadavg {st['loadavg_before']} -> {st['loadavg_after']} "
          f"heap={st['heap_max_mb']}MB commit={st['commit']}")
    print(f"# jvm: {' '.join(st['jvm_flags'])}")
    su = doc["setup"]
    print(f"# setup: session {su['session_ms'] / 1000:.2f}s, prepare "
          f"{', '.join(f'{x / 1000:.2f}' for x in su['prepare_ms'])}s, warm {su['warm_ms'] / 1000:.2f}s")
    un = doc["untimed"]
    print(f"# untimed: per-op output checks {un['check_ms'] / 1000:.2f}s, "
          f"final check material {un['report_ms'] / 1000:.2f}s")
    lat = latency_stats(measured)
    print(f"# {len(ops)} ops, {len(failed)} failed; latency tail = p{lat['tail_pct']} "
          f"of {lat['n']} samples")
    for line in report_lines(doc, measured):
        print(f"# {args.workload:10s} {line}")
    if args.trace:
        # read 0 at this scale (local shuffle, no spill): reported, not bounded
        fetch = sum(o["counters"].get("fetch_wait_ms", 0) for o in traced) / 1000
        spill = sum(o["counters"].get("spill_bytes", 0) for o in traced) / (1 << 20)
        print(f"# {args.workload:10s} shuffle.fetch_wait_s {fetch:.6f} s, "
              f"shuffle.spill_mb {spill:.6f} MB (traced passes, total)")
        metrics = per_layer(doc, ops, traced, doc["spans"])
        selfs = self_times(doc["spans"], traced)
        trace_file = os.path.join(BUILD, f"trace-{args.workload}-{args.seed}.json")
        with open(trace_file, "w") as fh:
            json.dump({"stamp": st, "spans": doc["spans"]}, fh)
        print(f"# self time per layer over {len(traced)} traced ops (s), spans in {trace_file}:")
        for layer, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
            print(f"#   {args.workload:10s} {layer:14s} {v:10.3f}")
    else:
        metrics = end_to_end(doc, measured)
    for name, (v, unit) in metrics.items():
        print(f"{args.workload:10s} {name:45s} {v:14.6f} {unit}")
    print(json.dumps({
        "correct": not problems,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
