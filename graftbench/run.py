#!/usr/bin/env python3
"""graft benchmark: one workload, one run, one JSON result line.

    python3 graftbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The script
  1. builds the engine and the harness from source with sbt (once per
     checkout; the classpath is cached under .bench_build/),
  2. generates the workload's inputs from --seed (gen.py),
  3. launches the harness JVM directly (no sbt in the measured process),
     which warms up, times ops for --seconds and checks each op's output,
  4. compares the outputs that have DuckDB mirrors with DuckDB, using the
     repository's own oracle check (tools/check_oracle.py),
  5. prints the metrics as the last stdout line:
     {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
     --trace 0: the end-to-end metrics; --trace 1: the per-layer metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")  # build outputs, caches, run scratch

WORKLOADS = ("market_cold", "tick_stream")
SIZES = {"market_events": 20_000, "docs": 600, "stream_ticks": 100_000}
STREAM_ROWS = 5_000
# two task threads: on a shared 4-vCPU host they left the stream lane faster
# and both lanes less hurt by other tenants than four did (see README)
THREADS = 2
HEAP = "3g"
# warm-up ops: a fixed count (cold first op included), see README
WARM = {"market_cold": 3, "tick_stream": 8}
# traced ops a traced run makes at least (its counts come from these); one
# for market_cold, whose traced op is followed by the analyst mix and a cold
# corpus run, so that a traced run stays well inside RUN_TIMEOUT_S
TRACE_ROUNDS = {"market_cold": 1, "tick_stream": 8}
JVM_FLAGS = ["-XX:+UseG1GC", "-Xmn1g"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

END_TO_END = {"setup_s": "s", "op_p50_ms": "ms", "rows_per_s": "rows/s",
              "peak_rss_mb": "MB"}


def _span_units(name):
    return {f"{name}.ms": "ms", f"{name}.rows_out": "rows",
            f"{name}.shuffle_write_mb": "MB", f"{name}.spill_mb": "MB",
            f"{name}.tasks": "count", f"{name}.task_p95_ms": "ms"}


def _query_units(scope):
    return {f"{scope}.construct_ms": "ms", f"{scope}.plan_ms": "ms",
            f"{scope}.exec_ms": "ms", f"{scope}.jobs": "count"}


MARKET_LAYERS = {
    **{k: v for s in ("tables.ticks", "etl.clean_ticks", "operators.bars",
                      "backtest.ma_cross_run", "backtest.metrics", "sources.market_summary")
       for k, v in _span_units(s).items()},
    "etl.clean_ticks.rows_rejected": "rows", "memo.resident_mb": "MB"}
ANALYST_LAYERS = {
    k: v for p in ("query",) + tuple(f"query.{p}" for p in (
        "bars", "indicators", "vol", "backtest", "risk", "micro", "etl"))
    for k, v in _query_units(p).items()}
CORPUS_LAYERS = {
    **{k: v for s in ("tables.documents", "operators.shingles", "operators.neardup_pairs",
                      "operators.corpus_filter", "sources.cleaned_docs",
                      "sources.mixed_layout", "sources.shard_write")
       for k, v in _span_units(s).items()},
    "operators.neardup_pairs.heavy_stage_p95_over_p50": "ratio",
    "sources.shard_write.bytes_written": "bytes"}
STREAM_LAYERS = {
    "streaming.query_planning_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.state_rows_total": "rows", "streaming.state_memory_mb": "MB",
    "streaming.state_commit_ms": "ms", "streaming.rows_out": "rows"}
# every workload prints this one list (BENCHMARK.json's per_layer); a layer
# a workload does not use reads 0 there
PER_LAYER = {**MARKET_LAYERS, **ANALYST_LAYERS, **CORPUS_LAYERS, **STREAM_LAYERS,
             "trace.overhead_ms": "ms"}


def log(msg):
    print(msg, flush=True)


def fail(msg, code=1):
    print(f"graftbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def run_bounded(cmd, cwd, timeout, out_path, env=None):
    """Runs cmd in its own process group with output to out_path; on timeout
    kills the whole group and waits for it. Returns the exit code."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for d in (ROOT, BENCH):
        files += [os.path.join(d, "build.sbt"), os.path.join(d, "project", "build.properties")]
        pd = os.path.join(d, "project")
        if os.path.isdir(pd):
            files += [os.path.join(pd, f) for f in os.listdir(pd) if f.endswith((".sbt", ".scala"))]
    for f in sorted(set(files)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine + harness with sbt and returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no graft sources here: run from the root of a graft checkout", 2)
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH", 2)
    os.makedirs(BUILD, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    build_log = os.path.join(BUILD, "build.log")
    rc = run_bounded(["sbt", "-batch", "-Dsbt.server.autostart=false",
                      "export Runtime/fullClasspath"], BENCH, BUILD_TIMEOUT_S, build_log, env)
    if rc != 0:
        fail(f"build failed (exit {rc}):\n{tail(build_log)}")
    with open(build_log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = lines[-1] if lines else ""
    if "graftbench" not in cp or "classes" not in cp:
        fail(f"could not read the classpath from sbt:\n{tail(build_log)}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"info: built engine and harness in {time.time() - t0:.1f} s")
    return cp


def spin_s():
    """A fixed CPU spin loop: host-speed diagnostic, not gated."""
    t0 = time.perf_counter()
    x = 0
    for i in range(3_000_000):
        x ^= i * 2654435761 & 0xFFFF
    return time.perf_counter() - t0


def cpu_ticks():
    """Busy and stolen jiffies of the whole host so far (/proc/stat)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return sum(v), v[7]


def jvm_cmd(cp, args):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    flags = [f for p in opens for f in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + flags + [f"-Xms{HEAP}", f"-Xmx{HEAP}"] + JVM_FLAGS +
            ["-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={args['work']}/tmp",
             "-cp", cp, "graftbench.Main"] +
            [x for k, v in args.items() for x in (f"--{k}", str(v))])


def oracle_check(data_dir, check_dir, oracles):
    """Compares each written Spark result with its DuckDB mirror through the
    repository's oracle check; returns whether all of them matched."""
    if not oracles:
        return True
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump(oracles, f)
    env = {k: v for k, v in os.environ.items() if k != "CHECK_ORACLE_JSON"}  # no artifact
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                        data_dir, check_dir], capture_output=True, text=True,
                       stdin=subprocess.DEVNULL, env=env, timeout=30)
    for line in p.stdout.splitlines():
        if line.startswith(("OK", "FAIL")):
            log(f"info: oracle check {line}")
    if p.returncode != 0:
        log(f"info: oracle check exit {p.returncode}: {p.stderr.strip()[-500:]}")
    return p.returncode == 0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    # on SIGTERM unwind normally, so the JVM's process group is killed too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    spin0 = spin_s()
    ticks0 = cpu_ticks()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        hashes = gen.write(a.workload, a.seed, SIZES, data_dir)
        log(f"info: generated inputs in {time.time() - t0:.2f} s, row hashes {hashes}")
        # the stream lane reads its ticks through the engine's events reader
        if a.workload == "tick_stream":
            os.rename(os.path.join(data_dir, "stream.parquet"),
                      os.path.join(data_dir, "events.parquet"))
        result = os.path.join(run_dir, "result.json")
        args = {"workload": a.workload, "data": data_dir, "work": work, "seconds": a.seconds,
                "trace": a.trace, "threads": min(THREADS, os.cpu_count() or THREADS),
                "warm": WARM[a.workload],
                "trace-rounds": TRACE_ROUNDS[a.workload], "stream-rows": STREAM_ROWS,
                "result": result}
        jvm_log = os.path.join(BUILD, f"jvm-{a.workload}.log")
        budget = RUN_TIMEOUT_S - (time.time() - t_start)
        rc = run_bounded(jvm_cmd(cp, args), ROOT, budget, jvm_log)
        if rc != 0 or not os.path.isfile(result):
            fail(f"harness failed (exit {rc}):\n{tail(jvm_log)}")
        with open(result) as f:
            r = json.load(f)
        oracles_ok = oracle_check(data_dir, os.path.join(work, "check"), r["oracles"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted, failed = r["attempted"], r["failed"]
    if not oracles_ok:
        failed = attempted  # every op reproduced the same wrong result
    ops = r["op_ms"]
    cfg = r["config"]
    log(f"info: {a.workload} seed {a.seed}: {len(ops)} timed ops, warm-up ops "
        f"{[round(x) for x in r['warm_op_ms']]} ms, config {cfg}")
    log(f"info: op ms {[round(x) for x in ops]}")
    total, steal = (end - start for start, end in zip(ticks0, cpu_ticks()))
    log(f"info: spin loop {spin0:.3f} s at start, {spin_s():.3f} s at end, "
        f"host steal {100 * steal / max(total, 1):.1f}% of CPU time (diagnostics)")
    if a.trace:
        got = r["per_layer"]
        unknown = set(got) - set(PER_LAYER)
        if unknown:
            fail(f"unlisted per-layer metrics {sorted(unknown)}")
        metrics = {k: {"value": got.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    else:
        vals = {"setup_s": r["setup_s"], "op_p50_ms": statistics.median(ops),
                "rows_per_s": r["rows_per_op"] * len(ops) / (sum(ops) / 1000),
                "peak_rss_mb": r["peak_rss_mb"]}
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": oracles_ok and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
