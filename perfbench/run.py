#!/usr/bin/env python3
"""Benchmark of record for the engine's agent data plane.

    python3 perfbench/run.py --workload rag_read --seed 1 --seconds 5 --trace 0

Runs one workload (``rag_read``, ``memory_write`` or ``corpus_batch``) as
one closed-loop client on ``local[nproc]``, checks every output, writes an
artifact under ``perfbench/out/`` and prints, as its last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics untraced (``--trace 0``), the per-layer metrics traced
(``--trace 1``). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
DRIVER_MEM = "2g"


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("rag_read", "memory_write", "corpus_batch"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to sf0.1 (0.01 = sf0.001)")
    ap.add_argument("--out", default=OUT, help="artifact directory")
    return ap.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def scratch_env(scratch: str) -> dict:
    """Point every temp location of the program and of Spark at one
    per-run scratch root."""
    dirs = {k: os.path.join(scratch, k)
            for k in ("tmp", "local", "jtmp", "inputs", "work")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    # a fixed-size heap: no heap resizing between runs
    java_opts = (f"-Djava.io.tmpdir={dirs['jtmp']} -XX:-UsePerfData "
                 f"-Xms{DRIVER_MEM}")
    os.environ.update({
        "TMPDIR": dirs["tmp"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        # the launcher JVM of spark-submit would otherwise write /tmp/hsperfdata_*
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (f'--driver-java-options "{java_opts}" '
                                "--conf spark.ui.showConsoleProgress=false "
                                "pyspark-shell"),
    })
    tempfile.tempdir = None  # re-read TMPDIR
    return dirs


def _cmd(args: list[str]) -> str:
    try:
        p = subprocess.run(args, capture_output=True, text=True, timeout=30,
                           cwd=ROOT)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return (p.stdout + p.stderr).strip().splitlines()[0] if p.returncode == 0 else "unknown"


def program_digest() -> str:
    """sha256 over the program's source files (the checkout may not be a
    git repository)."""
    h = hashlib.sha256()
    base = os.path.join(ROOT, "pulsar_project_spark")
    for d, dirs, files in sorted(os.walk(base)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, base).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def stamp(args) -> dict:
    import pyspark

    return {
        "host": platform.node(), "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "sf": f"sf{0.1 * args.scale:g}", "scale": args.scale,
        "git_sha": _cmd(["git", "rev-parse", "HEAD"]),
        "program_sha256": program_digest(),
        "seed": args.seed, "workload": args.workload,
        "seconds": args.seconds, "traced": bool(args.trace),
        "pyspark": pyspark.__version__, "java": _cmd(["java", "-XX:-UsePerfData", "-version"]),
        "python": platform.python_version(),
        "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def _hwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_metrics(w, start_s: float, warm_s: float, leaked: tuple) -> dict:
    """Per-layer metrics of a traced run. Accumulating counts and times
    are per op (mean); end-state counts are for the whole run."""
    from tracing import union_ms
    from workloads import COMMITS

    tr = w.tr
    ops = tr.ops
    n = max(1, len(ops))

    def per_op(key):
        return sum(o.get(key, 0) for o in ops) / n

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    spans = tr.spans
    jobs = [s for s in spans if s["layer"] == "spark_job"]
    plan_calls = [s for s in spans if s["layer"] == "call" and (
        s["name"].startswith(("operators.", "functions.", "sources.tables."))
        or s["name"] == "sources.txlog.tx_read")]
    plan_ids = {s["id"] for s in plan_calls}
    commit_calls = [s for s in spans if s["name"] in COMMITS]
    commit_jobs = [[j for j in jobs if j["parent"] == c["id"]] for c in commit_calls]
    commit_gaps = [(c["end"] - c["start"]) * 1e3
                   - union_ms([(j["start"], j["end"]) for j in js], c["start"], c["end"])
                   for c, js in zip(commit_calls, commit_jobs)]
    skews = [s["skew"] for s in tr.stages if s["skew"] is not None]
    lat = w.lat
    udf_kinds = {"mmr", "srp_near_pairs", "lenient_json_canonical",
                 "wav_synthesize_decode", "pgm_synthesize_decode"}
    udf_ops = [o for o in ops if o["kind"] in udf_kinds]

    drains = [o for o in ops if o.get("progress")]
    phases = ("triggerExecution", "addBatch", "queryPlanning", "getBatch",
              "latestOffset", "walCommit", "commitOffsets")
    phase = {p: mean([sum(b["durationMs"].get(p, 0) for b in o["progress"])
                      for o in drains]) for p in phases}
    drain_ms = mean(lat.get("streaming.pipeline.run_topic_frequencies", [])
                    + lat.get("streaming.pipeline.run_streaming_tx_sink", []))
    self_t = tr.self_times()
    m = {
        "session.start_s": (start_s, "s"),
        "session.warm_s": (warm_s, "s"),
        "tables.load_calls": (w.load_calls / n, "count"),
        "tables.load_ms": (w.load_ms / n, "ms"),
        "tables.plan_cache_hit_ratio": (
            w.load_hits / w.plan_requests if w.plan_requests else 0.0, "ratio"),
        "plan.build_ms": (sum((s["end"] - s["start"]) * 1e3 for s in plan_calls) / n, "ms"),
        "plan.eager_jobs": (sum(j["parent"] in plan_ids for j in jobs) / n, "count"),
        "spark.jobs": (per_op("jobs"), "count"),
        "spark.stages": (per_op("stages"), "count"),
        "spark.tasks": (per_op("tasks"), "count"),
        "spark.job_ms": (per_op("job_ms"), "ms"),
        "spark.executor_run_ms": (per_op("run_ms"), "ms"),
        "spark.executor_cpu_ms": (per_op("cpu_ms"), "ms"),
        "spark.executor_wait_ms": (per_op("run_ms") - per_op("cpu_ms"), "ms"),
        "spark.shuffle_read_bytes": (per_op("shuffle_read_bytes"), "bytes"),
        "spark.shuffle_write_bytes": (per_op("shuffle_write_bytes"), "bytes"),
        "spark.input_bytes": (per_op("input_bytes"), "bytes"),
        "spark.output_bytes": (per_op("output_bytes"), "bytes"),
        "spark.gc_ms": (per_op("gc_ms"), "ms"),
        "spark.task_skew": (mean(skews), "ratio"),
        "driver_gap_ms": (per_op("driver_gap_ms"), "ms"),
        "functions.udf_wait_ms": (
            mean([o["run_ms"] - o["cpu_ms"] for o in udf_ops]), "ms"),
        "txlog.append_ms": (mean(lat.get("sources.txlog.tx_append", [])), "ms"),
        "txlog.merge_ms": (mean(lat.get("sources.txlog.tx_merge", [])
                                + lat.get("sources.txlog.tx_merge_upsert", [])), "ms"),
        "txlog.delete_ms": (mean(lat.get("sources.txlog.tx_delete_range", [])), "ms"),
        "txlog.compact_ms": (mean(lat.get("sources.txlog.tx_compact", [])), "ms"),
        "txlog.vacuum_ms": (mean(lat.get("sources.txlog.tx_vacuum", [])), "ms"),
        "txlog.read_ms": (mean(lat.get("fresh_read", [])), "ms"),
        "txlog.jobs_per_commit": (mean([len(js) for js in commit_jobs]), "count"),
        "txlog.gap_ms_per_commit": (mean(commit_gaps), "ms"),
        "txlog.versions": (0, "count"),
        "txlog.files_live": (0, "count"),
        "txlog.files_written": (0.0, "count"),
        "txlog.bytes_written": (0.0, "bytes"),
        "txlog.bytes_rewritten_per_merge": (0.0, "bytes"),
        "mq.produce_ms": (mean(lat.get("sources.mq.DirectoryQueue.produce", [])), "ms"),
        "mq.files": (0, "count"),
        "streaming.drain_ms": (drain_ms, "ms"),
        "streaming.batches": (mean([len(o["progress"]) for o in drains]), "count"),
        "streaming.trigger_ms": (phase["triggerExecution"], "ms"),
        "streaming.addBatch_ms": (phase["addBatch"], "ms"),
        "streaming.queryPlanning_ms": (phase["queryPlanning"], "ms"),
        "streaming.getBatch_ms": (phase["getBatch"], "ms"),
        "streaming.latestOffset_ms": (phase["latestOffset"], "ms"),
        "streaming.walCommit_ms": (phase["walCommit"], "ms"),
        "streaming.commitOffsets_ms": (phase["commitOffsets"], "ms"),
        "streaming.outside_trigger_ms": (drain_ms - phase["triggerExecution"], "ms"),
        "streaming.state_rows": (mean([max(b["state_rows"] for b in o["progress"])
                                       for o in drains]), "count"),
        "streaming.state_bytes": (mean([max(b["state_bytes"] for b in o["progress"])
                                        for o in drains]), "bytes"),
        "scratch.tmp_entries_leaked": (leaked[0], "count"),
        "scratch.tmp_bytes_leaked": (leaked[1], "bytes"),
        "trace.overhead_ms": (tr.overhead_s * 1e3 / n, "ms"),
        "trace.overhead_share": (tr.overhead_s / (w.loop_s + tr.overhead_s), "ratio"),
    }
    for layer in ("op", "call", "action", "spark_job", "stream_batch"):
        m[f"self.{layer}_ms"] = (self_t.get(layer, 0.0) / n, "ms")
    m.update(w.layer_extra())
    return m


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def run(args, dirs: dict) -> dict:
    from pyspark import SparkContext

    from pulsar_project_spark.session import get_spark

    import workloads

    w = workloads.WORKLOADS[args.workload](
        args.seed, dirs, bool(args.trace), args.scale)
    t0 = time.perf_counter()
    # inputs are generated while the JVM starts; set-up ends when both
    # are done and the warm-up has run
    gen_s = []
    gen_thread = threading.Thread(target=lambda: gen_s.append(_timed(w.generate)))
    gen_thread.start()
    try:
        spark = get_spark("perfbench", cpus=nproc())
        spark.sparkContext.setLogLevel("ERROR")
        start_s = time.perf_counter() - t0
    finally:
        gen_thread.join()
    if not gen_s:
        stop_spark(spark)
        raise RuntimeError("input generation failed")
    try:
        w.spark = spark
        warm_s = _timed(w.warm_up)
        setup_s = time.perf_counter() - t0
        w.start_tracing()
        w.run_loop(args.seconds)
        w.tr.close()
        jvm = getattr(SparkContext._gateway, "proc", None)
        rss = _hwm_mb("self") + (_hwm_mb(jvm.pid) if jvm else 0.0)
        w.before_stop()
        if w.verify_needs_spark:
            w.verify()
    except BaseException:
        stop_spark(spark)
        raise
    stopper = threading.Thread(target=stop_spark, args=(spark,))
    stopper.start()
    try:
        if not w.verify_needs_spark:
            w.verify()
    finally:
        stopper.join()
    leaked = (len(os.listdir(dirs["tmp"])), workloads.dir_bytes(dirs["tmp"]))
    e2e = {"setup_s": (setup_s, "s"), **w.e2e(), "peak_rss_mb": (rss, "MB")}
    named = {"setup_s": (setup_s, "s", 1), **w.raw(), **w.named(),
             "error_rate": (w.failed / max(1, w.attempted), "ratio", w.attempted),
             "peak_rss_mb": (rss, "MB", 1)}
    layers = layer_metrics(w, start_s, warm_s, leaked) if args.trace else {}
    return {"w": w, "e2e": e2e, "named": named, "layers": layers,
            "leaked": leaked, "gen_s": gen_s[0], "start_s": start_s,
            "warm_s": warm_s}


def main(argv=None) -> int:
    args = parse(argv)
    # on SIGTERM unwind normally, so the session stops and the scratch
    # root is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import pulsar_project_spark.session  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: cannot import the program: {ex}", file=sys.stderr)
        return 2
    os.makedirs(args.out, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"scratch-{args.workload}-", dir=args.out)
    try:
        dirs = scratch_env(scratch)
        res = run(args, dirs)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    w = res["w"]
    st = stamp(args)
    tag = f"{args.workload}_seed{args.seed}_trace{args.trace}_{os.getpid()}"
    artifact = {
        "stamp": st, "inputs": w.props,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in res["e2e"].items()},
        "named": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in res["named"].items()},
        "per_layer": {k: {"value": v, "unit": u} for k, (v, u) in res["layers"].items()},
        "per_kind_p50_ms": {k: statistics.median(x for x, kk in zip(w.op_lat, w.op_kinds) if kk == k)
                            for k in set(w.op_kinds)},
        "ops": len(w.op_lat), "loop_s": w.loop_s,
        "op_ms": [[k, round(x, 3)] for k, x in zip(w.op_kinds, w.op_lat)],
        "ref_ms": [round(r, 4) for r in w.ref_lat],
        "attempted": w.attempted, "failed": w.failed, "failures": w.failures,
        "scratch_leaked": {"entries": res["leaked"][0], "bytes": res["leaked"][1]},
        "setup_parts_s": {"session_start": res["start_s"], "generate": res["gen_s"],
                          "warm_up": res["warm_s"]},
    }
    with open(os.path.join(args.out, tag + ".json"), "w") as fh:
        json.dump(artifact, fh, indent=1, default=float)
    if args.trace:
        w.tr.dump(os.path.join(args.out, tag + "_spans.json"), st)
    for k, (v, u, n) in res["named"].items():
        print(f"{args.workload} {k} = {v:.6g} {u} (n={n})")
    if w.failures:
        print("failures: " + "; ".join(w.failures), file=sys.stderr)
    metrics = res["layers"] if args.trace else res["e2e"]
    print(json.dumps({
        "correct": w.failed == 0,
        "attempted": w.attempted,
        "failed": w.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, default=float))
    return 0


if __name__ == "__main__":
    sys.exit(main())
