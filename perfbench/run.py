"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root: the engine is imported from ``bistro_spark/``
there. ``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same workload with spans and Spark job counts on, adds the layer probes,
prints the per-layer metrics and writes the spans to
``.perfbench_out/trace-<workload>-<seed>.json``. Everything the run writes
goes under ``.perfbench_work/`` (removed at exit) and ``.perfbench_out/``.
See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))

WORKLOADS = ("backlog_sketch", "rate_fresh", "delta_retention")

# name -> unit; the order is the order printed
END_TO_END = {
    "setup_s": "s",
    "seq_per_s": "1/s",
    "batch_p50_s": "s",
    "batch_tail_s": "s",
    "fresh_p50_s": "s",
    "fresh_tail_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.stage_s": "s",
    "sources.scan_s": "s",
    "calc.native_s": "s",
    "link.s": "s",
    "accu.s": "s",
    "sketch.kernel_s": "s",
    "trigger.plan_ms": "ms",
    "trigger.wal_ms": "ms",
    "trigger.offsets_ms": "ms",
    "trigger.add_batch_ms": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "state.rows_dropped_late": "count",
    "sink.write_s": "s",
    "sink.self_s": "s",
    "sink.replays": "count",
    "sink.bytes": "bytes",
    "sources.backlog_files": "count",
    "incremental.add_s": "s",
    "incremental.result_s": "s",
    "incremental.jobs_per_delta": "count",
    "incremental.tasks_per_delta": "count",
    "incremental.tasks_growth_per_delta": "count",
    "caching.pinned_rdds": "count",
    "spark.jobs_per_batch": "count",
    "spark.tasks_per_batch": "count",
    "failed_ratio": "ratio",
    "batch.samples": "count",
    "fresh.samples": "count",
    "traced.seq_per_s": "1/s",
    "traced.batch_p50_s": "s",
    "traced.fresh_p50_s": "s",
    "trace.cost_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, and make the
    engine importable in Spark's Python workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # no JVM perf-data files under /tmp, for the launcher JVM either
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path[:0] = [ROOT, HERE]


def start_session(work: str, n_cores: int):
    from bistro_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        master=f"local[{n_cores}]",
        app_name="perfbench",
        extra_conf={
            # a fixed heap: an adaptive one grows with GC timing, so its
            # RSS would measure the collector's mood rather than the run
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Xms1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait for every child process."""
    from pyspark import SparkContext

    from probe import children

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 20
    while time.time() < deadline:
        kids = children().get(os.getpid(), [])
        if not kids:
            return
        time.sleep(0.1)
    for pid in children().get(os.getpid(), []):
        try:
            os.kill(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass


def run(workload: str, seed: int, seconds: int, trace: bool, t_begin: float,
        work: str, spark=None, shape=None) -> dict:
    """Run one workload; returns the result object. The self-test passes
    its own ``spark`` session (reused and left running) and a tiny
    ``shape``."""
    import workloads as wl
    from probe import RssSampler, Tracer, now, p50, tail
    from recipe import seed_offset

    tracer = Tracer(trace)
    shape = shape or wl.plan(workload, seconds)
    files = wl.row_ranges(shape, seed_offset(seed))
    own_session = spark is None
    in_dir = os.path.join(work, "in")
    # rate_fresh pre-writes every file outside the watched directory
    stage_dir = os.path.join(work, "pending") if workload == "rate_fresh" else in_dir

    stage_done = {}

    def do_stage():
        t0 = now()
        with tracer.span("stage", "setup"):
            wl.stage(stage_dir, files, max(1, cores() - 1))
        stage_done["s"] = now() - t0

    with RssSampler() as rss:
        stager = threading.Thread(target=do_stage, name="stage")
        stager.start()
        try:
            t0 = now()
            if own_session:
                with tracer.span("get_spark", "setup"):
                    spark = start_session(work, cores())
            session_s = now() - t0
            stager.join()
            if "s" not in stage_done:
                raise RuntimeError("staging failed")
            ctx = wl.Ctx(spark, work, tracer, files[0][0])
            if workload == "backlog_sketch":
                res = wl.backlog_sketch(ctx, shape, in_dir, files)
            elif workload == "rate_fresh":
                res = wl.rate_fresh(ctx, shape, in_dir, stage_dir, files)
            else:
                res = wl.delta_retention(ctx, shape, in_dir, files)
        except BaseException:
            if own_session and spark is not None:
                stop_session(spark)
            stager.join()
            raise
    setup_s = res["warm_end"] - t_begin
    bt, bt_pct = tail(res["batch"])
    ft, ft_pct = tail(res["fresh"])
    e2e = {
        "setup_s": setup_s,
        "seq_per_s": res["seq_per_s"],
        "batch_p50_s": p50(res["batch"]),
        "batch_tail_s": bt,
        "fresh_p50_s": p50(res["fresh"]),
        "fresh_tail_s": ft,
        "peak_rss_mb": rss.peak_mb(res["warm_end"], res["measured_end"]),
    }
    info = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "cores": cores(), "batch_samples": len(res["batch"]),
        "batch_tail_pct": round(bt_pct, 1), "fresh_samples": len(res["fresh"]),
        "fresh_tail_pct": round(ft_pct, 1), "errors": res["errors"],
        "batch_s": [round(x, 4) for x in res["batch"]],
        "fresh_s": [round(x, 4) for x in res["fresh"]],
        **res.get("info", {}),
    }
    try:
        if trace:
            with tracer.span("probes", "probes"):
                layers, probe_errors = wl.layer_probes(ctx, res)
            layers.update(res["layers"])
            res["errors"] += probe_errors
            res["failed"] += bool(probe_errors)
            res["attempted"] += 1
    finally:
        if own_session:
            stop_session(spark)
    if trace:
        layers.update({
            "session.start_s": session_s,
            "sources.stage_s": stage_done["s"],
            "failed_ratio": res["failed"] / res["attempted"],
            "batch.samples": len(res["batch"]),
            "fresh.samples": len(res["fresh"]),
            "traced.seq_per_s": e2e["seq_per_s"],
            "traced.batch_p50_s": e2e["batch_p50_s"],
            "traced.fresh_p50_s": e2e["fresh_p50_s"],
            "trace.cost_s": tracer.cost_s,
        })
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        tracer.dump(
            os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-{seed}.json"),
            {"info": info, "per_layer": layers, "end_to_end": e2e},
        )
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    return {
        "info": info,
        "result": {
            "correct": not res["errors"] and res["failed"] == 0,
            "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": metrics,
        },
    }


def main(argv=None) -> int:
    t_begin = time.time()
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bistro_spark", "__init__.py")):
        print(f"bistro_spark/ not found under {ROOT}; run from the repository root",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    prepare_env(work)
    try:
        out = run(args.workload, args.seed, args.seconds, bool(args.trace),
                  t_begin, work=work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print(json.dumps(out["info"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
