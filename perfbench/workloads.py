"""The benchmark workloads and the traced run's layer probes.

Each workload drives the engine only through its public functions, in the
composition of ``bistro_spark/jobs/stream_pipeline.py``. Input sizes are
pure functions of ``--seconds`` and constants below; nothing is derived
from a measurement taken at run time.
"""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from bistro_spark.caching import pinned_ids
from bistro_spark.functions.tokens import n_tok_native, token_fingerprint
from bistro_spark.pipeline import prepare_facts
from bistro_spark.sources.tokens import TOKEN_SCHEMA
from bistro_spark.streaming.incremental import AggSpec, IncrementalRunner
from bistro_spark.streaming.metrics import (
    MetricsLogListener,
    observe_counts,
    stamp_lineage,
)
from bistro_spark.streaming.sink import IdempotentParquetSink
from bistro_spark.streaming.windows import tumbling_window_accu
from probe import Tracer, now, p50
from recipe import (
    check_retained,
    check_windows,
    retained_truth,
    window_truth,
    write_file,
)

WINDOW_S = 60  # jobs/stream_pipeline.py defaults
WATERMARK = "30 seconds"
FILES_PER_TRIGGER = 4


@dataclass(frozen=True)
class Shape:
    """Input shape of one workload: equal files, the first ``warm_files``
    of them consumed by warm-up."""

    rows_per_file: int
    warm_files: int
    measured_files: int


# backlog: 4-file triggers; each measured second is worth nominal_seq_per_s
# rows of backlog (about the seed's sketch drain rate on local[4]).
BACKLOG_ROWS_PER_FILE = 3_000
BACKLOG_WARM_BATCHES = 3  # JIT still speeds batches up through the third
BACKLOG_NOMINAL_SEQ_PER_S = 6_000
# open loop: a fixed schedule far below the native drain rate.
RATE_FILES_PER_S = 4
RATE_ROWS_PER_FILE = 500
RATE_WARM_FILES = 2
RATE_TRIGGER = "100 milliseconds"
# delta-driven evaluation: count retention with invertible folds.
DELTA_ROWS = 2_000
DELTA_RETAIN = 10_000
DELTA_WARM = 2
DELTAS_PER_S = 0.6

DRAIN_TIMEOUT_S = 90  # a run must end within 180 s

PROBE_ROWS = 20_000
PROBE_REPEATS = 3


@dataclass
class Ctx:
    spark: object
    work: str
    tracer: Tracer
    base: int  # first row id (seed offset)


def plan(workload: str, seconds: int) -> Shape:
    if workload == "backlog_sketch":
        batch_rows = BACKLOG_ROWS_PER_FILE * FILES_PER_TRIGGER
        batches = max(4, round(seconds * BACKLOG_NOMINAL_SEQ_PER_S / batch_rows))
        return Shape(BACKLOG_ROWS_PER_FILE, BACKLOG_WARM_BATCHES * FILES_PER_TRIGGER,
                     batches * FILES_PER_TRIGGER)
    if workload == "rate_fresh":
        return Shape(RATE_ROWS_PER_FILE, RATE_WARM_FILES, RATE_FILES_PER_S * seconds)
    if workload == "delta_retention":
        return Shape(DELTA_ROWS, DELTA_WARM, max(4, round(seconds * DELTAS_PER_S)))
    raise ValueError(f"unknown workload {workload!r}")


def row_ranges(shape: Shape, base: int) -> list[tuple[int, int]]:
    """The (lo, hi) row-id range of every file, warm-up files first."""
    n = shape.warm_files + shape.measured_files
    r = shape.rows_per_file
    return [(base + k * r, base + (k + 1) * r) for k in range(n)]


def file_name(k: int) -> str:
    return f"part-{k:06d}.parquet"


def stage(directory: str, files: list[tuple[int, int]], threads: int) -> None:
    """Write every file of the plan, named by plan index.

    The file source takes new files in modification-time order, so the
    files get strictly increasing mtimes in plan order (parallel writes
    finish out of order): each trigger then holds a contiguous row range."""
    os.makedirs(directory, exist_ok=True)
    with ThreadPoolExecutor(threads) as pool:
        futs = [
            pool.submit(write_file, os.path.join(directory, file_name(k)), lo, hi)
            for k, (lo, hi) in enumerate(files)
        ]
        for f in futs:
            f.result()
    base_ns = time.time_ns() - len(files) * 10_000_000
    for k in range(len(files)):
        t = base_ns + k * 10_000_000
        os.utime(os.path.join(directory, file_name(k)), ns=(t, t))


# -- streaming --------------------------------------------------------------


def _aggs(sketch: bool) -> dict[str, str]:
    aggs = {
        "n_seq": "count(*)",
        "sum_tok": "sum(n_tok_calc)",
        "sum_weighted": "sum(weighted_tok)",
    }
    if sketch:
        aggs["n_distinct"] = "approx_count_distinct(fingerprint)"
        aggs["sig_min"] = "min(tok_sig[0])"
    return aggs


class _OffsetTap(StreamingQueryListener):
    """Keeps the highest batch_ofs a finished batch consumed; progress is
    posted after the batch's sink commit."""

    ofs_hi = -1

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        obs = event.progress.observedMetrics.get("prepared")
        if obs is not None and obs["rows"]:
            self.ofs_hi = max(self.ofs_hi, obs["ofs_hi"])

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class StreamRun:
    """One file-stream query: scan → calc → link → window accu → sink."""

    def __init__(self, ctx: Ctx, in_dir: str, sketch: bool, trigger: dict,
                 max_files: int | None):
        spark = ctx.spark
        self.ctx = ctx
        self.sink = IdempotentParquetSink(os.path.join(ctx.work, "sink"))
        self.commits: dict[int, float] = {}  # batch_id -> wall time of commit
        self.write_s: dict[int, float] = {}
        self.replays = 0
        self.batch_jobs: dict[int, tuple[int, int]] = {}
        self._seen_jobs: set[int] = set()
        # the job's own metrics listener: each trigger pays for it as it
        # does in jobs/stream_pipeline.py
        self.listener = MetricsLogListener(os.path.join(ctx.work, "metrics.jsonl"))
        self.tap = _OffsetTap()
        spark.streams.addListener(self.listener)
        spark.streams.addListener(self.tap)

        reader = spark.readStream.schema(TOKEN_SCHEMA)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        src = stamp_lineage(reader.parquet(in_dir))
        prepared = prepare_facts(spark, src, sketch=sketch).withWatermark(
            "event_time", WATERMARK
        )
        prepared = observe_counts(
            prepared, "prepared",
            F.min("batch_ofs").alias("ofs_lo"), F.max("batch_ofs").alias("ofs_hi"),
        )
        windowed = tumbling_window_accu(
            prepared, "event_time", f"{WINDOW_S} seconds", ["src"], _aggs(sketch)
        )
        self.query = (
            windowed.writeStream.outputMode("append")
            .foreachBatch(self._write)
            .option("checkpointLocation", os.path.join(ctx.work, "checkpoint"))
            .trigger(**trigger)
            .start()
        )

    def _write(self, df, batch_id: int) -> None:
        tr = self.ctx.tracer
        t0 = now()
        with tr.span("sink.write", f"batch-{batch_id}", "query"):
            fresh = self.sink.write(df, batch_id)
        self.commits[batch_id] = time.time()
        self.write_s[batch_id] = now() - t0
        self.replays += not fresh
        if tr.enabled:
            ids = tr.job_ids(self.ctx.spark, str(self.query.runId))
            self.batch_jobs[batch_id] = tr.jobs_and_tasks(
                self.ctx.spark, ids - self._seen_jobs
            )
            self._seen_jobs |= ids

    def stop(self) -> None:
        self.query.stop()
        self.ctx.spark.streams.removeListener(self.listener)
        self.ctx.spark.streams.removeListener(self.tap)

    def progress(self) -> dict[int, dict]:
        """Per batch id: rows, durations, watermark, state, trigger start
        and the consumed batch_ofs range, from the listener's progress."""
        out = {}
        for p in self.query.recentProgress:
            obs = p.observedMetrics.get("prepared")
            out[p.batchId] = {
                "rows": p.numInputRows,
                "ms": dict(p.durationMs or {}),
                "watermark": p.eventTime.get("watermark") if p.eventTime else None,
                "state": _state(p.stateOperators[0]) if p.stateOperators else None,
                "start": _iso_s(p.timestamp),
                "ofs": (obs["ofs_lo"], obs["ofs_hi"]) if obs and obs["rows"] else None,
            }
        return out



def _state(op) -> dict:
    return {
        "rows_total": op.numRowsTotal,
        "memory_bytes": op.memoryUsedBytes,
        "commit_ms": op.commitTimeMs,
        "update_ms": op.allUpdatesTimeMs,
        "dropped_late": op.numRowsDroppedByWatermark,
    }


def committed_rows(spark, sink) -> list[tuple]:
    """Every committed sink row as (window_start_us, window_end_us, src,
    n_seq, sum_tok, sum_weighted)."""
    rows = sink.read_committed(spark).selectExpr(
        "unix_micros(window_start)", "unix_micros(window_end)", "src",
        "n_seq", "sum_tok", "sum_weighted",
    ).collect()
    return [tuple(r) for r in rows]


def _iso_s(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _file_batches(files, prog) -> list[int | None]:
    """Batch id that consumed each file, from the observed batch_ofs range
    (each file holds one contiguous range)."""
    ranges = sorted((v["ofs"], b) for b, v in prog.items() if v["ofs"])
    out = []
    for lo, hi in files:
        hit = [b for (a, z), b in ranges if a <= lo and hi - 1 <= z]
        out.append(hit[0] if hit else None)
    return out


def _check_stream(ctx: Ctx, run: StreamRun, files, prog) -> list[str]:
    last = max(run.commits)
    wm = prog.get(last, {}).get("watermark")
    if wm is None:
        return [f"no progress with a watermark for committed batch {last}"]
    wm_us = round(_iso_s(wm) * 1_000_000)
    truth = window_truth(files[0][0], files[-1][1], WINDOW_S)
    return check_windows(committed_rows(ctx.spark, run.sink), truth, wm_us, WINDOW_S)


def _stream_layers(ctx: Ctx, run: StreamRun, prog, measured: list[int]) -> dict:
    if not ctx.tracer.enabled:
        return {}
    ms = [prog[b]["ms"] for b in measured]
    states = [prog[b]["state"] for b in measured if prog[b]["state"] is not None]
    jobs = [run.batch_jobs[b] for b in measured if b in run.batch_jobs]
    sink_dir = run.sink.root
    sink_bytes = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(sink_dir) for f in fs
    )
    return {
        "trigger.plan_ms": p50([m.get("queryPlanning", 0) for m in ms]),
        "trigger.wal_ms": p50([m.get("walCommit", 0) for m in ms]),
        "trigger.offsets_ms": p50([m.get("commitOffsets", 0) for m in ms]),
        "trigger.add_batch_ms": p50([m.get("addBatch", 0) for m in ms]),
        "state.rows_total": max(s["rows_total"] for s in states),
        "state.memory_bytes": max(s["memory_bytes"] for s in states),
        "state.commit_ms": p50([s["commit_ms"] for s in states]),
        "state.update_ms": p50([s["update_ms"] for s in states]),
        "state.rows_dropped_late": sum(s["dropped_late"] for s in states),
        "sink.write_s": p50([run.write_s[b] for b in measured]),
        "sink.replays": run.replays,
        "sink.bytes": sink_bytes,
        "spark.jobs_per_batch": p50([j for j, _ in jobs]),
        "spark.tasks_per_batch": p50([t for _, t in jobs]),
    }


def _backlog_series(files_landed, consumed_by, prog, batches) -> list[int]:
    """Files landed but not yet consumed when each batch's trigger started."""
    out = []
    for b in batches:
        start = prog[b]["start"]
        out.append(sum(
            1 for t, c in zip(files_landed, consumed_by)
            if t <= start and (c is None or c >= b)
        ))
    return out


def backlog_sketch(ctx: Ctx, shape: Shape, in_dir: str, files) -> dict:
    """Closed loop, one client: availableNow drains the staged backlog
    through the fused Arrow sketch calc."""
    tr = ctx.tracer
    landed_at = time.time()
    with tr.span("query", "query"):
        run = StreamRun(ctx, in_dir, True, {"availableNow": True}, FILES_PER_TRIGGER)
        drained = run.query.awaitTermination(DRAIN_TIMEOUT_S)
    if not drained:
        run.stop()
        raise RuntimeError(f"backlog not drained within {DRAIN_TIMEOUT_S} s")
    prog = run.progress()
    run.stop()
    warm_batches = shape.warm_files // FILES_PER_TRIGGER
    data = sorted(b for b, v in prog.items() if v["rows"] > 0)
    if len(data) != len(files) // FILES_PER_TRIGGER:
        raise RuntimeError(f"expected {len(files) // FILES_PER_TRIGGER} data batches, got {len(data)}")
    measured = data[warm_batches:]
    t_start = run.commits[data[warm_batches - 1]]
    t_end = run.commits[measured[-1]]
    consumed_by = _file_batches(files, prog)
    fresh = [
        run.commits[c] - t_start
        for c, (lo, hi) in zip(consumed_by, files)
        if c is not None and c in measured
    ]
    durations = [prog[b]["ms"]["triggerExecution"] / 1000 for b in measured]
    rows = sum(prog[b]["rows"] for b in measured)
    errors = _check_stream(ctx, run, files, prog)
    uncommitted = sum(c is None or c not in run.commits for c in consumed_by)
    out = {
        "warm_end": t_start,
        "measured_end": t_end,
        "seq_per_s": rows / (t_end - t_start),
        "batch": durations,
        "fresh": fresh,
        "attempted": len(files) + len(data) + 1,
        "failed": uncommitted + bool(errors),
        "errors": errors,
        "layers": _stream_layers(ctx, run, prog, measured),
        "run": run,
    }
    if tr.enabled:
        tr.series["progress"] = prog
        series = _backlog_series([landed_at] * len(files), consumed_by, prog, measured)
        tr.series["sources.backlog_files"] = series
        out["layers"]["sources.backlog_files"] = max(series)
    return out


def rate_fresh(ctx: Ctx, shape: Shape, in_dir: str, pending: str, files) -> dict:
    """Open loop: pre-written files land by atomic rename on a fixed
    schedule of RATE_FILES_PER_S, whether or not Spark keeps up."""
    tr = ctx.tracer
    n_warm = shape.warm_files
    landed = [0.0] * len(files)
    due = [0.0] * len(files)
    os.makedirs(in_dir, exist_ok=True)
    run = StreamRun(ctx, in_dir, False, {"processingTime": RATE_TRIGGER}, None)

    def land(k):
        os.rename(os.path.join(pending, file_name(k)), os.path.join(in_dir, file_name(k)))
        landed[k] = time.time()

    def wait_committed(k, timeout):
        end = time.time() + timeout
        while time.time() < end:
            if run.tap.ofs_hi >= files[k][1] - 1:
                return True
            time.sleep(0.02)
        return False

    with tr.span("warmup", "query"):
        for k in range(n_warm):
            due[k] = time.time()
            land(k)
            if not wait_committed(k, 60):
                raise RuntimeError(f"warm-up file {k} never committed")
    t_sched = time.time() + 0.05
    for k in range(n_warm, len(files)):
        due[k] = t_sched + (k - n_warm) / RATE_FILES_PER_S

    def generate():
        for k in range(n_warm, len(files)):
            delay = due[k] - time.time()
            if delay > 0:
                time.sleep(delay)
            land(k)

    gen = threading.Thread(target=generate, name="open-loop-generator")
    with tr.span("schedule", "query"):
        gen.start()
        gen.join()
    t_sched_end = landed[-1]
    # drain: every landed file committed, then one idle trigger for the
    # watermark-advancing no-data batch
    drained = wait_committed(len(files) - 1, DRAIN_TIMEOUT_S)
    if drained:
        _wait_idle(run)
    prog = run.progress()
    run.stop()
    consumed_by = _file_batches(files, prog)
    committed = [c is not None and c in run.commits for c in consumed_by]
    sched = range(n_warm, len(files))
    fresh = [run.commits[consumed_by[k]] - due[k] for k in sched if committed[k]]
    measured = sorted({consumed_by[k] for k in sched if committed[k]})
    durations = [prog[b]["ms"]["triggerExecution"] / 1000 for b in measured]
    last_commit = max(run.commits[consumed_by[k]] for k in sched if committed[k])
    rows = sum(files[k][1] - files[k][0] for k in sched if committed[k])
    errors = _check_stream(ctx, run, files, prog)
    end_backlog = sum(
        1 for k in range(len(files))
        if landed[k] <= t_sched_end
        and (not committed[k] or run.commits[consumed_by[k]] > t_sched_end)
    )
    out = {
        "warm_end": t_sched,
        "measured_end": last_commit,
        "seq_per_s": rows / (last_commit - t_sched),
        "batch": durations,
        "fresh": fresh,
        "attempted": len(files) + len(prog) + 1,
        "failed": committed.count(False) + bool(errors),
        "errors": errors,
        "layers": _stream_layers(ctx, run, prog, measured),
        "run": run,
    }
    late = [landed[k] - due[k] for k in sched]
    if tr.enabled:
        tr.series["progress"] = prog
        tr.series["gen.late_s"] = late
        tr.series["gen.due"] = due
        tr.series["gen.landed"] = landed
        series = _backlog_series(landed, consumed_by, prog, measured)
        tr.series["sources.backlog_files"] = series
        out["layers"]["sources.backlog_files"] = max(series)
    out["info"] = {"gen_late_max_s": round(max(late), 4), "backlog_end_files": end_backlog}
    return out


def _wait_idle(run: StreamRun, settle_s: float = 0.5, timeout: float = 20) -> None:
    """Wait until the query has been idle, its latest batch committed, for
    ``settle_s`` (several trigger intervals): any watermark-advancing
    no-data batch has then run, and no batch is mid-flight at stop()."""
    end = time.time() + timeout
    quiet_since = None
    while time.time() < end:
        last = run.query.lastProgress
        st = run.query.status
        idle = (last is not None and last.batchId in run.commits
                and not st["isTriggerActive"] and not st["isDataAvailable"])
        if not idle:
            quiet_since = None
        elif quiet_since is None:
            quiet_since = time.time()
        elif time.time() - quiet_since >= settle_s:
            return
        time.sleep(0.05)


# -- delta-driven evaluation --------------------------------------------------


def delta_retention(ctx: Ctx, shape: Shape, in_dir: str, files) -> dict:
    """Closed loop, one caller: add_batch then result().collect() per delta."""
    spark, tr = ctx.spark, ctx.tracer
    runner = IncrementalRunner(
        spark,
        prepare=lambda df: prepare_facts(spark, df),
        group_keys=["src"],
        aggs=[
            AggSpec("n_seq", "count(*)", "sum", 0, invertible=True),
            AggSpec("sum_tok", "sum(n_tok_calc)", "sum", 0, invertible=True),
            AggSpec("sum_weighted", "sum(weighted_tok)", "sum", 0.0, invertible=True),
        ],
        retention_count=DELTA_RETAIN,
    )
    add_s, read_s, cycle_s, errors = [], [], [], []
    jobs, tasks, pinned = [], [], []
    warm_end = None
    first = files[0][0]
    with tr.span("loop", "loop"):
        for k, (lo, hi) in enumerate(files):
            sid = f"delta-{k}"
            df = spark.read.schema(TOKEN_SCHEMA).parquet(os.path.join(in_dir, file_name(k)))
            if tr.enabled:
                spark.sparkContext.setJobGroup(sid, sid)
            t0 = now()
            with tr.span("add_batch", sid, "loop"):
                runner.add_batch(df)
            t1 = now()
            with tr.span("result", sid, "loop"):
                rows = [tuple(r) for r in runner.result().select(
                    "src", "n_seq", "sum_tok", "sum_weighted").collect()]
            t2 = now()
            errors += check_retained(rows, retained_truth(max(first, hi - DELTA_RETAIN), hi))
            if tr.enabled:
                j, t = tr.jobs_and_tasks(spark, tr.job_ids(spark, sid))
                jobs.append(j)
                tasks.append(t)
                pinned.append(len(pinned_ids(spark)))
            if k == shape.warm_files - 1:
                warm_end = time.time()
            elif k >= shape.warm_files:
                add_s.append(t1 - t0)
                read_s.append(t2 - t1)
                cycle_s.append(t2 - t0)
    if tr.enabled:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    measured_rows = sum(hi - lo for lo, hi in files[shape.warm_files:])
    out = {
        "warm_end": warm_end,
        "measured_end": time.time(),
        "seq_per_s": measured_rows / sum(cycle_s),
        "batch": add_s,
        "fresh": cycle_s,
        "attempted": len(files),
        "failed": len(errors),  # at most one error per delta
        "errors": errors[:3],
        "layers": {},
    }
    if tr.enabled:
        tr.series.update({
            "incremental.jobs_per_delta": jobs,
            "incremental.tasks_per_delta": tasks,
            "caching.pinned_rdds": pinned,
        })
        out["layers"] = {
            "incremental.add_s": p50(add_s),
            "incremental.result_s": p50(read_s),
            "incremental.jobs_per_delta": p50(jobs),
            "incremental.tasks_per_delta": p50(tasks),
            "incremental.tasks_growth_per_delta": _slope(tasks),
            "caching.pinned_rdds": max(pinned),
        }
    return out


def _slope(ys: list[float]) -> float:
    """Least-squares slope of ys against their index."""
    n = len(ys)
    mx = (n - 1) / 2
    my = sum(ys) / n
    den = sum((i - mx) ** 2 for i in range(n))
    return sum((i - mx) * (y - my) for i, y in enumerate(ys)) / den if den else 0.0


# -- layer probes (traced run only) ---------------------------------------------


def layer_probes(ctx: Ctx, res: dict) -> tuple[dict, list[str]]:
    """Per-layer values the workload itself did not produce, measured on
    the fixed probe rows; returns (metrics, oracle errors).

    - prefix probes with a noop sink: scan, +calc, +link, +window accu,
      and scan+sketch(+link). The stages fuse into one Spark job, so self
      time is the difference between consecutive probes;
    - a workload without a stream gets a 3-trigger native stream over the
      probe rows for the trigger, state, sink and Spark-job metrics;
    - a workload without deltas gets a 4-delta retention run over them for
      the incremental and caching metrics;
    - ``sink.self_s``: writes of an already materialized sink batch."""
    spark, tr = ctx.spark, ctx.tracer
    path = os.path.join(ctx.work, "probe", file_name(0))
    stage(os.path.dirname(path), [(ctx.base, ctx.base + PROBE_ROWS)], 1)

    def read():
        return spark.read.schema(TOKEN_SCHEMA).parquet(path)

    probes = {
        "scan": read,
        "calc": lambda: read().select(
            "*", n_tok_native("tokens").alias("n_tok_calc"),
            token_fingerprint("tokens").alias("fingerprint")),
        "link": lambda: prepare_facts(spark, read()),
        "accu": lambda: tumbling_window_accu(
            prepare_facts(spark, read()), "event_time", f"{WINDOW_S} seconds",
            ["src"], _aggs(False)),
        "sketch": lambda: prepare_facts(spark, read(), sketch=True),
    }
    t = {}
    for name, build in probes.items():
        build().write.format("noop").mode("overwrite").save()  # warm
        runs = []
        for i in range(PROBE_REPEATS):
            t0 = now()
            with tr.span(f"probe.{name}", f"probe-{name}-{i}", "probes"):
                build().write.format("noop").mode("overwrite").save()
            runs.append(now() - t0)
        t[name] = p50(runs)
    out = {
        "sources.scan_s": t["scan"],
        "calc.native_s": t["calc"] - t["scan"],
        "link.s": t["link"] - t["calc"],
        "accu.s": t["accu"] - t["link"],
        "sketch.kernel_s": t["sketch"] - t["scan"] - (t["link"] - t["calc"]),
    }
    errors: list[str] = []
    third = PROBE_ROWS // 3
    thirds = [(ctx.base + k * third, ctx.base + (k + 1) * third) for k in range(3)]
    sink_run = res.get("run")
    if sink_run is None:
        sub = Ctx(spark, os.path.join(ctx.work, "probe_stream"), tr, ctx.base)
        in_dir = os.path.join(sub.work, "in")
        stage(in_dir, thirds, 1)
        with tr.span("probe.stream", "probe-stream", "probes"):
            sink_run = StreamRun(sub, in_dir, False, {"availableNow": True}, 1)
            sink_run.query.awaitTermination(DRAIN_TIMEOUT_S)
        prog = sink_run.progress()
        sink_run.stop()
        data = sorted(b for b, v in prog.items() if v["rows"] > 0)
        out.update(_stream_layers(sub, sink_run, prog, data[1:]))
        out["sources.backlog_files"] = max(_backlog_series(
            [0.0] * len(thirds), _file_batches(thirds, prog), prog, data))
        errors += _check_stream(sub, sink_run, thirds, prog)
    if "incremental.add_s" not in res["layers"]:
        quarter = PROBE_ROWS // 4
        sub = Ctx(spark, os.path.join(ctx.work, "probe_delta"), tr, ctx.base)
        quarters = [(ctx.base + k * quarter, ctx.base + (k + 1) * quarter) for k in range(4)]
        stage(sub.work, quarters, 1)
        with tr.span("probe.incremental", "probe-incremental", "probes"):
            got = delta_retention(sub, Shape(quarter, 1, 3), sub.work, quarters)
        out.update(got["layers"])
        errors += got["errors"]
    biggest = max(
        sink_run.commits,
        key=lambda b: _dir_bytes(os.path.join(sink_run.sink.root, f"batch_id={b}")),
    )
    batch = spark.read.parquet(
        os.path.join(sink_run.sink.root, f"batch_id={biggest}")
    ).localCheckpoint()
    sink = IdempotentParquetSink(os.path.join(ctx.work, "sink_probe"))
    runs = []
    for i in range(PROBE_REPEATS):
        t0 = now()
        with tr.span("probe.sink", f"probe-sink-{i}", "probes"):
            sink.write(batch, i)
        runs.append(now() - t0)
    out["sink.self_s"] = p50(runs)
    return out, errors


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)
