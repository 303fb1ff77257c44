"""Self-test of the benchmark: a tiny run of every workload through the
correctness oracle, negative controls showing the oracle rejects a
corrupted, duplicated or missing sink row, a check that the staged input is
the F1 recipe ``token_table_fast`` generates, and a check that
``BENCHMARK.json`` names exactly the metrics ``run.py`` prints.

    python3 perfbench/selftest.py        # from the repository root, ~2 min

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.getcwd(), HERE]

import run as R  # noqa: E402

SEED = 7


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"FAIL: {what}")
    print(f"ok: {what}")


def check_names() -> None:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        bench = json.load(f)
    check({w["name"] for w in bench["workloads"]} <= set(R.WORKLOADS),
          "BENCHMARK.json workloads are run.py workloads")
    for key, names in (("end_to_end", R.END_TO_END), ("per_layer", R.PER_LAYER)):
        check({m["name"]: m["unit"] for m in bench[key]} == names,
              f"BENCHMARK.json {key} names and units match run.py")


def check_generator(spark) -> None:
    from bistro_spark.sources.tokens import token_table_fast
    from recipe import arrow_table

    n = 300
    got = [
        tuple(r) for r in token_table_fast(spark, n, 2).selectExpr(
            "doc_id", "tokens", "n_tok", "source",
            "unix_micros(event_time)", "batch_ofs",
        ).orderBy("batch_ofs").collect()
    ]
    t = arrow_table(0, n)
    mine = list(zip(
        t["doc_id"].to_pylist(), t["tokens"].to_pylist(), t["n_tok"].to_pylist(),
        t["source"].to_pylist(), t["event_time"].cast("int64").to_pylist(),
        t["batch_ofs"].to_pylist(),
    ))
    check(got == [(a, list(b), c, d, e, f) for a, b, c, d, e, f in mine],
          "staged rows equal token_table_fast element for element")


def check_oracle_rejects(spark, work: str, shape) -> None:
    """Negative controls on real committed sink rows."""
    import workloads as wl
    from bistro_spark.streaming.sink import IdempotentParquetSink
    from recipe import check_retained, check_windows, retained_truth, seed_offset, window_truth

    files = wl.row_ranges(shape, seed_offset(SEED))
    rows = wl.committed_rows(spark, IdempotentParquetSink(os.path.join(work, "sink")))
    truth = window_truth(files[0][0], files[-1][1], wl.WINDOW_S)
    wm = max(r[1] for r in rows)
    check(check_windows(rows, truth, wm, wl.WINDOW_S) == [], "oracle accepts the committed rows")
    bad = list(rows)
    w0, w1, src, n, tok, wt = bad[0]
    bad[0] = (w0, w1, src, n, tok + 1, wt)
    check(check_windows(bad, truth, wm, wl.WINDOW_S) != [], "oracle rejects a corrupted sink row")
    check(check_windows(rows + rows[:1], truth, wm, wl.WINDOW_S) != [],
          "oracle rejects a (window, src) committed twice")
    check(check_windows(rows[1:], truth, wm, wl.WINDOW_S) != [], "oracle rejects a missing window")
    good = retained_truth(0, 1000)
    rows_r = [(s, *v) for s, v in good.items()]
    check(check_retained(rows_r, good) == [], "retention oracle accepts the closed form")
    s, n, tok, wt = rows_r[0]
    check(check_retained([(s, n - 1, tok, wt)] + rows_r[1:], good) != [],
          "retention oracle rejects a corrupted result() row")


def main() -> int:
    from workloads import Shape

    check_names()
    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"selftest-{os.getpid()}")
    R.prepare_env(work)
    # tiny shapes: a few batches or deltas each; delta_retention still
    # evicts (5 x 4000 rows against a 10000-row retention)
    tiny = {
        "backlog_sketch": (Shape(200, 4, 8), True),
        "rate_fresh": (Shape(100, 1, 8), False),
        "delta_retention": (Shape(4000, 1, 4), True),
    }
    spark = R.start_session(work, R.cores())
    try:
        check_generator(spark)
        for name, (shape, trace) in tiny.items():
            wdir = os.path.join(work, name)
            out = R.run(name, SEED, 2, trace, time.time(), wdir, spark=spark, shape=shape)
            res = out["result"]
            check(res["correct"] and res["failed"] == 0,
                  f"{name}: oracle passes, failed=0 ({out['info']['errors']})")
            want = R.PER_LAYER if trace else R.END_TO_END
            check(list(res["metrics"]) == list(want),
                  f"{name}: prints every {'per-layer' if trace else 'end-to-end'} metric")
        check_oracle_rejects(spark, os.path.join(work, "backlog_sketch"), tiny["backlog_sketch"][0])
    finally:
        R.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
