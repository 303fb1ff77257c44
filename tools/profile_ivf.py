"""Profile ann_ivf_topk stage-by-stage (VERDICT r3 directive #2).

Splits the contract query into its driver-side actions so the 2.4x
isolated regression can be attributed: fit-count, fit-collect+kmeans,
query collect, assignment UDF, probe join + window, full query. Each
stage is timed twice (cold, warm) on an otherwise idle session.

Usage: python tools/profile_ivf.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

import __spark_entry__ as ent  # noqa: E402
from bistro_spark.session import get_spark  # noqa: E402


def t(label, fn, n=2):
    best, times = None, []
    for _ in range(n):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        times.append(round(dt, 3))
    print(f"{label:38s} {times}")
    return times


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark()
    from bistro_spark.operators.similarity import ivf_fit, ivf_topk

    emb = ent.load_table(spark, "embeddings", sf)
    queries_df = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    # warm the scan + a python worker once so stage timings are steady-state
    emb.count()

    t("corpus.count()", lambda: emb.count())
    t("ivf_fit (count+sample+kmeans)", lambda: ivf_fit(emb, n_lists=8))
    t("queries.collect()", lambda: queries_df.collect())

    cents = ivf_fit(emb, n_lists=8)

    def assign_only():
        out, _ = ivf_topk(
            emb, queries_df, k=5, n_lists=8, n_probe=8, centroids=cents
        )
        out.collect()

    t("ivf_topk w/ prebuilt centroids", assign_only)
    t(
        "FULL q_ann_ivf_topk",
        lambda: ent.q_ann_ivf_topk(spark, sf).collect(),
        n=3,
    )
    spark.stop()


if __name__ == "__main__":
    main()
