#!/usr/bin/env python
"""Capture .explain("formatted") for every bench headline query (and the
streaming bench query's batch-equivalent shape where applicable) into
plans/<round>/<query>_<tag>.txt — the optimization round's before/after
evidence (spark_optimization_guide §1: measure first, pin the plan shape).

Usage: python tools/benchplans.py <tag> [--round=rNN] [extra_query ...]
  tag = before | after; extra queries are dumped in addition to the
  headline set.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q_window_topk_per_customer",
    "q_events_hourly",
    "q_events_sessionize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality_stats",
    "text_tfidf_topk",
    "pipeline_chunk_documents",
    "ann_cosine_topk",
    "sink_roundtrip",
    "q_events_funnel",
    "pipeline_end_to_end",
    "dedup_embedding_ivf",
]


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    rnd = "r12"
    for a in sys.argv[1:]:
        if a.startswith("--round="):
            rnd = a.split("=", 1)[1]
    tag = args[0] if args else "before"
    extra = args[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    outdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd
    )
    os.makedirs(outdir, exist_ok=True)

    from pg2parquet_spark.registry import load_all
    from pg2parquet_spark.session import get_spark

    spark = get_spark(app_name="pg2parquet_benchplans")
    registry = load_all()
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    def dump(name: str, df) -> None:
        text = df._jdf.queryExecution().explainString(mode)
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text.splitlines())} lines)")

    for name in HEADLINE + extra:
        if name in registry:
            dump(name, registry[name].fn(spark, sf_dir))


if __name__ == "__main__":
    main()
