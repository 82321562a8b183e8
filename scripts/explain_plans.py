#!/usr/bin/env python3
"""Dump formatted physical plans for the headline queries — the
plan-quality audit trail (predicate pushdown, column pruning, broadcast
joins, whole-stage codegen spans).

Usage: python scripts/explain_plans.py [sf_dir] [query ...] > PLANS.txt

Queries default to the headline list below.  Each plan is followed by a
``<query>: Exchange=N python=M`` line counting its shuffle and python
(EvalPython / MapInPandas) operators.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from pdfminer_six_spark.queries import QUERIES
    from pdfminer_six_spark.spark.session import build_session

    spark = build_session(app_name="explain", master="local[4]")
    names = sys.argv[2:] or [
        "filter_project",
        "pricing_summary",
        "join_revenue_by_nation",
        "broadcast_join_brand",
        "sessionize_events",
        "range_join_bands",
        "dedup_minhash_lsh",
        "dedup_decontaminate",
        "text_tfidf_top_terms",
        "asof_join_last_order",
        "stable_row_ids",
        "window_range_frame",
        "exists_subqueries",
        "ann_topk_cosine",
        "pii_redact",
        "paragraph_dedup",
        "corpus_mix",
        # late-r04 retrieval / LM / report additions
        "ngram_lm_score",
        "bm25_search",
        "vocab_oov",
        "corpus_report",
    ]
    for name in names:
        fn, _ = QUERIES[name]
        print(f"{'=' * 70}\n== {name}\n{'=' * 70}")
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        n_py = plan.count("EvalPython") + plan.count("MapInPandas")
        print(plan)
        print(f"{name}: Exchange={plan.count('Exchange')} python={n_py}")
    spark.stop()


if __name__ == "__main__":
    main()
