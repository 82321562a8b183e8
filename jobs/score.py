#!/usr/bin/env python3
"""spark-submit entry point for corpus quality scoring — the filter-stage
job of a training-data build, next to jobs/extract.py (parse),
jobs/dedup.py (dedup) and jobs/clean.py (scrub):

    bash jobs/package.sh     # builds dist/pdfminer_six_spark.zip
    spark-submit \
        --py-files dist/pdfminer_six_spark.zip \
        jobs/score.py \
        --input  <documents parquet: (doc_id, text, ...)> \
        --output <scored parquet> \
        [--lm-scores] [--keep-only] [--report-output <per-source parquet>]

Emits one row per input document carrying every quality signal the ops
layer computes — token stats, Gopher rule verdict, stopword-quality
score, language ID, hashed-linear classifier score — plus the combined
``keep`` verdict (Gopher AND classifier).  All signals are scan-local
JVM projections, so the default job is a single corpus pass with no
shuffle at all until the write.

``--lm-scores`` additionally joins the bigram-LM avg-NLL/perplexity
(ops/retrieval.py — adds the model-build pass and one doc_id shuffle).
``--keep-only`` writes only surviving documents (the verdict columns are
kept so downstream stages can audit the cut).  ``--report-output``
writes the per-source corpus card (queries.q_corpus_report shape)
alongside, computed from the SAME enriched relation.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pdfminer_six_spark.spark.session import cache_scope  # noqa: E402


def build_args(argv=None):
    p = argparse.ArgumentParser(
        description="corpus quality scoring / filtering"
    )
    p.add_argument(
        "--input",
        required=True,
        help="documents parquet with UNIQUE NON-NULL doc_id per row "
        "(same contract as jobs/dedup.py and jobs/clean.py; the optional "
        "--lm-scores join is keyed on doc_id)",
    )
    p.add_argument("--output", required=True)
    p.add_argument("--report-output", default=None)
    p.add_argument(
        "--lm-scores",
        action="store_true",
        help="also score every doc with the add-one bigram LM "
        "(avg_nll/ppl; adds the model-build pass and one doc_id shuffle)",
    )
    p.add_argument(
        "--lm-model",
        default=None,
        help="parquet path of a previously-built (w1, w2, cb) bigram-LM "
        "model (ops.retrieval.bigram_lm_model): the train-once/"
        "score-many path — implies --lm-scores and skips the model-build "
        "pass, so scoring reads the corpus exactly once",
    )
    p.add_argument(
        "--save-lm-model",
        default=None,
        help="also write the bigram-LM model table built from this "
        "corpus to the given parquet path (the reusable artifact for "
        "later --lm-model runs)",
    )
    p.add_argument(
        "--keep-only",
        action="store_true",
        help="write only documents passing the combined keep verdict",
    )
    return p.parse_args(argv)


@cache_scope()
def run(spark, args) -> dict:
    from pyspark.sql import functions as F

    from pdfminer_six_spark.ops.textstats import (
        gopher_quality_rules,
        language_id,
        quality_classifier,
        quality_score,
        with_token_stats,
    )

    docs = spark.read.parquet(args.input)
    enriched = quality_classifier(
        quality_score(
            gopher_quality_rules(language_id(with_token_stats(docs)))
        )
    ).withColumn("keep_doc", F.col("keep") & F.col("clf_keep"))
    if args.save_lm_model:
        from pdfminer_six_spark.ops.retrieval import bigram_lm_model

        bigram_lm_model(docs).write.mode("overwrite").parquet(
            args.save_lm_model
        )
    if args.lm_scores or args.lm_model:
        from pdfminer_six_spark.ops.retrieval import ngram_lm_scores

        model = (
            spark.read.parquet(args.lm_model) if args.lm_model else None
        )
        lm = ngram_lm_scores(docs, model=model)
        # left join: <2-token docs have no LM score (NULL), they already
        # fail the Gopher token floor so the verdict is unaffected
        enriched = enriched.join(
            lm.select("doc_id", "avg_nll", "ppl"), "doc_id", "left"
        )
    out = enriched.filter("keep_doc") if args.keep_only else enriched
    out.write.mode("overwrite").parquet(args.output)

    if args.report_output:
        from pdfminer_six_spark.ops.textstats import corpus_report

        corpus_report(docs).write.mode("overwrite").parquet(
            args.report_output
        )

    written = spark.read.parquet(args.output)
    stats = written.agg(
        F.count("*").alias("n_docs"),
        F.coalesce(
            F.sum(F.col("keep_doc").cast("int")), F.lit(0)
        ).alias("n_keep"),
    ).collect()[0]
    return {"n_docs": int(stats["n_docs"]), "n_keep": int(stats["n_keep"])}


def main() -> None:
    from pdfminer_six_spark.spark.session import build_session

    args = build_args()
    spark = build_session(app_name="corpus-score")
    stats = run(spark, args)
    print(stats)
    spark.stop()


if __name__ == "__main__":
    main()
