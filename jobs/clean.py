#!/usr/bin/env python3
"""spark-submit entry point for corpus cleaning — the third deployable job
next to jobs/extract.py and jobs/dedup.py, covering the scrub stage of a
training-data build:

    bash jobs/package.sh     # builds dist/pdfminer_six_spark.zip
    spark-submit \
        --py-files dist/pdfminer_six_spark.zip \
        jobs/clean.py \
        --input  <documents parquet: (doc_id, text, ...)> \
        --output <cleaned parquet> \
        [--no-redact] [--no-paragraph-dedup] \
        [--para-sep $'\\n\\n'] [--stats-output <per-stage counts parquet>]

Pipeline: PII redaction (emails/IPs/phones -> typed tokens; pure
projection, zero shuffles) then corpus-global paragraph dedup (repeated
boilerplate paragraphs survive only at their first (doc_id, position)
occurrence; min-agg winner selection, skew-safe — see ops/clean.py).
Output rows keep the input's doc_id plus `text` (cleaned), `n_email`,
`n_ip`, `n_phone`, `n_paras`, `n_kept`.  Everything is lazy until the
writes; no driver-side loops.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pdfminer_six_spark.spark.session import cache_scope  # noqa: E402


def build_args(argv=None):
    p = argparse.ArgumentParser(description="corpus PII scrub + paragraph dedup")
    p.add_argument(
        "--input",
        required=True,
        help="documents parquet with UNIQUE NON-NULL doc_id per row "
        "(same contract as jobs/dedup.py): the paragraph-dedup join back "
        "is keyed on doc_id, so NULL ids would drop rows and duplicate "
        "ids would cross-multiply",
    )
    p.add_argument("--output", required=True)
    p.add_argument("--stats-output", default=None)
    p.add_argument("--no-redact", action="store_true")
    p.add_argument("--no-paragraph-dedup", action="store_true")
    p.add_argument("--para-sep", default="\n\n")
    return p.parse_args(argv)


@cache_scope()
def run(spark, args) -> dict:
    from pyspark.sql import functions as F

    from pdfminer_six_spark.ops.clean import paragraph_dedup, redact_pii

    docs = spark.read.parquet(args.input)
    out = docs
    if not args.no_redact:
        out = redact_pii(out).withColumn("text", F.col("redacted")).drop(
            "redacted"
        )
    if not args.no_paragraph_dedup:
        deduped = paragraph_dedup(out, sep=args.para_sep)
        out = out.drop("text").join(deduped, "doc_id").withColumnRenamed(
            "clean_text", "text"
        )
    out.write.mode("overwrite").parquet(args.output)
    written = spark.read.parquet(args.output)
    stats_cols = [
        c for c in ("n_email", "n_ip", "n_phone", "n_paras", "n_kept")
        if c in written.columns
    ]
    stats = written.agg(
        F.count("*").alias("n_docs"),
        # coalesce: SUM over zero rows is NULL, and int(None) below would
        # fail the job AFTER a successful write on an empty corpus
        *[
            F.coalesce(F.sum(c), F.lit(0)).alias(f"total_{c}")
            for c in stats_cols
        ],
    )
    if args.stats_output:
        stats.write.mode("overwrite").parquet(args.stats_output)
    row = stats.collect()[0].asDict()
    return {k: int(v) for k, v in row.items()}


def main() -> None:
    from pdfminer_six_spark.spark.session import build_session

    args = build_args()
    spark = build_session(app_name="corpus-clean")
    stats = run(spark, args)
    print(stats)
    spark.stop()


if __name__ == "__main__":
    main()
