#!/usr/bin/env python3
"""End-to-end training-data curation over a document corpus — the
composed form of the operator suite, the way a 100 TB pipeline job
would wire it:

    documents parquet
      -> curate_corpus     (exact dedup + quality + lang + MinHash near-dup)
      -> c4_line_filter    (line-level boilerplate cleaning)
      -> duplicated_spans  (substring-level duplication report)
      -> chunk_documents   (token windows)
      -> pack_training_sequences (GPT-style concat-and-cut layout)

Run:  python examples/curation_pipeline.py [sf_dir] [out_dir]
(defaults: /root/testdata/sf0.001 -> /tmp/curated_out)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from xml_to_sqlite3_spark.session import get_spark
from xml_to_sqlite3_spark.io_util import load
from xml_to_sqlite3_spark.operators import curation as C
from xml_to_sqlite3_spark.operators.dedup import duplicated_spans
from xml_to_sqlite3_spark.operators.pipeline import curate_corpus


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/curated_out"
    spark = get_spark(app_name="curation_pipeline")

    docs = load(spark, sf_dir, "documents")

    # 1. keep/drop decisions, cheapest stage first
    decisions = curate_corpus(
        docs,
        min_quality=0.3,
        allowed_langs=("en", "es", "fr", "de", "zh", "und"),
        near_dup_threshold=0.5,
    )
    kept = docs.join(
        decisions.filter("keep").select("doc_id"), "doc_id", "left_semi"
    )

    # 2. line-level cleaning on the survivors
    cleaned = C.c4_line_filter(kept, min_words=3)
    survivors = kept.select("doc_id").join(
        cleaned.filter(F.col("n_lines_kept") > 0).select("doc_id"), "doc_id", "left_semi"
    )
    corpus = docs.join(survivors, "doc_id", "left_semi")

    # 3. substring-duplication report (audit artifact, not a filter here)
    spans = duplicated_spans(corpus, window_tokens=8, min_count=2)

    # 4. chunk + pack for training
    chunks = C.chunk_documents(corpus, chunk_tokens=64, overlap=16)
    packed = C.pack_training_sequences(chunks, seq_len=512, bucket_size=1000)

    decisions.write.mode("overwrite").parquet(f"{out_dir}/decisions")
    spans.write.mode("overwrite").parquet(f"{out_dir}/dup_spans")
    packed.write.mode("overwrite").parquet(f"{out_dir}/packed")

    n_in = docs.count()
    n_kept = decisions.filter("keep").count()
    n_spans = spans.count()
    n_seqs = packed.agg(F.max("seq_id")).first()[0]
    print(
        f"docs in: {n_in}  kept: {n_kept}  dup-spans flagged: {n_spans}  "
        f"training sequences: {(n_seqs or 0) + 1}"
    )
    print(f"outputs under {out_dir}/")
    spark.stop()


if __name__ == "__main__":
    main()
