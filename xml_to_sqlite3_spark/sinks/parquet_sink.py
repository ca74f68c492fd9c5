"""Canonical distributed sink: partitioned parquet.

This is the 100 TB path — the reference's single SQLite file is a
single-writer bottleneck by construction (lib/database_writer.rb is
explicitly one consumer fiber); at scale the corpus lands as one
parquet table per relation, written by every task in parallel.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..sources.xml_source import XmlCorpus, dedupe_last_writer


def write_corpus_parquet(
    corpus: XmlCorpus,
    out_dir: str,
    mode: str = "overwrite",
) -> None:
    """Write the corpus as four parquet tables.

    INSERT OR REPLACE parity: node and property primary-key
    duplicates are resolved last-writer-wins before writing, like the
    reference's upsert (lib/database_writer.rb:44-56). Documents are
    already unique by construction (every XmlCorpus producer emits one
    row per document id), the same rule the SQLite sink relies on.
    """
    # parse ordinal = the reference writer's insertion order, so the
    # winner matches its INSERT OR REPLACE outcome exactly
    nodes = dedupe_last_writer(corpus.nodes, ["id"], "ordinal").drop("ordinal")
    properties = dedupe_last_writer(
        corpus.properties, ["node_id", "property_name"], "ordinal"
    ).drop("ordinal")

    for df, name in (
        (corpus.documents, "documents"),
        (nodes, "nodes"),
        (properties, "node_properties"),
        (corpus.errors, "errors"),
    ):
        df.write.mode(mode).parquet(os.path.join(out_dir, name))


def zorder_key(cols: list, bits_per_dim: int = 8, ranges: dict | None = None):
    """Morton (Z-order) interleave of linearly-bucketed column values
    — the multi-dimensional file-clustering key. ``ranges`` maps
    column name -> (min, max); values are binned to ``bits_per_dim``
    bits and their bits interleaved, so rows close in EVERY dimension
    get close keys and land in the same row groups. Pure Column
    bit-arithmetic (codegen), no UDF.
    """
    n_buckets = (1 << bits_per_dim) - 1
    bucketed = []
    for c in cols:
        lo, hi = ranges[c]
        span = float(hi - lo) if hi > lo else 1.0
        b = F.least(
            F.lit(n_buckets),
            F.greatest(
                F.lit(0),
                F.floor((F.col(c).cast("double") - F.lit(float(lo))) / F.lit(span) * n_buckets).cast("long"),
            ),
        )
        bucketed.append(b)
    z = F.lit(0).cast("long")
    ndim = len(bucketed)
    for bit in range(bits_per_dim):
        for d, b in enumerate(bucketed):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftrightunsigned(b, bit).bitwiseAND(F.lit(1)),
                    bit * ndim + d,
                )
            )
    return z


def write_zordered(
    df,
    path: str,
    cols: list,
    n_files: int,
    bits_per_dim: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write parquet clustered on the Z-order curve of ``cols`` so
    min/max row-group statistics prune multi-dimensional predicates
    (the lakehouse OPTIMIZE ZORDER BY layout, expressed as plain
    DataFrame ops): per-column (min, max) come from one tiny
    aggregate, rows get a Morton key, and a range partition + local
    sort on that key gives every file/row group a tight bounding box
    in every Z-ordered dimension. A filter on ANY subset of the
    columns then skips most row groups — single-column sorting can
    only serve its leading column.

    Scale shape: one 1-row min/max aggregate (the model parameters),
    one range shuffle on the key, local sorts. No sampling-dependent
    nondeterminism beyond Spark's range partitioner itself.
    """
    stats = df.agg(
        *[f for c in cols for f in (F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}"))]
    ).first()
    ranges = {c: (stats[f"__lo_{c}"], stats[f"__hi_{c}"]) for c in cols}
    keyed = df.withColumn("__z", zorder_key(cols, bits_per_dim, ranges))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_parquet(
    spark,
    in_path: str,
    out_path: str,
    target_file_bytes: int = 128 << 20,
) -> int:
    """Bin-pack a parquet dataset into ~``target_file_bytes`` files;
    returns the file count written. The small-files problem:
    streaming micro-batches and fine-grained partitioned writes leave
    thousands of KB-sized files, and at 100 TB the per-file open/
    footer cost dominates scans. Compaction = size the output file
    count from the INPUT's on-disk bytes (compressed, from the
    filesystem listing — no data read), then one round-robin
    ``repartition(n)`` rewrite for evenly-sized files (a flat,
    unpartitioned layout).

    This is the maintenance half of the lakehouse OPTIMIZE pattern
    (write_zordered is the clustering half; compose by compacting
    into a z-ordered rewrite).
    """
    import os

    total = 0
    for root, _dirs, files in os.walk(in_path):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, f))
    n = max(1, -(-total // target_file_bytes))
    spark.read.parquet(in_path).repartition(n).write.mode("overwrite").parquet(out_path)
    written = 0
    for root, _dirs, files in os.walk(out_path):
        written += sum(1 for f in files if f.endswith(".parquet"))
    return written
