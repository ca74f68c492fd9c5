"""The engine's one portable hash primitive, isolated in its own
module so on-disk store content keys can cover EXACTLY the code they
depend on.

Why a separate module (r10 ADVICE): the node-graph store materializes
``aa_und`` (the link-prediction gate's deterministic md5 edge
subsample) with ``stable_hash60``, so a change to this hash must
invalidate that store — but keying the store on all of
``operators/curation.py`` would rebuild a multi-GB store on every
unrelated curation edit. This file IS the hash; ``plans/node_graph``
imports it, so it is in the graph store's key (the key covers the
builder's import closure, ``cache_util.code_closure``), and
``operators/curation`` re-exports it for the rest of the package.

The hash is the first 60 bits of md5(value) as a non-negative int64 —
portable (identical in Spark, DuckDB, and Python) and stable across
runs/partitionings, which is what makes every hash-keyed decision
(sampling, splits, LSH banding, store subsamples) reproducible and
oracle-replicable.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_BITS = 60
HASH_SPACE = float(1 << HASH_BITS)


def stable_hash60(col: Column) -> Column:
    """First 60 bits of md5(value) as a non-negative int64.

    Portable: DuckDB `('0x' || substr(md5(x), 1, 15))::BIGINT`
    produces the identical value, so oracle gates can replicate any
    decision made from this hash exactly.
    """
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def stable_unit(col: Column) -> Column:
    """Hash mapped into [0, 1) — the sampling coordinate."""
    return stable_hash60(col) / F.lit(HASH_SPACE)


def stable_hash60_hi(col: Column) -> Column:
    """Bits 61-120 of md5(value) as a non-negative int64 — the SECOND
    independent half of the digest. Paired with :func:`stable_hash60`
    it composes a portable 120-bit exact-identity key (two BIGINT
    columns) for the paths where a 60-bit birthday collision would
    silently MERGE distinct content at the 10^12-key scale (exact
    line/shingle identity at 100 TB — r14 VERDICT task 3); sketch
    inputs (MinHash perms, sampling, banding) stay at 60 bits, where
    a collision is sketch noise, not corruption.

    Portable: DuckDB `('0x' || substr(md5(x), 16, 15))::BIGINT`
    produces the identical value.
    """
    return F.conv(F.substring(F.md5(col.cast("string")), 16, 15), 16, 10).cast(
        "long"
    )
