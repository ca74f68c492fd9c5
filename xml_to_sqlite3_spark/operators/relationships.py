"""Relationship detection — the reference's adapter suite as
whole-corpus DataFrame joins.

The reference loops per document (lib/relationship_processor.rb) and
runs each adapter against SQLite; we express every adapter as one
declarative plan over all documents at once — Catalyst fuses the
scans, and both sides of every join are co-partitioned on
document_id, so at 100 TB this is a handful of hash-partition
shuffles instead of millions of per-document queries.

Output schema matches the reference's cross_references table
(db/migrate/001_create_base_schema.rb:40-48):
    source_node_id, target_node_id, reference_type, attribute_name,
    confidence, document_id
(document_id is our partition column; the reference's adapters leave
source_file NULL — lib/relationships/adapter.rb:12-20.)
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

XREF_COLS = (
    "source_node_id",
    "target_node_id",
    "reference_type",
    "attribute_name",
    "confidence",
    "document_id",
)

# lib/relationships/adapters/attribute_reference_adapter.rb:54-66 —
# a value is a candidate single-id reference when it matches any of:
# simple identifier / prefix_number / hyphenated identifier.
# (prefix_number is a subset of simple identifier, so two regexes.)
_ID_PATTERN = r"^[a-zA-Z_][a-zA-Z0-9_]*$"
_HYPHEN_PATTERN = r"^[a-zA-Z0-9]+(-[a-zA-Z0-9]+)*$"

# attribute_reference_adapter.rb:68-80
_SINGLE_REF_INDICATORS = ("id", "ref", "reference", "parent", "child", "target", "source", "link")
# examples/relationship_adapters/multi_reference_adapter.rb:77-87
_MULTI_REF_INDICATORS = ("ids", "refs", "references", "targets", "sources", "links")
_PREFIX_ID = r"^[a-zA-Z]+_[a-zA-Z0-9]+$"


def _rel(source, target, rtype, attribute, confidence, document):
    return [
        source.alias("source_node_id"),
        target.alias("target_node_id"),
        F.lit(rtype).alias("reference_type"),
        (attribute if attribute is not None else F.lit(None).cast("string")).alias(
            "attribute_name"
        ),
        confidence.cast("double").alias("confidence"),
        document.alias("document_id"),
    ]


def _name_contains_any(name_col, indicators) -> F.Column:
    lowered = F.lower(name_col)
    return reduce(
        lambda acc, ind: acc | lowered.contains(ind),
        indicators[1:],
        lowered.contains(indicators[0]),
    )


def structural_relationships(
    nodes: DataFrame,
    max_siblings: int | None = None,
) -> DataFrame:
    """Structural adapter (structural_adapter.rb): parent_child /
    child_parent projections plus sibling pair joins.

    - parent_child + child_parent need NO join at all — they are
      projections of the nodes table.
    - sibling: id-canonical self-join per (document_id, parent_id)
      group — each unordered pair produced ONCE by the quadratic
      join, then both directions restored by one explode (the
      reference's i<j loop writes both rows; a union of two
      projections would re-execute the join per branch).
    - next/previous_sibling: strict position adjacency (pos+1,
      structural_adapter.rb:60-69) — an EQUI-join on (document_id,
      parent_id, position+1 = position), O(children) output, never
      routed through the quadratic pair join (duplicate positions
      are handled exactly: every node at position p pairs with every
      node at p+1, which a window lag would miss).
    - ``max_siblings`` guards the quadratic blowup of a hot parent at
      scale (a parent with 1M children would emit 10^12 pairs);
      groups larger than the cap are skipped BY THE PAIR JOIN ONLY
      (adjacency is O(children) and always emitted — the cap is an
      anti-quadratic guard, not a semantic filter). OFF by default
      for reference parity. The node-graph store build passes the
      two-tier split point here: small groups' pairs ride
      detection/staging (O(k²) but small), FAT groups' pairs are
      generated from O(children) member-list slices INSIDE the
      store's final write tasks (plans/node_graph._sibling_chunks),
      so nothing upstream of the write ever moves or materializes a
      hot parent's k² multiset.
    """
    with_parent = nodes.filter(F.col("parent_id").isNotNull())

    parent_child = with_parent.select(
        *_rel(
            F.col("parent_id"),
            F.col("id"),
            "parent_child",
            None,
            F.lit(1.0),
            F.col("document_id"),
        )
    )
    child_parent = with_parent.select(
        *_rel(
            F.col("id"),
            F.col("parent_id"),
            "child_parent",
            None,
            F.lit(1.0),
            F.col("document_id"),
        )
    )

    sib = with_parent.select("document_id", "parent_id", "id", "position")
    a = sib.alias("a")
    b = sib.alias("b")

    # strict pos+1 adjacency as an EQUI-join (hash join on
    # (document_id, parent_id, position+1), O(children) output) at
    # none of the all-pairs join's quadratic cost. Deliberately NO
    # id-inequality condition (the old pairs-derived adjacency had
    # one): this matches the DuckDB oracle's adjacency definition
    # (plans/node_graph.XREFS_SQL) exactly, and in the reference the
    # case is unreachable — nodes.id is a PRIMARY KEY under INSERT OR
    # REPLACE (db/migrate/001_create_base_schema.rb), so two rows
    # sharing an id never coexist.
    adjacent = a.join(
        b,
        (F.col("a.document_id") == F.col("b.document_id"))
        & (F.col("a.parent_id") == F.col("b.parent_id"))
        & (F.col("a.position") + 1 == F.col("b.position")),
    )
    next_sib = adjacent.select(
        *_rel(
            F.col("a.id"),
            F.col("b.id"),
            "next_sibling",
            None,
            F.lit(1.0),
            F.col("a.document_id"),
        )
    )
    prev_sib = adjacent.select(
        *_rel(
            F.col("b.id"),
            F.col("a.id"),
            "previous_sibling",
            None,
            F.lit(1.0),
            F.col("b.document_id"),
        )
    )

    out = parent_child.unionByName(child_parent).unionByName(
        next_sib
    ).unionByName(prev_sib)

    # the anti-quadratic cap applies to the PAIR join only (adjacency
    # above is O(children) and exempt)
    ps = sib
    if max_siblings is not None:
        counts = ps.groupBy("document_id", "parent_id").agg(
            F.count(F.lit(1)).alias("__n")
        )
        ps = (
            ps.join(counts, ["document_id", "parent_id"])
            .filter(F.col("__n") <= max_siblings)
            .drop("__n")
        )
    pa = ps.alias("a")
    pb = ps.alias("b")
    # id-canonical join: each unordered pair exactly once, then both
    # directions from ONE explode per pair row (a union of two
    # projections would re-execute the quadratic join per branch)
    pairs = pa.join(
        pb,
        (F.col("a.document_id") == F.col("b.document_id"))
        & (F.col("a.parent_id") == F.col("b.parent_id"))
        & (F.col("a.id") < F.col("b.id")),
    )
    siblings = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("a.id").alias("s"), F.col("b.id").alias("t")
                ),
                F.struct(
                    F.col("b.id").alias("s"), F.col("a.id").alias("t")
                ),
            )
        ).alias("__p"),
        F.col("a.document_id").alias("__doc"),
    ).select(
        *_rel(
            F.col("__p.s"),
            F.col("__p.t"),
            "sibling",
            None,
            F.lit(1.0),
            F.col("__doc"),
        )
    )
    return out.unionByName(siblings)


def _properties_with_document(nodes: DataFrame, properties: DataFrame) -> DataFrame:
    """properties ⋈ nodes to recover the owning document — the same
    join the adapters' SQL does (attribute_reference_adapter.rb:13-19)."""
    return properties.join(
        nodes.select(F.col("id").alias("node_id"), "document_id"), "node_id"
    )


def attribute_references(nodes: DataFrame, properties: DataFrame) -> DataFrame:
    """Attribute-reference adapter (attribute_reference_adapter.rb).

    A property value that looks like a single id and names an
    existing node in the SAME document becomes a reference with a
    scored confidence: 0.8 base, +0.15 when the property name
    contains a reference indicator, +0.05 when the value matches
    prefix_suffix, capped at 1.0 (:68-80).

    Plan shape: both sides hash-partition on (document_id, id-value);
    the node-ids side is just (document_id, id) — narrow. No Python.
    """
    props = _properties_with_document(nodes, properties)
    candidates = props.filter(
        F.col("property_value").rlike(_ID_PATTERN)
        | F.col("property_value").rlike(_HYPHEN_PATTERN)
    )

    targets = nodes.select(F.col("document_id"), F.col("id").alias("property_value"))
    resolved = candidates.join(targets, ["document_id", "property_value"], "left_semi")

    confidence = F.least(
        F.lit(1.0),
        F.lit(0.8)
        + F.when(_name_contains_any(F.col("property_name"), _SINGLE_REF_INDICATORS), 0.15).otherwise(0.0)
        + F.when(F.col("property_value").rlike(_PREFIX_ID), 0.05).otherwise(0.0),
    )

    return resolved.select(
        *_rel(
            F.col("node_id"),
            F.col("property_value"),
            "attribute_reference",
            F.col("property_name"),
            confidence,
            F.col("document_id"),
        )
    )


def multi_references(nodes: DataFrame, properties: DataFrame) -> DataFrame:
    """Multi-reference adapter (examples/.../multi_reference_adapter.rb):
    comma/space-separated values exploded into individual candidate
    ids; confidence (0.6 base +0.2 indicator +0.1 prefix-pattern,
    cap 1.0) × 0.8 multi-ref discount."""
    props = _properties_with_document(nodes, properties)
    multi = props.filter(F.col("property_value").rlike(r"[,\s]"))

    exploded = multi.select(
        "node_id",
        "property_name",
        "document_id",
        F.explode(F.split(F.col("property_value"), r"[,\s]+")).alias("ref_id"),
    ).filter(
        (F.col("ref_id") != "")
        & (F.col("ref_id").rlike(_ID_PATTERN) | F.col("ref_id").rlike(_HYPHEN_PATTERN))
    )

    targets = nodes.select(F.col("document_id"), F.col("id").alias("ref_id"))
    resolved = exploded.join(targets, ["document_id", "ref_id"], "left_semi")

    confidence = (
        F.least(
            F.lit(1.0),
            F.lit(0.6)
            + F.when(_name_contains_any(F.col("property_name"), _MULTI_REF_INDICATORS), 0.2).otherwise(0.0)
            + F.when(F.col("ref_id").rlike(_PREFIX_ID), 0.1).otherwise(0.0),
        )
        * 0.8
    )

    return resolved.select(
        *_rel(
            F.col("node_id"),
            F.col("ref_id"),
            "multi_attribute_reference",
            F.col("property_name"),
            confidence,
            F.col("document_id"),
        )
    )


def same_type_relationships(nodes: DataFrame) -> DataFrame:
    """Semantic adapter, type groupings (examples/.../semantic_adapter.rb:30-50):
    every ordered pair of same-type nodes with non-null content in a
    document, confidence 0.6. Only NULL content is excluded — the
    reference's node query is 'content IS NOT NULL' and its grouping
    pass has no empty-string check (empty-content exclusion belongs
    ONLY to the content-similarity pass, where '' scores 0.0)."""
    base = nodes.filter(F.col("content").isNotNull()).select(
        "document_id", "node_type", "id"
    )
    a = base.alias("a")
    b = base.alias("b")
    return (
        a.join(
            b,
            (F.col("a.document_id") == F.col("b.document_id"))
            & (F.col("a.node_type") == F.col("b.node_type"))
            & (F.col("a.id") != F.col("b.id")),
        )
        .select(
            *_rel(
                F.col("a.id"),
                F.col("b.id"),
                "same_type",
                None,
                F.lit(0.6),
                F.col("a.document_id"),
            )
        )
    )


def content_similarity_relationships(
    nodes: DataFrame, threshold: float = 0.7, confidence_scale: float = 0.5
) -> DataFrame:
    """Semantic adapter, content similarity (semantic_adapter.rb:52-85):
    word-set Jaccard ≥ threshold between same-document nodes.

    The reference brute-forces all pairs; we go through an inverted
    index (explode words → pair join on shared word → count distinct
    shared words) so only pairs sharing ≥1 word are scored — the
    LSH-style candidate generation that survives scale.

    Length-ratio prune (exact, no recall loss): Jaccard(A,B) ≤
    min(|A|,|B|)/max(|A|,|B|), so pairs whose word-set sizes differ
    by more than the threshold's ratio are dropped INSIDE the join
    predicate — before the pair rows ever reach the groupBy shuffle.
    At high thresholds this removes most of the hot-word fan-out.
    """
    base = (
        nodes.filter(F.col("content").isNotNull() & (F.col("content") != ""))
        .select(
            "document_id",
            "id",
            F.array_distinct(
                F.expr(r"regexp_extract_all(lower(content), '\\w+', 0)")
            ).alias("words"),
        )
        .filter(F.size("words") > 0)
    )
    sizes = base.select("document_id", "id", F.size("words").alias("n_words"), "words")

    tokens = sizes.select(
        "document_id", "id", "n_words", F.explode("words").alias("word")
    )
    a = tokens.alias("a")
    b = tokens.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.document_id") == F.col("b.document_id"))
            & (F.col("a.word") == F.col("b.word"))
            & (F.col("a.id") != F.col("b.id"))
            & (F.col("a.n_words") * threshold <= F.col("b.n_words"))
            & (F.col("b.n_words") * threshold <= F.col("a.n_words")),
        )
        .groupBy(
            F.col("a.document_id").alias("document_id"),
            F.col("a.id").alias("source_id"),
            F.col("b.id").alias("target_id"),
            F.col("a.n_words").alias("n_a"),
            F.col("b.n_words").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    jaccard = F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    return (
        shared.withColumn("similarity", jaccard)
        .filter(F.col("similarity") >= threshold)
        .select(
            *_rel(
                F.col("source_id"),
                F.col("target_id"),
                "content_similar",
                None,
                F.col("similarity") * confidence_scale,
                F.col("document_id"),
            )
        )
    )


def detect_all_relationships(
    nodes: DataFrame,
    properties: DataFrame,
    max_siblings: int | None = None,
) -> DataFrame:
    """The reference's default detector registers the structural and
    attribute-reference adapters (main.rb:104-110); the example
    adapters (multi_references, same_type_relationships,
    content_similarity_relationships) are registered by the caller —
    see examples/custom_adapters.py. ``max_siblings`` passes through to
    structural_relationships — the store build caps the staged pair
    join at the two-tier split point and generates hot parents' k²
    sibling multisets inside its final write tasks instead of
    routing them through detection."""
    return structural_relationships(
        nodes, max_siblings=max_siblings
    ).unionByName(attribute_references(nodes, properties))
