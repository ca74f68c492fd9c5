"""Distributed XML corpus ingestion.

Reference behavior (lib/document_parser.rb):
  - scan a directory tree for ``*.xml`` (main.rb:67)
  - document id = file basename sans extension (document_parser.rb:10)
  - extract ONLY elements carrying an ``id`` attribute
    (document_parser.rb:24 ``doc.xpath('//*[@id]')``)
  - node_type = element name; parent_id = the DIRECT parent's id (or
    NULL when the parent has no id); position = index among ALL
    element siblings; content = concatenated descendant text,
    stripped (nokogiri ``.text``); xpath = nokogiri-style node path
    (document_parser.rb:26-60)
  - every non-``id`` attribute becomes a property row
    (document_parser.rb:39-53)
  - files that fail to parse are skipped with a warning
    (lib/async_processor.rb:66-73)

Spark-first design: the directory scan is a ``binaryFile`` read (file
granularity == split granularity, embarrassingly parallel, no driver
involvement); parsing runs in ``mapInPandas`` so files travel to
Python as Arrow batches; the parser emits ONE narrow node table with
the attributes nested as an array column, and the relational
projections (documents / nodes / node_properties) are cheap
DataFrame selects on top. Type inference runs JVM-side afterwards
(functions/type_inference.py) — not in Python.

Every file is parsed by one forward-only expat pass
(``_parse_one_stream``): time is linear in the element count, and the
parse holds the emitted rows plus the open-element stack, never a DOM
(the reference DOM-parses each whole file with nokogiri).

At 100 TB: millions of files spread across executors; parse cost is
per-file and independent; output is columnar immediately. A file's
bytes still travel as one ``binaryFile`` row, so a single file must
fit one task (Spark caps a binary value at 2 GB).
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import NamedTuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.type_inference import infer_type

# One row per extracted node; attributes nested, exploded later.
_PARSE_SCHEMA = (
    "document_id string, filename string, file_size long, parse_error string, "
    "id string, node_type string, parent_id string, position int, "
    "content string, xpath string, ordinal long, "
    "attributes array<struct<property_name: string, property_value: string>>, "
    "file_hash string"
)


class XmlCorpus(NamedTuple):
    """The reference's relational model as three DataFrames."""

    documents: DataFrame
    nodes: DataFrame
    properties: DataFrame
    errors: DataFrame


def _parse_one_stream(content: bytes, path: str, size: int) -> list[tuple]:
    """Parse one XML file to node rows in one forward-only expat
    (SAX) pass. Pure function — no Spark.

    Rows come in document order with a preorder ``ordinal``: the
    reference's writer upserts rows in parse order, so in-file
    duplicate ids resolve to the LAST occurrence
    (test_edge_cases.rb test_xml_with_duplicate_ids), and ``ordinal``
    makes that last-writer-wins deterministic once distributed.

    Row-for-row identical to the DOM walk ``_parse_one`` (the parity
    tests in tests/test_xml_properties.py and tests/test_xml_stream.py).
    The only deferred decision is the nokogiri-style xpath
    index (``name[i]`` appears only when an element has 2+ same-named
    siblings — not knowable until the parent closes), so each row
    holds its path CELL, finalized at parent close and rendered at
    document end. Everything else — position among element siblings,
    preorder ordinal, descendant text — is computable forward-only.

    Work is linear in nesting depth as well as sibling count: text
    chunks go to one shared list (an element's content is the join of
    the chunks after its start), and each cell links to its parent's
    cell, so a path prefix is rendered once and shared.
    """
    from xml.parsers import expat

    document_id = os.path.splitext(os.path.basename(path))[0]

    # stack entry per open element:
    # [el_id, cell, child_count, same_counts, needed_cells, registered,
    #  row|None]
    # cell = [lname, ordinal_among_same_named, show_idx, parent_cell,
    #         rendered_xpath|None]
    stack: list[list] = []
    rows: list[list] = []
    # the text chunks since the outermost open id-bearing element
    # started; emptied whenever none is open, so text no row contains
    # is never held
    texts: list[str] = []
    open_ids = 0
    ordinal = 0

    def on_start(name: str, attrs: dict) -> None:
        nonlocal ordinal, open_ids
        lname = name.rsplit("}", 1)[-1]
        parent = stack[-1] if stack else None
        if parent is not None:
            position = parent[2]
            parent[2] += 1
            cnt = parent[3].get(lname, 0) + 1
            parent[3][lname] = cnt
            cell = [lname, cnt, False, parent[1], None]
        else:
            position = 0
            cell = [lname, 1, False, None, None]
        el_id = None
        props = []
        for k, v in attrs.items():
            kl = k.rsplit("}", 1)[-1]
            if k == "id":
                # only the PLAIN unnamespaced attribute is the node id
                # (nokogiri element['id']; the DOM path's el.get("id")
                # likewise never matches '{uri}id') — expat with
                # namespace_separator='}' delivers namespaced ids as
                # 'uri}id', which must neither become the node id nor
                # a property (DOM parity: _local_name(k) == 'id' is
                # excluded from properties)
                el_id = v
            elif kl != "id":
                props.append({"property_name": kl, "property_value": v})
        entry = [el_id, cell, 0, {}, [], False, None]
        if el_id is not None:
            # register each un-registered ancestor cell with ITS
            # parent so the parent finalizes the [idx] decision at
            # close; stops at the first already-registered ancestor
            prev = entry
            for anc in reversed(stack):
                if prev[5]:
                    break
                anc[4].append(prev[1])
                prev[5] = True
                prev = anc
            entry[6] = [
                document_id,
                path,
                size,
                None,
                el_id,
                lname,
                parent[0] if parent is not None else None,
                position,
                len(texts),  # content start; the content itself at close
                cell,  # rendered to the xpath at document end
                ordinal,
                props,
            ]
            rows.append(entry[6])
            ordinal += 1
            open_ids += 1
        stack.append(entry)

    def on_chars(data: str) -> None:
        if open_ids:
            texts.append(data)

    def on_end(_name: str) -> None:
        nonlocal open_ids
        e = stack.pop()
        for cell in e[4]:
            cell[2] = e[3][cell[0]] > 1
        row = e[6]
        if row is not None:
            row[8] = "".join(texts[row[8]:]).strip()
            open_ids -= 1
            if not open_ids:
                texts.clear()

    parser = expat.ParserCreate(namespace_separator="}")
    parser.buffer_text = True
    parser.StartElementHandler = on_start
    parser.EndElementHandler = on_end
    parser.CharacterDataHandler = on_chars
    try:
        parser.Parse(content, True)
    except expat.ExpatError as exc:
        return [(document_id, path, size, f"parse error: {exc}",
                 None, None, None, None, None, None, None, None)]

    if not rows:
        return [(document_id, path, size, None,
                 None, None, None, None, None, None, None, None)]

    def xpath(cell: list) -> str:
        # walk up to the nearest rendered ancestor (iteratively: a
        # deep document would exceed the recursion limit), then render
        # down, storing each prefix for the cells below it
        chain = []
        while cell is not None and cell[4] is None:
            chain.append(cell)
            cell = cell[3]
        prefix = "" if cell is None else cell[4]
        for c in reversed(chain):
            prefix += f"/{c[0]}[{c[1]}]" if c[2] else f"/{c[0]}"
            c[4] = prefix
        return prefix

    return [
        (r[0], r[1], r[2], r[3], r[4], r[5], r[6], r[7], r[8], xpath(r[9]),
         r[10], r[11])
        for r in rows
    ]


def _parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    cols = [
        "document_id",
        "filename",
        "file_size",
        "parse_error",
        "id",
        "node_type",
        "parent_id",
        "position",
        "content",
        "xpath",
        "ordinal",
        "attributes",
        "file_hash",
    ]
    import hashlib

    for pdf in batches:
        out: list[tuple] = []
        for path, size, content in zip(pdf["path"], pdf["length"], pdf["content"]):
            if path.startswith("file:"):
                from urllib.parse import urlparse

                local = urlparse(path).path  # 'file:///a/b.xml' -> '/a/b.xml'
            else:
                local = path
            b = bytes(content)
            # documents.file_hash (001_create_base_schema.rb:14 —
            # declared by the reference schema; md5 of the raw bytes)
            fh = hashlib.md5(b).hexdigest()
            out.extend(r + (fh,) for r in _parse_one_stream(b, local, int(size)))
        yield pd.DataFrame(out, columns=cols)


def read_xml_corpus(
    spark: SparkSession,
    input_dir: str,
    glob: str = "*.xml",
) -> XmlCorpus:
    """Scan a directory tree of XML files (subdirectories included)
    into the reference's relational model: (documents, nodes,
    properties, errors) DataFrames."""
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(input_dir)
        .select("path", "length", "content")
    )

    parsed = files.mapInPandas(_parse_batches, schema=_PARSE_SCHEMA)
    # The parse feeds three projections — materialize it once.
    # localCheckpoint, not persist: repeated calls in one session
    # (gate + bench both run xml_nodes_roundtrip) would otherwise
    # pin a cached copy per call with no release path; checkpoint
    # blocks are freed when the frames are garbage-collected.
    parsed = parsed.localCheckpoint(eager=True)
    return corpus_from_parsed(parsed)


def corpus_from_parsed(parsed: DataFrame) -> XmlCorpus:
    """Project raw parsed node rows (_PARSE_SCHEMA) into the
    reference's relational model: documents, nodes, properties (with
    JVM-side type inference) and parse errors."""
    documents = (
        parsed.groupBy("document_id")
        .agg(
            F.first("filename").alias("filename"),
            F.first("file_size").alias("file_size"),
            F.first("file_hash").alias("file_hash"),
        )
        .withColumn("parsed_at", F.current_timestamp())
        .select(
            F.col("document_id").alias("id"),
            "filename",
            "file_size",
            "file_hash",
            "parsed_at",
        )
    )

    nodes = (
        parsed.filter(F.col("id").isNotNull())
        .select(
            "id",
            "node_type",
            "document_id",
            "parent_id",
            "position",
            "content",
            "xpath",
            "ordinal",
        )
        .withColumn("created_at", F.current_timestamp())
    )

    properties = (
        parsed.filter(F.col("id").isNotNull() & (F.size("attributes") > 0))
        .select(
            F.col("id").alias("node_id"),
            "ordinal",
            F.explode("attributes").alias("attr"),
        )
        .select(
            "node_id",
            F.col("attr.property_name").alias("property_name"),
            F.col("attr.property_value").alias("property_value"),
            "ordinal",
        )
        .withColumn("data_type", infer_type(F.col("property_value")))
    )

    errors = parsed.filter(F.col("parse_error").isNotNull()).select(
        "document_id", "filename", "parse_error"
    )

    return XmlCorpus(documents=documents, nodes=nodes, properties=properties, errors=errors)


def dedupe_last_writer(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """INSERT OR REPLACE semantics (lib/database_writer.rb:44-56):
    duplicate primary keys keep exactly one row. The reference's
    winner is arrival order (nondeterministic under its async
    producers); we make it deterministic: max(order_col) wins."""
    from pyspark.sql import Window as W

    w = W.partitionBy(*key_cols).orderBy(F.desc(order_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _local_name(tag: str) -> str:
    # ElementTree namespaces tags as '{uri}local'; the reference
    # (nokogiri element.name) reports the local name.
    return tag.rsplit("}", 1)[-1] if tag.startswith("{") else tag


def _parse_one(content: bytes, path: str, size: int) -> list[tuple]:
    """DOM (ElementTree) walk giving the same rows as
    ``_parse_one_stream``. No product path calls it: it is the
    reference the parity tests compare the expat parser against, and
    it is quadratic in the number of sibling elements."""
    import xml.etree.ElementTree as ET

    document_id = os.path.splitext(os.path.basename(path))[0]
    rows: list[tuple] = []
    try:
        root = ET.fromstring(content)
    except ET.ParseError as exc:
        return [(document_id, path, size, f"parse error: {exc}",
                 None, None, None, None, None, None, None, None)]

    # Preorder walk (document order), as ``ordinal`` requires.
    stack = [(root, None, None)]  # (element, parent_element, xpath)
    ordinal = 0

    def xpath_for(el, parent, parent_path) -> str:
        name = _local_name(el.tag)
        if parent is None:
            return f"/{name}"
        siblings = [c for c in parent if isinstance(c.tag, str)]
        same_named = [c for c in siblings if _local_name(c.tag) == name]
        if len(same_named) > 1:
            idx = next(i for i, c in enumerate(same_named, 1) if c is el)
            return f"{parent_path}/{name}[{idx}]"
        return f"{parent_path}/{name}"

    while stack:
        el, parent, parent_path = stack.pop()
        if not isinstance(el.tag, str):  # comments / PIs
            continue
        my_path = xpath_for(el, parent, parent_path)

        el_id = el.get("id")
        if el_id is not None:
            if parent is not None:
                siblings = [c for c in parent if isinstance(c.tag, str)]
                position = next(i for i, c in enumerate(siblings) if c is el)
                parent_id = parent.get("id")
            else:
                position = 0
                parent_id = None
            content_text = "".join(el.itertext()).strip()
            attrs = [
                {"property_name": _local_name(k), "property_value": v}
                for k, v in el.attrib.items()
                if _local_name(k) != "id"
            ]
            rows.append(
                (
                    document_id,
                    path,
                    size,
                    None,
                    el_id,
                    _local_name(el.tag),
                    parent_id,
                    position,
                    content_text,
                    my_path,
                    ordinal,
                    attrs,
                )
            )
            ordinal += 1
        # push children reversed so the stack pops them in document order
        for child in reversed(list(el)):
            stack.append((child, el, my_path))

    if not rows:
        # Document with no id-bearing nodes still gets a documents row.
        rows.append((document_id, path, size, None,
                     None, None, None, None, None, None, None, None))
    return rows
