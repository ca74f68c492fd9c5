"""SQLite compatibility sink.

Produces a database with the reference's exact schema
(db/migrate/001_create_base_schema.rb, 002_enhance_relationships.rb)
including the schema_migrations versioning table, so a user of the
reference can point their existing SQL at our output unchanged.

SQLite is inherently a single-writer file — the reference serializes
all writes through one fiber too (lib/database_writer.rb). Each table
reaches the driver in ONE Spark job as Arrow record batches and is
batch-inserted from there.

Memory contract: the driver holds one table's Arrow result at a time
(documents, then nodes, then node_properties, then cross_references).
``spark.driver.maxResultSize`` caps that result, so a table too large
for the driver fails loudly with a maxResultSize error rather than an
out-of-memory kill. This is the single-file COMPAT sink for modest
outputs; the scale sink is parquet_sink.
"""

from __future__ import annotations

import sqlite3
from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources.xml_source import XmlCorpus, dedupe_last_writer

# Mirrors db/migrate/001_create_base_schema.rb:1-60
_MIGRATION_1 = """
CREATE TABLE IF NOT EXISTS schema_migrations (
  version INTEGER PRIMARY KEY,
  applied_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP
);
CREATE TABLE IF NOT EXISTS documents (
  id TEXT PRIMARY KEY,
  filename TEXT UNIQUE,
  file_hash TEXT,
  file_size INTEGER,
  parsed_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP
);
CREATE TABLE IF NOT EXISTS nodes (
  id TEXT PRIMARY KEY,
  node_type TEXT NOT NULL,
  document_id TEXT REFERENCES documents(id),
  parent_id TEXT REFERENCES nodes(id),
  position INTEGER NOT NULL DEFAULT 0,
  content TEXT,
  xpath TEXT,
  created_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP
);
CREATE TABLE IF NOT EXISTS node_properties (
  node_id TEXT REFERENCES nodes(id) ON DELETE CASCADE,
  property_name TEXT,
  property_value TEXT,
  data_type TEXT DEFAULT 'string',
  PRIMARY KEY (node_id, property_name)
);
CREATE TABLE IF NOT EXISTS cross_references (
  id INTEGER PRIMARY KEY,
  source_node_id TEXT REFERENCES nodes(id),
  target_node_id TEXT,
  reference_type TEXT,
  attribute_name TEXT,
  confidence REAL DEFAULT 1.0,
  source_file TEXT
);
CREATE INDEX IF NOT EXISTS idx_nodes_parent_position ON nodes(parent_id, position);
CREATE INDEX IF NOT EXISTS idx_nodes_type ON nodes(node_type);
CREATE INDEX IF NOT EXISTS idx_properties_name ON node_properties(property_name);
CREATE INDEX IF NOT EXISTS idx_xrefs_source ON cross_references(source_node_id);
CREATE INDEX IF NOT EXISTS idx_xrefs_target ON cross_references(target_node_id);
"""

# Mirrors db/migrate/002_enhance_relationships.rb
_MIGRATION_2 = """
CREATE INDEX IF NOT EXISTS idx_xrefs_type ON cross_references(reference_type);
CREATE INDEX IF NOT EXISTS idx_xrefs_confidence ON cross_references(confidence);
CREATE INDEX IF NOT EXISTS idx_xrefs_attribute ON cross_references(attribute_name);
CREATE INDEX IF NOT EXISTS idx_xrefs_source_type ON cross_references(source_node_id, reference_type);
CREATE INDEX IF NOT EXISTS idx_xrefs_target_type ON cross_references(target_node_id, reference_type);
"""

_MIGRATIONS = (_MIGRATION_1, _MIGRATION_2)


def migrate(con: sqlite3.Connection) -> None:
    """Versioned migration runner (lib/schema/manager.rb parity)."""
    # pre-create with the FULL reference shape — a version-only
    # pre-create would make _MIGRATION_1's richer CREATE TABLE IF NOT
    # EXISTS a permanent no-op and lose the applied_at column
    con.execute(
        "CREATE TABLE IF NOT EXISTS schema_migrations ("
        "version INTEGER PRIMARY KEY, "
        "applied_at TIMESTAMP DEFAULT CURRENT_TIMESTAMP)"
    )
    row = con.execute("SELECT MAX(version) FROM schema_migrations").fetchone()
    current = row[0] or 0
    for version, ddl in enumerate(_MIGRATIONS, start=1):
        if version <= current:
            continue
        con.executescript(ddl)
        con.execute("INSERT INTO schema_migrations (version) VALUES (?)", (version,))
    con.commit()


def _insert_stream(
    con: sqlite3.Connection,
    sql: str,
    rows: Iterable[tuple],
    batch_size: int = 1000,
) -> int:
    """Batched INSERT OR REPLACE with periodic commits — the
    reference's writer cadence (lib/database_writer.rb:20-35)."""
    n = 0
    batch: list[tuple] = []
    for row in rows:
        batch.append(row)
        if len(batch) >= batch_size:
            con.executemany(sql, batch)
            con.commit()
            n += len(batch)
            batch = []
    if batch:
        con.executemany(sql, batch)
        con.commit()
        n += len(batch)
    return n


def _arrow_rows(df: DataFrame) -> Iterator[tuple]:
    """The frame's rows as tuples, in partition order, from ONE Spark
    job: ``toArrow`` runs a single job over every partition and orders
    the record batches by partition index (``toLocalIterator`` runs one
    job per partition, a fixed cost that dominated small conversions).
    The driver holds the whole Arrow result while the rows are
    consumed, capped by ``spark.driver.maxResultSize``."""
    for batch in df.toArrow().to_batches():
        yield from zip(*(col.to_pylist() for col in batch.columns))


def write_corpus_sqlite(
    corpus: XmlCorpus,
    db_path: str,
    cross_references: DataFrame | None = None,
    batch_size: int = 1000,
    optimize: bool = True,
) -> dict[str, int]:
    """Write the corpus (and optionally detected relationships) to a
    reference-schema SQLite database. Returns per-table row counts.

    Each table reaches the driver in one Spark job; see the module
    docstring for the memory contract."""
    con = sqlite3.connect(db_path)
    con.execute("PRAGMA journal_mode = WAL")
    con.execute("PRAGMA foreign_keys = OFF")
    migrate(con)

    counts: dict[str, int] = {}

    # documents are already unique by construction (corpus_from_parsed
    # groups by document_id) — no dedupe window needed here. One row
    # per input file, so the list also serves the xref delete below.
    docs = list(_arrow_rows(corpus.documents.select("id", "filename", "file_size", "file_hash")))
    counts["documents"] = _insert_stream(
        con,
        "INSERT OR REPLACE INTO documents (id, filename, file_size, file_hash)"
        " VALUES (?, ?, ?, ?)",
        docs,
        batch_size,
    )

    # Resolve duplicate primary keys by parse ordinal BEFORE
    # streaming: with raw INSERT OR REPLACE the winner would be
    # whichever row arrives last, which depends on partitioning —
    # and inconsistent with parquet_sink's documented deterministic
    # last-writer-wins.
    nodes = dedupe_last_writer(corpus.nodes, ["id"], "ordinal")
    counts["nodes"] = _insert_stream(
        con,
        "INSERT OR REPLACE INTO nodes (id, node_type, document_id, parent_id, position,"
        " content, xpath) VALUES (?, ?, ?, ?, ?, ?, ?)",
        _arrow_rows(
            nodes.select(
                "id", "node_type", "document_id", "parent_id", "position", "content", "xpath"
            )
        ),
        batch_size,
    )

    properties = dedupe_last_writer(
        corpus.properties, ["node_id", "property_name"], "ordinal"
    )
    counts["node_properties"] = _insert_stream(
        con,
        "INSERT OR REPLACE INTO node_properties (node_id, property_name, property_value,"
        " data_type) VALUES (?, ?, ?, ?)",
        _arrow_rows(properties.select("node_id", "property_name", "property_value", "data_type")),
        batch_size,
    )

    if cross_references is not None:
        # cross_references has a synthetic autoincrement PK, so
        # INSERT OR REPLACE can never replace — re-writing the same
        # documents would silently duplicate every xref row. Delete
        # the rows previously written for these source files first;
        # this is also what makes a replayed streaming batch
        # idempotent. Committed on its own so a document that now has
        # no xrefs still loses its old ones.
        _delete_xrefs_on(con, [r[0] for r in docs])
        con.commit()
        source_file = (
            F.col("source_file")
            if "source_file" in cross_references.columns
            else F.lit(None).cast("string").alias("source_file")
        )
        counts["cross_references"] = _insert_stream(
            con,
            "INSERT OR REPLACE INTO cross_references (source_node_id, target_node_id,"
            " reference_type, attribute_name, confidence, source_file)"
            " VALUES (?, ?, ?, ?, ?, ?)",
            _arrow_rows(
                cross_references.select(
                    "source_node_id", "target_node_id", "reference_type", "attribute_name",
                    "confidence", source_file,
                )
            ),
            batch_size,
        )

    if optimize:
        con.execute("PRAGMA foreign_keys = ON")
        con.execute("PRAGMA optimize")
        con.execute("VACUUM")
    con.close()
    return counts


def _delete_xrefs_on(con: sqlite3.Connection, source_files: list) -> None:
    """Chunked DELETE of cross_references rows by source_file on an
    open connection (500 placeholders per statement — one per file
    would exceed SQLite's bound-variable limit on backlog drains)."""
    for i in range(0, len(source_files), 500):
        chunk = source_files[i : i + 500]
        con.execute(
            "DELETE FROM cross_references WHERE source_file IN (%s)" % ",".join("?" * len(chunk)),
            chunk,
        )
