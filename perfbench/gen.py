"""Seeded benchmark inputs and their expected outputs.

Everything here is a pure function of the seed. The seed draws the
content: every word, tag, attribute value and reference target. The
shape is drawn from the fixed ``SHAPE_SEED``: file sizes, element
trees, which elements carry ids, attributes and references, text
lengths, which documents are copies. So every seed asks the program for
the same amount of work, and runs with different seeds differ in what
they read, not in how much. The XML corpus comes with an oracle
computed from the generator's own element tree, never by parsing the
files, so it checks the program's parser, relationship detection and
both sinks independently.
"""

from __future__ import annotations

import hashlib
import os
import random
import re
from collections import Counter
from dataclasses import dataclass, field
from xml.sax.saxutils import escape, quoteattr

WORDS = (
    "alpha beta gamma delta spark query table join index merge batch "
    "stream window filter node graph tree leaf root branch value key "
    "order line part supply nation region R&D <draft> data model"
).split()
TAGS = ("section", "item", "entry", "note", "group", "record")
# heavy-tailed child counts: the sibling join is quadratic in them
FANOUT = (0, 0, 1, 1, 2, 2, 3, 3, 4, 5, 6, 8, 12, 20, 32)
SHAPE_SEED = 20240601


@dataclass
class Element:
    tag: str
    attrs: dict[str, str]
    text: str
    children: list["Element"] = field(default_factory=list)

    @property
    def id(self) -> str | None:
        return self.attrs.get("id")


def _serialize(el: Element) -> str:
    attrs = "".join(f" {k}={quoteattr(v)}" for k, v in el.attrs.items())
    inner = escape(el.text) + "".join(_serialize(c) for c in el.children)
    return f"<{el.tag}{attrs}>{inner}</{el.tag}>"


def _itertext(el: Element) -> str:
    return el.text + "".join(_itertext(c) for c in el.children)


# The reference's data_type rules (document_parser.rb:62-77), written
# as regexes independently of the program's Column expression.
def infer_type(v: str | None) -> str:
    if v is None or v == "":
        return "string"
    if re.fullmatch(r"[0-9]+", v):
        return "integer"
    if re.fullmatch(r"[0-9]+\.[0-9]+", v):
        return "float"
    if v.lower() in ("true", "false"):
        return "boolean"
    if re.match(r"[0-9]{4}-[0-9]{2}-[0-9]{2}", v) or re.match(r"[0-9]{2}:[0-9]{2}:[0-9]{2}", v):
        return "datetime"
    return "string"


_ID = re.compile(r"[a-zA-Z_][a-zA-Z0-9_]*")
_HYPHEN = re.compile(r"[a-zA-Z0-9]+(-[a-zA-Z0-9]+)*")
_PREFIX_ID = re.compile(r"[a-zA-Z]+_[a-zA-Z0-9]+")
_REF_WORDS = ("id", "ref", "reference", "parent", "child", "target", "source", "link")


def _attr_confidence(name: str, value: str) -> float:
    c = 0.8
    if any(w in name.lower() for w in _REF_WORDS):
        c += 0.15
    if _PREFIX_ID.fullmatch(value):
        c += 0.05
    return round(min(1.0, c), 6)


def digest(rows) -> str:
    """Order-insensitive digest of a multiset of tuples."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


@dataclass
class CorpusOracle:
    """What a correct ETL of the corpus must produce."""

    files: int
    input_bytes: int
    tables: dict[str, int]
    xref_types: dict[str, int]
    data_types: dict[str, int]
    node_digest: str
    xref_digest: str


def _random_attrs(shape: random.Random, rng: random.Random) -> dict[str, str]:
    out: dict[str, str] = {}
    for name, make in (
        ("count", lambda: str(rng.randint(0, 999))),
        ("price", lambda: f"{rng.randint(0, 500)}.{rng.randint(0, 99):02d}"),
        ("active", lambda: rng.choice(("true", "false", "TRUE", "False"))),
        ("date", lambda: f"20{rng.randint(10, 29)}-0{rng.randint(1, 9)}-1{rng.randint(0, 9)}"),
        ("time", lambda: f"1{rng.randint(0, 9)}:{rng.randint(10, 59)}:0{rng.randint(0, 9)}"),
        ("label", lambda: rng.choice(WORDS).replace("<", "").replace(">", "")),
        ("code", lambda: f"{rng.choice('abc')}{rng.randint(1, 9)}-{rng.randint(10, 99)}"),
    ):
        if shape.random() < 0.35:
            out[name] = make()
    return out


def _make_doc(shape: random.Random, rng: random.Random, doc: str, budget: int) -> Element:
    counter = [0]

    def make(depth: int) -> Element:
        attrs: dict[str, str] = {}
        # most elements carry an id; id-less ones still shift sibling
        # positions and cut the parent_id chain of their children
        if depth == 0 or shape.random() < 0.85:
            attrs["id"] = f"{doc}_n{counter[0]}"
        counter[0] += 1
        attrs.update(_random_attrs(shape, rng))
        text = " ".join(rng.choice(WORDS) for _ in range(shape.choice((0, 0, 1, 2, 4))))
        el = Element(rng.choice(TAGS) if depth else "corpus", attrs, text)
        if depth < 4 and counter[0] < budget:
            for _ in range(shape.choice(FANOUT) if depth else shape.randint(4, 10)):
                if counter[0] >= budget:
                    break
                el.children.append(make(depth + 1))
        return el

    root = make(0)
    # id-valued attributes: same-document refs resolve, dangling and
    # cross-document ones must not
    elems = []
    stack = [root]
    while stack:
        e = stack.pop()
        elems.append(e)
        stack.extend(e.children)
    ids = [e.id for e in elems if e.id]
    for e in elems:
        r = shape.random()
        if r < 0.25:
            e.attrs["ref"] = rng.choice(ids)
        elif r < 0.30:
            e.attrs["link"] = f"{doc}_missing{rng.randint(0, 99)}"
        elif r < 0.35:
            e.attrs["target"] = f"doc{rng.randint(0, 9999):04d}_n0"
    return root


def make_xml_corpus(seed: int, out_dir: str, n_files: int, nodes_per_file: int,
                    n_malformed: int = 3) -> CorpusOracle:
    """Write ``n_files`` XML files (``n_malformed`` of them truncated)
    under ``out_dir`` and return the oracle for them."""
    shape, rng = random.Random(SHAPE_SEED), random.Random(seed)
    docs: dict[str, Element | None] = {}
    sizes = 0
    malformed = set(shape.sample(range(n_files), min(n_malformed, n_files)))
    for i in range(n_files):
        name = f"doc{i:04d}"
        # a subdirectory exercises the recursive scan
        sub = os.path.join(out_dir, "more") if i % 5 == 4 else out_dir
        os.makedirs(sub, exist_ok=True)
        budget = max(4, int(nodes_per_file * shape.uniform(0.3, 1.7)))
        root = _make_doc(shape, rng, name, budget)
        body = '<?xml version="1.0" encoding="UTF-8"?>' + _serialize(root)
        if i in malformed:
            body = body[: -len("</corpus>")]  # unclosed root: parse error
            docs[name] = None
        else:
            docs[name] = root
        data = body.encode("utf-8")
        sizes += len(data)
        with open(os.path.join(sub, f"{name}.xml"), "wb") as f:
            f.write(data)
    return _oracle(docs, sizes)


def _oracle(docs: dict[str, Element | None], input_bytes: int) -> CorpusOracle:
    nodes, props, xrefs = [], [], []
    for doc, root in docs.items():
        if root is None:
            continue
        doc_nodes = []  # (id, parent_id, position)
        doc_props = []
        stack = [(root, None, 0, f"/{root.tag}")]
        while stack:
            el, parent, pos, path = stack.pop()
            if el.id is not None:
                pid = parent.id if parent is not None else None
                nodes.append((el.id, pid, pos, path, _itertext(el).strip()))
                doc_nodes.append((el.id, pid, pos))
                for k, v in el.attrs.items():
                    if k != "id":
                        doc_props.append((el.id, k, v, infer_type(v)))
            same = Counter(c.tag for c in el.children)
            seen: Counter = Counter()
            kids = []
            for j, c in enumerate(el.children):
                seen[c.tag] += 1
                cpath = f"{path}/{c.tag}" + (f"[{seen[c.tag]}]" if same[c.tag] > 1 else "")
                kids.append((c, el, j, cpath))
            stack.extend(reversed(kids))
        ids = {n[0] for n in doc_nodes}
        groups: dict[str, list[tuple[str, int]]] = {}
        for nid, pid, pos in doc_nodes:
            if pid is not None:
                xrefs.append((pid, nid, "parent_child", None, 1.0))
                xrefs.append((nid, pid, "child_parent", None, 1.0))
                groups.setdefault(pid, []).append((nid, pos))
        for members in groups.values():
            by_pos: dict[int, list[str]] = {}
            for nid, pos in members:
                by_pos.setdefault(pos, []).append(nid)
            for a, pa in members:
                for b, _ in members:
                    if a != b:
                        xrefs.append((a, b, "sibling", None, 1.0))
                for b in by_pos.get(pa + 1, ()):
                    xrefs.append((a, b, "next_sibling", None, 1.0))
                    xrefs.append((b, a, "previous_sibling", None, 1.0))
        props.extend(doc_props)
        for nid, name, value, _ in doc_props:
            if (_ID.fullmatch(value) or _HYPHEN.fullmatch(value)) and value in ids:
                xrefs.append((nid, value, "attribute_reference", name, _attr_confidence(name, value)))
    good = [d for d, r in docs.items() if r is not None]
    return CorpusOracle(
        files=len(docs),
        input_bytes=input_bytes,
        tables={
            "documents": len(docs),
            "nodes": len(nodes),
            "node_properties": len(props),
            "cross_references": len(xrefs),
            "errors": len(docs) - len(good),
        },
        xref_types=dict(Counter(x[2] for x in xrefs)),
        data_types=dict(Counter(p[3] for p in props)),
        node_digest=digest(nodes),
        xref_digest=digest(xrefs),
    )


def make_documents(seed: int, out_dir: str, n_docs: int = 500) -> None:
    """``documents.parquet`` with the columns the curation queries read:
    fresh random texts, exact copies and one-word edits of earlier
    documents (near duplicates), a few degenerate texts the quality
    filter drops, and e-mail addresses and phone numbers for the PII
    audit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shape, rng = random.Random(SHAPE_SEED), random.Random(seed)
    # a vocabulary wide enough that unrelated texts share few shingles
    vocab = [a + b + c for a in ("ka", "lo", "mi", "ne", "su", "ta", "ri", "po", "de", "fa")
             for b in ("n", "r", "s", "l", "") for c in ("a", "e", "i", "o", "um", "en")] + WORDS

    def words(n: int) -> list[str]:
        return rng.choices(vocab, k=n)

    texts: list[str] = []
    for _ in range(n_docs):
        r = shape.random()
        if texts and r < 0.08:
            text = shape.choice(texts)
        elif texts and r < 0.16:
            ws = shape.choice(texts).split()
            ws[shape.randrange(len(ws))] = words(1)[0]
            text = " ".join(ws)
        elif r < 0.19:
            text = " ".join(words(1) * shape.randint(3, 40))
        else:
            text = " ".join(words(shape.randint(5, 60)))
            if shape.random() < 0.1:
                text += f" mail {words(1)[0]}{rng.randint(1, 99)}@example.com"
            if shape.random() < 0.1:
                text += f" call 555-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}"
        texts.append(text)
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([shape.choice(("en", "en", "fr", "es", "de", "zh")) for _ in texts],
                         pa.string()),
        "source": pa.array([f"src{k % 20}" for k in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
