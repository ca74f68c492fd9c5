"""Property-based XML parser tests (hypothesis): structural
invariants hold for arbitrary generated trees."""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from xml_to_sqlite3_spark.sources.xml_source import _parse_one, _parse_one_stream

TAGS = ("node", "item", "entry", "leaf", "branch")


@st.composite
def xml_tree(draw, depth=0):
    """Random XML tree; some elements carry ids, some don't."""
    tag = draw(st.sampled_from(TAGS))
    node_id = draw(st.one_of(st.none(), st.integers(0, 10**6).map(lambda n: f"n{n}")))
    attrs = draw(
        st.dictionaries(
            st.sampled_from(("kind", "weight", "flag", "when")),
            st.text(alphabet="abcdefgh0123456789._- ", min_size=0, max_size=12),
            max_size=3,
        )
    )
    n_children = 0 if depth >= 3 else draw(st.integers(0, 3))
    children = [draw(xml_tree(depth=depth + 1)) for _ in range(n_children)]
    text = draw(st.text(alphabet="abc xyz", max_size=10))
    id_attr = f' id="{node_id}"' if node_id else ""
    attr_str = "".join(
        f' {k}="{v.replace("&", "&amp;").replace(chr(34), "&quot;").replace("<", "&lt;")}"'
        for k, v in attrs.items()
    )
    return f"<{tag}{id_attr}{attr_str}>{text}{''.join(children)}</{tag}>"


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(xml_tree())
def test_parser_invariants(xml):
    rows = _parse_one_stream(xml.encode(), "/tmp/prop.xml", len(xml))
    assert rows, "every parse emits at least a documents row"
    node_rows = [r for r in rows if r[4] is not None]
    errors = [r for r in rows if r[3] is not None]
    assert not errors, f"generated XML must parse: {errors}"

    ids_in_doc = xml.count('id="')
    assert len(node_rows) == ids_in_doc, "exactly the id-bearing elements extracted"

    seen_ids = [r[4] for r in node_rows]
    ordinals = [r[10] for r in node_rows]
    assert ordinals == sorted(ordinals), "preorder ordinals are monotonically increasing"
    assert len(set(ordinals)) == len(ordinals)

    for r in node_rows:
        _, _, _, _, el_id, node_type, parent_id, position, content, xpath, _, attrs = r
        assert node_type in TAGS
        assert position >= 0
        assert xpath.startswith("/")
        assert xpath.split("/")[-1].split("[")[0] in TAGS
        # parent_id, when set, is another extracted node's id
        if parent_id is not None:
            assert parent_id in seen_ids
        # the id attribute never leaks into properties
        assert all(a["property_name"] != "id" for a in attrs)


@settings(max_examples=30, deadline=None)
@given(st.text(alphabet="abcdef<>&\"' \n0123456789", max_size=60))
def test_parser_never_crashes_on_garbage(garbage):
    rows = _parse_one_stream(garbage.encode(), "/tmp/garbage.xml", len(garbage))
    assert rows, "always at least one row (node or error)"
    # either a parse error or a well-formed result — never an exception
    assert all(len(r) == 12 for r in rows)


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(xml_tree())
def test_streaming_parser_parity(xml):
    """The expat parser (the production path) is row-for-row
    identical to the reference DOM walk on arbitrary trees."""
    data = xml.encode()
    assert _parse_one_stream(data, "/tmp/prop.xml", len(data)) == _parse_one(
        data, "/tmp/prop.xml", len(data)
    )


@settings(max_examples=30, deadline=None)
@given(st.text(alphabet="abcdef<>&\"' \n0123456789", max_size=60))
def test_streaming_parser_garbage_parity(garbage):
    data = garbage.encode()
    a = _parse_one(data, "/tmp/garbage.xml", len(data))
    b = _parse_one_stream(data, "/tmp/garbage.xml", len(data))
    # same shape; error text may differ only in formatting
    assert len(b) == len(a)
    assert [(r[3] is None) for r in a] == [(r[3] is None) for r in b]
    if a and a[0][3] is None:
        assert a == b
