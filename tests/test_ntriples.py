"""N-Triples sink/source (kgforge/sources/ntriples.py): byte-exact
round-trip (incl. a hypothesis sweep over adversarial strings), external
dialect coverage (lang/dtype/bnodes), malformed-line quarantine, and the
no-Python plan gate."""

import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kgforge.sources.ntriples import ntriples_lines, read_ntriples, write_ntriples

TRICKY = [
    "a\\nb",          # literal backslash + n (NOT a newline)
    'say "hi"',
    "line1\nline2",
    "tab\there",
    "cr\rhere",
    "unié中",
    "back\\slash",
    "\\\\double",
    "trailing\\",
]

# embedded NUL is the documented subset boundary: it round-trips to its
# backslash-u-0000 escaped form, never to a corrupted string (see module docstring)
NUL_TEXT = "nul\x00inside"


@pytest.fixture(scope="module")
def nt_dir(spark, tmp_path_factory):
    rows = [(f"e{i}", "has_text", t) for i, t in enumerate(TRICKY)]
    rows += [("e0", "linked_to", "e1"), ("_:b1", "linked_to", "e0")]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    df = df.withColumn(
        "k", F.when(F.col("pred") == "has_text", "literal").otherwise("iri")
    )
    out = str(tmp_path_factory.mktemp("nt")) + "/t"
    write_ntriples(df, out, base_iri="http://kg.local/", obj_kind_col="k")
    return out, rows


def test_roundtrip_exact(spark, nt_dir):
    out, rows = nt_dir
    back = read_ntriples(spark, out, strip_base="http://kg.local/")
    assert back.filter(~F.col("parse_ok")).count() == 0
    got = sorted((r.subj, r.pred, r.obj) for r in back.collect())
    assert got == sorted(rows)
    kinds = {r.pred: r.obj_kind for r in back.collect()}
    assert kinds == {"has_text": "literal", "linked_to": "iri"}


def test_nul_boundary(spark, tmpdir_path):
    df = spark.createDataFrame(
        [("e0", "has_text", NUL_TEXT)], "subj string, pred string, obj string"
    )
    out = os.path.join(tmpdir_path, "nul")
    write_ntriples(df, out, base_iri="http://kg.local/", obj_kind="literal")
    back = read_ntriples(spark, out, strip_base="http://kg.local/").head()
    assert back.parse_ok and back.obj == "nul\\u0000inside"


def test_bnode_subject_preserved(spark, nt_dir):
    out, _ = nt_dir
    back = read_ntriples(spark, out, strip_base="http://kg.local/")
    assert back.filter(F.col("subj") == "_:b1").count() == 1


@settings(max_examples=30, deadline=None)
@given(st.text(min_size=0, max_size=40))
def test_escape_unescape_inverse_hypothesis(spark, text):
    # pure-expression check: evaluate the escape/unescape column pair on a
    # literal (session-scoped fixture, so hypothesis reuse is fine)
    import re

    from kgforge.sources.ntriples import _escape, _unescape

    row = spark.range(1).select(
        _unescape(_escape(F.lit(text))).alias("t"),
        _escape(F.lit(text)).alias("esc"),
    ).head()
    assert row.t == text.replace("\x00", "\\u0000")
    # escaped form is single-line and quote-safe (valid literal body)
    assert "\n" not in row.esc and "\r" not in row.esc
    assert not re.search(r'(?<!\\)"', row.esc.replace("\\\\", ""))


def test_external_dialect(spark, tmpdir_path):
    ext = [
        '<http://x/s> <http://x/p> "hello"@en .',
        '<http://x/s> <http://x/p> "42"^^<http://www.w3.org/2001/XMLSchema#integer> .',
        "_:b1 <http://x/p> _:b2 .",
        "# comment",
        "",
        "garbage line",
        '<http://x/s> <http://x/p> "kept \\u00e9 escape" .',
    ]
    p = os.path.join(tmpdir_path, "ext.nt")
    with open(p, "w") as fh:
        fh.write("\n".join(ext))
    r = read_ntriples(spark, p)
    rows = r.collect()
    assert len(rows) == 5  # comment + blank skipped
    by_obj = {row.obj: row for row in rows if row.parse_ok}
    assert by_obj["hello"].lang == "en" and by_obj["hello"].obj_kind == "literal"
    assert by_obj["42"].dtype.endswith("integer")
    assert by_obj["_:b2"].obj_kind == "bnode"
    # \uXXXX from external files passes through undecoded (documented subset)
    assert "kept \\u00e9 escape" in by_obj
    assert sum(1 for row in rows if not row.parse_ok) == 1


def test_no_python_stage(spark, nt_dir):
    out, _ = nt_dir
    from kgforge.plans.inspect import physical_plan

    for df in (
        read_ntriples(spark, out, strip_base="http://kg.local/"),
        ntriples_lines(
            spark.createDataFrame([("a", "p", "b")], "subj string, pred string, obj string")
        ),
    ):
        plan = physical_plan(df, mode="formatted")
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_shards_readable_by_standard_tools(spark, tmpdir_path):
    # interchange output: the default shards are plain text that open()
    # reads; gzip is the opt-in codec, and gzip.open() reads its shards
    import glob
    import gzip

    rows = [(f"e{i}", "linked_to", f"e{i + 1}") for i in range(20)]
    df = spark.createDataFrame(rows, "subj string, pred string, obj string")
    want = sorted(r.value for r in ntriples_lines(df, base_iri="http://kg.local/").collect())
    for codec, ext, opener in ((None, ".txt", open), ("gzip", ".txt.gz", gzip.open)):
        out = os.path.join(tmpdir_path, f"nt_{codec}")
        kw = {} if codec is None else {"compression": codec}
        write_ntriples(df, out, base_iri="http://kg.local/", **kw)
        shards = glob.glob(os.path.join(out, "part-*"))
        assert shards and all(s.endswith(ext) for s in shards), shards
        got = []
        for s in shards:
            with opener(s, "rt", encoding="utf-8") as fh:
                got += fh.read().splitlines()
        assert sorted(got) == want
        back = read_ntriples(spark, out, strip_base="http://kg.local/")
        assert sorted((r.subj, r.pred, r.obj) for r in back.collect()) == sorted(rows)
