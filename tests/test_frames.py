"""kgforge.frames.local_frame: driver rows become Arrow local relations.

Three gates:
  * round trip -- for every schema the package builds driver-side frames
    under, local_frame gives the same schema and rows as the plain
    ``createDataFrame(list, schema)`` it replaced;
  * plan -- the hot driver-side frames plan as ``LocalTableScan``, with no
    ``Scan ExistingRDD`` (a Python-worker unpickling scan) from driver rows;
  * one pattern -- no ``createDataFrame(`` call is left in ``kgforge/``
    outside frames.py and the frozen queries.py.
"""

import ast
import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from kgforge.checkpoint import CHECKPOINT_SCHEMA
from kgforge.corpus import entity_dict_rows
from kgforge.frames import local_frame
from kgforge.operators.extract import PARSED_SCHEMA
from kgforge.operators.multimodal import ASSET_SCHEMA, FEATURES_SCHEMA
from kgforge.plans import physical_plan

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "kgforge")


def _pr_schema(id_type):
    return StructType(
        [StructField("node", id_type, True), StructField("rank", DoubleType(), True)]
    )


CASES = {
    "entity_dict": (entity_dict_rows(), "surface string, entity_id string, prior double, etype string"),
    "checkpoint_stats": (
        [(0, 10, 9, 2**62), (3, 0, 0, -5), (4, None, None, None)],
        "kg_pid int, n_in long, n_out long, sha_fingerprint long",
    ),
    "stage_metrics": (
        [("r1", "pipeline", "n_source", 3.0), ("r1", "pipeline", "stage1_wall_s", None)],
        "run_id string, stage string, metric string, value double",
    ),
    "checkpoint_empty": ([], CHECKPOINT_SCHEMA),
    "checkpoint_row": ([("parsed", 1, "done", "a1", 5, 4, 100, 7, 1.5)], CHECKPOINT_SCHEMA),
    "parsed_empty": ([], PARSED_SCHEMA + ", kg_pid int, kg_attempt string"),
    "components_empty_long": ([], "id bigint, component bigint"),
    "components_empty_string": ([], "id string, component string"),
    "no_etype": ([("~",)], "etype_key string"),
    "pagerank_long": ([(1, 0.25), (7, 0.75)], _pr_schema(LongType())),
    "pagerank_string": ([("a", 0.5), ("b", None)], _pr_schema(StringType())),
    "assets": (
        [
            (0, "image", bytearray(b"\x00\xffab"), {"codec": "image/fake", "w": "64"}),
            (1, "audio", b"", {}),
            (2, "video", None, None),
        ],
        ASSET_SCHEMA,
    ),
    "features": (
        [(0, "image", 4, [0.1, 2.5, None]), (1, "audio", 0, []), (2, "video", None, None)],
        FEATURES_SCHEMA,
    ),
    "dsir_ratio": ([(3, -0.5), (9, 1.25)], "b long, lr double"),
    "bpe_merges": ([(0, "t", "h"), (1, "th", "e</w>")], "rank int, left string, right string"),
    "dedup_evecs_empty": ([], "doc_id long, scale double, qvec array<int>"),
    "dedup_assign": ([(1, 1, True), (2, 1, False)], "doc_id long, cluster_id long, is_canonical boolean"),
    "substring_empty": ([], "doc_id long, text string, n_stripped long"),
    "substring_keepers_empty": ([], "gh long, doc_id long, s int"),
    "describe_nodes": ([("n1",), ("n2",)], "node string"),
    "path_consts": ([("n1", "n1")], "__s string, __o string"),
    "values": ([("a", None), (None, "b")], "x string, y string"),
    "describe_empty": ([], "subj string, pred string, obj string"),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_round_trip_matches_create_dataframe(spark, case):
    rows, schema = CASES[case]
    old = spark.createDataFrame(rows, schema)
    new = local_frame(spark, rows, schema)
    assert [(f.name, f.dataType) for f in new.schema] == [
        (f.name, f.dataType) for f in old.schema
    ]
    assert new.collect() == old.collect()


def test_rows_may_be_any_iterable(spark):
    df = local_frame(spark, zip(["a", "b"], [1.0, 2.0]), "k string, v double")
    assert [tuple(r) for r in df.collect()] == [("a", 1.0), ("b", 2.0)]


def test_ragged_rows_rejected(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [("a", 1.0), ("b",)], "k string, v double")


def test_arrow_table_cast_to_schema(spark):
    # columns match fields by position, not name, and are cast to the
    # schema's types (large_string -> string, int64 -> int)
    table = pa.table(
        [pa.array(["a", None, "c"], pa.large_string()), pa.array([1, 2, None], pa.int64())],
        names=["x", "y"],
    )
    schema = "k string, v int"
    df = local_frame(spark, table, schema)
    _assert_local(df)
    want = spark.createDataFrame([("a", 1), (None, 2), ("c", None)], schema)
    assert df.schema == want.schema
    assert df.collect() == want.collect()
    with pytest.raises(ValueError):
        local_frame(spark, table, "k string")


# ------------------------------------------------------------------ plan gate
def _assert_local(df):
    plan = physical_plan(df)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_default_entity_dict_is_local_scan(spark):
    from kgforge.pipeline import default_entity_dict

    _assert_local(default_entity_dict(spark))


def test_checkpoint_stats_is_local_scan(spark):
    from kgforge.pipeline import checkpoint_stats

    stats = checkpoint_stats(spark, {0: 3, 2: 5}, {0: [3, 11]})
    _assert_local(stats)
    assert sorted(tuple(r) for r in stats.collect()) == [(0, 3, 3, 11), (2, 5, 0, 0)]


def test_describe_node_frame_is_local_scan(spark):
    from kgforge.sparql.eval import answer_sparql

    # a triple table with no local relation of its own, so the only
    # LocalTableScan in the plan is the DESCRIBE node frame
    g = spark.range(4).select(
        F.concat(F.lit("n"), F.col("id").cast("string")).alias("subj"),
        F.lit("p").alias("pred"),
        F.concat(F.lit("n"), (F.col("id") + 1).cast("string")).alias("obj"),
    )
    df = answer_sparql(g, "DESCRIBE <n1>")
    _assert_local(df)
    assert sorted(tuple(r) for r in df.collect()) == [("n0", "p", "n1"), ("n1", "p", "n2")]


# --------------------------------------------------------- one-pattern guard
def _create_dataframe_calls(pkg_dir):
    """file:line of every ``.createDataFrame(`` call under ``pkg_dir``,
    except in frames.py and the frozen queries.py."""
    for root, _, files in os.walk(pkg_dir):
        for name in files:
            path = os.path.join(root, name)
            rel = os.path.relpath(path, pkg_dir)
            if not name.endswith(".py") or rel in ("frames.py", "queries.py"):
                continue
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), filename=path)
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                ):
                    yield f"{rel}:{node.lineno}"


def test_driver_frames_use_local_frame():
    """Driver rows reach Spark only through local_frame.  A list, list
    comprehension or generator passed straight to createDataFrame plans as
    a Python-worker scan; so does a name bound to one, which static
    inspection cannot tell apart from anything else, so every direct call
    outside frames.py and the frozen queries.py counts."""
    offenders = list(_create_dataframe_calls(PKG))
    assert not offenders, f"build driver-side frames with kgforge.frames.local_frame: {offenders}"


def test_guard_flags_direct_calls(tmp_path):
    (tmp_path / "ops").mkdir()
    (tmp_path / "ops" / "bad.py").write_text(
        "def f(spark, rows):\n"
        "    a = spark.createDataFrame([(1,)], 'a int')\n"
        "    return a, spark.createDataFrame([(r,) for r in rows], 'a int')\n"
    )
    (tmp_path / "frames.py").write_text("def g(s, t):\n    return s.createDataFrame(t)\n")
    (tmp_path / "queries.py").write_text("def h(s):\n    return s.createDataFrame([])\n")
    assert sorted(_create_dataframe_calls(str(tmp_path))) == [
        os.path.join("ops", "bad.py") + ":2",
        os.path.join("ops", "bad.py") + ":3",
    ]
