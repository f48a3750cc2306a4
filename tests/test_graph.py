"""Graph analytics (round 6): VoID-style dataset statistics and PageRank.
PageRank is checked against an independent numpy power iteration (same
update rule, re-implemented from the docstring spec, no engine code), plus
mass conservation, dangling handling, determinism under partitioning, and
a no-Python-in-plan gate."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from kgforge.operators import graph
from kgforge.plans import physical_plan


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def ref_pagerank(pairs, iters=5, d=0.85):
    edges = set(pairs)
    nodes = sorted({u for e in edges for u in e})
    deg = Counter(u for u, _ in edges)
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dm = sum(r[v] for v in nodes if deg[v] == 0)
        contrib = {v: 0.0 for v in nodes}
        for (u, v) in edges:
            contrib[v] += r[u] / deg[u]
        r = {v: (1 - d) / n + d * (contrib[v] + dm / n) for v in nodes}
    return r


PAIRS = [
    (1, 2), (1, 3), (2, 3), (3, 1), (4, 3),
    (1, 2),          # duplicate edge -> must count once
    (5, 1),          # 6 is reachable-from-nowhere dangling sink below
    (2, 6),          # 6 has no out-edges: dangling node
]


def test_pagerank_matches_independent_reference(spark):
    got = {r.node: r.rank for r in graph.pagerank(_edges(spark, PAIRS), iters=5).collect()}
    want = ref_pagerank(PAIRS, iters=5)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_pagerank_mass_conserved(spark):
    total = (
        graph.pagerank(_edges(spark, PAIRS), iters=7)
        .agg(F.sum("rank"))
        .head()[0]
    )
    assert total == pytest.approx(1.0, abs=1e-9)


def test_pagerank_partitioning_invariant(spark):
    e = _edges(spark, PAIRS)
    a = {r.node: r.rank for r in graph.pagerank(e.repartition(7), iters=4).collect()}
    b = {r.node: r.rank for r in graph.pagerank(e.coalesce(1), iters=4).collect()}
    for v in a:
        assert a[v] == pytest.approx(b[v], abs=1e-12)


def test_pagerank_no_python_in_plan(spark):
    plan = physical_plan(graph.pagerank(_edges(spark, PAIRS), iters=3))
    assert "EvalPython" not in plan  # pure JVM: no row-Python, no Arrow UDF


def test_pagerank_checkpoint_path_same_result(spark, monkeypatch):
    # cap 0 forces the distributed loop, so the rank checkpoints do run
    monkeypatch.setattr(graph, "_LOCAL_MAX_EDGES", 0)
    e = _edges(spark, PAIRS)
    a = {r.node: r.rank for r in graph.pagerank(e, iters=6, checkpoint_every=2).collect()}
    b = ref_pagerank(PAIRS, iters=6)
    assert set(a) == set(b)
    for v in b:
        assert a[v] == pytest.approx(b[v], abs=1e-12)


def test_pagerank_distributed_path_matches_local(spark, monkeypatch):
    # round 7: measured-tiny graphs iterate on the driver (NumPy kernel);
    # force the distributed loop by zeroing the cap and assert both paths
    # agree to double-rounding tolerance on a graph with duplicates,
    # a cycle and a dangling node
    local = {r.node: r.rank for r in graph.pagerank(_edges(spark, PAIRS), iters=5).collect()}
    monkeypatch.setattr(graph, "_LOCAL_MAX_EDGES", 0)
    dist = {r.node: r.rank for r in graph.pagerank(_edges(spark, PAIRS), iters=5).collect()}
    assert set(local) == set(dist)
    for v in local:
        assert local[v] == pytest.approx(dist[v], abs=1e-12)


@pytest.mark.parametrize("id_type, conv", [("bigint", int), ("string", str)])
def test_pagerank_cap_boundary(spark, monkeypatch, id_type, conv):
    # the cap counts DISTINCT edges (PAIRS repeats (1, 2)): cap = n_edges
    # iterates on the driver, cap = n_edges - 1 runs the distributed loop;
    # same ranks either way, under the input's id type
    pairs = [(conv(a), conv(b)) for a, b in PAIRS]
    e = spark.createDataFrame(pairs, f"src {id_type}, dst {id_type}")
    n_edges = len(set(pairs))
    assert n_edges < len(pairs)
    runs = []
    local = graph._pagerank_local
    monkeypatch.setattr(graph, "_pagerank_local", lambda *a: runs.append(1) or local(*a))
    got = {}
    for cap in (n_edges, n_edges - 1):
        monkeypatch.setattr(graph, "_LOCAL_MAX_EDGES", cap)
        runs.clear()
        df = graph.pagerank(e, iters=5)
        assert bool(runs) == (cap == n_edges), cap
        assert df.schema.simpleString() == f"struct<node:{id_type},rank:double>"
        got[cap] = {r.node: r.rank for r in df.collect()}
    want = ref_pagerank(pairs, iters=5)
    assert set(got[n_edges]) == set(got[n_edges - 1]) == set(want)
    for v in want:
        assert got[n_edges][v] == pytest.approx(want[v], abs=1e-12)
        assert got[n_edges - 1][v] == pytest.approx(want[v], abs=1e-12)
    # an empty edge list gives the empty (node, rank) frame
    empty = graph.pagerank(spark.createDataFrame([], f"src {id_type}, dst {id_type}"))
    assert empty.schema == df.schema and empty.collect() == []


# -------------------------------------------------------------------- VoID


def test_void_stats_planted(spark):
    tri = spark.createDataFrame(
        [
            ("a", "type", "T1"),
            ("b", "type", "T1"),
            ("a", "type", "T2"),
            ("a", "knows", "b"),
            ("b", "knows", "a"),
            ("b", "knows", "a"),  # triple multiplicity counts, subj/obj distinct
        ],
        "subj string, pred string, obj string",
    )
    out = {r.pred: (r.n_triples, r.n_subjects, r.n_objects) for r in graph.void_stats(tri).collect()}
    assert out == {"type": (3, 2, 2), "knows": (3, 2, 2)}
    preds = [r.pred for r in graph.void_stats(tri).collect()]
    assert preds == sorted(preds)


# -------------------------------------------------------------- path compose


def test_path_compose_two_hop(spark):
    tri = spark.createDataFrame(
        [
            ("o1", "placed_by", "c1"),
            ("o2", "placed_by", "c1"),
            ("o3", "placed_by", "c2"),
            ("c1", "in_nation", "n1"),
            ("c2", "in_nation", "n2"),
            ("c2", "in_nation", "n3"),  # multi-valued second hop
            ("x", "other", "y"),
        ],
        "subj string, pred string, obj string",
    )
    out = {
        (r.subj, r.obj)
        for r in graph.path_compose(tri, ["placed_by", "in_nation"]).collect()
    }
    assert out == {("o1", "n1"), ("o2", "n1"), ("o3", "n2"), ("o3", "n3")}


def test_path_compose_distinct_pairs_not_path_counts(spark):
    # two parallel routes s -> m1/m2 -> t must yield ONE (s, t) pair
    tri = spark.createDataFrame(
        [
            ("s", "p", "m1"),
            ("s", "p", "m2"),
            ("m1", "q", "t"),
            ("m2", "q", "t"),
        ],
        "subj string, pred string, obj string",
    )
    rows = graph.path_compose(tri, ["p", "q"]).collect()
    assert len(rows) == 1 and rows[0].pred == "p/q"


def test_path_compose_single_pred_is_distinct_projection(spark):
    tri = spark.createDataFrame(
        [("a", "p", "b"), ("a", "p", "b"), ("a", "q", "c")],
        "subj string, pred string, obj string",
    )
    rows = graph.path_compose(tri, ["p"]).collect()
    assert [(r.subj, r.pred, r.obj) for r in rows] == [("a", "p", "b")]


# ------------------------------------------------------------- schema infer


def test_schema_infer_dominant_signature(spark):
    tri = spark.createDataFrame(
        [
            ("a1", "rdf_type", "Person"),
            ("a2", "rdf_type", "Person"),
            ("b1", "rdf_type", "City"),
            ("a1", "lives_in", "b1"),
            ("a2", "lives_in", "b1"),
            ("a1", "lives_in", "x9"),  # untyped object, minority signature
            ("x9", "nears", "b1"),     # untyped subject
        ],
        "subj string, pred string, obj string",
    )
    out = {
        r.pred: (r.subj_class, r.obj_class, r.n_triples)
        for r in graph.schema_infer(tri).collect()
    }
    assert out == {
        "lives_in": ("Person", "City", 2),
        "nears": ("(untyped)", "City", 1),
    }


def test_schema_infer_tie_breaks_deterministically(spark):
    tri = spark.createDataFrame(
        [
            ("s1", "rdf_type", "B"),
            ("s2", "rdf_type", "A"),
            ("s1", "p", "o1"),
            ("s2", "p", "o2"),  # A vs B signatures tie at 1 -> A wins
        ],
        "subj string, pred string, obj string",
    )
    (row,) = graph.schema_infer(tri).collect()
    assert (row.subj_class, row.obj_class) == ("A", "(untyped)")


def test_path_compose_inverse_step(spark):
    # fan-in query: ^placed_by/placed_by = "orders by the same customer"
    tri = spark.createDataFrame(
        [
            ("o1", "placed_by", "c1"),
            ("o2", "placed_by", "c1"),
            ("o3", "placed_by", "c2"),
        ],
        "subj string, pred string, obj string",
    )
    out = {
        (r.subj, r.obj)
        for r in graph.path_compose(tri, ["placed_by", "^placed_by"]).collect()
    }
    assert out == {("o1", "o1"), ("o1", "o2"), ("o2", "o1"), ("o2", "o2"), ("o3", "o3")}
    (row,) = graph.path_compose(tri, ["^placed_by"]).filter("obj = 'o3'").collect()
    assert (row.subj, row.pred) == ("c2", "^placed_by")


# --------------------------------------------------------------- stats CLI


def test_graph_stats_cli(spark, tmpdir_path, capsys):
    import json
    import os
    import sys

    sys.path.insert(
        0,
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"
        ),
    )
    import graph_stats

    tri_p = os.path.join(tmpdir_path, "gs_triples.parquet")
    spark.createDataFrame(
        [
            ("a1", "rdf_type", "Person"),
            ("b1", "rdf_type", "City"),
            ("a1", "lives_in", "b1"),
            ("a2", "lives_in", "b1"),
            ("b1", "near", "b2"),
        ],
        "subj string, pred string, obj string",
    ).write.parquet(tri_p)
    out = os.path.join(tmpdir_path, "gs_out")
    rc = graph_stats.main(
        [
            "--triples", tri_p, "--out", out,
            "--pagerank-pred", "lives_in",
            "--path", "lives_in,near",
            "--negatives", "2",
        ]
    )
    assert rc == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["n_triples"] == 5 and m["n_predicates"] == 3
    assert m["n_schema_rows"] == 2  # lives_in + near (rdf_type excluded)
    assert m["n_ranked"] == 3  # a1, a2, b1
    assert m["n_path_pairs"] == 2  # (a1, b2), (a2, b2)
    negs = spark.read.parquet(os.path.join(out, "negatives")).collect()
    assert m["n_negatives"] == len(negs)
    true_set = {("a1", "rdf_type", "Person"), ("b1", "rdf_type", "City"),
                ("a1", "lives_in", "b1"), ("a2", "lives_in", "b1"),
                ("b1", "near", "b2")}
    assert all((r.subj, r.pred, r.neg_obj) not in true_set and r.neg_obj != r.obj
               for r in negs)
    void = {r.pred for r in spark.read.parquet(os.path.join(out, "void")).collect()}
    assert void == {"rdf_type", "lives_in", "near"}


# --------------------------------------------------------- negative samples


def test_negative_samples_filtered_setting(spark):
    tri = spark.createDataFrame(
        [
            ("s1", "p", "o1"),
            ("s1", "p", "o2"),
            ("s2", "p", "o1"),
        ],
        "subj string, pred string, obj string",
    )
    out = graph.negative_samples(tri, k=3).collect()
    true_set = {("s1", "p", "o1"), ("s1", "p", "o2"), ("s2", "p", "o1")}
    ents = {"s1", "s2", "o1", "o2"}
    for r in out:
        assert r.neg_obj in ents
        assert r.neg_obj != r.obj
        assert (r.subj, r.pred, r.neg_obj) not in true_set  # filtered setting
        assert 1 <= r.neg_i <= 3
    # per-fact cap: at most k negatives each
    from collections import Counter

    per_fact = Counter((r.subj, r.pred, r.obj) for r in out)
    assert all(v <= 3 for v in per_fact.values())


def test_negative_samples_deterministic_and_salt_sensitive(spark):
    tri = spark.createDataFrame(
        [(f"s{i}", "p", f"o{i % 7}") for i in range(60)],
        "subj string, pred string, obj string",
    )
    key = lambda r: (r.subj, r.pred, r.obj, r.neg_i, r.neg_obj)  # noqa: E731
    a = sorted(map(key, graph.negative_samples(tri.repartition(6), k=2).collect()))
    b = sorted(map(key, graph.negative_samples(tri, k=2).collect()))
    assert a == b and len(a) > 0
    c = sorted(map(key, graph.negative_samples(tri, k=2, salt="neg2").collect()))
    assert c != a  # an independent epoch draws differently


def test_void_stats_approx_mergeable_contract(spark):
    import random

    rng = random.Random(3)
    tri = spark.createDataFrame(
        [(f"s{rng.randint(0, 400)}", "p", f"o{rng.randint(0, 300)}") for _ in range(3000)],
        "subj string, pred string, obj string",
    )
    (ap,) = graph.void_stats_approx(tri, rsd=0.02).collect()
    (ex,) = graph.void_stats(tri).collect()
    assert ap.n_triples == ex.n_triples == 3000
    assert abs(ap.n_subjects_approx - ex.n_subjects) <= 0.1 * ex.n_subjects
    assert abs(ap.n_objects_approx - ex.n_objects) <= 0.1 * ex.n_objects
