"""Connected-components + cluster assignment (dedup.connected_components /
dedup.dedup_clusters): transitive closure over near-dup pairs is what turns
pair lists into the keep/drop decision a corpus dedup actually ships."""

import pytest
from pyspark.sql import functions as F

from kgforge.operators import dedup


def _cc(spark, pairs, **kw):
    df = spark.createDataFrame(pairs, "a long, b long")
    return {
        r.id: r.component for r in dedup.connected_components(df, **kw).collect()
    }


def test_known_components(spark):
    # chain 1-2-3, pair 10-11, 20-21-22 via hub 20, and 5, whose only
    # pair is a self-loop: every vertex appearing in pairs gets a row
    comp = _cc(spark, [(1, 2), (2, 3), (10, 11), (20, 21), (20, 22), (5, 5)])
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == comp[21] == comp[22] == 20
    assert comp[5] == 5
    assert len(comp) == 9


def test_direction_and_order_invariance(spark):
    base = [(1, 2), (2, 3), (10, 11)]
    flipped = [(b, a) for a, b in reversed(base)]
    assert _cc(spark, base) == _cc(spark, flipped)


def test_long_chain_converges_in_log_rounds(spark):
    # pointer jumping: a 64-vertex path must close well under 64 rounds;
    # capped at 2 rounds it has not, and stats says so
    chain = [(i, i + 1) for i in range(63)]
    stats: dict = {}
    comp = _cc(spark, chain, stats=stats)
    assert set(comp.values()) == {0}
    assert stats["rounds"] <= 10 and stats["converged"]
    capped: dict = {}
    _cc(spark, chain, max_iter=2, stats=capped)
    assert capped == {"rounds": 2, "converged": False}


def test_clusters_cover_all_docs_and_flag_canonicals(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate([
            "the quick brown fox jumps over the lazy dog again and again today",
            "the quick brown fox jumps over the lazy dog again and again tonight",
            "the quick brown fox jumps over the lazy dog again and again today",
            "completely different content about spark shuffles and parquet files",
            "numerical linear algebra kernels on tensor cores with mixed precision",
        ])],
        "doc_id long, text string",
    )
    out = dedup.dedup_clusters(docs, threshold=0.5).collect()
    rows = {r.doc_id: (r.cluster_id, r.is_canonical) for r in out}
    assert len(rows) == 5  # every doc assigned, singletons included
    # 0,1,2 are near/exact dups -> one cluster rooted at min id 0
    assert rows[0] == (0, True)
    assert rows[1][0] == 0 and not rows[1][1]
    assert rows[2][0] == 0 and not rows[2][1]
    # unrelated docs are their own canonical singletons
    assert rows[3] == (3, True)
    assert rows[4] == (4, True)
    # keep-filter invariant: exactly one canonical per cluster
    per_cluster = {}
    for did, (cid, canon) in rows.items():
        per_cluster.setdefault(cid, 0)
        per_cluster[cid] += int(canon)
    assert all(n == 1 for n in per_cluster.values())


def test_clusters_contain_every_pair_endpoint_together(spark):
    docs = spark.createDataFrame(
        [(i, f"shared prefix tokens repeated words number {i % 3} tail") for i in range(12)],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_lsh_pairs(docs, threshold=0.3)
    clusters = dedup.dedup_clusters(docs, pairs=pairs)
    joined = (
        pairs.join(clusters.select(F.col("doc_id").alias("a"), F.col("cluster_id").alias("ca")), "a")
        .join(clusters.select(F.col("doc_id").alias("b"), F.col("cluster_id").alias("cb")), "b")
    )
    assert joined.filter(F.col("ca") != F.col("cb")).count() == 0


def _union_find_reference(pairs):
    """Straight-line union-find: the independent oracle the Spark CC must
    match on arbitrary graphs."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min member of each set
    comp = {}
    for v in list(parent):
        root = find(v)
        comp.setdefault(root, []).append(v)
    out = {}
    for members in comp.values():
        m = min(members)
        for v in members:
            out[v] = m
    return out


def test_cc_matches_union_find_on_random_graphs(spark):
    import random

    for seed in (7, 23, 99, 1234):
        rng = random.Random(seed)
        n_v = rng.randint(5, 40)
        pairs = [
            (rng.randrange(n_v), rng.randrange(n_v)) for _ in range(rng.randint(1, 60))
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        if not pairs:
            continue
        assert _cc(spark, pairs) == _union_find_reference(pairs), f"seed={seed}"


def test_star_cc_matches_union_find_on_random_graphs(spark):
    """Random star (hub-and-spoke) graphs whose hubs share spokes: a spoke
    must take the min label over every hub it reaches, however many hubs
    sit between it and the component minimum."""
    import random

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        pairs = []
        for _ in range(rng.randint(2, 6)):
            hub = rng.randrange(200)
            pairs += [(hub, rng.randrange(200)) for _ in range(rng.randint(3, 30))]
        pairs = [(a, b) for a, b in pairs if a != b]
        assert _cc(spark, pairs) == _union_find_reference(pairs), f"seed={seed}"


def test_cc_on_path_expander_mix(spark):
    """10k-edge adversarial mix: one 2000-node path (long diameter), one
    ~6000-edge expander over 3000 nodes, plus cross links — pointer
    jumping must match union-find exactly in a logarithmic round count."""
    import random

    rng = random.Random(4242)
    pairs = [(i, i + 1) for i in range(10_000, 12_000)]  # long path
    pairs += [
        (20_000 + rng.randrange(3000), 20_000 + rng.randrange(3000))
        for _ in range(6000)
    ]  # expander-ish random graph
    pairs += [(11_000, 20_000), (10_500, 21_500)]  # bridge path <-> expander
    pairs += [(rng.randrange(500), rng.randrange(500)) for _ in range(2000)]
    pairs = [(a, b) for a, b in pairs if a != b]
    assert len(pairs) >= 9_500  # ~10k edges (random self-loops removed)
    stats: dict = {}
    got = _cc(spark, pairs, max_iter=30, stats=stats)
    assert got == _union_find_reference(pairs)
    assert stats["rounds"] <= 15 and stats["converged"]


def test_cc_closes_long_chain_in_few_rounds(spark):
    """A 200-node chain: plain min-label propagation needs ~diameter (200)
    rounds; pointer jumping must close it in <= 12."""
    chain = [(i, i + 1) for i in range(200)]
    stats: dict = {}
    comp = _cc(spark, chain, max_iter=30, stats=stats)
    assert set(comp.values()) == {0}
    assert stats["rounds"] <= 12 < 200


def test_cc_plan_has_no_cartesian(spark):
    df = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    plan = dedup.connected_components(df, max_iter=1)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_star_cc_plan_has_no_cartesian(spark):
    """Every query the iteration runs, in every round, on a star (hub 0
    with 50 spokes, one spoke extended into a short tail): the per-round
    joins are equi-joins, never a cartesian or a nested-loop join."""
    pairs = [(0, i) for i in range(1, 51)] + [(50, 60), (60, 61)]
    store = spark._jsparkSession.sharedState().statusStore()
    listener_bus = spark.sparkContext._jsc.sc().listenerBus()

    def newest(n):
        # the store drops its oldest executions past its retention cap, so
        # read from the tail and select by execution id, not by offset
        listener_bus.waitUntilEmpty()
        total = store.executionsCount()
        it = store.executionsList(max(0, total - n), n).iterator()
        out = []
        while it.hasNext():
            out.append(it.next())
        return out

    last = max((e.executionId() for e in newest(1)), default=-1)
    stats: dict = {}
    comp = _cc(spark, pairs, stats=stats)
    assert set(comp.values()) == {0} and stats["converged"]
    plans = [e.physicalPlanDescription() for e in newest(200) if e.executionId() > last]
    assert sum("SortMergeJoin" in p or "BroadcastHashJoin" in p for p in plans) >= stats["rounds"]
    for p in plans:
        assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
