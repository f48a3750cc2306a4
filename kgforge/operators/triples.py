"""U5 emit + A1 hash-aggregation + J9 salted skew handling.

``explode_tps`` and the aggregations are pure JVM operators (whole-stage
codegen); Python is never re-entered after the fused parse stage.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Hot predicates whose key groups dwarf the others at DBpedia-like skew
# ([B:6]; FIXTURES.md plants a 5% flood of them).
HOT_PREDICATES = (
    "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>",
    "<http://dbpedia.org/ontology/wikiPageWikiLink>",
)


def explode_tps(parsed: DataFrame) -> DataFrame:
    """One row per triple pattern, JVM-side explode (SURVEY.md U5)."""
    keep = ["repo", "path", "commit", "content_sha256", "kind", "bgp_hash"]
    return (
        parsed.filter(F.col("parse_ok"))
        .select(*keep, F.posexplode("tps").alias("tp_pos", "tp"))
        .select(*keep, "tp_pos", "tp.*")
    )


def fixture_triples(linked: DataFrame) -> DataFrame:
    """BGP-fixture emission mode: every TP (canonical var names), the rowset
    the P/R>=0.95 gate scores [B:2] (SURVEY.md U5)."""
    return linked.select("subj", "pred", "obj", "content_sha256").distinct()


def graph_triples(linked: DataFrame, lineage_cap: int = 20) -> DataFrame:
    """Graph emission mode: fully-ground TPs only, hash-aggregated with
    bounded lineage pooling (A1/A7; collect_set capped via slice to bound
    aggregation state, SURVEY.md 4.3.4)."""
    ground = linked.filter(
        F.col("s_kind").isin("iri", "literal")
        & (F.col("p_kind") == "iri")
        & F.col("o_kind").isin("iri", "literal")
    )
    return (
        ground.groupBy("subj", "pred", "obj")
        .agg(
            F.count("*").alias("src_count"),
            F.slice(
                F.array_sort(
                    F.collect_set(F.struct("repo", "path", "commit", "content_sha256"))
                ),
                1,
                lineage_cap,
            ).alias("lineage"),
        )
    )


def salted_count(df: DataFrame, keys: Sequence[str], n_salts: int = 32) -> DataFrame:
    """J9 two-phase aggregation: partial count over (keys, salt) defuses
    hot-key skew before the final combine.  The salt is derived from the
    row's non-key content so hot groups split evenly across tasks."""
    non_key = [c for c in df.columns if c not in keys]
    salt = F.pmod(F.xxhash64(*non_key) if non_key else F.xxhash64(*keys), F.lit(n_salts))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(F.count("*").alias("_partial"))
    )
    return partial.groupBy(*keys).agg(F.sum("_partial").alias("count"))


def _pred_family() -> F.Column:
    """Partition key: predicate namespace ('other' when unparseable).  One
    derivation shared by the initial write and the incremental merge so
    their partition layouts can never drift.

    regexp_extract returns EMPTY STRING (not null) on no-match, so the
    no-namespace case must go through nullif: a bare coalesce was dead code,
    '' became __HIVE_DEFAULT_PARTITION__ on write and read back as NULL,
    and merge_graph's family filter could then never select those existing
    rows while its dynamic overwrite still replaced the partition —
    silently deleting every prior non-scheme predicate (urn:, mailto:,
    did:) on merge (found by review, reproduced, regression-tested in
    tests/test_graphmerge.py)."""
    fam = F.regexp_extract(F.col("pred"), r"^<([a-z]+://[^/>]+/?[^/>#]*)", 1)
    return F.coalesce(F.nullif(fam, F.lit("")), F.lit("other"))


def _salted_layout(triples: DataFrame, n_buckets: int) -> DataFrame:
    """Shared physical layout for the graph table: repartition by
    (pred_family, salt) so no single output task carries a whole hot
    predicate ([B:6]); sortWithinPartitions gives parquet RLE/dict-friendly
    pages (SURVEY.md O2)."""
    is_hot = F.col("pred").isin(*HOT_PREDICATES)
    salt = F.when(is_hot, F.pmod(F.xxhash64("subj"), F.lit(n_buckets))).otherwise(F.lit(0))
    return (
        triples.withColumn("_salt", salt)
        .repartition(F.col("pred_family"), F.col("_salt"))
        .sortWithinPartitions("pred", "subj")
        .drop("_salt")
    )


def write_graph(triples: DataFrame, path: str, n_buckets: int = 64) -> None:
    """Materialize the graph table partitioned by predicate family."""
    (
        _salted_layout(triples.withColumn("pred_family", _pred_family()), n_buckets)
        .write.mode("overwrite")
        .partitionBy("pred_family")
        .parquet(path)
    )


def merge_graph(
    spark,
    new_batch: DataFrame,
    path: str,
    lineage_cap: int = 20,
    n_buckets: int = 64,
) -> None:
    """Incremental MERGE of a ``graph_triples`` batch into an existing graph
    table — the upsert path an always-growing 100 TB graph needs instead of
    full rewrites.  Only the pred_family partitions PRESENT IN THE BATCH are
    read (partition-pruned scan) and rewritten (dynamic partition
    overwrite); a batch touching 3 of 500 predicate namespaces reads and
    writes 3.  Matching (subj, pred, obj) rows merge by summing src_count
    and unioning lineage (dedup + re-cap); new triples insert.

    The read-merge-overwrite of a partition is NOT transactional on a plain
    parquet directory: a crash mid-overwrite can leave a touched family
    partial, and re-running a SUCCEEDED merge double-counts src_count.  This
    is exactly the seam where the Iceberg backend's MERGE INTO / atomic
    overwritePartitions commit goes (kgforge/catalog.py); the parquet
    backend documents the weaker contract rather than hiding it."""
    import os

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_graph(new_batch, path, n_buckets)
        return
    new_t = new_batch.withColumn("pred_family", _pred_family())
    # touched namespaces: dict-sized (bounded by distinct predicate
    # namespaces, not data volume) — a legitimate driver-side list
    fams = [r.pred_family for r in new_t.select("pred_family").distinct().collect()]
    existing = spark.read.parquet(path).filter(F.col("pred_family").isin(fams))
    merged = (
        existing.unionByName(new_t)
        .groupBy("pred_family", "subj", "pred", "obj")
        .agg(
            F.sum("src_count").alias("src_count"),
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("lineage")))),
                1,
                lineage_cap,
            ).alias("lineage"),
        )
        .select("subj", "pred", "obj", "src_count", "lineage", "pred_family")
    )
    (
        _salted_layout(merged, n_buckets)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pred_family")
        .parquet(path)
    )
