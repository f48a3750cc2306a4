"""U4 entity linking: broadcast dictionary + scored candidate ranking [B:6].

Scale design (SURVEY.md 4.3.2, J1, W1): the candidate *ranking* runs on the
dictionary side — a few hundred/thousand rows — producing one winning entity
per (surface, expected-entity-type) key.  The 10^12-row fact side then takes
two plain **broadcast equi-joins** (subject surface, object surface) with no
window function and no shuffle over the big table.  A per-occurrence window
(row_number over mention_id) would shuffle the whole fact table; pushing the
argmax into the dim side is the difference between O(dict) and O(corpus)
shuffle bytes at 100 TB.

Scoring: score = prior * ctx, ctx = 1.0 when the predicate's expected entity
type (kgforge.corpus.PRED_ETYPE) matches the candidate's etype, else 0.5;
ties broken by entity_id ascending (deterministic, FIXTURES.md section 3).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kgforge.frames import local_frame

NO_ETYPE = "~"  # join-key sentinel for "predicate selects no entity type"


def corpus_context_priors(exploded: DataFrame) -> DataFrame:
    """(surface, etype, affinity): the share of a surface's corpus
    occurrences sitting in slots whose predicate EXPECTS that entity type —
    co-occurrence evidence for disambiguation (SURVEY.md 4.3.2 context
    scoring, beyond the per-slot predicate-etype match).

    Scale shape: ONE column-pruned aggregation of the fact side whose output
    is bounded by distinct (surface, etype) pairs — dict-sized at any corpus
    scale — then joined into the DIM-side ranking.  No fact-side window, no
    per-mention state: a 10^12-row corpus pays one groupBy keyed on a short
    string pair, identical to the probe-reduction scan."""
    etype_key = F.coalesce(F.col("exp_etype"), F.lit(NO_ETYPE))
    occ = (
        exploded.select(F.col("s_surface").alias("surface"), etype_key.alias("etype"))
        .unionByName(
            exploded.select(F.col("o_surface").alias("surface"), etype_key.alias("etype"))
        )
        .filter(F.col("surface").isNotNull())
        .groupBy("surface", "etype")
        .agg(F.count("*").alias("n"))
    )
    tot = occ.groupBy("surface").agg(F.sum("n").alias("n_tot"))
    return occ.join(tot, "surface").select(
        "surface", "etype", (F.col("n") / F.col("n_tot")).alias("affinity")
    )


def best_entity_per_surface(
    entity_dict: DataFrame, context_priors: DataFrame | None = None
) -> DataFrame:
    """dict(surface, entity_id, prior, etype) -> best(surface, etype_key,
    entity_id, score): the W1 scored ranking, computed once on the dim side.

    With ``context_priors`` (corpus_context_priors output), each candidate's
    score is additionally weighted by (0.5 + affinity of the candidate's OWN
    etype for that surface): in UNTYPED slots — where the per-slot
    predicate-etype factor is 0.5 for every candidate and the raw prior
    alone would decide — corpus-level co-occurrence evidence breaks the tie
    toward the sense the corpus actually uses.  The priors relation is
    dict-sized and joins here on the dim side; the fact-side plan shape is
    unchanged (broadcast joins only, plan-gated)."""
    keys = entity_dict.select(F.col("etype").alias("etype_key")).distinct()
    keys = keys.union(local_frame(keys.sparkSession, [(NO_ETYPE,)], "etype_key string")).distinct()
    scored = entity_dict.crossJoin(keys).withColumn(
        "score",
        F.col("prior")
        * F.when(F.col("etype") == F.col("etype_key"), F.lit(1.0)).otherwise(F.lit(0.5)),
    )
    if context_priors is not None:
        scored = scored.join(context_priors, ["surface", "etype"], "left").withColumn(
            "score",
            F.col("score") * (F.lit(0.5) + F.coalesce("affinity", F.lit(0.0))),
        )
    scored = (
        scored
        # dim-side data: collapse to a handful of partitions so the window
        # below doesn't fan a few thousand rows across 2*cores reduce tasks
        # (task-launch overhead dwarfed the work; measured 4.7s -> sub-second)
        .repartition(2, "surface")
    )
    w = Window.partitionBy("surface", "etype_key").orderBy(
        F.desc("score"), F.asc("entity_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("surface", "etype_key", "entity_id", "score")
    )


def link_terms(
    exploded: DataFrame,
    entity_dict: DataFrame,
    reduce_probe: bool = False,
    context_priors: DataFrame | None = None,
) -> DataFrame:
    """Input: one row per TP with columns s_r/p_r/o_r, s_surface/o_surface,
    exp_etype.  Output: adds subj/obj = linked entity id or original
    rendering (unlinked terms keep their rendering, SURVEY.md U4).

    The ranked dictionary is materialized ONCE via ``localCheckpoint`` (eager,
    executor-side) so the subject and object joins broadcast the same small
    relation instead of re-running the crossJoin+window lineage twice.  Unlike
    a driver collect/createDataFrame round-trip, this keeps the dictionary
    distributed: at a real DBpedia dict (~10^7 surfaces) driver memory and
    re-serialization would otherwise become the bottleneck (VERDICT round 1).

    ``reduce_probe=True`` (SURVEY.md 4.3.2, VERDICT r2 item 7) inserts a
    SEMI-JOIN REDUCTION for dictionaries too large to broadcast whole: the
    fact side's DISTINCT (surface, etype_key) pairs — bounded by the distinct
    TP count, tiny relative to the corpus because query texts repeat — probe
    the full dictionary once in a shuffle join, and only the dictionary
    entries that actually occur are broadcast back to the 10^12-row side.
    Broadcast volume becomes O(observed surfaces), not O(dict).  The cost is
    one extra column-pruned scan of the fact side; leave it off when the
    whole ranked dict fits the broadcast threshold.  Output is identical
    either way (the reduction only drops dict rows no fact row can match;
    equivalence pytest-gated).

    ``context_priors`` (corpus_context_priors output, or None) adds
    corpus-level co-occurrence weighting to the dim-side ranking — see
    best_entity_per_surface."""
    best = best_entity_per_surface(entity_dict, context_priors).localCheckpoint(
        eager=True
    )
    etype_key = F.coalesce(F.col("exp_etype"), F.lit(NO_ETYPE))

    if reduce_probe:
        probes = (
            exploded.select(
                F.col("s_surface").alias("surface"), etype_key.alias("etype_key")
            )
            .unionByName(
                exploded.select(
                    F.col("o_surface").alias("surface"), etype_key.alias("etype_key")
                )
            )
            .filter(F.col("surface").isNotNull())
            .distinct()
        )
        best = probes.join(best, ["surface", "etype_key"], "inner").localCheckpoint(
            eager=True
        )

    s_best = best.select(
        F.col("surface").alias("s_surface_k"),
        F.col("etype_key").alias("s_etype_k"),
        F.col("entity_id").alias("s_entity"),
    )
    o_best = best.select(
        F.col("surface").alias("o_surface_k"),
        F.col("etype_key").alias("o_etype_k"),
        F.col("entity_id").alias("o_entity"),
    )
    out = (
        exploded.join(
            F.broadcast(s_best),
            (F.col("s_surface") == F.col("s_surface_k"))
            & (etype_key == F.col("s_etype_k")),
            "left",
        )
        .join(
            F.broadcast(o_best),
            (F.col("o_surface") == F.col("o_surface_k"))
            & (etype_key == F.col("o_etype_k")),
            "left",
        )
        # vars/bnodes and predicates are never linked; ground s/o fall back
        # to their canonical rendering when the surface is unknown
        .withColumn(
            "subj",
            F.when(F.col("s_kind").isin("iri", "literal"), F.coalesce("s_entity", "s_r"))
            .otherwise(F.col("s_r")),
        )
        .withColumn("pred", F.col("p_r"))
        .withColumn(
            "obj",
            F.when(F.col("o_kind").isin("iri", "literal"), F.coalesce("o_entity", "o_r"))
            .otherwise(F.col("o_r")),
        )
    )
    return out.drop("s_surface_k", "s_etype_k", "o_surface_k", "o_etype_k")


def link_by_embedding(
    mentions: DataFrame,
    entity_dict: DataFrame,
    threshold: float = 0.0,
    id_col: str = "mention_id",
    vec_col: str = "embedding",
    entity_col: str = "entity_id",
) -> DataFrame:
    """Embedding-space entity linking: each mention links to its
    best-cosine entity in a BROADCAST dictionary — the dense-retrieval
    complement to the surface-form linking above (same scale law: the
    dictionary is dim-sized by design; the mention side never shuffles).
    Below ``threshold`` a mention stays unlinked (null entity, NIL in
    entity-linking terms) rather than taking a bad neighbor.

    Round 7 (optimization): the |mentions| x |dict| scoring runs as ONE
    narrow mapInPandas pass over the mention side with the dictionary
    matrix as bounded closure state (the embed_decontaminate discipline)
    — the old broadcast crossJoin materialized every pair ROW and
    evaluated the dot/norm as interpreted higher-order functions per
    pair (9.0 s at the sf1.0 bench vs ~1.5 s for this pass).  Arithmetic
    is replayed EXACTLY: vectors cast to double first, products and the
    accumulation done as one correctly-rounded double multiply + add per
    dimension in index order (a vectorized left fold — no BLAS/FMA
    reassociation), division as dot / (norm_m * norm_e), so the emitted
    cosine doubles are bit-identical to the old plan's.  The dictionary
    is dim-sized by design (docstring above); for larger dictionaries
    use the bucketed paths in operators/similarity.py (ivf_topk /
    lsh_topk) and join the winner back.  Deterministic: ties break on
    entity_id ascending (dict rows sorted; first-argmax wins), NaN
    cosines (zero-norm vectors) rank below every real cosine exactly as
    Spark's min_by over struct(-cos, ent) ordered them.
    """
    import pandas as pd

    id_type = dict(mentions.dtypes)[id_col]
    ent_type = dict(entity_dict.dtypes)[entity_col]
    ev_rows = sorted(
        entity_dict.select(entity_col, vec_col).collect(), key=lambda r: r[0]
    )
    ents = [r[0] for r in ev_rows]
    em = (
        np.array([r[1] for r in ev_rows], dtype=np.float64)
        if ev_rows
        else np.zeros((0, 0))
    )
    n_ent = len(ents)
    ne = np.zeros(n_ent)
    for j in range(em.shape[1] if n_ent else 0):
        ne += em[:, j] * em[:, j]
    ne = np.sqrt(ne)
    ents_arr = np.array(ents, dtype=object)
    thr = float(threshold)

    def gen(batches):
        for pdf in batches:
            if not len(pdf) or n_ent == 0:
                continue
            mv = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            b = len(mv)
            dot = np.zeros((b, n_ent))
            nm = np.zeros(b)
            for j in range(mv.shape[1]):
                dot += mv[:, j : j + 1] * em[None, :, j]
                nm += mv[:, j] * mv[:, j]
            nm = np.sqrt(nm)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dot / np.outer(nm, ne)
            sel = np.where(np.isnan(cos), -np.inf, cos)
            w = sel.argmax(axis=1)
            c = cos[np.arange(b), w]
            # Spark orders NaN above every double: `NaN >= thr` is TRUE
            # there (only reachable via zero-norm vectors)
            linked = (c >= thr) | np.isnan(c)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    entity_col: [
                        ents_arr[wi] if ok else None
                        for wi, ok in zip(w, linked)
                    ],
                    "cosine": c,
                }
            )

    return mentions.select(id_col, vec_col).mapInPandas(
        gen, schema=f"{id_col} {id_type}, {entity_col} {ent_type}, cosine double"
    )
