"""Incremental ingest: new source files -> parsed BGP rows, exactly-once.

``run_incremental`` is the foreachBatch driver of SURVEY.md 2.10: a parquet
file source discovers new files, each micro-batch runs the SAME fused
extract stage as the batch pipeline, and Spark's streaming checkpoint gives
exactly-once file processing (the batch pipeline's pid-checkpoints are the
coarse-grained equivalent for restarts of the batch job).

In production the file source is replaced by an Iceberg incremental read
(snapshot range) — same foreachBatch body, different reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SOURCE_SCHEMA = "repo string, path string, commit string, lang string, content string"


def run_incremental(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files_per_batch: int = 32,
) -> None:
    """Process all currently-available new files (availableNow trigger), then
    stop.  Rerunning picks up only files not yet seen by the stream
    checkpoint — incremental, restart-safe."""
    from kgforge.operators.extract import extract_parse_df, prefilter, with_content_sha

    stream = (
        spark.readStream.schema(SOURCE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_batch)
        .parquet(source_dir)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        parsed = extract_parse_df(prefilter(with_content_sha(batch_df)))
        # foreachBatch is only at-least-once unless the sink write is
        # idempotent per epoch (ADVICE round 1): write each epoch to its own
        # partition with overwrite, so a retried micro-batch replaces its own
        # half-written output instead of appending it twice.
        parsed.write.mode("overwrite").parquet(f"{out_dir}/parsed/epoch={epoch_id}")

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


class _EpochLedger:
    """Merged-epoch bookkeeping for NON-IDEMPOTENT foreachBatch bodies
    (graph merge, dedup state append): records every applied epoch id and
    skips redelivered ones.

    Epoch ids restart at 0 when the stream checkpoint is recreated, and a
    fresh checkpoint also REDELIVERS every source file — silently skipping
    "already-applied" epoch 0 would drop data, silently re-applying would
    double-count everything (review finding, round 3).  The ledger is bound
    to a stream identity stored beside the checkpoint and fails loudly on
    mismatch: state and checkpoint_dir live and die as a unit on the
    parquet backend (Iceberg closes this by committing data + epoch marker
    in one transaction).  The ledger file is written by atomic rename AFTER
    the state mutation commits; a crash between the two leaves a one-epoch
    double-apply window — the documented transaction seam."""

    def __init__(self, ledger_path: str, checkpoint_dir: str):
        import os
        import uuid

        self.path = ledger_path
        os.makedirs(checkpoint_dir, exist_ok=True)
        sid_path = os.path.join(checkpoint_dir, "kg_stream_id")
        if os.path.exists(sid_path):
            with open(sid_path) as fh:
                self.sid = fh.read().strip()
        else:
            self.sid = uuid.uuid4().hex[:12]
            with open(sid_path, "w") as fh:
                fh.write(self.sid)

    def key(self, epoch_id: int) -> str:
        return f"{self.sid}:{epoch_id}"

    def done(self) -> set:
        try:
            with open(self.path) as fh:
                entries = {line.strip() for line in fh if line.strip()}
        except OSError:
            return set()
        foreign = {e for e in entries if not e.startswith(f"{self.sid}:")}
        if foreign:
            raise RuntimeError(
                "epoch ledger was written under a different stream checkpoint "
                f"({sorted(foreign)[0].split(':')[0]} != {self.sid}): a "
                "recreated checkpoint redelivers all files and would "
                "double-apply the existing state. Rebuild the state (and "
                "delete the ledger) or restore the original checkpoint_dir."
            )
        return entries

    def mark(self, done: set, epoch_id: int) -> None:
        import os

        tmp = self.path + ".tmp"
        with open(tmp, "w") as fh:
            fh.write("\n".join(sorted(done | {self.key(epoch_id)})) + "\n")
        os.replace(tmp, self.path)


def run_incremental_graph(
    spark: SparkSession,
    source_dir: str,
    graph_dir: str,
    checkpoint_dir: str,
    entity_dict: DataFrame | None = None,
    max_files_per_batch: int = 32,
) -> None:
    """CONTINUOUS KG CONSTRUCTION: each micro-batch of new source files runs
    the full extract -> link -> graph_triples lineage and MERGES into the
    partitioned graph table (triples.merge_graph: partition-pruned read of
    touched predicate namespaces, src_count summed, lineage unioned) — the
    graph grows monotonically as files arrive, no full rebuild.

    Exactly-once layering: the stream checkpoint makes file delivery
    exactly-once across restarts; merge_graph itself is NOT idempotent
    (re-merging a batch double-counts), so an EPOCH LEDGER beside the graph
    records every merged epoch id and a redelivered epoch (foreachBatch
    retry reuses the id) is skipped.  The ledger is written by atomic
    rename AFTER the merge commits; a crash between merge and ledger write
    leaves a one-epoch double-count window — exactly the seam the Iceberg
    backend closes by committing data + epoch marker in one transaction
    (kgforge/catalog.py)."""
    from kgforge.operators.extract import extract_parse_df, prefilter, with_content_sha
    from kgforge.operators.linking import link_terms
    from kgforge.operators.triples import explode_tps, graph_triples, merge_graph

    if entity_dict is None:
        from kgforge.pipeline import default_entity_dict

        entity_dict = default_entity_dict(spark)

    ledger = _EpochLedger(graph_dir.rstrip("/") + "_merged_epochs.txt", checkpoint_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        done = ledger.done()
        if ledger.key(epoch_id) in done:
            return  # redelivered micro-batch: already merged
        linked = link_terms(
            explode_tps(extract_parse_df(prefilter(with_content_sha(batch_df)))),
            entity_dict,
        )
        merge_graph(spark, graph_triples(linked), graph_dir)
        ledger.mark(done, epoch_id)

    ledger.done()  # pre-flight: fail BEFORE the stream starts, not
    # wrapped inside a StreamingQueryException mid-batch

    stream = (
        spark.readStream.schema(SOURCE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_batch)
        .parquet(source_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


DOC_SCHEMA = "doc_id long, text string"


def run_incremental_dedup(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    max_files_per_batch: int = 32,
    method: str = "minhash",
    max_hamming: int = 3,
) -> None:
    """CONTINUOUS corpus dedup: each micro-batch of new documents pairs
    against the persisted band state (dedup.incremental_dedup_update — one
    equi-join of the batch's band signatures against the state, old text
    read only for candidate docs) and refreshes the full-corpus cluster
    assignment; the corpus dedups as it arrives, no full re-pairing.
    ``method`` selects the sketch ('minhash' or, round 5, 'simhash' —
    hamming-verified from signatures carried on the band rows, no old-text
    reads); it is pinned in the state dir on first use.

    Same exactly-once layering as run_incremental_graph: the stream
    checkpoint makes file delivery exactly-once across restarts; the state
    appends are NOT idempotent, so the shared epoch ledger skips
    redelivered micro-batches (transaction seam documented on
    _EpochLedger)."""
    from kgforge.operators.dedup import incremental_dedup_update

    ledger = _EpochLedger(
        state_dir.rstrip("/") + "_dedup_epochs.txt", checkpoint_dir
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        done = ledger.done()
        if ledger.key(epoch_id) in done:
            return
        incremental_dedup_update(
            spark, batch_df, state_dir, threshold,
            method=method, max_hamming=max_hamming,
        )
        ledger.mark(done, epoch_id)

    ledger.done()  # pre-flight, before the stream starts

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_batch)
        .parquet(source_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def windowed_event_counts(events_stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling daily windows with late-data watermark (SURVEY.md 2.10)."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "event_type",
            "n",
            "total",
        )
    )


RUNNING_STATS_SCHEMA = "user_id long, n_events long, total_value double"
RUNNING_STATE_SCHEMA = "n long, total double"


def running_user_stats(events_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user cumulative event count + value sum maintained in keyed state
    across micro-batches (the arbitrary-state form the guide prescribes when
    windowed aggs can't express the semantics).  State is a (count, sum)
    pair; every batch that touches a user emits the updated running row."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return events_stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_STATS_SCHEMA,
        stateStructType=RUNNING_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_within_watermark(events_stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedup keyed on event_id (the streaming analogue of
    the reference's per-day seen-set, SURVEY.md 2.10)."""
    return events_stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_incremental_substring(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    k: int = 8,
    max_files_per_batch: int = 32,
) -> None:
    """CONTINUOUS exact substring dedup: each micro-batch of new documents
    is rewritten against the persisted first-occurrence gram registry
    (dedup.incremental_substring_dedup) and the scrubbed rows append to
    ``out_dir`` — boilerplate is stripped AS THE CORPUS ARRIVES, and
    already-emitted text is never touched (the operator enforces its
    monotone-doc-id contract, which file-arrival-ordered ingestion with
    monotone ids satisfies).

    The state append itself is idempotent (re-appending a batch rewrites
    the same deterministic keeper rows), but the out_dir append is not, so
    redelivered micro-batches are skipped via the shared epoch ledger —
    the same exactly-once layering as run_incremental_dedup."""
    from kgforge.operators.dedup import incremental_substring_dedup

    ledger = _EpochLedger(
        state_dir.rstrip("/") + "_substring_epochs.txt", checkpoint_dir
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        done = ledger.done()
        if ledger.key(epoch_id) in done:
            return
        out = incremental_substring_dedup(spark, batch_df, state_dir, k=k)
        out.write.mode("append").parquet(out_dir)
        ledger.mark(done, epoch_id)

    ledger.done()  # pre-flight, before the stream starts

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_batch)
        .parquet(source_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


TRIPLE_SCHEMA = "subj string, pred string, obj string"


def run_incremental_bgp_view(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    query_text: str,
    max_files_per_batch: int = 32,
) -> None:
    """CONTINUOUS MATERIALIZED SPARQL VIEW: triples stream in as parquet
    files, and a registered SELECT query's solution set is maintained
    INCREMENTALLY — each micro-batch contributes only its DELTA solutions
    via the bag-exact delta-join staircase (sparql/eval.py:eval_bgp_delta),
    so per-batch work scales with the batch's match volume, never a
    full-graph recompute.  The view is always the exact bag the one-shot
    query would produce over everything ingested so far (pytest-gated:
    batch-union == one-shot).

    State layout under ``state_dir``: ``triples/`` (the accumulated graph
    snapshot the NEXT delta joins against) and ``solutions/`` (the view).
    Both appends are guarded by the shared epoch ledger — a redelivered
    micro-batch is skipped whole, the same exactly-once layering as the
    other incremental drivers in this module.  Contract: batches carry NEW
    triples (the insert-only IVM setting; deletions are the tombstone
    machinery's domain, operators/dedup.py).

    The query must be in the conjunctive evaluable subset WITHOUT
    post-join features that do not distribute over union (DISTINCT,
    aggregates, modifiers, OPTIONAL/UNION/MINUS) — plain FILTERs are fine
    (Filter distributes over the solution union).  Anything else raises
    BEFORE the stream starts.
    """
    import os

    from kgforge.sparql.eval import eval_bgp, eval_bgp_delta
    from kgforge.sparql.parser import parse_query

    r = parse_query(query_text)
    if not r.parse_ok:
        raise ValueError(f"SPARQL parse reject: {r.error}")
    if not (
        r.evaluable
        and r.query_form == "SELECT"
        and not r.distinct
        and not r.optionals
        and not r.unions
        and not r.minuses
        and not r.aggregates
        and not r.group_by
        and not r.order_by
        and r.limit is None
        and r.offset is None
        and r.values is None
        and r.closure is None
        and r.path_alt is None
        and not r.binds
        # EXISTS does NOT distribute over graph growth: a previously
        # emitted (or withheld) solution can change status as the graph
        # accumulates — out of the insert-only IVM setting
        and not r.exists
    ):
        raise NotImplementedError(
            "incremental view maintenance needs a plain conjunctive "
            "SELECT (FILTERs allowed); this query is outside that subset"
        )
    tps, filters, select = r.tps, r.filters, r.select_vars

    triples_dir = os.path.join(state_dir, "triples")
    solutions_dir = os.path.join(state_dir, "solutions")
    ledger = _EpochLedger(
        state_dir.rstrip("/") + "_view_epochs.txt", checkpoint_dir
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        done = ledger.done()
        if ledger.key(epoch_id) in done:
            return
        batch_df = batch_df.localCheckpoint(eager=True)  # one stable read
        first = not os.path.exists(triples_dir)
        if first:
            delta = eval_bgp(batch_df, tps, select=select, filters=filters)
        else:
            # read through the micro-batch's session: the staircase is one
            # SQL statement over both frames
            old = batch_df.sparkSession.read.parquet(triples_dir)
            delta = eval_bgp_delta(old, batch_df, tps, select=select, filters=filters)
        delta.write.mode("append").parquet(solutions_dir)
        batch_df.write.mode("append").parquet(triples_dir)
        ledger.mark(done, epoch_id)

    ledger.done()  # pre-flight

    stream = (
        spark.readStream.schema(TRIPLE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_batch)
        .parquet(source_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
