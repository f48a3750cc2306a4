"""EP-1 flagship pipeline: source_files -> mentions -> BGPs -> linked triples.

Lifecycle per SURVEY.md 3.2; stage boundaries materialize to the catalog so
runs resume from per-partition checkpoints [B:14] (the reference restarts
from scratch on failure — resume is a new capability the north rule adds).

Plan shape (round 3; everything downstream of the fused Python stage is
JVM/codegen):

  scan -> sha2 (P7) -> pid -> anti-join checkpoints (J5) -> contains (P2)
       -> ONE fused Python stage [Arrow-batched, memoized]:
            detect (U1) + parse+canon (U2+U3) + TASK-COMMITTED parquet sink
            (atomic-rename commit per task; per-pid stats in the summary)
  [stage barrier: parsed materialized]     then CONCURRENT jobs:
       checkpoint commit  ||  mention rollup (quarantine+ranking+metrics,
       one scan)  ||  triples_raw = explode (U5) -> broadcast-link (U4/J1)
  [barrier: raw materialized]
       fixture distinct (P/R output)  ||  ground groupBy agg (A1)
       -> partitioned salted write (J9)
(single-slot clusters run the same DAG sequentially — concurrency degree
follows cluster parallelism)
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.catalog import ParquetCatalog
from kgforge.checkpoint import PID_COL, CheckpointStore, with_pid
from kgforge.corpus import entity_dict_rows
from kgforge.frames import local_frame
from kgforge.operators.extract import extract_parse_sink, prefilter, with_content_sha
from kgforge.operators.linking import corpus_context_priors, link_terms
from kgforge.operators.triples import explode_tps, graph_triples, write_graph


def _obs_get(obs, key: str) -> int:
    """Observation value after the observed action completed.  Narrow except
    (ADVICE round 2): the two benign misses are a missing key and a ZERO-TASK
    action (empty input -> no task ever ran -> no metrics row materialized;
    Observation.get then raises a Py4J "assertion failed" from toPyRow rather
    than blocking).  Anything else (analysis error, interrupted job) must
    propagate rather than silently read as a 0-valued metric.

    ADVICE round 3 narrowing: require the JVM exception CLASS
    (java.lang.AssertionError) alongside the message, so an unrelated Py4J
    error whose text merely contains 'assertion failed' still propagates."""
    try:
        return int(obs.get[key])
    except KeyError:
        return 0
    except Exception as exc:
        msg = str(exc)
        if "java.lang.AssertionError" in msg and "assertion failed" in msg:
            return 0  # zero-task action: no metrics row exists
        raise


ATTEMPT_COL = "kg_attempt"


def _read_parsed(
    spark: SparkSession,
    cat: ParquetCatalog,
    store: CheckpointStore | None = None,
    visible_attempt: str | None = None,
    vouched_pids: list | None = None,
) -> DataFrame:
    """Read the parsed table; empty-but-valid when nothing was ever written.

    With ``store``, applies SNAPSHOT VISIBILITY: only rows whose
    (kg_pid, kg_attempt) pair was committed by mark_done are readable.
    Writes stay plain appends (no partitioned overwrite, no extra shuffle —
    measured cost of the overwrite design: +15% stage-1 wall); a crashed
    attempt's rows exist physically but are invisible, which is the same
    idempotency contract Iceberg snapshots give (ADVICE round 1)."""
    from kgforge.operators.extract import PARSED_SCHEMA

    try:
        parsed = spark.read.parquet(cat.path("parsed"))
    except Exception:
        return local_frame(
            spark, [], PARSED_SCHEMA + f", {PID_COL} int, {ATTEMPT_COL} string"
        )
    if store is None:
        return parsed
    committed = store.committed_attempts("parsed").withColumnRenamed(
        "attempt", ATTEMPT_COL
    )
    if not visible_attempt:
        return parsed.join(F.broadcast(committed), [PID_COL, ATTEMPT_COL], "left_semi")
    # visible_attempt: the orchestrator vouches for this attempt — its
    # stage-1 write COMPLETED in this process; only its checkpoint-stats
    # commit may still be in flight (run() overlaps that job with stage 2).
    # The attempt's rows are complete, so reading them early is sound.
    #
    # For the pids the vouched attempt WROTE (vouched_pids, bounded by
    # n_parts — dict-sized), the vouched rows SUPERSEDE any older committed
    # attempt: without that scoping, a --no-resume rerun of an out_dir whose
    # pids committed under attempt A would double-read A's rows AND the
    # fresh attempt's rows until the in-flight commit lands (review
    # finding).  Pids the attempt did not touch keep their committed
    # visibility (resume case).
    marker = committed.withColumn("_vis", F.lit(True))
    joined = parsed.join(F.broadcast(marker), [PID_COL, ATTEMPT_COL], "left_outer")
    in_vouched = (
        F.col(PID_COL).isin([int(p) for p in vouched_pids])
        if vouched_pids
        else F.lit(False)
    )
    return joined.filter(
        F.when(in_vouched, F.col(ATTEMPT_COL) == visible_attempt).otherwise(
            F.col("_vis").isNotNull() | (F.col(ATTEMPT_COL) == visible_attempt)
        )
    ).drop("_vis")


def default_entity_dict(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark, entity_dict_rows(), "surface string, entity_id string, prior double, etype string"
    )


def checkpoint_stats(spark: SparkSession, present: dict, per_pid: dict) -> DataFrame:
    """Per-pid checkpoint stats: (pid, n_in) from ``present``, (n_out,
    sha_fingerprint) from the sink's ``per_pid`` summaries (0 when absent)."""
    return local_frame(
        spark,
        [(int(p), int(n), *per_pid.get(p, (0, 0))) for p, n in present.items()],
        f"{PID_COL} int, n_in long, n_out long, sha_fingerprint long",
    )


def run_stage1(
    spark: SparkSession,
    source: DataFrame,
    cat: ParquetCatalog,
    store: CheckpointStore,
    n_parts: int,
    resume: bool,
    run_id: str,
    pid_filter=None,
    pre_staged: bool = False,
    defer_commit: bool = False,
) -> dict:
    """Stage 1: extract + parse (Python stages), checkpointed per pid.
    ``pid_filter`` optionally restricts this invocation to a pid subset;
    ``pre_staged`` marks a source that already carries content_sha256 and
    kg_pid (chunked execution reads the staged table, see run_chunked).

    ``defer_commit=True`` returns without running the checkpoint-stats job;
    the metrics dict then carries a ``commit`` callable the orchestrator runs
    CONCURRENTLY with stage 2 (the stats job and stage 2's explode+link read
    the same completed parsed table and are independent — serializing them
    was pure barrier cost, VERDICT r2 scaling item).  Crash semantics are
    unchanged: until commit() finishes, this attempt is uncommitted and a
    rerun re-parses its pids."""
    metrics: dict = {}
    t0 = time.time()
    src = source if pre_staged else with_pid(with_content_sha(source), n_parts)
    if pid_filter is not None:
        src = src.filter(pid_filter)
    pending = store.filter_pending(src, "parsed") if resume else src

    # in-flight input count via observe(): measured DURING the main write
    # action instead of a second full source scan (which cost ~35% of a
    # single-core stage-1 wall)
    from pyspark.sql import Observation

    obs = Observation(f"ingest_{run_id}")
    pending_plain = pending  # observation nodes are single-action; reuse the plain plan
    pending = pending.observe(obs, F.count(F.lit(1)).alias("n_in"))

    # fused parse + TASK-COMMITTED sink (extract.py): each task writes its
    # own parquet file, committed by atomic rename.  Idempotency still comes
    # from snapshot visibility (see _read_parsed) — a crash before mark_done
    # leaves the attempt uncommitted — but a re-run of the SAME attempt id
    # now skips every task whose file already committed (per-task resume,
    # VERDICT r2 item 6) instead of re-parsing the whole pending set.
    task_rows = extract_parse_sink(
        prefilter(pending), cat.path("parsed"), run_id, fresh=not resume
    ).collect()
    metrics["n_tasks"] = len({r["task_id"] for r in task_rows})
    metrics["n_tasks_resumed"] = len(
        {r["task_id"] for r in task_rows if r["skipped"]}
    )
    # pids this attempt wrote rows for (bounded by n_parts): scopes the
    # vouched-visibility read when stage 2 overlaps the checkpoint commit
    metrics["written_pids"] = sorted(
        {int(r["kg_pid"]) for r in task_rows if r["kg_pid"] >= 0}
    )
    metrics["t_parse_write_s"] = round(time.time() - t0, 2)
    metrics["n_pending"] = _obs_get(obs, "n_in")

    def commit() -> None:
        t = time.time()
        # per-pid output stats + content-sha fingerprint for THIS attempt,
        # aggregated from the sink's per-(task, pid) summaries — no re-scan
        # of the parsed table (the pre-sink design's stats job re-read the
        # full attempt output; round-3 scaling work).  Done pids = pids
        # PRESENT in this run's pending scan (a pid this run never saw must
        # stay pending — marking range(n_parts) would swallow data on
        # partial-source resumes); the presence scan is column-pruned to the
        # three pid-key strings, content is never read.
        per_pid: dict = {}
        for r in task_rows:
            if r["kg_pid"] >= 0:
                st = per_pid.setdefault(r["kg_pid"], [0, 0])
                st[0] += r["n_rows"]
                st[1] ^= r["fp"]
        # same column-pruned scan as the old distinct, but the count agg
        # also yields the REAL per-pid input size (n_in was -1 before) and
        # the authoritative pending total — the observe() number undercounts
        # when per-task resume skips tasks without pulling their input
        # (review finding)
        present = {
            row[PID_COL]: row["n"]
            for row in pending_plain.groupBy(PID_COL)
            .agg(F.count("*").alias("n"))
            .collect()
        }
        metrics["n_pending"] = int(sum(present.values()))
        stats = checkpoint_stats(spark, present, per_pid)
        store.mark_done("parsed", stats, int((time.time() - t0) * 1000), attempt=run_id)
        metrics["t_checkpoint_s"] = round(time.time() - t, 2)

    if defer_commit:
        metrics["commit"] = commit
    else:
        commit()
    metrics["stage1_wall_s"] = time.time() - t0
    return metrics


def run_stage2(
    spark: SparkSession,
    cat: ParquetCatalog,
    ed: DataFrame,
    run_id: str,
    store: CheckpointStore | None = None,
    visible_attempt: str | None = None,
    pre_stage2=None,
    vouched_pids: list | None = None,
    use_context_priors: bool = False,
) -> dict:
    """Stage 2 (JVM only): explode + link + aggregate + write all outputs
    from the materialized ``parsed`` table (committed attempts, plus the
    orchestrator-vouched in-flight attempt when overlapped with stage 1's
    commit job — see _read_parsed).

    Job graph (all independent jobs overlap; barriers only where data
    requires them — at a 4N cluster size every serial scheduling gap is paid
    proportionally 4x harder):

        [pre_stage2 (stage-1 checkpoint commit)]  ─┐ concurrent
        quarantine / ranking / metrics (parsed)    ─┤ concurrent
        triples_raw write (explode+link, parsed)   ─┘
            └─ barrier: raw materialized ─┬─ fixture (raw)
                                          └─ graph   (raw)

    Measured and REJECTED alternative (round 3): persist() the linked
    relation and run raw/fixture/graph fully concurrently from the cache
    with no barrier.  Interleaved A/B at 4 pinned cpus: barrier design
    58.0 s wall (stage 2 27.7 s) vs cache design 85.0 s (stage 2 53.8 s) —
    concurrent first-consumers serialize on block-computation locks while
    holding task slots, and the in-memory cache loses the column-pruned
    compressed-parquet reads fixture/graph get from the materialized raw
    table.  The write barrier is cheaper than the cache contention.
    """
    metrics: dict = {}
    from pyspark.sql import Observation

    t1 = time.time()
    parsed_all = _read_parsed(spark, cat, store, visible_attempt, vouched_pids)

    obs_fx = Observation(f"fx_{run_id}")
    obs_graph = Observation(f"graph_{run_id}")

    def _timed(name, fn, *args):
        s = time.time()
        out = fn(*args)
        metrics[name] = round(time.time() - s, 2)
        return out

    def _w_raw():
        # materialize triples_raw ONCE (SURVEY.md 1.2 data model); fixture
        # and graph emissions then scan the narrow raw table instead of
        # re-running explode+link lineage per output (measured: halves
        # stage-2 wall)
        exploded = explode_tps(parsed_all)
        # opt-in co-occurrence context scoring (SURVEY.md 4.3.2): one extra
        # dict-sized agg of the fact side folded into the DIM-side ranking;
        # plan shape unchanged (broadcast-only, linking tests)
        priors = corpus_context_priors(exploded) if use_context_priors else None
        linked = link_terms(exploded, ed, context_priors=priors)
        cat.write_table(
            linked.select(
                "repo", "path", "commit", "content_sha256", "kind", "bgp_hash",
                "tp_pos", "s_kind", "p_kind", "o_kind", "subj", "pred", "obj",
            ),
            "triples_raw",
        )
        return spark.read.parquet(cat.path("triples_raw"))

    def _w_mention_rollup():
        """ONE scan of the mention-level table serves quarantine, ranking
        and the run metrics: pre-aggregate on (parse_ok, kind, reject_code,
        bgp_hash) — cardinality bounded by the distinct-query count (BGPs
        are memoized per distinct query text), so the rollup is dict-sized
        at any corpus scale — then derive all three outputs from it with
        trivial jobs.  Replaces three full parsed scans (round-3 scaling
        work; the scans were the non-raw bulk of stage 2).

        Quarantine groups by the LOW-CARDINALITY reject code, never the raw
        error string: error messages embed byte offsets/snippets, so at
        corpus scale groupBy(error) has quasi-unique keys and unbounded
        output.  Codes come from the parser's "[code] ..." prefix; uncoded
        messages collapse by their first word ("lex", "expected", ...)."""
        code = F.when(
            ~F.col("parse_ok"),
            F.coalesce(
                F.nullif(F.regexp_extract("error", r"^\[([a-z_]+)\]", 1), F.lit("")),
                F.regexp_extract("error", r"^(\w+)", 1),
            ),
        )
        rollup = (
            parsed_all.groupBy(
                "parse_ok", "kind", code.alias("reject_code"), "bgp_hash"
            )
            .agg(
                F.count("*").alias("n"),
                F.first("error").alias("example_error"),
                F.first("canonical").alias("canonical"),
            )
            .localCheckpoint()  # dict-sized; cut lineage so the three
            # derived writes below are trivial local jobs, not re-scans
        )
        cat.write_table(
            rollup.filter(~F.col("parse_ok"))
            .groupBy("kind", "reject_code")
            .agg(F.sum("n").alias("n"), F.first("example_error").alias("example_error")),
            "quarantine",
        )
        cat.write_table(
            rollup.filter(F.col("parse_ok"))
            .groupBy("bgp_hash")
            .agg(F.sum("n").alias("count"), F.first("canonical").alias("canonical")),
            "bgp_ranking",
        )
        return rollup.agg(
            F.sum("n").alias("n_mentions"),
            F.sum(F.when(F.col("parse_ok"), F.col("n")).otherwise(F.lit(0))).alias(
                "n_parse_ok"
            ),
            F.countDistinct(F.when(F.col("parse_ok"), F.col("bgp_hash"))).alias("n_bgps"),
        ).collect()[0]

    def _w_fixture(raw):
        # Key-pinned repartition BEFORE the dedup (round 7, guide §2.1/§6):
        # the fixture relation is barely above the 64MB coalesce advisory,
        # so AQE collapsed the distinct's reduce AND the write to ONE task
        # (observed: a single 48MB file, ~2s serialized on an idle 32-core
        # host — the longest leg of the post-raw barrier).  An explicit
        # hash repartition on the dedup keys satisfies the aggregation's
        # required distribution (no second exchange) and is exempt from
        # AQE coalescing, so the dedup and the write run cluster-wide
        # (measured 1.9 -> 0.8s; identical rows).  Partition count follows
        # cluster parallelism, so per-file size keeps scaling with data.
        n_out = raw.sparkSession.sparkContext.defaultParallelism
        fixture = (
            raw.select("subj", "pred", "obj", "content_sha256")
            .repartition(n_out, "subj", "pred", "obj", "content_sha256")
            .dropDuplicates()
            .observe(obs_fx, F.count(F.lit(1)).alias("n"))
        )
        cat.write_table(fixture, "triples_fixture")

    def _w_graph(raw):
        graph = graph_triples(raw).observe(obs_graph, F.count(F.lit(1)).alias("n"))
        write_graph(graph, cat.path("triples"))

    # Concurrency degree follows the cluster's parallelism: overlapping
    # independent jobs fills scheduling/IO gaps when there are idle task
    # slots, but on a single-slot cluster it only thrashes (measured: +33 s
    # of stage-2 wall at local[1] from interleaving these jobs), so the
    # 1-slot path runs the same DAG sequentially.
    concurrent = spark.sparkContext.defaultParallelism > 2

    from concurrent.futures import ThreadPoolExecutor

    if concurrent:
        with ThreadPoolExecutor(max_workers=4) as ex:
            futs = {"rollup": ex.submit(_timed, "t_rollup_s", _w_mention_rollup)}
            if pre_stage2 is not None:
                futs["pre"] = ex.submit(pre_stage2)
            # the raw write runs in THIS thread, concurrent with the rollup
            # and the stage-1 checkpoint commit; fixture/graph are the only
            # consumers that must wait for the materialized raw table
            raw = _timed("t_raw_s", _w_raw)
            futs["t_fixture_s"] = ex.submit(_timed, "t_fixture_s", _w_fixture, raw)
            futs["t_graph_s"] = ex.submit(_timed, "t_graph_s", _w_graph, raw)
            agg_row = futs["rollup"].result()
            for f in futs.values():
                f.result()  # propagate any failure
    else:
        if pre_stage2 is not None:
            pre_stage2()
        raw = _timed("t_raw_s", _w_raw)
        _timed("t_fixture_s", _w_fixture, raw)
        _timed("t_graph_s", _w_graph, raw)
        agg_row = _timed("t_rollup_s", _w_mention_rollup)
    metrics["stage2_wall_s"] = time.time() - t1
    metrics.update(
        {
            "n_mentions": int(agg_row["n_mentions"] or 0),
            "n_parse_ok": int(agg_row["n_parse_ok"] or 0),
            "n_distinct_bgps": int(agg_row["n_bgps"] or 0),
            # measured during the writes themselves (observe), not re-count jobs
            "n_fixture_triples": _obs_get(obs_fx, "n"),
            "n_graph_triples": _obs_get(obs_graph, "n"),
        }
    )
    return metrics


def _finish(spark, cat, source, run_id, metrics) -> dict:
    metrics["n_source"] = source.count()  # parquet sources: metadata-only
    count_keys = [
        "n_source", "n_mentions", "n_parse_ok", "n_distinct_bgps",
        "n_fixture_triples", "n_graph_triples",
    ]
    rows = [(run_id, "pipeline", k, float(metrics[k])) for k in count_keys] + [
        (run_id, "pipeline", "stage1_wall_s", metrics["stage1_wall_s"]),
        (run_id, "pipeline", "stage2_wall_s", metrics["stage2_wall_s"]),
    ]
    cat.append_table(
        local_frame(spark, rows, "run_id string, stage string, metric string, value double"),
        "stage_metrics",
    )
    return metrics


def run(
    spark: SparkSession,
    source: DataFrame,
    out_dir: str,
    entity_dict: DataFrame | None = None,
    n_parts: int = 64,
    resume: bool = True,
    run_id: str | None = None,
    use_context_priors: bool = False,
) -> dict:
    """Run the full pipeline; returns the metrics dict that is also persisted
    to ``stage_metrics``.  ``use_context_priors`` enables corpus-level
    co-occurrence weighting in entity linking (off by default: the P/R
    fixture contract is defined over prior+etype scoring)."""
    run_id = run_id or uuid.uuid4().hex[:12]
    cat = ParquetCatalog(out_dir)
    store = CheckpointStore(spark, cat.path("checkpoints"))
    ed = entity_dict if entity_dict is not None else default_entity_dict(spark)
    metrics: dict = {"run_id": run_id}
    # stage 1 defers its checkpoint-stats job; stage 2 runs it concurrently
    # with the triples_raw write (both read the completed parsed table and
    # are independent — the serial barrier was pure scheduling cost) and
    # treats this attempt as visible before the commit lands (vouched:
    # the write finished in this process).
    s1 = run_stage1(
        spark, source, cat, store, n_parts, resume, run_id, defer_commit=True
    )
    commit = s1.pop("commit")
    vouched = s1.pop("written_pids")
    metrics.update(s1)
    metrics.update(
        run_stage2(
            spark, cat, ed, run_id, store,
            visible_attempt=run_id, pre_stage2=commit, vouched_pids=vouched,
            use_context_priors=use_context_priors,
        )
    )
    # commit() ran inside stage 2 and mutated s1 after the update() above —
    # re-read the keys it owns
    metrics["t_checkpoint_s"] = s1.get("t_checkpoint_s", metrics.get("t_checkpoint_s"))
    metrics["n_pending"] = s1.get("n_pending", metrics.get("n_pending"))
    return _finish(spark, cat, source, run_id, metrics)


def run_chunked(
    spark: SparkSession,
    source: DataFrame,
    out_dir: str,
    entity_dict: DataFrame | None = None,
    n_parts: int = 128,
    n_chunks: int = 8,
    resume: bool = True,
    run_id: str | None = None,
) -> dict:
    """Finer-grained mid-run resumability [B:14]: stage 1 runs as n_chunks
    sequential sub-jobs over disjoint pid groups, each committing its
    checkpoint rows on completion — a crash loses at most one chunk of work
    and a rerun resumes from the last completed chunk (test:
    tests/test_pipeline_e2e.py::test_chunked_resume_mid_run).  Stage 2 runs
    once over the union.

    Stage 0 STAGES the source once — sha256 + kg_pid computed and written
    partitioned by a chunk column — so each chunk's read is PARTITION-PRUNED
    (directory pruning at the file listing) instead of a full source rescan
    per chunk with an unpushable hash predicate (VERDICT round 1: the rescan
    made chunked wall O(n_chunks * source_bytes)).  The staged table doubles
    as the sha-invariant snapshot: content_sha256 is computed exactly once.
    In production the stage-0 write is an Iceberg table partitioned by
    bucket(n_chunks, ...), and incremental sources skip staging entirely."""
    import json
    import os

    run_id = run_id or uuid.uuid4().hex[:12]
    cat = ParquetCatalog(out_dir)
    store = CheckpointStore(spark, cat.path("checkpoints"))
    ed = entity_dict if entity_dict is not None else default_entity_dict(spark)
    metrics: dict = {"run_id": run_id, "n_chunks": n_chunks}
    t0 = time.time()

    staged_path = cat.path("source_staged")
    manifest_path = os.path.join(out_dir, "source_staged_manifest.json")
    # the staged table is only reusable under the SAME (n_chunks, n_parts,
    # source shape): resuming a dir staged at n_chunks=8 with n_chunks=4
    # would iterate chunks 0-3 and silently never parse staged chunks 4-7
    # (ADVICE round 2, medium).  The manifest pins the staging parameters;
    # any mismatch re-stages.  Source fingerprint = schema DDL (content
    # drift is already covered by the per-pid sha fingerprints downstream).
    manifest = {
        "n_chunks": n_chunks,
        "n_parts": n_parts,
        "source_schema": source.schema.simpleString(),
    }
    staged_done = os.path.exists(os.path.join(staged_path, "_SUCCESS"))
    if staged_done:
        try:
            with open(manifest_path) as fh:
                staged_done = json.load(fh) == manifest
        except (OSError, ValueError):
            staged_done = False  # pre-manifest or corrupt staging: re-stage
    if not (resume and staged_done):  # a completed staging is itself resumable
        src = with_pid(with_content_sha(source), n_parts).withColumn(
            "kg_chunk", F.pmod(F.col(PID_COL), F.lit(n_chunks))
        )
        src.write.mode("overwrite").partitionBy("kg_chunk").parquet(staged_path)
        with open(manifest_path, "w") as fh:
            json.dump(manifest, fh)
    metrics["t_stage0_s"] = round(time.time() - t0, 2)
    staged = spark.read.parquet(staged_path)

    for c in range(n_chunks):
        chunk = run_stage1(
            spark,
            staged.filter(F.col("kg_chunk") == c).drop("kg_chunk"),
            cat, store, n_parts, resume, f"{run_id}_c{c}",
            pre_staged=True,
        )
        metrics[f"chunk{c}_wall_s"] = round(chunk["stage1_wall_s"], 2)
    metrics["stage1_wall_s"] = time.time() - t0
    metrics.update(run_stage2(spark, cat, ed, run_id, store))
    return _finish(spark, cat, source, run_id, metrics)
