"""Per-partition checkpointing for resumable runs [B:6, B:14].

Partition identity is DETERMINISTIC — ``pid = pmod(xxhash64(repo, path,
commit), n_parts)`` derived from data, never ``spark_partition_id()`` of a
nondeterministic shuffle (SURVEY.md hard part 5).  A resumed run anti-joins
the completed pid set (J5) and processes only the remainder; the checkpoint
row carries lineage counts and a content-sha fingerprint so an auditor can
verify what each partition contributed (stage metrics per [B:6]).

Sandbox backend is a parquet directory (no Iceberg jar present, SURVEY.md
1.2); the store is append-only with last-write-wins semantics on
(stage, pid) — the same contract an Iceberg MERGE INTO would provide
(behavioral tests: tests/test_checkpoint_merge.py).

Round 2: the store also carries the COMMITTED ATTEMPT id per (stage, pid).
Data tables are written append-only with a kg_attempt column; readers see a
row iff its (pid, attempt) is committed here — snapshot visibility, the
parquet stand-in for Iceberg snapshot isolation.  This makes stage writes
idempotent with zero write-path overhead (the partitioned-overwrite
alternative measured +15% stage-1 wall from the extra shuffle + per-pid
directory commits).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgforge.frames import local_frame

PID_COL = "kg_pid"

CHECKPOINT_SCHEMA = (
    "stage string, kg_pid int, status string, attempt string, n_in long, "
    "n_out long, wall_ms long, sha_fingerprint long, updated_at double"
)


def with_pid(df: DataFrame, n_parts: int) -> DataFrame:
    return df.withColumn(
        PID_COL, F.pmod(F.xxhash64("repo", "path", "commit"), F.lit(n_parts)).cast("int")
    )


class CheckpointStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _exists(self) -> bool:
        return os.path.isdir(self.path) and any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        )

    def read(self) -> DataFrame:
        if not self._exists():
            return local_frame(self.spark, [], CHECKPOINT_SCHEMA)
        cp = self.spark.read.parquet(self.path)
        # a checkpoints dir written before the attempt column existed (or a
        # mixed old/new dir, where parquet resolves schema from an arbitrary
        # file) must stay resumable: absent attempt == "committed, pre-
        # visibility era" (ADVICE round 2)
        if "attempt" not in cp.columns:
            cp = cp.withColumn("attempt", F.lit(""))
        return cp

    def _latest(self, stage: str) -> DataFrame:
        """Latest checkpoint row per pid for a stage (last write wins — the
        MERGE INTO upsert view, tests/test_checkpoint_merge.py)."""
        cp = self.read().filter(F.col("stage") == stage)
        return (
            cp.groupBy(PID_COL)
            .agg(F.max_by(F.struct("status", "attempt"), "updated_at").alias("l"))
            .select(PID_COL, F.col("l.status").alias("status"), F.col("l.attempt").alias("attempt"))
        )

    def done_pids(self, stage: str) -> DataFrame:
        """Latest-status pids marked done for a stage (last write wins)."""
        return self._latest(stage).filter(F.col("status") == "done").select(PID_COL)

    def committed_attempts(self, stage: str) -> DataFrame:
        """(kg_pid, attempt) of the COMMITTED attempt per done pid — the
        snapshot-visibility set: rows of the data table are visible iff their
        (pid, attempt) pair is in here.  This is what makes plain append
        writes idempotent: a crashed attempt's rows exist physically but are
        never committed, so readers never see them (the parquet stand-in for
        Iceberg snapshot isolation)."""
        return (
            self._latest(stage)
            .filter(F.col("status") == "done")
            .select(PID_COL, "attempt")
        )

    def filter_pending(self, df: DataFrame, stage: str) -> DataFrame:
        """J5 resume: drop rows whose partition already completed ``stage``."""
        return df.join(self.done_pids(stage), on=PID_COL, how="left_anti")

    def mark_done(self, stage: str, stats: DataFrame, wall_ms: int, attempt: str = "") -> None:
        """``stats``: (kg_pid, n_in, n_out, sha_fingerprint) per partition.
        ``attempt`` commits this attempt's rows for those pids (visibility)."""
        out = stats.select(
            F.lit(stage).alias("stage"),
            F.col(PID_COL),
            F.lit("done").alias("status"),
            F.lit(attempt).alias("attempt"),
            F.col("n_in").cast("long"),
            F.col("n_out").cast("long"),
            F.lit(wall_ms).cast("long").alias("wall_ms"),
            F.col("sha_fingerprint").cast("long"),
            F.lit(time.time()).alias("updated_at"),
        )
        out.write.mode("append").parquet(self.path)

    def compact(self) -> int:
        """Rewrite the append-only checkpoint log down to ONE row per
        (stage, pid) — the latest write.  The log grows by one row per pid
        per attempt forever; at 100 TB scale (10^5 pids x retries x stages)
        every resume's anti-join re-reads all of it, so periodic compaction
        keeps the resume path O(pids).  Readers are unaffected: done_pids /
        committed_attempts are defined as last-write-wins, and the compacted
        log contains exactly those winning rows (pinned by
        tests/test_checkpoint_merge.py::test_compact_preserves_semantics).

        Crash safety on the parquet backend: the compacted log is written to
        a temp dir, then swapped in by rename; a crash mid-swap leaves the
        pre-compaction dir recoverable on disk ('.pre-compact').  Run it
        BETWEEN jobs — plain parquet has no snapshot isolation for
        concurrent readers (on Iceberg this operation is expire_snapshots +
        rewrite_data_files, which IS safe under concurrent reads).

        Returns the number of superseded rows removed."""
        import shutil
        import uuid

        if not self._exists():
            return 0
        cp = self.read()
        n_before = cp.count()
        payload = [c for c in cp.columns if c not in ("stage", PID_COL)]
        latest = (
            cp.groupBy("stage", PID_COL)
            .agg(F.max_by(F.struct(*payload), "updated_at").alias("l"))
            .select("stage", PID_COL, *[F.col(f"l.{c}").alias(c) for c in payload])
        )
        tmp = self.path + f".compact-{uuid.uuid4().hex[:8]}"
        latest.write.mode("overwrite").parquet(tmp)
        n_after = self.spark.read.parquet(tmp).count()
        old = self.path + ".pre-compact"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(self.path, old)
        os.rename(tmp, self.path)
        shutil.rmtree(old)
        return n_before - n_after


def sha_fingerprint_col() -> F.Column:
    """Order-insensitive partition fingerprint: XOR of the leading 60 bits of
    each row's content sha (bit_xor is commutative -> shuffle-order-proof)."""
    return F.expr(
        "bit_xor(cast(conv(substring(content_sha256, 1, 15), 16, 10) as bigint))"
    ).alias("sha_fingerprint")
