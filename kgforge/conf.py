"""SparkSession builder with the scale-discipline settings of SURVEY.md 4.2.

AQE (runtime shuffle coalescing + skew-join splitting) and Arrow-vectorized
Python execution are load-bearing for the north star [B:6] ("AQE-managed
shuffles", "vectorized pandas/Arrow UDFs").  Timezone pinned UTC so DuckDB
oracle comparisons are stable (pyspark guide, pitfalls).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def _package_zip() -> str:
    """Zip the kgforge package for executor shipping — the same artifact
    ``spark-submit --py-files kgforge.zip`` uses in production [B:6].
    Without it, executor Python workers started outside the repo cwd
    cannot import kgforge (observed failure mode)."""
    import kgforge

    pkg_dir = os.path.dirname(os.path.abspath(kgforge.__file__))
    out = os.path.join(tempfile.gettempdir(), "kgforge_pyfiles")
    newest = max(
        os.path.getmtime(os.path.join(r, f))
        for r, _, fs in os.walk(pkg_dir)
        for f in fs
        if f.endswith(".py")
    )
    zip_path = out + ".zip"
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < newest:
        tmp = tempfile.mkdtemp()
        shutil.copytree(pkg_dir, os.path.join(tmp, "kgforge"))
        shutil.make_archive(out, "zip", tmp)
        shutil.rmtree(tmp, ignore_errors=True)
    return zip_path


def get_spark(
    app: str = "kgforge",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # local[N] -> N slots; ~2x slots for shuffle parallelism, never 200-default
    n_slots = int(master[6:-1]) if master.startswith("local[") and master[6:-1].isdigit() else int(cpus)
    # = cores, not the 200 default and not 2x: with AQE coalescing ON, extra
    # initial reduce tasks only add scheduling overhead (measured: 64 vs 16
    # partitions at local[32] cost +35% wall on a 240k-row run)
    shuffle_partitions = shuffle_partitions or max(8, n_slots)
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # honor the advisory size when coalescing instead of keeping
        # max parallelism: small-shuffle jobs collapse to few reduce tasks
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # Round 7: coalesce targets COMPRESSED map-output bytes, while the
        # deserialized work per reduce task is ~5-10x that, so the 64MB
        # default advisory silently serialized every medium aggregation to
        # ONE task once parallelismFirst=false stopped protecting
        # parallelism (measured: a 6M-row groupBy ran 3.9-4.5s on one core
        # vs 0.8-1.2s at 8m; per-predicate distinct-counts 5.5-7.0 ->
        # 2.5-2.8s).  8m compressed ~ the 64-128MB deserialized-partition
        # band the sizing guidance actually targets; sub-8m shuffles still
        # collapse to one task, so the tiny-query win above is intact.
        # Size-based, not core-count-based — holds at any scale; override
        # via KGFORGE_ADVISORY_PARTITION_BYTES for clusters that prefer
        # the stock 64m.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("KGFORGE_ADVISORY_PARTITION_BYTES", "8m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # moderate heap: a 48g young gen measurably slowed small-task jobs
        # (GC sizing); override via KGFORGE_DRIVER_MEM for big local runs
        .config("spark.driver.memory", os.environ.get("KGFORGE_DRIVER_MEM", "20g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-scale split sizing: with the 128m/4m defaults a ~150MB corpus
        # bin-packs into ~6 input splits and caps every stage at 6-way
        # parallelism regardless of cores (measured).  4m/128k gives ~40
        # splits on bench data; production clusters override back to 128m
        # via KGFORGE_MAX_PARTITION_BYTES or spark-submit --conf.
        .config("spark.sql.files.maxPartitionBytes", os.environ.get("KGFORGE_MAX_PARTITION_BYTES", str(4 * 1024 * 1024)))
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try:
        spark.sparkContext.addPyFile(_package_zip())
    except Exception:
        pass  # already added in a reused session
    return spark
