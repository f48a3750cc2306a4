"""The traced run (--trace 1): per-layer metrics and tracing overhead.

1. Untraced: the usual set-ups, cold pass and warm-up, then a session
   restart and a quarter of ``--seconds`` of warm cycles without the event
   log.
2. Traced: a new session with the uncompressed Spark event log on; half of
   ``--seconds`` of warm cycles, every operation inside a span.
3. Layer sweep, in the same session: every layer of every workload called
   in pipeline order and in sequence, one span each, through the layers'
   public functions.  A traced run of any workload reports every per-layer
   metric.
4. The session stops, the event log is complete, and each span's jobs turn
   into executor counters (eventlog.read_event_log).
5. Untraced again: a new session and the last quarter of ``--seconds``.
   The overhead of tracing is the traced warm median over the median of
   both untraced loops, so that warm-up still in progress cancels out.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time

from perfbench import gen
from perfbench.eventlog import COUNTERS, Tracer, read_event_log, span_counters
from perfbench.workloads import N_PARTS, WORKLOADS, du, op

# spans whose executor counters are reported (the layers with Spark jobs)
COUNTED_SPANS = (
    "extract.prefilter", "extract.parse_sink", "checkpoint.mark_done",
    "checkpoint.filter_pending", "linking.link", "triples.raw_write",
    "triples.fixture", "logs.read", "log.run_log", "triples.graph_write",
    "triples.merge", "eval.exec", "graph.closure",
)
# spans whose median wall is reported as <span>_s
WALL_SPANS = COUNTED_SPANS + ("eval.plan",)
PIPELINE_KEYS = (
    "t_parse_write_s", "t_raw_s", "t_rollup_s", "t_fixture_s", "t_graph_s",
    "t_checkpoint_s", "stage1_wall_s", "stage2_wall_s",
)
# counters in the result line; gc_s, spill_mb and shuffle_read_mb (equal to
# shuffle_write_mb in local mode) are 0 for most spans at this scale and go
# to the info line's span table only
REPORTED_COUNTERS = (
    "executor_run_s", "executor_cpu_s", "wait_s", "shuffle_write_mb", "jobs",
    "tasks", "task_skew",
)
SWEEP_SCALE = 0.25  # input size of the other workloads' layer sweeps


def per_layer_units() -> dict:
    """metric name -> unit, in report order."""
    u = {
        "conf.session_s": "s",
        "trace.overhead_frac": "ratio",
        "extract.prefilter_s": "s",
        "extract.prefilter_keep_frac": "ratio",
        "extract.parse_sink_s": "s",
        "mentions.detect_us_per_row": "us",
        "checkpoint.mark_done_s": "s",
        "checkpoint.filter_pending_s": "s",
        "linking.link_s": "s",
        "linking.linked_frac": "ratio",
        "triples.raw_write_s": "s",
        "triples.fixture_s": "s",
        **{f"pipeline.{k}": "s" for k in PIPELINE_KEYS},
        "logs.read_s": "s",
        "log.run_log_s": "s",
        "parser.parse_us_per_query": "us",
        "canonical.canon_us_per_bgp": "us",
        "triples.graph_write_s": "s",
        "triples.merge_s": "s",
        "triples.merge_write_amp": "ratio",
        "eval.plan_s": "s",
        "eval.exec_s": "s",
        "graph.closure_s": "s",
    }
    unit = {"jobs": "count", "tasks": "count", "task_skew": "ratio", "shuffle_write_mb": "MB"}
    for s in COUNTED_SPANS:
        for c in REPORTED_COUNTERS:
            u[f"{s}.{c}"] = unit.get(c, "s")
    return u


def _spanned(tracer: Tracer, name: str, fn, *args, **kw):
    with tracer.span(name):
        return fn(*args, **kw)


def sweep_build(spark, tracer: Tracer, wl, out: dict, ops: list) -> None:
    """Build layers in pipeline order: prefilter, fused parse + sink,
    checkpoint commit, pending filter, link, triples_raw write, fixture
    dedup; then one whole pipeline.run for its own phase split."""
    import pandas as pd
    from pyspark.sql import functions as F

    from kgforge import pipeline
    from kgforge.catalog import ParquetCatalog
    from kgforge.checkpoint import CheckpointStore, with_pid
    from kgforge.operators.extract import prefilter, with_content_sha
    from kgforge.operators.linking import link_terms
    from kgforge.operators.triples import explode_tps, fixture_triples
    from kgforge.sparql.mentions import detect_mentions_batch

    root = os.path.join(wl.work, "layers")
    shutil.rmtree(root, ignore_errors=True)
    cat = ParquetCatalog(root)
    store = CheckpointStore(spark, cat.path("checkpoints"))
    src = with_pid(with_content_sha(spark.read.parquet(wl.src_dir)), N_PARTS)

    n_pre = _spanned(tracer, "extract.prefilter", lambda: prefilter(src).count())
    contents = [r["content"] for r in prefilter(src).select("content").collect()]
    t = time.perf_counter()
    detect_mentions_batch(pd.Series(contents))
    out["mentions.detect_us_per_row"] = (time.perf_counter() - t) / len(contents) * 1e6

    s1 = _spanned(
        tracer, "extract.parse_sink", pipeline.run_stage1,
        spark, src, cat, store, N_PARTS, False, "layers", pre_staged=True,
        defer_commit=True,
    )
    _spanned(tracer, "checkpoint.mark_done", s1["commit"])
    pending = _spanned(
        tracer, "checkpoint.filter_pending",
        lambda: store.filter_pending(src, "parsed").count(),
    )
    parsed = spark.read.parquet(cat.path("parsed"))
    n_kept = parsed.select("repo", "path", "commit").distinct().count()
    out["extract.prefilter_keep_frac"] = n_kept / n_pre

    linked = link_terms(explode_tps(parsed), pipeline.default_entity_dict(spark))
    with tracer.span("linking.link"):
        linked.write.format("noop").mode("overwrite").save()
    ground = F.col("s_kind").isin("iri", "literal") & F.col("s_surface").isNotNull()
    ground_o = F.col("o_kind").isin("iri", "literal") & F.col("o_surface").isNotNull()
    agg = linked.agg(
        F.sum(ground.cast("int") + ground_o.cast("int")).alias("n"),
        F.sum(
            (ground & F.col("s_entity").isNotNull()).cast("int")
            + (ground_o & F.col("o_entity").isNotNull()).cast("int")
        ).alias("hit"),
    ).collect()[0]
    out["linking.linked_frac"] = (agg["hit"] or 0) / max(1, agg["n"] or 0)
    _spanned(
        tracer, "triples.raw_write", cat.write_table,
        linked.select(
            "repo", "path", "commit", "content_sha256", "kind", "bgp_hash",
            "tp_pos", "s_kind", "p_kind", "o_kind", "subj", "pred", "obj",
        ),
        "triples_raw",
    )
    raw = spark.read.parquet(cat.path("triples_raw"))
    _spanned(tracer, "triples.fixture", cat.write_table, fixture_triples(raw), "triples_fixture")

    m, rec = wl.run_once(spark, os.path.join(root, "run"), wl.inp, wl.src_dir)
    ops.append(rec)
    ops.append(op("check", 0.0, pending == 0))
    for k in PIPELINE_KEYS:
        out[f"pipeline.{k}"] = float(m[k])


def sweep_log(spark, tracer: Tracer, wl, out: dict, ops: list) -> None:
    """Log layers: the JVM log reader alone, run_log whole, and the parser
    and canonicalizer timed per distinct query of the log."""
    from kgforge.sources.logs import read_apache_log
    from kgforge.sparql.canonical import canonicalize_with_names
    from kgforge.sparql.parser import parse_query

    inp, path = wl.next_part(wl.n_lines)
    with tracer.span("logs.read"):
        read_apache_log(spark, path).write.format("noop").mode("overwrite").save()
    with tracer.span("log.run_log"):
        _, rec = wl.run_once(spark, (inp, path), wl.out)
    ops.append(rec)
    # parse + canonicalize cost per DISTINCT query, outside Spark
    from urllib.parse import parse_qs, urlsplit

    queries = []
    for line in inp.text.splitlines():
        url = line.split('"GET ', 1)[1].split(" HTTP/", 1)[0]
        q = parse_qs(urlsplit(url).query).get("query")
        if q:
            queries.append(q[0])
    distinct = list(dict.fromkeys(queries))[:2000]
    t = time.perf_counter()
    parsed = [parse_query(q) for q in distinct]
    out["parser.parse_us_per_query"] = (time.perf_counter() - t) / len(distinct) * 1e6
    bgps = [r.tps for r in parsed if r.parse_ok]
    t = time.perf_counter()
    for tps in bgps:
        canonicalize_with_names(tps)
    out["canonical.canon_us_per_bgp"] = (time.perf_counter() - t) / len(bgps) * 1e6


def sweep_serve(spark, tracer: Tracer, wl, out: dict, ops: list) -> None:
    """Serve layers: the graph write, every template once (plan and
    execution split; the closure template's execution is graph.closure),
    two merges with their write amplification."""
    _spanned(tracer, "triples.graph_write", wl.setup_step, spark)
    for j, name in enumerate(gen.SERVE_TEMPLATES):
        ops.append(wl.read(spark, 5000 + j, name, tracer=tracer)[0])
    amps = []
    for k in range(2):
        before = _family_sizes(wl.graph)
        rec = wl.merge(spark, 9000 + k, tracer=tracer)
        ops.append(rec)
        after = _family_sizes(wl.graph)
        rewritten = sum(v[1] for f, v in after.items() if before.get(f) != v)
        amps.append(rewritten / rec["batch_bytes"])
    out["triples.merge_write_amp"] = statistics.median(amps)
    ops.extend(wl.final(spark))


def _family_sizes(graph: str) -> dict:
    """pred_family partition -> (file names, bytes); a partition the merge
    rewrote has new file names."""
    return {
        d: (tuple(sorted(os.listdir(d))), du(d))
        for d in glob.glob(os.path.join(graph, "pred_family=*"))
    }


SWEEPS = {"build": sweep_build, "log": sweep_log, "serve": sweep_serve}


def traced_run(sess, wl, args):
    from perfbench.run import loop, measure_setup

    ops: list = []
    setups = measure_setup(sess, wl)
    spark = sess.spark
    ops += wl.cold(spark)
    ops += wl.warmup(spark)
    # the traced loop is bracketed by two untraced ones, each right after a
    # session restart, so that warm-up still in progress cancels out of the
    # overhead; the three loops take --seconds together, at least a cycle
    # each
    sess.stop()
    before, _ = loop(sess.start(), wl, args.seconds / 4, first=wl.WARMUP_CYCLES, min_cycles=1)
    sess.stop()

    spark = sess.start(eventlog=True)
    tracer = Tracer(spark.sparkContext)
    t0 = time.perf_counter()
    traced, _ = loop(
        spark, wl, args.seconds / 2, tracer, first=wl.WARMUP_CYCLES + 100, min_cycles=1
    )

    out = {"conf.session_s": statistics.median(s for _, s in setups)}
    sweep_inputs = {}
    for name, sweep in SWEEPS.items():
        other = wl
        if name != wl.name:
            other = WORKLOADS[name](
                args.seed, os.path.join(wl.work, name), SWEEP_SCALE * args.scale
            )
            other.prepare()
        sweep(spark, tracer, other, out, ops)
        sweep_inputs[name] = other.props
    sess.stop()
    (log,) = glob.glob(os.path.join(sess.eventlog_dir, "*"))
    counters = span_counters(tracer, read_event_log(log))

    after, _ = loop(
        sess.start(), wl, args.seconds / 4, first=wl.WARMUP_CYCLES + 200, min_cycles=1
    )
    ops += before + traced + after
    kind = "read" if wl.name == "serve" else "run"

    def med(recs):
        return statistics.median(r["wall"] for r in recs if r["kind"] == kind)

    out["trace.overhead_frac"] = med(traced) / med(before + after) - 1.0
    for span in WALL_SPANS:
        w = tracer.walls(span)
        out[span + "_s"] = statistics.median(w) if w else 0.0
    for s in COUNTED_SPANS:
        c = counters.get(s, {k: 0.0 for k in COUNTERS})
        for k in REPORTED_COUNTERS:
            out[f"{s}.{k}"] = float(c[k])
    spans = [
        {"name": s["name"], "start": round(s["start"] - t0, 4),
         "end": round(s["end"] - t0, 4), "parent": s["parent"], "group": s["group"]}
        for s in tracer.spans
    ]
    info = {"span_counters": counters, "spans": spans, "sweep_inputs": sweep_inputs}
    return out, per_layer_units(), ops, info
