"""The workloads.  Each one turns a seed into inputs (untimed), adds
its own step to program set-up, and yields operations one at a time; every
operation is timed from outside through kgforge's public functions and
checked against the generator's ground truth.

An operation record is a dict: kind ("run", "read", "merge" or "check"),
wall (seconds), rows (input rows it consumed), ok (output check passed).
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import time
from typing import Callable, Dict, List

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen

N_PARTS = 16  # pipeline checkpoint partitions


def du(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs
    )


def timed(fn, *args, **kw):
    t = time.perf_counter()
    out = fn(*args, **kw)
    return out, time.perf_counter() - t


def op(kind: str, wall: float, ok: bool, rows: int = 0, **extra) -> dict:
    return dict(kind=kind, wall=wall, ok=bool(ok), rows=rows, **extra)


def _top_counts(spark, path: str) -> List[int]:
    """The user-facing read of a ranking table: its 10 most frequent BGPs."""
    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(path)
        .orderBy(F.desc("count"), "bgp_hash")
        .limit(10)
        .collect()
    )
    return [int(r["count"]) for r in rows]


class Workload:
    name = ""
    WARMUP_CYCLES = 0  # untimed warm cycles between the cold pass and the loop

    def __init__(self, seed: int, work: str, scale: float = 1.0):
        self.seed, self.work, self.scale = seed, work, scale
        os.makedirs(work, exist_ok=True)
        self.props: Dict[str, float] = {}

    def prepare(self) -> None:
        """Generate inputs; not part of any measured time."""

    def setup_step(self, spark) -> None:
        """Program work that belongs to set-up (timed inside setup_s)."""

    def cold(self, spark) -> List[dict]:
        raise NotImplementedError

    def warmup(self, spark) -> List[dict]:
        """Untimed cycles between the cold pass and the loop: the JIT is
        still compiling the workload's paths after the cold pass.  A fixed
        number of cycles, not a time, so that a slower host does not start
        measuring at an earlier stage of warm-up."""
        return [th() for i in range(self.WARMUP_CYCLES) for th in self.cycle(spark, i)]

    def cycle(self, spark, i: int) -> List[Callable[[], dict]]:
        """The operations of warm cycle ``i``, each a thunk returning its
        record."""
        raise NotImplementedError

    def final(self, spark) -> List[dict]:
        return []

    def out_bytes_per_in_byte(self) -> float:
        raise NotImplementedError


# --------------------------------------------------------------------- build


def _write_rows(rows: List[dict], path: str, n_files: int) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    per = -(-len(rows) // n_files)
    for f in range(0, len(rows), per):
        pq.write_table(
            pa.Table.from_pylist(rows[f:f + per]),
            os.path.join(path, f"part-{f // per:05d}.parquet"),
        )


class Build(Workload):
    """pipeline.run(resume=False) over a seeded repository corpus."""

    name = "build"
    N_ROWS = 2000
    READS, MERGES = 8, 4  # per warm cycle, after its run
    WARMUP_CYCLES = 1  # the first warm run is still a third slower than the next ones

    def prepare(self) -> None:
        self.n_rows = max(40, int(self.N_ROWS * self.scale))
        self.inp = gen.build_inputs(self.seed, self.n_rows)
        self.src_dir = os.path.join(self.work, "corpus")
        _write_rows(self.inp.rows, self.src_dir, 4)
        self.out = os.path.join(self.work, "run")
        self.kg = os.path.join(self.work, "kg")
        self.n_merges = 0
        self.props = dict(self.inp.props)

    def run_once(self, spark, out: str, inp, src_dir: str):
        from kgforge import pipeline

        shutil.rmtree(out, ignore_errors=True)
        src = spark.read.parquet(src_dir)
        m, wall = timed(pipeline.run, spark, src, out, n_parts=N_PARTS, resume=False)
        ok = (
            m["n_parse_ok"] == inp.n_parse_ok
            and m["n_distinct_bgps"] == inp.n_distinct_bgps
            and m["n_source"] == len(inp.rows)
        )
        return m, op("run", wall, ok, rows=len(inp.rows))

    def _read(self, spark) -> dict:
        top, wall = timed(_top_counts, spark, os.path.join(self.out, "bgp_ranking"))
        return op("read", wall, top == self.inp.top_counts)

    def _merge(self, spark) -> dict:
        """The run's graph table merged into the standing graph with
        merge_graph, the incremental upsert of an always-growing KG."""
        from kgforge.operators.triples import merge_graph

        batch = spark.read.parquet(os.path.join(self.out, "triples"))
        _, wall = timed(merge_graph, spark, batch, self.kg)
        self.n_merges += 1
        return op("merge", wall, True, rows=self.last["n_graph_triples"])

    def cold(self, spark) -> List[dict]:
        rec = self._run(spark)
        init = self._merge(spark)  # creates the standing graph
        init["kind"] = "init"
        return [rec, init]

    def _run(self, spark) -> dict:
        self.last, rec = self.run_once(spark, self.out, self.inp, self.src_dir)
        return rec

    def cycle(self, spark, i: int) -> List[Callable[[], dict]]:
        return (
            [lambda: self._run(spark)]
            + [lambda: self._read(spark)] * self.READS
            + [lambda: self._merge(spark)] * self.MERGES
        )

    def final(self, spark) -> List[dict]:
        """content_sha256 carried through to triples_raw equals sha256 of
        the generated content, for every file that reached it."""
        want = {r["path"]: gen_sha(r["content"]) for r in self.inp.rows}
        got = (
            spark.read.parquet(os.path.join(self.out, "triples_raw"))
            .select("path", "content_sha256")
            .distinct()
            .collect()
        )
        ok = bool(got) and all(want.get(r["path"]) == r["content_sha256"] for r in got)
        # the standing graph holds each run's graph triples once, with
        # src_count summed over the merges
        run_sum = _sum_src(spark, os.path.join(self.out, "triples"))
        kg = spark.read.parquet(self.kg)
        merged = kg.count() == self.last["n_graph_triples"] and _sum_src(
            spark, self.kg
        ) == run_sum * self.n_merges
        return [op("check", 0.0, ok), op("check", 0.0, merged)]

    def out_bytes_per_in_byte(self) -> float:
        return du(self.out) / self.inp.in_bytes


def _sum_src(spark, path: str) -> int:
    from pyspark.sql import functions as F

    return int(spark.read.parquet(path).agg(F.sum("src_count")).collect()[0][0] or 0)


def gen_sha(content: str) -> str:
    return hashlib.sha256(content.encode("utf-8")).hexdigest()


# ----------------------------------------------------------------------- log


class Log(Workload):
    """pipeline_log.run_log over seeded DBpedia access logs, run by the
    traced run's layer sweep (not a benchmark workload of its own); every
    part is a fresh log, so its distinct queries miss the workers' parse
    memo."""

    name = "log"
    N_LINES = 5000

    def prepare(self) -> None:
        self.n_lines = max(100, int(self.N_LINES * self.scale))
        self.part = 0
        self.out = os.path.join(self.work, "log_out")

    def next_part(self, n_lines: int):
        """Generate and write the next unused log part: (inputs, path)."""
        inp = gen.log_inputs(self.seed, self.part, n_lines)
        path = os.path.join(self.work, "logs", f"part{self.part}.log")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(inp.text)
        self.part += 1
        self.props = dict(inp.props)
        return inp, path

    def run_once(self, spark, part, out: str):
        """run_log over one part; ok when every count equals the plant."""
        from kgforge.pipeline_log import run_log

        inp, path = part
        m, wall = timed(run_log, spark, path, out)
        ok = all(m[k] == v for k, v in inp.expected.items())
        return inp, op("run", wall, ok, rows=inp.expected["n_lines"])


# --------------------------------------------------------------------- serve

_LINEAGE = pa.list_(
    pa.struct([(k, pa.string()) for k in ("repo", "path", "commit", "content_sha256")])
)


def _nt_bytes(triples) -> int:
    return sum(len(f"{s} {p} {o} .\n".encode("utf-8")) for s, p, o in triples)


def _write_triples(triples, path: str, tag: str) -> None:
    lineage = [{"repo": "bench/serve", "path": tag, "commit": "", "content_sha256": ""}]
    pq.write_table(
        pa.table(
            {
                "subj": [t[0] for t in triples],
                "pred": [t[1] for t in triples],
                "obj": [t[2] for t in triples],
                "src_count": pa.array([1] * len(triples), pa.int64()),
                "lineage": pa.array([lineage] * len(triples), _LINEAGE),
            }
        ),
        path,
    )


class Serve(Workload):
    """SPARQL reads and merge_graph batches on one graph table."""

    name = "serve"
    N_ENTITIES = 2000
    MERGE_AFTER = (4, 9)  # a cycle: 9 reads, a merge after the 4th and the 9th
    # read latencies fall by 40% over the first five cycles after the cold
    # pass, then level off
    WARMUP_CYCLES = 4
    BATCH_FRAC = 0.01

    def prepare(self) -> None:
        from perfbench.oracle import GraphOracle  # noqa: F401  (fail early without duckdb)

        self.g = gen.serve_inputs(self.seed, max(100, int(self.N_ENTITIES * self.scale)))
        self.graph = os.path.join(self.work, "graph")
        self.src = os.path.join(self.work, "graph_src.parquet")
        _write_triples(self.g.triples, self.src, "setup")
        self.batch_rows = max(10, int(len(self.g.triples) * self.BATCH_FRAC))
        self.merged: set = set()
        self.n_merged = 0
        self.in_bytes = _nt_bytes(self.g.triples)
        hot = {"<" + gen.RDF_TYPE + ">", "<" + gen.WIKILINK + ">"}
        self.props = {
            "graph_rows": len(self.g.triples),
            "merge_batch_rows": self.batch_rows,
            "hot_predicate_frac": sum(t[1] in hot for t in self.g.triples)
            / len(self.g.triples),
            "in_bytes": self.in_bytes,
        }

    def setup_step(self, spark) -> None:
        from kgforge.operators.triples import write_graph

        write_graph(spark.read.parquet(self.src), self.graph)
        self.merged, self.n_merged, self.in_bytes = set(), 0, _nt_bytes(self.g.triples)

    def read(self, spark, i: int, name: str, collect: bool = False, tracer=None):
        """One SPARQL read: re-read the graph parquet, answer_sparql (plan),
        then execute (noop write, or collect when checking)."""
        from kgforge.sparql.eval import answer_sparql
        from kgforge.sparql.terms import render_term

        e, p, c = gen.serve_params(self.seed, i, self.g)
        q = gen.serve_query(name, e, p, c)
        t0 = time.perf_counter()
        with maybe_span(tracer, "eval.plan"):
            df = answer_sparql(spark.read.parquet(self.graph), q, term_str=render_term)
        t1 = time.perf_counter()
        with maybe_span(tracer, "graph.closure" if name == "closure" else "eval.exec"):
            if collect:
                rows = df.collect()
            else:
                df.write.format("noop").mode("overwrite").save()
                rows = None
        t2 = time.perf_counter()
        return op("read", t2 - t0, True, template=name, plan=t1 - t0, exec=t2 - t1), rows, (e, p, c)

    def merge(self, spark, k: int, tracer=None) -> dict:
        from kgforge.operators.triples import merge_graph

        batch = gen.merge_batch(self.seed, k, self.g, self.batch_rows)
        path = os.path.join(self.work, f"batch{k}.parquet")
        _write_triples(batch, path, f"batch{k}")
        t0 = time.perf_counter()
        with maybe_span(tracer, "triples.merge"):
            merge_graph(spark, spark.read.parquet(path), self.graph)
        wall = time.perf_counter() - t0
        self.merged.update(batch)
        self.n_merged += len(batch)
        self.in_bytes += _nt_bytes(batch)
        return op("merge", wall, True, rows=len(batch), batch_bytes=_nt_bytes(batch))

    def _checked_pass(self, spark, base: int) -> List[dict]:
        """All nine templates, each answer compared with DuckDB over the
        same graph parquet."""
        from perfbench.oracle import GraphOracle, normalize

        oracle = GraphOracle(self.graph)
        out = []
        try:
            for j, name in enumerate(gen.SERVE_TEMPLATES):
                rec, rows, params = self.read(spark, base + j, name, collect=True)
                rec["ok"] = normalize(rows) == oracle.expected(name, *params)
                out.append(rec)
        finally:
            oracle.close()
        return out

    def cold(self, spark) -> List[dict]:
        """First pass of the operation mix: every template once (checked),
        then one merge."""
        out = self._checked_pass(spark, 0)
        out.append(self.merge(spark, 0))
        return out

    def cycle(self, spark, i: int) -> List[Callable[[], dict]]:
        """Every template once, with a merge after the 4th and the 9th read
        (about every 5th operation), so each run reads the same mix."""
        ops: List[Callable[[], dict]] = []
        n = len(gen.SERVE_TEMPLATES)
        for j, name in enumerate(gen.SERVE_TEMPLATES, 1):
            ops.append(lambda j=j, name=name: self.read(spark, 1000 + i * n + j, name)[0])
            if j in self.MERGE_AFTER:
                k = 1 + 2 * i + self.MERGE_AFTER.index(j)
                ops.append(lambda k=k: self.merge(spark, k))
        return ops

    def final(self, spark) -> List[dict]:
        from perfbench.oracle import GraphOracle

        out = self._checked_pass(spark, 10**6)
        oracle = GraphOracle(self.graph)
        try:
            n, s = oracle.table_stats()
        finally:
            oracle.close()
        want_n = len(set(self.g.triples) | self.merged)
        want_s = len(self.g.triples) + self.n_merged
        out.append(op("check", 0.0, (n, s) == (want_n, want_s)))
        return out

    def out_bytes_per_in_byte(self) -> float:
        return du(self.graph) / self.in_bytes


def maybe_span(tracer, name):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


WORKLOADS = {w.name: w for w in (Build, Log, Serve)}
