"""The benchmark's own tests: seeded inputs are reproducible, the planted
ground truth holds, tiny runs of every workload pass their output checks,
and the event-log reader parses a captured log.

    python3 -m pytest perfbench/tests -q     (from the checkout root)
"""

import json
import os
import shutil
import subprocess
import sys
from collections import defaultdict
from urllib.parse import parse_qs, urlsplit

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.eventlog import Tracer, read_event_log, span_counters  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def test_same_seed_same_inputs():
    a, b = gen.build_inputs(7, 200), gen.build_inputs(7, 200)
    assert a.rows == b.rows
    assert (a.n_parse_ok, a.n_distinct_bgps, a.top_counts) == (
        b.n_parse_ok, b.n_distinct_bgps, b.top_counts,
    )
    la, lb = gen.log_inputs(7, 3, 500), gen.log_inputs(7, 3, 500)
    assert la.text.encode() == lb.text.encode()
    assert la.expected == lb.expected and la.top_counts == lb.top_counts
    ga, gb = gen.serve_inputs(7, 300), gen.serve_inputs(7, 300)
    assert ga.triples == gb.triples
    assert gen.merge_batch(7, 2, ga, 50) == gen.merge_batch(7, 2, gb, 50)
    assert gen.serve_params(7, 4, ga) == gen.serve_params(7, 4, gb)


def test_other_seed_other_inputs():
    assert gen.build_inputs(1, 100).rows != gen.build_inputs(2, 100).rows
    assert gen.log_inputs(1, 0, 300).text != gen.log_inputs(2, 0, 300).text
    assert gen.log_inputs(1, 0, 300).text != gen.log_inputs(1, 1, 300).text
    assert gen.serve_inputs(1, 200).triples != gen.serve_inputs(2, 200).triples


def test_log_plants_parse_as_planted():
    """The log generator's ground truth agrees with kgforge's parser and
    canonicalizer query by query: malformed plants reject, the others
    parse, and two hits share a BGP exactly when they share a plant."""
    from kgforge.operators.extract import _parse_one_uncached

    inp = gen.log_inputs(3, 0, 1500)
    by_hash = defaultdict(set)
    n_hits = n_rejected = 0
    for line in inp.text.splitlines():
        url = line.split('"GET ', 1)[1].split(" HTTP/", 1)[0]
        q = parse_qs(urlsplit(url).query).get("query")
        if not url.startswith("/sparql") or not q:
            continue
        n_hits += 1
        res = _parse_one_uncached(q[0])
        if not res[0]:
            n_rejected += 1
            continue
        by_hash[res[5]].add(q[0])
    assert n_hits == inp.expected["n_hits"]
    assert n_rejected == inp.expected["n_rejected"]
    assert len(by_hash) == inp.expected["n_distinct_bgps"]


def test_build_plants_match_pool():
    inp = gen.build_inputs(5, 400)
    assert inp.n_parse_ok == inp.props["mentions_planted"] > 0
    assert 10 < inp.n_distinct_bgps <= 30
    assert sum(inp.top_counts) <= inp.n_parse_ok


def test_event_log_reader_parses_sample():
    got = read_event_log(os.path.join(HERE, "data", "sample_eventlog.json"))
    assert set(got) == {"", "pb2.extract.parse_sink", "pb29.triples.merge", "pb7.triples.fixture"}
    sink = got["pb2.extract.parse_sink"]
    assert (sink["jobs"], sink["tasks"]) == (1, 4)
    assert sink["executor_run_s"] == pytest.approx(7.679)
    assert sink["executor_cpu_s"] == pytest.approx(0.159229, abs=1e-6)
    assert sink["wait_s"] == pytest.approx(7.679 - 0.159229, abs=1e-6)
    merge = got["pb29.triples.merge"]
    assert (merge["jobs"], merge["tasks"]) == (7, 10)
    assert merge["gc_s"] == pytest.approx(0.096)
    assert merge["shuffle_write_mb"] == pytest.approx(0.731487, abs=1e-6)
    assert merge["shuffle_read_mb"] == pytest.approx(0.731487, abs=1e-6)
    assert merge["task_skew"] == pytest.approx(1.726496, abs=1e-6)
    assert got["pb7.triples.fixture"]["spill_mb"] == 0.0


def test_span_counters_sum_by_name():
    tr = Tracer()
    with tr.span("a"):
        with tr.span("b"):
            pass
    with tr.span("a"):
        pass
    assert [s["name"] for s in tr.spans] == ["b", "a", "a"]
    assert tr.spans[0]["parent"] == tr.spans[1]["group"]
    base = {k: 1.0 for k in ("executor_run_s", "executor_cpu_s", "wait_s", "gc_s",
                             "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "jobs", "tasks")}
    by_group = {s["group"]: dict(base, task_skew=2.0 + i) for i, s in enumerate(tr.spans)}
    c = span_counters(tr, by_group)
    assert c["a"]["jobs"] == 2.0 and c["b"]["jobs"] == 1.0
    assert c["a"]["task_skew"] == 4.0


def test_benchmark_json_matches_code():
    from perfbench.run import END_TO_END
    from perfbench.traced import WALL_SPANS, per_layer_units

    from perfbench.run import BENCH_WORKLOADS

    assert [w["name"] for w in SPEC["workloads"]] == list(BENCH_WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == per_layer_units()
    assert len(SPEC["per_layer"]) <= 128
    assert all(s + "_s" in per_layer_units() for s in WALL_SPANS)


def _run(args, cwd=ROOT, timeout=600):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


@pytest.mark.parametrize("workload,scale", [("build", 0.1), ("serve", 0.1)])
def test_tiny_run_passes_checks(workload, scale):
    p = _run(["--workload", workload, "--seed", "4", "--seconds", "0.1",
              "--trace", "0", "--scale", str(scale)])
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert set(res["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    assert all(m["value"] > 0 for m in res["metrics"].values())


def test_tiny_traced_run_reports_every_layer():
    p = _run(["--workload", "serve", "--seed", "4", "--seconds", "0.1",
              "--trace", "1", "--scale", "0.1"])
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for name in ("extract.parse_sink_s", "logs.read_s", "triples.merge_s",
                 "eval.exec_s", "extract.parse_sink.executor_run_s"):
        assert res["metrics"][name]["value"] > 0, name


def test_exits_nonzero_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    p = _run(["--workload", "build", "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=str(tmp_path), timeout=120)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
