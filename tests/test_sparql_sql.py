"""The SPARQL evaluator compiles each query into ONE parameterized
``spark.sql`` statement (sparql/eval.py).  Two families of checks:

* binding: RDF constants, FILTER/REGEX literals, VALUES rows and DESCRIBE
  IRIs that contain quotes, backslashes, braces, parameter-marker-like text
  and non-ASCII characters travel as parameters or frames, never as text,
  and still give exactly the expected rows; caller column names that need
  backquoting work too;
* structure: for the serve-shaped templates and the OPTIONAL / MINUS /
  EXISTS / VALUES / GROUP BY shapes, building the plan calls
  ``SparkSession.sql`` exactly once, reads no ``DataFrame.columns`` and
  launches no Spark job.  The one exception is the ground-endpoint
  closure (graph.path_closure): one bounded Arrow fetch of its edge list,
  walked on the driver, so its plan is a LocalTableScan with no Python
  worker.
"""

import re
import time

import pytest

from kgforge.plans.inspect import physical_plan
from kgforge.sparql.eval import answer_sparql, eval_bgp, eval_bgp_delta

# each would break a statement that spliced it: an unbalanced quote, an
# escape, a kwargs-formatter field, a named-parameter marker, non-ASCII
TRICKY = ["it's", 'say "hi"', "back\\slash", "{x}", ":c0", "Zürich☃", "{0}}{ ' \" \\ :c1"]
# the subset a SPARQL IRIREF can carry (no quotes, braces, backslash, space)
IRI_SAFE = [k for k in TRICKY if not re.search(r'[<>"{}|^`\\\s]', k)]

SCHEMA = "subj string, pred string, obj string"
ROWS = (
    [(f"e{i}", "name", k) for i, k in enumerate(TRICKY)]
    + [(k, "label", f"l{i}") for i, k in enumerate(TRICKY)]
    + [(f"e{i}", "rdf_type", "Thing") for i in range(len(TRICKY))]
)


def _lit(k: str) -> str:
    """``k`` as a SPARQL string literal."""
    return '"' + k.replace("\\", "\\\\").replace('"', '\\"') + '"'


@pytest.fixture(scope="module")
def g(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


@pytest.fixture()
def statements(spark, monkeypatch):
    """Every (text, args) handed to SparkSession.sql during the test."""
    seen = []
    orig = type(spark).sql

    def sql(self, text, args=None, **kw):
        seen.append((text, dict(args or {})))
        return orig(self, text, args=args, **kw)

    monkeypatch.setattr(type(spark), "sql", sql)
    return seen


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_bgp_constants_are_parameters(g, statements):
    for i, k in enumerate(TRICKY):
        assert _rows(eval_bgp(g, [("?s", "name", k)])) == [(f"e{i}",)], k
        assert _rows(eval_bgp(g, [(k, "label", "?l")])) == [(f"l{i}",)], k
        text, args = statements[-1]
        assert k in args.values()
        if not re.fullmatch(r":c\d", k):  # a marker name is legitimately in the text
            assert k not in text


def test_filter_literals_are_parameters(g, statements):
    for i, k in enumerate(TRICKY):
        for where in (
            f"?s <name> {_lit(k)}",
            f"?s <name> ?n FILTER(?n = {_lit(k)})",
            f"?s <name> ?n FILTER(CONTAINS(?n, {_lit(k)}) && STRSTARTS(?n, {_lit(k)}))",
            f"?s <name> ?n FILTER(REGEX(?n, {_lit('^' + re.escape(k) + '$')}))",
        ):
            got = _rows(answer_sparql(g, f"SELECT ?s WHERE {{ {where} }}"))
            assert got == [(f"e{i}",)], (k, where)
            assert k in statements[-1][1].values() or "REGEX" in where
    bind = answer_sparql(g, f'SELECT ?u WHERE {{ <e0> <name> ?n BIND(CONCAT(?n, {_lit("{y}")}) AS ?u) }}')
    assert _rows(bind) == [("it's{y}",)]


def test_values_rows_and_describe_iris(g):
    got = _rows(
        answer_sparql(
            g,
            "SELECT ?s ?n WHERE { ?s <name> ?n VALUES ?n { "
            + " ".join(map(_lit, TRICKY))
            + " } }",
        )
    )
    assert got == sorted((f"e{i}", k) for i, k in enumerate(TRICKY))
    for k in IRI_SAFE:
        want = sorted(t for t in ROWS if k in (t[0], t[2]))
        assert _rows(answer_sparql(g, f"DESCRIBE <{k}>")) == want, k
        where = answer_sparql(g, f"DESCRIBE ?s <{k}> WHERE {{ ?s <name> {_lit(k)} }}")
        i = TRICKY.index(k)
        want = sorted(t for t in ROWS if {k, f"e{i}"} & {t[0], t[2]})
        assert _rows(where) == want, k


def test_caller_column_names_need_backquoting(spark, g):
    cols = dict(subj_col="s ubj", pred_col="p`red", obj_col="o{b}.j")
    odd = spark.createDataFrame(ROWS, "`s ubj` string, `p``red` string, `o{b}.j` string")
    for q in (
        "SELECT ?s ?n WHERE { ?s <name> ?n OPTIONAL { ?s <rdf_type> ?t } }",
        "SELECT ?t (COUNT(?s) AS ?c) WHERE { ?s <rdf_type> ?t } GROUP BY ?t",
        "CONSTRUCT { ?s <copy> ?n } WHERE { ?s <name> ?n }",
        "DESCRIBE <it's>",
        "ASK { <e1> <name> ?n }",
    ):
        out = answer_sparql(odd, q, **cols)
        assert _rows(out) == _rows(answer_sparql(g, q)), q
        if q.startswith(("CONSTRUCT", "DESCRIBE")):
            assert out.columns == list(cols.values())
    assert _rows(eval_bgp(odd, [("?s", "name", "{x}")], **cols)) == [("e3",)]
    delta = spark.createDataFrame([("e9", "name", "new")], odd.schema)
    assert _rows(eval_bgp_delta(odd, delta, [("?s", "name", "?n"), ("?s", "rdf_type", "?t")], **cols)) == []


# ------------------------------------------------------- structural gate
DBO, FOAF = "http://dbpedia.org/ontology/", "http://xmlns.com/foaf/0.1/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
PRE = f"PREFIX dbo: <{DBO}> PREFIX foaf: <{FOAF}> "
E, P, C = "<http://dbpedia.org/resource/E5>", "<http://dbpedia.org/resource/P1>", "<http://dbpedia.org/ontology/C0>"

# the nine serve templates of perfbench/gen.py, then the evaluator's other
# solution-modifier and graph-pattern shapes
SHAPES = {
    "star": f"SELECT ?x ?n ?p WHERE {{ ?x a {C} . ?x foaf:name ?n . ?x dbo:birthPlace ?p }}",
    "chain": f"SELECT ?x ?y ?z WHERE {{ {E} dbo:wikiPageWikiLink ?x . ?x dbo:wikiPageWikiLink ?y . ?y a ?z }}",
    "optional": f"SELECT ?x ?p WHERE {{ ?x a {C} OPTIONAL {{ ?x dbo:birthPlace ?p }} }}",
    "union": f"SELECT ?x WHERE {{ {{ ?x dbo:birthPlace {P} }} UNION {{ ?x dbo:isPartOf {P} }} }}",
    "filter": f"SELECT ?a ?b WHERE {{ {E} dbo:wikiPageWikiLink ?a . ?a dbo:wikiPageWikiLink ?b FILTER(?a != ?b) }}",
    "count": f"SELECT ?c (COUNT(?x) AS ?n) WHERE {{ ?x a ?c . ?x dbo:birthPlace ?p . ?p dbo:isPartOf {P} }} GROUP BY ?c",
    "closure": f"SELECT ?y WHERE {{ {P} dbo:isPartOf+ ?y }}",
    "describe": f"DESCRIBE {E}",
    "ask": f"ASK {{ {E} dbo:wikiPageWikiLink ?x . ?x a {C} }}",
    "optional_filter": f"SELECT ?x ?p WHERE {{ ?x a {C} OPTIONAL {{ ?x dbo:birthPlace ?p FILTER(?p != {P}) }} }}",
    "minus": f"SELECT ?x WHERE {{ ?x a {C} MINUS {{ ?x dbo:birthPlace {P} }} }}",
    "exists": f"SELECT ?x WHERE {{ ?x a {C} FILTER EXISTS {{ ?x foaf:name ?n }} }}",
    "not_exists_global": f"SELECT ?x WHERE {{ ?x a {C} FILTER NOT EXISTS {{ ?q dbo:isPartOf <http://none> }} }}",
    "values": f"SELECT ?x ?p WHERE {{ ?x dbo:birthPlace ?p VALUES ?p {{ {P} <http://dbpedia.org/resource/P2> }} }}",
    "group_order_limit": "SELECT ?c (COUNT(?x) AS ?n) (GROUP_CONCAT(?x; separator=\"|\") AS ?all) "
    "WHERE { ?x a ?c } GROUP BY ?c ORDER BY DESC(?n) ?c LIMIT 2 OFFSET 1",
    "distinct_order": f"SELECT DISTINCT ?p WHERE {{ ?x dbo:birthPlace ?p }} ORDER BY ?p",
    "bind": f"SELECT ?x ?u WHERE {{ ?x foaf:name ?n BIND(UCASE(?n) AS ?u) }}",
    "construct": f"CONSTRUCT {{ ?x <http://x/born> _:b . _:b <http://x/in> ?p }} WHERE {{ ?x dbo:birthPlace ?p }}",
    "describe_where": f"DESCRIBE * WHERE {{ ?x dbo:birthPlace {P} }}",
    "zero_or_one": f"SELECT ?y WHERE {{ {P} dbo:isPartOf? ?y }}",
    "path_alt": f"SELECT ?y WHERE {{ {E} dbo:wikiPageWikiLink|dbo:birthPlace ?y }}",
}


def _dbpedia_rows():
    r = "http://dbpedia.org/resource/"
    rows = set()
    for i in range(12):
        e = f"{r}E{i}"
        rows |= {
            (e, RDF_TYPE, f"{DBO}C{i % 3}"),
            (e, f"{FOAF}name", f"name {i}"),
            (e, f"{DBO}birthPlace", f"{r}P{i % 4}"),
            (e, f"{DBO}wikiPageWikiLink", f"{r}E{(i * 5 + 1) % 12}"),
            (e, f"{DBO}wikiPageWikiLink", f"{r}E{(i + 3) % 12}"),
        }
    rows |= {(f"{r}P{i}", f"{DBO}isPartOf", f"{r}P{i + 1}") for i in range(4)}
    return sorted(rows)


def test_one_statement_no_columns_no_jobs(spark, statements, monkeypatch):
    from kgforge.operators.graph import path_closure  # noqa: F401  (import outside the gate)

    g = spark.createDataFrame(_dbpedia_rows(), SCHEMA)
    reads = []
    cls = type(g)
    columns = cls.columns
    monkeypatch.setattr(
        cls, "columns", property(lambda self: reads.append(1) or columns.fget(self))
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        for name, q in SHAPES.items():
            before = len(statements)
            sc.setJobGroup(f"plan-{name}", "plan")
            df = answer_sparql(g, PRE + q if not q.startswith("DESCRIBE <") else q)
            sc.setJobGroup(f"barrier-{name}", "barrier")
            spark.range(1).collect()
            deadline = time.time() + 30
            while not tracker.getJobIdsForGroup(f"barrier-{name}") and time.time() < deadline:
                time.sleep(0.05)
            assert tracker.getJobIdsForGroup(f"barrier-{name}"), name
            assert len(statements) - before == 1, name
            jobs = tracker.getJobIdsForGroup(f"plan-{name}")
            assert not reads, name
            if name == "closure":
                # the seeded closure fetches its edge list (one bounded
                # Arrow fetch that also measures it) and walks it on the
                # driver: the reached nodes enter the statement as a local
                # frame, so no Python worker runs at execution
                assert jobs
                plan = physical_plan(df)
                assert "LocalTableScan" in plan, plan
                for node in ("MapInPandas", "PythonUDF", "ArrowEvalPython", "BatchEvalPython"):
                    assert node not in plan, plan
            else:
                assert not jobs, name
            df.collect()  # the statement is executable
    finally:
        sc.setJobGroup("", "")
