"""SPARQL evaluation: compile a query over a materialized (subj, pred, obj)
triple table into ONE parameterized Spark SQL statement.

The engine PARSES queries (parser.py) and canonicalizes them
(canonical.py); this module ANSWERS them.  Every entry point below --
``answer_sparql``, the ``eval_*`` combinators and the incremental
``eval_bgp_delta`` -- builds the whole query as SQL text plus bindings and
hands it to ``spark.sql(text, args=..., **frames)``, so the statement is
parsed and analyzed once.  Building the same plan one DataFrame call at a
time re-analyzes the growing plan on every call (hundreds of Py4J round
trips per query, as much time as the query's execution on small graphs).

  * bindings, never splicing: every RDF constant and FILTER/BIND literal
    is a named parameter (``:c0``, ``:c1``, ...); every DataFrame input
    (the triple table, path_closure's result, VALUES / DESCRIBE node
    frames) is a named frame (``{f0}``, ...).  Identifiers are backquoted
    with backquotes and braces doubled (``_id``), so no caller column name
    or SPARQL variable can break the text or the kwargs formatter;
  * column sets are tracked in Python (``Rel.cols``) and mirror what Spark
    gives the same operators (a ``USING`` join puts its keys first), so no
    plan is analyzed just to read its ``.columns``;
  * a BGP of n triple patterns is n filtered scans joined ``USING`` their
    shared variables.  Constant positions become equality filters below
    the joins: on a predicate-partitioned graph the pred filter is a
    partition prune, and subj/obj constants reach the parquet scan as
    PushedFilters (plan-gated in tests/test_bgp_eval.py);
  * join order is greedy: seed with the most-constant pattern, then
    always extend through a shared variable; a cartesian step is taken
    only for a disjoint BGP.  AQE re-plans the join strategies at runtime;
  * bag semantics: an RDF graph is a SET of triples, so inner joins on
    shared variables reproduce SPARQL's solution multiplicities exactly,
    provided the input table is duplicate-free (the engine's own
    ``agg_dedup`` / build_graph outputs are; no defensive distinct here).

Term matching: triple tables in this engine store PLAIN strings (IRIs
without ``<>``, literal lexical forms -- see queries.py:_dm_triples and
operators/triples.py), so constants match on ``Term.value``.  Pass
``term_str`` to override (e.g. N-Triples rendering via terms.render_term
when the table stores full RDF terms).
"""

from __future__ import annotations

import re
from typing import Callable, Dict, List, NamedTuple, Optional, Sequence, Tuple

from pyspark.sql import DataFrame

from kgforge.frames import local_frame
from kgforge.sparql.parser import parse_query
from kgforge.sparql.terms import BNODE, VAR, Term, TriplePattern


def _default_term_str(t: Term) -> str:
    return t.value


_BN_SAFE = re.compile(r"[^A-Za-z_0-9]")
_NULL = "CAST(NULL AS STRING)"


def _coerce_tp(tp) -> TriplePattern:
    """Accept TriplePattern as-is, or a plain ('?s', 'p', '?o') string
    3-tuple for programmatic callers (strings starting with '?' are vars,
    everything else a constant matched verbatim)."""
    if isinstance(tp, TriplePattern):
        return tp

    def term(x) -> Term:
        if isinstance(x, Term):
            return x
        s = str(x)
        if s.startswith("?"):
            return Term(VAR, s[1:])
        return Term("iri", s)

    s, p, o = tp
    return TriplePattern(term(s), term(p), term(o))


def _var_name(t: Term) -> Optional[str]:
    """Variable column name for a term, or None for constants.  Blank nodes
    in a BGP are existential variables (SPARQL 1.1 section 5.1.1) that can
    never be projected — they get a reserved '__bn_' prefix."""
    if t.kind == VAR:
        return t.value
    if t.kind == BNODE:
        return "__bn_" + _BN_SAFE.sub("_", t.value)
    return None


def _internal(v: str) -> bool:
    """Vars invisible to 'SELECT *': bnode existentials and the parser's
    fresh sequence-path intermediates (?_pathN)."""
    return v.startswith("__bn_") or v.startswith("_path")


def _id(name: str) -> str:
    """Backquoted identifier, safe in the SQL text (doubled backquotes) and
    through spark.sql's kwargs formatter (doubled braces)."""
    return "`" + name.replace("`", "``").replace("{", "{{").replace("}", "}}") + "`"


def _sel(cols: Sequence[str]) -> str:
    # a relation without columns (fully-ground BGP) still needs a select
    # list; ``_Sql.run`` projects the placeholder away
    return ", ".join(map(_id, cols)) or "1 AS __unit"


class Rel(NamedTuple):
    """A relation under construction: its SQL text and its columns."""

    sql: str
    cols: Tuple[str, ...]


class _Sql:
    """The bindings of one statement: named parameters, named frames and
    common table expressions, over one triple table."""

    def __init__(
        self,
        triples: DataFrame,
        subj_col: str = "subj",
        pred_col: str = "pred",
        obj_col: str = "obj",
        term_str: Callable[[Term], str] = _default_term_str,
    ):
        self.spark = triples.sparkSession
        self.args: Dict[str, object] = {}
        self.frames: Dict[str, DataFrame] = {}
        self.ctes: List[str] = []
        self.cols = (subj_col, pred_col, obj_col)
        self.s, self.p, self.o = map(_id, self.cols)
        self.term_str = term_str
        self.triples = self.frame(triples)

    def lit(self, value) -> str:
        name = f"c{len(self.args)}"
        self.args[name] = value
        return ":" + name

    def const(self, term: Term) -> str:
        return self.lit(self.term_str(term))

    def frame(self, df: DataFrame) -> str:
        name = f"f{len(self.frames)}"
        self.frames[name] = df
        return "{" + name + "}"

    def cte(self, rel: Rel) -> Rel:
        """Name ``rel`` once for a statement that reads it more than once."""
        name = f"_w{len(self.ctes)}"
        self.ctes.append(f"{name} AS ({rel.sql})")
        return Rel(f"SELECT {_sel(rel.cols)} FROM {name}", rel.cols)

    def run(self, rel: Rel) -> DataFrame:
        text = ("WITH " + ", ".join(self.ctes) + " " if self.ctes else "") + rel.sql
        df = self.spark.sql(text, args=self.args, **self.frames)
        return df if rel.cols else df.select()


def _project(rel: Rel, cols: Sequence[str]) -> Rel:
    """``cols`` in this order; a var the relation does not bind projects as
    NULL (SPARQL's unbound)."""
    sel = ", ".join(f"{_id(c) if c in rel.cols else _NULL} AS {_id(c)}" for c in cols)
    return Rel(f"SELECT {sel or '1 AS __unit'} FROM ({rel.sql})", tuple(cols))


def _distinct(rel: Rel) -> Rel:
    return Rel(f"SELECT DISTINCT {_sel(rel.cols)} FROM ({rel.sql})", rel.cols)


def _union(rels: Sequence[Rel], cols: Sequence[str]) -> Rel:
    """Bag UNION of ``rels`` aligned on ``cols`` with NULL padding."""
    return Rel(" UNION ALL ".join(_project(r, cols).sql for r in rels), tuple(cols))


def _join(left: Rel, right: Rel, how: str, keys: Sequence[str], hint: str = "") -> Rel:
    """``left <how> JOIN right USING (keys)``, or ``ON true`` without keys.
    Output columns as Spark orders a USING join: keys, then the rest of
    left, then (except for semi/anti joins) the rest of right."""
    on = f"USING ({', '.join(map(_id, keys))})" if keys else "ON true"
    cols = list(keys) + [c for c in left.cols if c not in keys]
    if how not in ("LEFT SEMI", "LEFT ANTI"):
        cols += [c for c in right.cols if c not in cols]
    hint = f"/*+ {hint}(_r) */ " if hint else ""
    return Rel(
        f"SELECT {hint}{_sel(cols)} FROM ({left.sql}) AS _l {how} JOIN ({right.sql}) AS _r {on}",
        tuple(cols),
    )


def _filter_ast_vars(ast: tuple) -> set:
    """Every var name referenced by a FILTER AST."""
    kind = ast[0]
    if kind in ("or", "and"):
        return _filter_ast_vars(ast[1]) | _filter_ast_vars(ast[2])
    if kind == "not":
        return _filter_ast_vars(ast[1])
    if kind == "cmp":
        return {o[1] for o in (ast[2], ast[3]) if o[0] == "var"}
    if kind == "call":
        return {a[1] for a in ast[2] if a[0] == "var"}
    return set()


def compile_filter(q: _Sql, ast: tuple) -> str:
    """Compile a parser FILTER AST (parser.py:parse_filter_expr) into a SQL
    condition whose literals are parameters of ``q``.  SPARQL's error
    semantics map onto SQL's three-valued logic exactly: a type error (e.g.
    a non-numeric string under a numeric comparison, via try_cast -> NULL)
    makes the comparison NULL, NULL propagates through NOT/AND/OR the same
    way SPARQL errors do (false && error = false, true || error = true),
    and a NULL condition drops the row — SPARQL's 'error eliminates the
    solution'.

    Comparison typing over this engine's plain-string term model: a
    numeric literal on either side compares numerically (both sides
    try_cast to double); otherwise lexical string comparison.
    """
    kind = ast[0]
    if kind in ("or", "and"):
        return f"({compile_filter(q, ast[1])} {kind.upper()} {compile_filter(q, ast[2])})"
    if kind == "not":
        return f"(NOT {compile_filter(q, ast[1])})"

    def operand(o) -> str:
        return _id(o[1]) if o[0] == "var" else q.lit(o[1])

    if kind == "cmp":
        _, op, lhs, rhs = ast
        if op not in ("=", "!=", "<", "<=", ">", ">="):
            raise ValueError(f"unknown filter comparison {op!r}")
        a, b = operand(lhs), operand(rhs)
        if any(o[0] == "lit" and o[2] == "num" for o in (lhs, rhs)):
            a, b = f"try_cast({a} AS DOUBLE)", f"try_cast({b} AS DOUBLE)"
        return f"({a} {op} {b})"
    if kind == "call":
        _, name, args = ast
        a = operand(args[0])
        if name == "regex":
            pat = str(args[1][1])
            if len(args) == 3 and args[2][1] == "i":
                pat = "(?i)" + pat
            return f"({a} RLIKE {q.lit(pat)})"
        fn = {"contains": "contains", "strstarts": "startswith", "strends": "endswith"}
        if name in fn:
            return f"{fn[name]}({a}, {operand(args[1])})"
    raise ValueError(f"unknown filter AST node {ast!r}")


def _where(q: _Sql, filters: Sequence[tuple], cols) -> str:
    """WHERE clause for ``filters`` over a relation binding ``cols``.  A
    filter naming a var the relation does not bind is constant-false:
    SPARQL's unbound -> error -> eliminate."""
    conds = [
        compile_filter(q, fx) if _filter_ast_vars(fx) <= set(cols) else "false"
        for fx in filters
    ]
    return " WHERE " + " AND ".join(conds) if conds else ""


def _filtered(q: _Sql, rel: Rel, filters: Sequence[tuple]) -> Rel:
    if not filters:
        return rel
    return Rel(f"SELECT {_sel(rel.cols)} FROM ({rel.sql}){_where(q, filters, rel.cols)}", rel.cols)


def _value_expr(q: _Sql, ast: tuple) -> str:
    """Compile a BIND value-expression AST (parser.py:parse_bind_expr):
    operands plus CONCAT/UCASE/LCASE/STRLEN, everything string-typed over
    the plain-string term model (numeric literals keep their lexical
    float form)."""
    kind = ast[0]
    if kind == "var":
        return _id(ast[1])
    if kind == "lit":
        return f"CAST({q.lit(ast[1])} AS STRING)" if ast[2] == "num" else q.lit(ast[1])
    if kind == "fn":
        _, name, args = ast
        fn = {"concat": "concat", "ucase": "upper", "lcase": "lower", "strlen": "length"}
        if name in fn:
            cols = [f"CAST({_value_expr(q, a)} AS STRING)" for a in args]
            return f"{fn[name]}({', '.join(cols if name == 'concat' else cols[:1])})"
    raise ValueError(f"unknown bind AST node {ast!r}")


def _scan(q: _Sql, src: str, tp: TriplePattern, k: int) -> Tuple[str, List[str], int]:
    """One pattern -> (SELECT over ``src`` binding exactly its var columns,
    vars, constant count).  A fully-ground pattern selects a single marker
    row: the join treats it as an existence gate."""
    where: List[str] = []
    var_cols: Dict[str, List[str]] = {}
    for term, col in zip((tp.s, tp.p, tp.o), q.cols):
        v = _var_name(term)
        if v is None:
            where.append(f"{_id(col)} = {q.const(term)}")
        else:
            var_cols.setdefault(v, []).append(col)
    n_consts = len(where)
    # same var twice in one pattern (?x p ?x): intra-pattern equality
    where += [f"{_id(cs[0])} = {_id(c)}" for cs in var_cols.values() for c in cs[1:]]
    cond = " WHERE " + " AND ".join(where) if where else ""
    if not var_cols:
        return f"SELECT 1 AS __ground{k} FROM {src}{cond} LIMIT 1", [], n_consts
    sel = ", ".join(f"{_id(cs[0])} AS {_id(v)}" for v, cs in var_cols.items())
    return f"SELECT {sel} FROM {src}{cond}", list(var_cols), n_consts


def _bgp(
    q: _Sql,
    tps: Sequence,
    select: Optional[Sequence[str]] = None,
    filters: Sequence[tuple] = (),
    sources: Optional[Sequence[str]] = None,
) -> Rel:
    """A conjunctive BGP (then ``filters``) as one relation.  ``select``
    projects these vars in this order (a var bound nowhere projects as
    NULL); None = all non-internal vars in first-appearance order.
    ``sources`` gives each pattern its own table expression (the
    delta-join staircase); default: every pattern scans the triple table."""
    assert tps, "empty BGP"
    patterns = [_coerce_tp(tp) for tp in tps]
    sources = sources or [q.triples] * len(patterns)
    scans = [_scan(q, src, tp, k) for k, (src, tp) in enumerate(zip(sources, patterns))]
    # greedy join order: seed with the most-constant pattern, then always
    # extend through a shared variable (equi-join); a cartesian step is
    # taken only when no remaining pattern connects (disjoint BGP — legal
    # SPARQL, so supported, but never chosen while joins remain)
    remaining = list(range(len(scans)))
    seed = max(remaining, key=lambda i: (scans[i][2], -i))
    remaining.remove(seed)
    text, bound = f"({scans[seed][0]}) AS _p{seed}", set(scans[seed][1])
    while remaining:
        connected = [i for i in remaining if bound.intersection(scans[i][1])]
        if connected:
            nxt = max(
                connected,
                key=lambda i: (len(bound.intersection(scans[i][1])), scans[i][2], -i),
            )
            shared = sorted(bound.intersection(scans[nxt][1]))
            text += f" JOIN ({scans[nxt][0]}) AS _p{nxt} USING ({', '.join(map(_id, shared))})"
        else:
            nxt = max(remaining, key=lambda i: (scans[i][2], -i))
            text += f" CROSS JOIN ({scans[nxt][0]}) AS _p{nxt}"
        remaining.remove(nxt)
        bound.update(scans[nxt][1])
    order = list(dict.fromkeys(v for sc in scans for v in sc[1]))
    if select is not None:
        cols = list(select)
        sel = ", ".join(f"{_id(v) if v in bound else _NULL} AS {_id(v)}" for v in cols)
    else:
        # all vars internal (e.g. a pure-bnode ASK pattern): keep them
        cols = [v for v in order if not _internal(v)] or order
        sel = _sel(cols)
    return Rel(f"SELECT {sel or '1 AS __unit'} FROM {text}{_where(q, filters, bound)}", tuple(cols))


def eval_bgp(
    triples: DataFrame,
    tps: Sequence,
    select: Optional[Sequence[str]] = None,
    distinct: bool = False,
    filters: Sequence[tuple] = (),
    **kw,
) -> DataFrame:
    """Evaluate a conjunctive BGP; returns one column per variable.

    ``select``: project these vars in this order (a var bound nowhere in
    the BGP projects as NULL, per SPARQL's unbound semantics); None = all
    non-internal vars in first-appearance order.  ``distinct`` applies
    SELECT DISTINCT set semantics; default is SPARQL's bag semantics.
    ``filters`` are parser FILTER ASTs applied before the projection.
    ``kw``: subj_col / pred_col / obj_col / term_str.
    """
    q = _Sql(triples, **kw)
    rel = _bgp(q, tps, select, filters)
    return q.run(_distinct(rel) if distinct else rel)


def eval_bgp_delta(
    old_triples: DataFrame,
    delta_triples: DataFrame,
    tps: Sequence,
    select: Optional[Sequence[str]] = None,
    filters: Sequence[tuple] = (),
    **kw,
) -> DataFrame:
    """Incremental BGP view maintenance for an INSERT batch: the solutions
    that exist over (old UNION delta) but not over old alone, produced
    WITHOUT re-evaluating the query on the full graph.

    The classic delta-join staircase (bag-exact, the same decomposition
    differential/DBSP systems use for joins): for a conjunctive query over
    patterns t1..tn,

        DELTA(Q) = SUM_i  t1..t_{i-1}@old  JOIN  Dt_i  JOIN  t_{i+1}..tn@new

    where new = old UNION delta.  Each new solution uses at least one
    delta triple; indexing the sum by the FIRST pattern position bound to
    a delta triple produces every new solution exactly once (bag
    multiplicities included), so the result can be UNION ALL'd onto the
    old solution set with no dedup.  Both frames must belong to one
    SparkSession.

    Scale shape: n evaluations whose i-th scan is the (small) delta —
    every staircase term is a join chain seeded by the batch, so work is
    proportional to the delta's match volume, not the corpus.  The
    alternative — recompute over old+delta and anti-join — rescans the
    whole graph per batch.
    """
    q = _Sql(old_triples, **kw)
    old, delta, cols = q.triples, q.frame(delta_triples), _sel(q.cols)
    new = q.cte(Rel(f"SELECT {cols} FROM {old} UNION ALL SELECT {cols} FROM {delta}", q.cols))
    new_src = "(" + new.sql + ")"
    parts = [
        _bgp(q, tps, select, filters, [old] * i + [delta] + [new_src] * (len(tps) - i - 1))
        for i in range(len(tps))
    ]
    return q.run(_union(parts, parts[0].cols))


def _leftjoin(sols: Rel, opt: Rel) -> Rel:
    """SPARQL's LeftJoin of BGP-shaped solutions: every mentioned var is
    bound, so compatibility is equality on the shared vars — a left outer
    join; with no shared vars the spec degenerates to sols x opt, keeping
    sols rows when opt is empty (``ON true``)."""
    return _join(sols, opt, "LEFT", sorted(set(sols.cols) & set(opt.cols)))


def _minus(sols: Rel, m: Rel) -> Rel:
    """SPARQL MINUS: drop solutions compatible with some ``m`` solution ON
    AT LEAST ONE shared var — a LEFT ANTI join on the shared vars; with no
    shared vars the spec keeps every solution (disjoint domains are never
    'compatible', SPARQL 8.3)."""
    shared = sorted(set(sols.cols) & set(m.cols))
    return _join(sols, _distinct(_project(m, shared)), "LEFT ANTI", shared) if shared else sols


def _tail(rel: Rel, select: Optional[Sequence[str]], distinct: bool) -> Rel:
    rel = _project(rel, select) if select is not None else rel
    return _distinct(rel) if distinct else rel


def eval_optional(
    triples: DataFrame,
    base_tps: Sequence,
    optional_tps: Sequence,
    select: Optional[Sequence[str]] = None,
    distinct: bool = False,
    **kw,
) -> DataFrame:
    """Base BGP extended by an OPTIONAL group (SPARQL's LeftJoin)."""
    q = _Sql(triples, **kw)
    return q.run(_tail(_leftjoin(_bgp(q, base_tps), _bgp(q, optional_tps)), select, distinct))


def eval_union(
    triples: DataFrame,
    groups: Sequence[Sequence],
    select: Optional[Sequence[str]] = None,
    distinct: bool = False,
    **kw,
) -> DataFrame:
    """UNION of BGP groups (bag semantics).  Branch solution sets are
    aligned on the union of their variables — a var absent from a branch
    is NULL there (SPARQL unbound), exactly SQL UNION ALL with NULL
    padding."""
    assert groups, "empty UNION"
    q = _Sql(triples, **kw)
    arms = [_bgp(q, g) for g in groups]
    cols = select if select is not None else _visible(arms)
    return q.run(_tail(_union(arms, cols), None, distinct))


def eval_minus(
    triples: DataFrame,
    base_tps: Sequence,
    minus_tps: Sequence,
    select: Optional[Sequence[str]] = None,
    distinct: bool = False,
    **kw,
) -> DataFrame:
    """Base BGP minus a MINUS group (see ``_minus``)."""
    q = _Sql(triples, **kw)
    return q.run(_tail(_minus(_bgp(q, base_tps), _bgp(q, minus_tps)), select, distinct))


def _visible(rels: Sequence[Rel]) -> List[str]:
    """Non-internal columns of ``rels`` in first-appearance order."""
    return list(dict.fromkeys(c for r in rels for c in r.cols if not _internal(c)))


def eval_construct(
    triples: DataFrame,
    where_tps: Sequence,
    template: Optional[Sequence] = None,
    filters: Sequence[tuple] = (),
    **kw,
) -> DataFrame:
    """CONSTRUCT: instantiate a triple template once per WHERE-BGP solution
    and return the resulting GRAPH as a (subj, pred, obj) frame — the
    operator that makes the engine a graph REWRITER, not just a reader
    (materialized inference rules: body = WHERE, head = template).
    ``template=None`` is the 'CONSTRUCT WHERE { ... }' shorthand (template
    = the WHERE pattern).  Returns columns (subj_col, pred_col, obj_col).
    """
    q = _Sql(triples, **kw)
    tpl = template if template is not None else where_tps
    return q.run(_instantiate(q, _bgp(q, where_tps, filters=filters), tpl))


def _instantiate(q: _Sql, sols: Rel, tpl: Sequence) -> Rel:
    """Semantics per SPARQL 1.1 section 10.2, all shapes distributed:
      * template vars substitute their binding; a solution leaving any
        position unbound instantiates nothing for that template TP
        (dropped row, not a NULL triple);
      * template BNODES mint a fresh node per (solution, label): md5 over
        the solution's full binding tuple + label — deterministic,
        collision-safe at graph scale, and shared across template TPs of
        the same solution, so bnode-linked template structures stay
        connected;
      * the output is an RDF GRAPH, i.e. a SET: one distinct at the end.
    """
    sols = q.cte(sols) if len(tpl) > 1 else sols
    # one deterministic bnode seed per solution: every bound var value
    # (md5 of the concatenated binding tuple; unit separator avoids
    # ("ab","c") == ("a","bc") seed collisions)
    bound = sorted(sols.cols)

    def pos(term: Term) -> str:
        v = _var_name(term)
        if v is None:
            return q.const(term)
        if term.kind == BNODE:
            seed = f"md5(concat_ws({', '.join([q.lit(chr(31))] + [_id(c) for c in bound])}))"
            return f"concat({q.lit('_:')}, substring(md5(concat({seed}, {q.lit(v)})), 1, 16))"
        return _id(v) if v in bound else _NULL

    s, p, o = q.s, q.p, q.o
    arms = " UNION ALL ".join(
        f"SELECT {pos(tp.s)} AS {s}, {pos(tp.p)} AS {p}, {pos(tp.o)} AS {o} FROM ({sols.sql})"
        for tp in map(_coerce_tp, tpl)
    )
    return Rel(
        f"SELECT DISTINCT {s}, {p}, {o} FROM ({arms})"
        f" WHERE {s} IS NOT NULL AND {p} IS NOT NULL AND {o} IS NOT NULL",
        q.cols,
    )


def _describe(q: _Sql, nodes: Optional[Rel]) -> Rel:
    """Symmetric description of a node set: every triple with the node as
    subject or object — the standard SPARQL DESCRIBE rendition over this
    engine's bnode-free plain-string graphs (no CBD bnode closure needed).
    ONE scan of the triple table with two broadcast hash left-joins
    against the DISTINCT node set; the OR-match is a post-join filter,
    which keeps both probes hashable (an OR join condition would degrade
    to a nested-loop join); one distinct dedupes triples matched from both
    ends.  ``nodes=None`` (a DESCRIBE of vars bound nowhere) describes
    nothing."""
    s, p, o = q.s, q.p, q.o
    if nodes is None:
        return Rel(f"SELECT {s}, {p}, {o} FROM {q.triples} WHERE false", q.cols)
    nd = q.cte(_distinct(nodes))
    return Rel(
        f"SELECT /*+ BROADCAST(_hs, _ho) */ DISTINCT _t.{s}, _t.{p}, _t.{o}"
        f" FROM {q.triples} AS _t"
        f" LEFT JOIN ({nd.sql}) AS _hs ON _t.{s} = _hs.node"
        f" LEFT JOIN ({nd.sql}) AS _ho ON _t.{o} = _ho.node"
        " WHERE _hs.node IS NOT NULL OR _ho.node IS NOT NULL",
        q.cols,
    )


def _closure(q: _Sql, triples: DataFrame, r) -> Rel:
    """Exact 'p+'/'p*'/'p?' between two endpoint terms: the reachable
    (__s, __o) pairs, then the endpoint bindings — never the parser's
    bounded expansion."""
    from kgforge.operators.graph import path_closure

    s, o = q.s, q.o
    s_t, p_t, inv, kind, o_t = r.closure
    if kind == "?":
        # zero-or-one: single hops UNION the identity over every graph
        # term (the zero-length arm binds all terms, section 9.3) — no
        # iteration needed.  The zero-length arm holds for x = y
        # INDEPENDENT of graph membership (section 9.3 evaluates it over
        # the query's terms too), so a constant endpoint absent from the
        # graph still contributes its identity solution
        a, b = (o, s) if inv else (s, o)
        arms = [
            f"SELECT {a} AS __s, {b} AS __o FROM {q.triples} WHERE {q.p} = {q.const(p_t)}",
            f"SELECT __t AS __s, __t AS __o FROM"
            f" (SELECT explode(array({s}, {o})) AS __t FROM {q.triples})",
        ]
        for const in sorted({q.term_str(t) for t in (s_t, o_t) if _var_name(t) is None}):
            c = q.lit(const)
            arms.append(f"SELECT {c} AS __s, {c} AS __o")
        reach = f"SELECT DISTINCT __s, __o FROM ({' UNION ALL '.join(arms)})"
    else:
        # ground-endpoint routing: a path endpoint is a known constant when
        # the pattern term is ground OR a top-level conjunctive FILTER pins
        # its var to a plain (non-numeric) literal; those closures run as a
        # seeded frontier BFS over the constant's reachable set instead of
        # the all-pairs closure filtered afterwards.  The filter stays in
        # r.filters and re-applies later (idempotent on the seeded rows)
        def _eq_pin(fx, var):
            if fx[0] == "and":
                return _eq_pin(fx[1], var) or _eq_pin(fx[2], var)
            if fx[0] == "cmp" and fx[1] == "=":
                for x, y in ((fx[2], fx[3]), (fx[3], fx[2])):
                    if x[0] == "var" and x[1] == var and y[0] == "lit" and y[2] != "num":
                        return str(y[1])
            return None

        def _const_of(term):
            v = _var_name(term)
            if v is None:
                return q.term_str(term)
            return next(
                (c for c in (_eq_pin(fx, v) for fx in r.filters) if c is not None), None
            )

        subj_col, pred_col, obj_col = q.cols
        reach_df = path_closure(
            triples, ("^" if inv else "") + q.term_str(p_t),
            subj_col=subj_col, pred_col=pred_col, obj_col=obj_col,
            include_zero=(kind == "*"), src=_const_of(s_t), dst=_const_of(o_t),
        )
        reach = f"SELECT {s} AS __s, {o} AS __o FROM {q.frame(reach_df)}"
    conds = [f"{c} = {q.const(t)}" for t, c in ((s_t, "__s"), (o_t, "__o")) if _var_name(t) is None]
    sv, ov = _var_name(s_t), _var_name(o_t)
    if sv is not None and sv == ov:
        conds.append("__s = __o")
    sel = ([("__s", sv)] if sv is not None else []) + (
        [("__o", ov)] if ov is not None and ov != sv else []
    )
    if not sel:
        sel = [("__s", "__s"), ("__o", "__o")]
    where = " WHERE " + " AND ".join(conds) if conds else ""
    return Rel(
        f"SELECT {', '.join(f'{c} AS {_id(v)}' for c, v in sel)} FROM ({reach}){where}",
        tuple(v for _, v in sel),
    )


def _path_alt(q: _Sql, r) -> Rel:
    """'p|q' (or 'a/b|c') path: the exact union of its arm chains; each arm
    becomes a fresh-var TP chain between the same endpoints."""
    s_t, arms, o_t = r.path_alt
    evars = list(dict.fromkeys(v for v in map(_var_name, (s_t, o_t)) if v is not None))
    parts = []
    for ai, steps in enumerate(arms):
        nodes = [s_t] + [Term(VAR, f"_path_alt{ai}_{j}") for j in range(len(steps) - 1)] + [o_t]
        arm_tps = [
            TriplePattern(nodes[j + 1], p_t, nodes[j]) if inv
            else TriplePattern(nodes[j], p_t, nodes[j + 1])
            for j, (inv, p_t) in enumerate(steps)
        ]
        arm = _bgp(q, arm_tps, select=evars or None)
        if not evars:
            # fully-ground path (ASK-style): reduce each arm to an
            # existence marker so the arms union on a common shape
            arm = Rel(f"SELECT 1 AS __hit FROM ({arm.sql}) LIMIT 1", ("__hit",))
        parts.append(arm)
    return _union(parts, parts[0].cols)


def _aggregate(q: _Sql, sols: Rel, r) -> Rel:
    """Group/Aggregate: COUNT/SUM/AVG/MIN/MAX/SAMPLE/GROUP_CONCAT."""
    aggs = []
    for fn, var, dist, alias, *rest in r.aggregates:
        v = _id(var) if var is not None else None
        if fn == "COUNT":
            e = "count(1)" if v is None else f"count({'DISTINCT ' if dist else ''}{v})"
        elif fn == "SAMPLE":
            # SAMPLE may return ANY value of the group (SPARQL 1.1 section
            # 18.5.1.9) — min() is a legal, DETERMINISTIC choice, which also
            # makes the result oracle-replayable
            e = f"min({v})"
        elif fn == "GROUP_CONCAT":
            # element order is implementation-defined in the spec; this
            # engine SORTS the group for determinism (and oracle replay via
            # string_agg(... ORDER BY ...))
            sep = q.lit(rest[0] if rest else " ")
            e = f"array_join(array_sort({'collect_set' if dist else 'collect_list'}({v})), {sep})"
        elif fn in ("SUM", "AVG"):
            # numeric aggregation over the plain-string term model:
            # non-numeric values become NULL and are skipped (the registered
            # oracles replay the same try_cast)
            e = f"{fn.lower()}(try_cast({v} AS DOUBLE))"
        else:
            e = f"{fn.lower()}({v})"
        aggs.append(f"{e} AS {_id(alias)}")
    keys = ", ".join(map(_id, r.group_by))
    if not aggs:  # GROUP BY without aggregates: grouped projection
        return _distinct(_project(sols, r.group_by))
    group = f" GROUP BY {keys}" if keys else ""
    return Rel(
        f"SELECT {', '.join(([keys] if keys else []) + aggs)} FROM ({sols.sql}){group}",
        tuple(r.group_by) + tuple(a[3] for a in r.aggregates),
    )


def answer_sparql(
    triples: DataFrame,
    query_text: str,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    term_str: Callable[[Term], str] = _default_term_str,
) -> DataFrame:
    """Parse a SPARQL query string and answer it over the triple table as
    ONE parameterized ``spark.sql`` statement (see the module docstring):
    no Spark job runs while the plan is built, except inside the exact
    closure (graph.path_closure): a ground-endpoint 'p+'/'p*' fetches its
    edge list once (one bounded Arrow fetch, walked on the driver and
    returned as a local frame), the all-pairs closure measures and
    materializes its edge list.  The evaluable subset:

      * forms: SELECT [DISTINCT], ASK (one (ask: boolean) row),
        CONSTRUCT (templates incl. deterministic fresh bnodes, 'CONSTRUCT
        WHERE' shorthand), DESCRIBE (explicit IRIs and/or WHERE-bound
        vars, '*');
      * BGPs with prefixes, 'a', predicate-object/object lists, bnodes,
        collections; single-arm '/' and '^' property paths; quantified
        single-predicate paths 'p+'/'p*' (EXACT, via path_closure) and
        'p?'; quantifier-free alternatives 'p|q' (arm-chain unions);
      * top-level OPTIONAL / UNION / MINUS / UNDEF-free VALUES / FILTER
        (comparisons, &&/||/!, REGEX/CONTAINS/STRSTARTS/STRENDS) /
        FILTER [NOT] EXISTS / BIND (CONCAT/UCASE/LCASE/STRLEN);
      * aggregates COUNT/SUM/AVG/MIN/MAX/SAMPLE/GROUP_CONCAT + GROUP BY,
        ORDER BY / LIMIT / OFFSET in the spec's operation order.

    EVERYTHING ELSE — and every combination whose algebra the captured
    structure cannot represent exactly (nested OPTIONALs, base TPs after
    a LeftJoin span, OPTIONAL+MINUS/EXISTS mixes, expression keys,
    sub-SELECT, GRAPH/SERVICE, ...) — raises NotImplementedError rather
    than returning a silently-wrong answer; parse rejects raise
    ValueError.  The eval_* combinators and graph.path_closure remain the
    programmatic escape hatches for demoted shapes.
    """
    r = parse_query(query_text)
    if not r.parse_ok:
        raise ValueError(f"SPARQL parse reject: {r.error}")
    if not r.evaluable:
        raise NotImplementedError(
            "query parses but is outside the exactly-evaluable subset "
            "(see answer_sparql docstring for the supported forms and the "
            "demotion boundaries); use the eval_* combinators / "
            "path_closure for the demoted shapes"
        )
    q = _Sql(triples, subj_col, pred_col, obj_col, term_str)
    spark = triples.sparkSession
    iris = [(term_str(t),) for t in r.describe_terms if t.kind != VAR]
    iri_rel = Rel(f"SELECT node FROM {q.frame(local_frame(spark, iris, 'node string'))}",
                  ("node",)) if iris else None
    if r.query_form == "DESCRIBE" and not r.tps:
        # DESCRIBE <iri> ...: no WHERE — straight to the description
        return q.run(_describe(q, iri_rel))
    # solution relation: the exact closure, a path alternative, ONE
    # top-level UNION chain (NULL-padded union of conjunctive arms, each
    # with its arm-scoped filters), or the conjunctive base; then VALUES,
    # each top-level OPTIONAL group LeftJoining in query order (its own
    # filters pre-join, group-scoped — parser guarantees the scope), MINUS,
    # BIND, [NOT] EXISTS, and the main group's FILTERs over the full
    # relation (possibly-unbound vars: NULL comparisons drop rows, exactly
    # SPARQL's unbound -> error -> eliminate)
    if r.closure is not None:
        sols = _closure(q, triples, r)
    elif r.path_alt is not None:
        sols = _path_alt(q, r)
    elif r.unions:
        arms = [_bgp(q, tps, filters=fs) for tps, fs in r.unions]
        sols = _union(arms, _visible(arms))
    else:
        sols = _bgp(q, r.base_tps if r.base_tps is not None else r.tps)
    if r.values is not None:
        # inline VALUES table: the parser guarantees its vars are bound in
        # the base/every arm, so a plain inner equi-join is exact SPARQL
        # Join(group, data) — with the literal rows broadcast
        vvars, vrows = r.values
        inline = local_frame(spark, vrows, ", ".join(f"{v} string" for v in vvars))
        sols = _join(sols, Rel(f"SELECT {_sel(vvars)} FROM {q.frame(inline)}", tuple(vvars)),
                     "INNER", list(vvars), "BROADCAST")
    for tps, fs in r.optionals:
        sols = _leftjoin(sols, _bgp(q, tps, filters=fs))
    for tps, fs in r.minuses:
        sols = _minus(sols, _bgp(q, tps, filters=fs))
    for expr, bvar in r.binds:
        e = _value_expr(q, expr)
        cols = sols.cols + (() if bvar in sols.cols else (bvar,))
        sel = ", ".join(f"{e} AS {_id(c)}" if c == bvar else _id(c) for c in cols)
        sols = Rel(f"SELECT {sel} FROM ({sols.sql})", cols)
    for neg, tps, fs in r.exists:
        pat = _bgp(q, tps, filters=fs)
        shared = sorted(set(sols.cols) & set(pat.cols))
        if shared:
            how = "LEFT ANTI" if neg else "LEFT SEMI"
            sols = _join(sols, _distinct(_project(pat, shared)), how, shared)
        else:
            # uncorrelated pattern: a GLOBAL existence gate over all rows
            marker = Rel(f"SELECT 1 AS __exm FROM ({pat.sql}) LIMIT 1", ("__exm",))
            gated = _join(sols, marker, "LEFT", [], "BROADCAST")
            test = "IS NULL" if neg else "IS NOT NULL"
            sols = Rel(f"SELECT {_sel(sols.cols)} FROM ({gated.sql}) WHERE __exm {test}", sols.cols)
    sols = _filtered(q, sols, r.filters)
    if r.query_form == "CONSTRUCT":
        return q.run(_instantiate(q, sols, r.template if r.template is not None else r.tps))
    if r.query_form == "ASK":
        one = f"SELECT {_sel(sols.cols)} FROM ({sols.sql}) LIMIT 1"
        return q.run(Rel(f"SELECT count(1) > 0 AS ask FROM ({one})", ("ask",)))
    if r.query_form == "DESCRIBE":
        dvars = [t.value for t in r.describe_terms if t.kind == VAR]
        if r.describe_star:
            dvars = [c for c in sols.cols if not _internal(c)]
        dvars = [v for v in dvars if v in sols.cols]
        if len(dvars) > 1:
            sols = q.cte(sols)
        parts = [Rel(f"SELECT {_id(v)} AS node FROM ({sols.sql})", ("node",)) for v in dvars]
        parts += [iri_rel] if iri_rel else []
        # a DESCRIBE of a var bound nowhere in the WHERE clause describes
        # nothing: an empty description, not an error
        return q.run(_describe(q, _union(parts, ("node",)) if parts else None))
    # SELECT tail, in the spec's operation order: Group/Aggregate ->
    # OrderBy -> Projection -> Distinct -> Slice.  (With DISTINCT the
    # parser restricted sort keys to projected vars, so sorting after the
    # distinct is equivalent and keeps the order intact.)
    if r.aggregates or r.group_by:
        sols = _aggregate(q, sols, r)
    keys = ", ".join(f"{_id(v)} {'DESC' if d else 'ASC'}" for v, d in r.order_by)
    order = f" ORDER BY {keys}" if keys else ""
    if not r.distinct and order:
        sols = Rel(f"SELECT {_sel(sols.cols)} FROM ({sols.sql}){order}", sols.cols)
    sols = _tail(sols, r.select_vars, r.distinct)
    if r.distinct and order:
        sols = Rel(f"SELECT {_sel(sols.cols)} FROM ({sols.sql}){order}", sols.cols)
    if r.limit is not None or r.offset is not None:
        limit = f" LIMIT {int(r.limit)}" if r.limit is not None else ""
        offset = f" OFFSET {int(r.offset)}" if r.offset is not None else ""
        sols = Rel(f"SELECT {_sel(sols.cols)} FROM ({sols.sql}){limit}{offset}", sols.cols)
    return q.run(sols)
