"""BGP evaluation: compile SPARQL basic graph patterns into DataFrame plans
over a materialized (subj, pred, obj) triple table.

The missing half of the SPARQL surface until round 6: the engine could
PARSE queries (parser.py), canonicalize them (canonical.py), and answer
sequence property paths (operators/graph.py:path_compose) — this module
makes it ANSWER them.  A BGP of n triple patterns compiles to n filtered
scans of the triple table joined on their shared variables; everything is
declarative DataFrame API, so Catalyst owns the physical strategy:

  * constant positions become equality filters BEFORE any join — on a
    predicate-partitioned graph table the pred filter is a partition prune,
    and subj/obj constants reach the parquet scan as PushedFilters
    (plan-gated in tests/test_bgp_eval.py);
  * join order is chosen greedily by selectivity (most constant positions
    first) and connectivity (never a cartesian product while a connected
    pattern remains) — the classic heuristic for star/chain BGPs.  AQE
    re-plans the actual join strategies at runtime (a 2-constant pattern
    usually collapses to a broadcast side);
  * bag semantics: an RDF graph is a SET of triples, so inner joins on
    shared variables reproduce SPARQL's solution multiplicities exactly,
    provided the input table is duplicate-free (the engine's own
    `agg_dedup` / build_graph outputs are; we deliberately do NOT pay a
    defensive distinct shuffle here).

Scale: the only shuffles are the pattern joins themselves, each keyed on a
bound variable column.  No driver-side data, no UDFs, no collect — a
100-pattern query is 100 scans of partition-pruned slices joined by
Catalyst, the same plan shape a SQL engine gives 100 dimension joins.

Term matching: triple tables in this engine store PLAIN strings (IRIs
without ``<>``, literal lexical forms — see queries.py:_dm_triples and
operators/triples.py), so constants match on ``Term.value``.  Pass
``term_str`` to override (e.g. N-Triples rendering via terms.render_term
when the table stores full RDF terms).
"""

from __future__ import annotations

import re
from typing import Callable, List, Optional, Sequence, Set, Tuple

from pyspark.sql import DataFrame, functions as F

from kgforge.frames import local_frame
from kgforge.sparql.parser import parse_query
from kgforge.sparql.terms import BNODE, VAR, Term, TriplePattern


def _default_term_str(t: Term) -> str:
    return t.value


_BN_SAFE = re.compile(r"[^A-Za-z_0-9]")


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


def _tp_scan(
    triples: DataFrame,
    tp: TriplePattern,
    cols: Tuple[str, str, str],
    term_str: Callable[[Term], str],
) -> Tuple[DataFrame, Set[str], int]:
    """One pattern -> (scan DataFrame selecting exactly its var columns,
    var set, constant count).  Fully-ground patterns (no vars) return a
    single marker column; the join loop treats them as existence gates."""
    pos = list(zip((tp.s, tp.p, tp.o), cols))
    df = triples
    n_consts = 0
    var_cols: dict = {}
    for term, col in pos:
        v = _var_name(term)
        if v is None:
            df = df.filter(F.col(col) == term_str(term))
            n_consts += 1
        else:
            var_cols.setdefault(v, []).append(col)
    # same var twice in one pattern (?x p ?x): intra-pattern equality
    for v, cs in var_cols.items():
        for extra in cs[1:]:
            df = df.filter(F.col(cs[0]) == F.col(extra))
    if not var_cols:
        return df.select(F.lit(1).alias("__ground")).limit(1), set(), n_consts
    sel = [F.col(cs[0]).alias(v) for v, cs in var_cols.items()]
    return df.select(*sel), set(var_cols), n_consts


def eval_bgp(
    triples: DataFrame,
    tps: Sequence,
    select: Optional[Sequence[str]] = None,
    distinct: bool = False,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    term_str: Callable[[Term], str] = _default_term_str,
    per_tp_triples: Optional[Sequence[DataFrame]] = None,
) -> DataFrame:
    """Evaluate a conjunctive BGP; returns one column per variable.

    ``select``: project these vars in this order (a var bound nowhere in
    the BGP projects as NULL, per SPARQL's unbound semantics); None = all
    non-internal vars in first-appearance order.  ``distinct`` applies
    SELECT DISTINCT set semantics; default is SPARQL's bag semantics.
    """
    assert tps, "empty BGP"
    cols = (subj_col, pred_col, obj_col)
    patterns = [_coerce_tp(tp) for tp in tps]
    # per_tp_triples: one source frame per pattern (the incremental
    # delta-staircase uses old/delta/new mixes — eval_bgp_delta below);
    # default: every pattern scans the same table
    sources = (
        per_tp_triples if per_tp_triples is not None else [triples] * len(patterns)
    )
    assert len(sources) == len(patterns)
    scans = [
        _tp_scan(src, tp, cols, term_str) for src, tp in zip(sources, patterns)
    ]

    # var order for SELECT *: first appearance in pattern-position order
    order: List[str] = []
    for tp in patterns:
        for term in (tp.s, tp.p, tp.o):
            v = _var_name(term)
            if v is not None and v not in order:
                order.append(v)

    # greedy join order: seed with the most-constant pattern, then always
    # extend through a shared variable (equi-join); a cartesian step is
    # taken only when no remaining pattern connects (disjoint BGP — legal
    # SPARQL, so supported, but never chosen while joins remain)
    remaining = list(range(len(scans)))
    seed = max(remaining, key=lambda i: (scans[i][2], -i))
    remaining.remove(seed)
    out, bound = scans[seed][0], set(scans[seed][1])
    while remaining:
        connected = [i for i in remaining if scans[i][1] & bound]
        if connected:
            nxt = max(connected, key=lambda i: (len(scans[i][1] & bound), scans[i][2], -i))
            shared = sorted(scans[nxt][1] & bound)
            out = out.join(scans[nxt][0], on=shared)
        else:
            nxt = max(remaining, key=lambda i: (scans[i][2], -i))
            out = out.crossJoin(scans[nxt][0])
        remaining.remove(nxt)
        bound |= scans[nxt][1]
    if "__ground" in out.columns:
        out = out.drop("__ground")

    if select is not None:
        proj = [
            (F.col(v) if v in bound else F.lit(None).cast("string")).alias(v)
            for v in select
        ]
    else:
        proj = [F.col(v) for v in order if not _internal(v)]
        if not proj:  # all vars internal (e.g. pure-bnode ASK pattern)
            proj = [F.col(v) for v in order]
    out = out.select(*proj) if proj else out
    return out.distinct() if distinct else out


def eval_bgp_delta(
    old_triples: DataFrame,
    delta_triples: DataFrame,
    tps: Sequence,
    select: Optional[Sequence[str]] = None,
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
    old solution set with no dedup.

    Scale shape: n evaluations whose i-th scan is the (small) delta —
    every staircase term is a join chain seeded by the batch, so work is
    proportional to the delta's match volume, not the corpus.  The
    alternative — recompute over old+delta and anti-join — rescans the
    whole graph per batch.
    """
    new = old_triples.unionByName(delta_triples)
    parts = []
    for i in range(len(tps)):
        sources = (
            [old_triples] * i + [delta_triples] + [new] * (len(tps) - i - 1)
        )
        parts.append(
            eval_bgp(new, tps, select=select, per_tp_triples=sources, **kw)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _bgp_vars(tps: Sequence) -> List[str]:
    out: List[str] = []
    for tp in (_coerce_tp(t) for t in tps):
        for term in (tp.s, tp.p, tp.o):
            v = _var_name(term)
            if v is not None and v not in out and not _internal(v):
                out.append(v)
    return out


def eval_optional(
    triples: DataFrame,
    base_tps: Sequence,
    optional_tps: Sequence,
    select: Optional[Sequence[str]] = None,
    distinct: bool = False,
    **kw,
) -> DataFrame:
    """Base BGP extended by an OPTIONAL group: SPARQL's LeftJoin.  BGP
    solutions always bind every mentioned var, so compatibility reduces to
    equality on the shared vars — a plain left outer join; with no shared
    vars the spec degenerates to base x optional (cross), keeping base rows
    when the optional side is empty (the dummy-key left join covers both)."""
    base = eval_bgp(triples, base_tps, **kw)
    opt = eval_bgp(triples, optional_tps, **kw)
    shared = sorted(set(base.columns) & set(opt.columns))
    if shared:
        out = base.join(opt, on=shared, how="left")
    else:
        k = "__optk"
        out = (
            base.withColumn(k, F.lit(1))
            .join(opt.withColumn(k, F.lit(1)), on=k, how="left")
            .drop(k)
        )
    if select is not None:
        out = out.select(
            *[
                (F.col(v) if v in out.columns else F.lit(None).cast("string")).alias(v)
                for v in select
            ]
        )
    return out.distinct() if distinct else out


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
    if select is not None:
        allvars = list(select)
    else:
        allvars = []
        for g in groups:
            for v in _bgp_vars(g):
                if v not in allvars:
                    allvars.append(v)
    parts = []
    for g in groups:
        df = eval_bgp(triples, g, **kw)
        parts.append(
            df.select(
                *[
                    (F.col(v) if v in df.columns else F.lit(None).cast("string")).alias(v)
                    for v in allvars
                ]
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.distinct() if distinct else out


def eval_minus(
    triples: DataFrame,
    base_tps: Sequence,
    minus_tps: Sequence,
    select: Optional[Sequence[str]] = None,
    distinct: bool = False,
    **kw,
) -> DataFrame:
    """SPARQL MINUS: drop base solutions compatible with some minus-group
    solution ON AT LEAST ONE shared var.  With BGP solutions (every var
    bound) compatibility is equality on the shared vars -> LEFT ANTI join;
    with NO shared vars the spec keeps every base solution (disjoint
    domains are never 'compatible'), so base passes through unchanged."""
    base = eval_bgp(triples, base_tps, **kw)
    minus = eval_bgp(triples, minus_tps, **kw)
    shared = sorted(set(base.columns) & set(minus.columns))
    out = base.join(minus.select(*shared).distinct(), on=shared, how="left_anti") if shared else base
    if select is not None:
        out = out.select(*select)
    return out.distinct() if distinct else out


def _filter_ast_vars(ast: tuple) -> set:
    """Every var name referenced by a FILTER AST (ADVICE r6 low: used to
    detect vars absent from the solution frame before compiling)."""
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


def compile_filter(ast: tuple, columns: Sequence[str]) -> "F.Column":
    """Compile a parser FILTER AST (parser.py:parse_filter_expr) into a
    Column.  SPARQL's error semantics map onto Spark's three-valued logic
    exactly: a type error (e.g. a non-numeric string under a numeric
    comparison, via try_cast -> NULL) makes the comparison NULL, NULL
    propagates through !/&&/|| the same way SPARQL errors do (false &&
    error = false, true || error = true), and a NULL filter condition
    drops the row — which is SPARQL's 'error eliminates the solution'.

    Comparison typing over this engine's plain-string term model: a
    numeric literal on either side compares numerically (both sides
    try_cast to double); otherwise lexical string comparison.
    """
    kind = ast[0]
    if kind == "or":
        return compile_filter(ast[1], columns) | compile_filter(ast[2], columns)
    if kind == "and":
        return compile_filter(ast[1], columns) & compile_filter(ast[2], columns)
    if kind == "not":
        return ~compile_filter(ast[1], columns)
    if kind == "cmp":
        _, op, lhs, rhs = ast
        numeric = (lhs[0] == "lit" and lhs[2] == "num") or (
            rhs[0] == "lit" and rhs[2] == "num"
        )

        def operand(o):
            c = F.col(o[1]) if o[0] == "var" else F.lit(o[1])
            return c.try_cast("double") if numeric else c

        a, b = operand(lhs), operand(rhs)
        return {
            "=": a == b, "!=": a != b,
            "<": a < b, "<=": a <= b, ">": a > b, ">=": a >= b,
        }[op]
    if kind == "call":
        _, name, args = ast

        def s(o):
            return F.col(o[1]) if o[0] == "var" else F.lit(o[1])

        a = s(args[0])
        if name == "regex":
            pat = str(args[1][1])
            if len(args) == 3 and args[2][1] == "i":
                pat = "(?i)" + pat
            return a.rlike(pat)
        b = s(args[1])
        return {
            "contains": a.contains(b),
            "strstarts": a.startswith(b),
            "strends": a.endswith(b),
        }[name]
    raise ValueError(f"unknown filter AST node {ast!r}")


def _value_col(ast: tuple) -> "F.Column":
    """Compile a BIND value-expression AST (parser.py:parse_bind_expr):
    operands plus CONCAT/UCASE/LCASE/STRLEN, everything string-typed over
    the plain-string term model (numeric literals keep their lexical
    float form)."""
    kind = ast[0]
    if kind == "var":
        return F.col(ast[1])
    if kind == "lit":
        return F.lit(ast[1]).cast("string") if ast[2] == "num" else F.lit(ast[1])
    if kind == "fn":
        _, name, args = ast
        cols = [_value_col(a).cast("string") for a in args]
        if name == "concat":
            return F.concat(*cols)
        if name == "ucase":
            return F.upper(cols[0])
        if name == "lcase":
            return F.lower(cols[0])
        if name == "strlen":
            return F.length(cols[0])
    raise ValueError(f"unknown bind AST node {ast!r}")


def eval_construct(
    triples: DataFrame,
    where_tps: Sequence,
    template: Optional[Sequence] = None,
    filters: Sequence[tuple] = (),
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    term_str: Callable[[Term], str] = _default_term_str,
) -> DataFrame:
    """CONSTRUCT: instantiate a triple template once per WHERE-BGP solution
    and return the resulting GRAPH as a (subj, pred, obj) frame — the
    operator that makes the engine a graph REWRITER, not just a reader
    (materialized inference rules: body = WHERE, head = template).

    Semantics per SPARQL 1.1 section 10.2, all shapes distributed:
      * template vars substitute their binding; a solution leaving any
        position unbound instantiates nothing for that template TP
        (dropped row, not a NULL triple);
      * template BNODES mint a fresh node per (solution, label): md5 over
        the solution's full binding tuple + label — deterministic,
        collision-safe at graph scale, and shared across template TPs of
        the same solution, so bnode-linked template structures stay
        connected;
      * the output is an RDF GRAPH, i.e. a SET: one distinct shuffle at
        the end, nothing else beyond the WHERE join plan itself.

    ``template=None`` is the 'CONSTRUCT WHERE { ... }' shorthand (template
    = the WHERE pattern).  Returns columns (subj_col, pred_col, obj_col).
    """
    tpl = [_coerce_tp(t) for t in (template if template is not None else where_tps)]
    sols = eval_bgp(
        triples, where_tps,
        subj_col=subj_col, pred_col=pred_col, obj_col=obj_col, term_str=term_str,
    )
    for fx in filters:
        sols = sols.filter(compile_filter(fx, sols.columns))
    return _instantiate_template(sols, tpl, subj_col, pred_col, obj_col, term_str)


def _instantiate_template(
    sols: DataFrame,
    tpl: Sequence[TriplePattern],
    subj_col: str,
    pred_col: str,
    obj_col: str,
    term_str: Callable[[Term], str],
) -> DataFrame:
    bound = set(sols.columns)
    # one deterministic bnode seed per solution: every bound var value
    # (md5 of the concatenated binding tuple; unit separator avoids
    # ("ab","c") == ("a","bc") seed collisions)
    seed = F.md5(F.concat_ws("\x1f", *[F.col(c) for c in sorted(bound)]))

    def pos(term: Term):
        v = _var_name(term)
        if v is None:
            return F.lit(term_str(term))
        if term.kind == BNODE:
            return F.concat(F.lit("_:"), F.substring(F.md5(F.concat(seed, F.lit(v))), 1, 16))
        return F.col(v) if v in bound else F.lit(None).cast("string")

    parts = []
    for tp in tpl:
        parts.append(
            sols.select(
                pos(tp.s).alias(subj_col),
                pos(tp.p).alias(pred_col),
                pos(tp.o).alias(obj_col),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.na.drop("any").distinct()


def _describe_nodes(
    triples: DataFrame,
    nodes: DataFrame,
    subj_col: str,
    pred_col: str,
    obj_col: str,
) -> DataFrame:
    """Symmetric description of a node set: every triple with the node as
    subject or object — the standard SPARQL DESCRIBE rendition over this
    engine's bnode-free plain-string graphs (no CBD bnode closure needed;
    a full Concise Bounded Description would recurse into bnodes).  ONE
    scan of the triple table (round 7: the old two-semi-join union read
    it twice) with two broadcast hash left-joins against the DISTINCT
    node set — the OR-match folds into a post-join filter, which keeps
    both probes hashable (an OR join condition would degrade to a
    nested-loop join); one distinct dedupes triples matched from both
    ends."""
    nd = nodes.select("node").distinct()
    hit_s = nd.select(F.col("node").alias("__ds"))
    hit_o = nd.select(F.col("node").alias("__do"))
    return (
        triples.join(F.broadcast(hit_s), triples[subj_col] == F.col("__ds"), "left")
        .join(F.broadcast(hit_o), triples[obj_col] == F.col("__do"), "left")
        .filter(F.col("__ds").isNotNull() | F.col("__do").isNotNull())
        .select(subj_col, pred_col, obj_col)
        .distinct()
    )


def answer_sparql(
    triples: DataFrame,
    query_text: str,
    subj_col: str = "subj",
    pred_col: str = "pred",
    obj_col: str = "obj",
    term_str: Callable[[Term], str] = _default_term_str,
) -> DataFrame:
    """Parse a SPARQL query string and answer it over the triple table —
    the end-to-end surface (parser -> evaluator).  The evaluable subset
    after the round-6 sessions:

      * forms: SELECT [DISTINCT], ASK (one (ask: boolean) row),
        CONSTRUCT (templates incl. deterministic fresh bnodes, 'CONSTRUCT
        WHERE' shorthand), DESCRIBE (explicit IRIs and/or WHERE-bound
        vars, '*');
      * BGPs with prefixes, 'a', predicate-object/object lists, bnodes,
        collections; single-arm '/' and '^' property paths; quantified
        single-predicate paths 'p+'/'p*' (EXACT, via iterative doubling);
        quantifier-free alternatives 'p|q' (arm-chain unions);
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
    kw = dict(subj_col=subj_col, pred_col=pred_col, obj_col=obj_col, term_str=term_str)
    base = r.base_tps if r.base_tps is not None else r.tps
    if r.query_form == "DESCRIBE" and not r.tps:
        # DESCRIBE <iri> ...: no WHERE — straight to the description
        nodes = local_frame(
            triples.sparkSession, [(term_str(t),) for t in r.describe_terms], "node string"
        )
        return _describe_nodes(triples, nodes, subj_col, pred_col, obj_col)
    if (
        r.query_form == "CONSTRUCT"
        and not r.optionals
        and not r.unions
        # ADVICE r6 high: the early route joins the FLAT tps list
        # conjunctively, which silently inverts MINUS / NOT EXISTS groups
        # and drops BIND/VALUES — those shapes must take the generic path
        # below, which compiles them correctly before instantiation
        and not r.minuses
        and not r.exists
        and r.values is None
        and not r.binds
    ):
        return eval_construct(
            triples, base, template=r.template, filters=r.filters, **kw
        )
    # solution frame: either ONE top-level UNION chain (NULL-padded union
    # of conjunctive arms, each with its arm-scoped filters), or the
    # conjunctive base followed by each top-level OPTIONAL group
    # LeftJoining in query order (its own filters pre-join, group-scoped —
    # parser guarantees the scope); then the main group's FILTERs over the
    # full frame (possibly-unbound vars: NULL comparisons drop rows,
    # exactly SPARQL's unbound -> error -> eliminate)
    if r.closure is not None:
        # exact 'p+'/'p*': iterative doubling (graph.path_closure), then
        # bind the endpoint terms — never the parser's bounded expansion
        from kgforge.operators.graph import path_closure

        s_t, p_t, inv, kind, o_t = r.closure
        pred_name = ("^" if inv else "") + term_str(p_t)
        if kind == "?":
            # zero-or-one: single hops UNION the identity over every graph
            # term (the zero-length arm binds all terms, section 9.3) —
            # no iteration needed
            a, b = (obj_col, subj_col) if inv else (subj_col, obj_col)
            hops = (
                triples.filter(F.col(pred_col) == term_str(p_t))
                .select(F.col(a).alias("__s"), F.col(b).alias("__o"))
                .distinct()
            )
            terms_df = (
                # one scan of the triple derivation (round 7), not two
                triples.select(
                    F.explode(F.array(subj_col, obj_col)).alias("__t")
                ).distinct()
            )
            reach = hops.unionByName(
                terms_df.select(F.col("__t").alias("__s"), F.col("__t").alias("__o"))
            ).distinct()
            # ADVICE r6 low: the zero-length arm holds for x = y
            # INDEPENDENT of graph membership (SPARQL 1.1 section 9.3
            # evaluates it over the query's terms too), so a constant
            # endpoint absent from the graph still contributes its
            # identity solution
            consts = sorted(
                {term_str(t) for t in (s_t, o_t) if _var_name(t) is None}
            )
            if consts:
                reach = reach.unionByName(
                    local_frame(
                        triples.sparkSession, [(c, c) for c in consts], "__s string, __o string"
                    )
                ).distinct()
        else:
            # ground-endpoint routing (round 7, VERDICT r6 item 1): a path
            # endpoint is a known constant when the pattern term is ground
            # OR a top-level conjunctive FILTER pins its var to a plain
            # (non-numeric) literal; those closures run as a seeded
            # frontier BFS over the constant's reachable set instead of
            # the all-pairs closure filtered afterwards.  The filter stays
            # in r.filters and re-applies below (idempotent on the seeded
            # rows), so semantics are unchanged.
            def _eq_pin(fx, var):
                if fx[0] == "and":
                    return _eq_pin(fx[1], var) or _eq_pin(fx[2], var)
                if fx[0] == "cmp" and fx[1] == "=":
                    for x, y in ((fx[2], fx[3]), (fx[3], fx[2])):
                        if (
                            x[0] == "var" and x[1] == var
                            and y[0] == "lit" and y[2] != "num"
                        ):
                            return str(y[1])
                return None

            def _const_of(term):
                v = _var_name(term)
                if v is None:
                    return term_str(term)
                for fx in r.filters:
                    c = _eq_pin(fx, v)
                    if c is not None:
                        return c
                return None

            reach = path_closure(
                triples, pred_name,
                subj_col=subj_col, pred_col=pred_col, obj_col=obj_col,
                include_zero=(kind == "*"),
                src=_const_of(s_t), dst=_const_of(o_t),
            ).select(F.col(subj_col).alias("__s"), F.col(obj_col).alias("__o"))
        for term, col in ((s_t, "__s"), (o_t, "__o")):
            if _var_name(term) is None:
                reach = reach.filter(F.col(col) == term_str(term))
        sv, ov = _var_name(s_t), _var_name(o_t)
        if sv is not None and sv == ov:
            reach = reach.filter(F.col("__s") == F.col("__o"))
        sel = []
        if sv is not None:
            sel.append(F.col("__s").alias(sv))
        if ov is not None and ov != sv:
            sel.append(F.col("__o").alias(ov))
        sols = reach.select(*sel) if sel else reach
    elif r.path_alt is not None:
        # 'p|q' (or 'a/b|c') path: the exact union of its arm chains; each
        # arm becomes a fresh-var TP chain between the same endpoints
        s_t, arms, o_t = r.path_alt
        evars = []
        for t_ in (s_t, o_t):
            v = _var_name(t_)
            if v is not None and v not in evars:
                evars.append(v)
        parts = []
        for ai, steps in enumerate(arms):
            nodes = [s_t] + [
                Term(VAR, f"_path_alt{ai}_{j}") for j in range(len(steps) - 1)
            ] + [o_t]
            arm_tps = []
            for j, (inv, p_t) in enumerate(steps):
                a, b = nodes[j], nodes[j + 1]
                arm_tps.append(
                    TriplePattern(b, p_t, a) if inv else TriplePattern(a, p_t, b)
                )
            arm = eval_bgp(triples, arm_tps, select=evars or None, **kw)
            if not evars:
                # fully-ground path (ASK-style): reduce each arm to an
                # existence marker so the arms union on a common shape
                arm = arm.limit(1).select(F.lit(1).alias("__hit"))
            parts.append(arm)
        sols = parts[0]
        for part in parts[1:]:
            sols = sols.unionByName(part)
    elif r.unions:
        allvars: List[str] = []
        for arm_tps, _ in r.unions:
            for v in _bgp_vars(arm_tps):
                if v not in allvars:
                    allvars.append(v)
        parts = []
        for arm_tps, arm_filters in r.unions:
            arm = eval_bgp(triples, arm_tps, **kw)
            for fx in arm_filters:
                arm = arm.filter(compile_filter(fx, arm.columns))
            parts.append(
                arm.select(
                    *[
                        (F.col(v) if v in arm.columns else F.lit(None).cast("string")).alias(v)
                        for v in allvars
                    ]
                )
            )
        sols = parts[0]
        for part in parts[1:]:
            sols = sols.unionByName(part)
    else:
        sols = eval_bgp(triples, base, **kw)
    if r.values is not None:
        # inline VALUES table: the parser guarantees its vars are bound in
        # the base/every arm, so a plain inner equi-join is exact SPARQL
        # Join(group, data) — and Catalyst broadcasts the literal rows
        vvars, vrows = r.values
        inline = local_frame(
            triples.sparkSession, vrows, ", ".join(f"{v} string" for v in vvars)
        )
        sols = sols.join(F.broadcast(inline), on=list(vvars))
    for opt_tps, opt_filters in r.optionals:
        opt = eval_bgp(triples, opt_tps, **kw)
        for fx in opt_filters:
            opt = opt.filter(compile_filter(fx, opt.columns))
        shared = sorted(set(sols.columns) & set(opt.columns))
        if shared:
            sols = sols.join(opt, on=shared, how="left")
        else:
            k = "__optk"
            sols = (
                sols.withColumn(k, F.lit(1))
                .join(opt.withColumn(k, F.lit(1)), on=k, how="left")
                .drop(k)
            )
    for m_tps, m_filters in r.minuses:
        m = eval_bgp(triples, m_tps, **kw)
        for fx in m_filters:
            m = m.filter(compile_filter(fx, m.columns))
        shared = sorted(set(sols.columns) & set(m.columns))
        if shared:  # no shared vars: MINUS keeps everything (SPARQL 8.3)
            sols = sols.join(m.select(*shared).distinct(), on=shared, how="left_anti")
    for expr, bvar in r.binds:
        sols = sols.withColumn(bvar, _value_col(expr))
    for neg, ex_tps, ex_filters in r.exists:
        pat = eval_bgp(triples, ex_tps, **kw)
        for fx in ex_filters:
            pat = pat.filter(compile_filter(fx, pat.columns))
        shared = sorted(set(sols.columns) & set(pat.columns))
        if shared:
            how = "left_anti" if neg else "left_semi"
            sols = sols.join(pat.select(*shared).distinct(), on=shared, how=how)
        else:
            # uncorrelated pattern: a GLOBAL existence gate over all rows
            k = "__exm"
            marker = pat.limit(1).select(F.lit(1).alias(k))
            sols = sols.join(F.broadcast(marker), how="left")
            sols = sols.filter(F.col(k).isNull() if neg else F.col(k).isNotNull()).drop(k)
    for fx in r.filters:
        if _filter_ast_vars(fx) - set(sols.columns):
            # ADVICE r6 low: a top-level FILTER referencing a var that is
            # only bound inside a MINUS/EXISTS span is absent from the
            # solution frame; SPARQL's unbound -> error -> eliminate
            # semantics make every solution drop (constant-false), where
            # compiling the column would raise AnalysisException
            sols = sols.filter(F.lit(False))
        else:
            sols = sols.filter(compile_filter(fx, sols.columns))
    if r.query_form == "CONSTRUCT":
        return _instantiate_template(
            sols, [_coerce_tp(t) for t in (r.template if r.template is not None else r.tps)],
            subj_col, pred_col, obj_col, term_str,
        )
    if r.query_form == "ASK":
        return sols.limit(1).agg((F.count(F.lit(1)) > 0).alias("ask"))
    if r.query_form == "DESCRIBE":
        dvars = [t.value for t in r.describe_terms if t.kind == VAR]
        if r.describe_star:
            dvars = [c for c in sols.columns if not _internal(c)]
        parts = [
            sols.select(F.col(v).alias("node")).distinct()
            for v in dvars
            if v in sols.columns
        ]
        iris = [(term_str(t),) for t in r.describe_terms if t.kind != VAR]
        if iris:
            parts.append(
                local_frame(triples.sparkSession, iris, "node string")
            )
        if not parts:
            # ADVICE r6 medium: DESCRIBE of a var bound nowhere in the
            # WHERE clause — SPARQL semantics are an empty description,
            # not an IndexError
            return local_frame(
                triples.sparkSession,
                [],
                f"{subj_col} string, {pred_col} string, {obj_col} string",
            )
        nodes = parts[0]
        for part in parts[1:]:
            nodes = nodes.unionByName(part)
        return _describe_nodes(triples, nodes.distinct(), subj_col, pred_col, obj_col)
    # SELECT tail, in the spec's operation order: Group/Aggregate ->
    # OrderBy -> Projection -> Distinct -> Slice.  (With DISTINCT the
    # parser restricted sort keys to projected vars, so sorting after the
    # distinct shuffle is equivalent and keeps the order intact.)
    if r.aggregates or r.group_by:
        aggs = []
        for fn, var, dist, alias, *rest in r.aggregates:
            sep = rest[0] if rest else " "
            if fn == "COUNT" and var is None:
                e = F.count(F.lit(1))
            elif fn == "COUNT":
                e = F.count_distinct(F.col(var)) if dist else F.count(var)
            elif fn == "SAMPLE":
                # SAMPLE may return ANY value of the group (SPARQL 1.1
                # section 18.5.1.9) — min() is a legal, DETERMINISTIC
                # choice, which also makes the result oracle-replayable
                e = F.min(var)
            elif fn == "GROUP_CONCAT":
                # element order is implementation-defined in the spec;
                # this engine SORTS the group for determinism (and oracle
                # replay via string_agg(... ORDER BY ...))
                vals_col = F.collect_set(var) if dist else F.collect_list(var)
                e = F.array_join(F.array_sort(vals_col), sep)
            else:
                c = F.col(var)
                if fn in ("SUM", "AVG"):
                    # numeric aggregation over the plain-string term model:
                    # non-numeric values become NULL and are skipped (the
                    # registered oracles replay the same try_cast)
                    c = c.try_cast("double")
                e = {"SUM": F.sum, "AVG": F.avg, "MIN": F.min, "MAX": F.max}[fn](c)
            aggs.append(e.alias(alias))
        if aggs:
            sols = sols.groupBy(*[F.col(g) for g in r.group_by]).agg(*aggs)
        else:  # GROUP BY without aggregates: grouped projection
            sols = sols.select(*r.group_by).distinct()

    def _order(df):
        return df.orderBy(
            *[(F.col(v).desc() if d else F.col(v).asc()) for v, d in r.order_by]
        ) if r.order_by else df

    if not r.distinct:
        sols = _order(sols)
    if r.select_vars is not None:
        sols = sols.select(
            *[
                (F.col(v) if v in sols.columns else F.lit(None).cast("string")).alias(v)
                for v in r.select_vars
            ]
        )
    if r.distinct:
        sols = _order(sols.distinct())
    if r.offset is not None:
        sols = sols.offset(r.offset)
    if r.limit is not None:
        sols = sols.limit(r.limit)
    return sols
