"""Seeded input generators for the three workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical inputs and the same expected counts.  Each returns the
inputs together with the ground truth it planted, so the benchmark checks
the program's outputs against what the generator put in, not against a
second run of the program.
"""

from __future__ import annotations

import random
import re
from collections import Counter
from dataclasses import dataclass, field
from typing import Dict, List, Tuple
from urllib.parse import quote_plus

DBO = "http://dbpedia.org/ontology/"
DBR = "http://dbpedia.org/resource/"
FOAF = "http://xmlns.com/foaf/0.1/"
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
WIKILINK = DBO + "wikiPageWikiLink"
PARSE_MEMO_BUDGET = 64 << 20  # kgforge.operators.extract._PARSE_CACHE default
_PREFILTER = re.compile(r"(?i)\b(SELECT|ASK|CONSTRUCT|DESCRIBE|PREFIX)\b")


def _rng(*parts) -> random.Random:
    """Independent stream per (seed, purpose, index): string seeds hash
    deterministically across processes (unlike hash() of a str)."""
    return random.Random(":".join(str(p) for p in parts))


# --------------------------------------------------------------------- build


@dataclass
class BuildInputs:
    rows: List[dict]
    n_parse_ok: int
    n_distinct_bgps: int
    top_counts: List[int]  # the 10 largest mention counts per BGP
    in_bytes: int
    props: Dict[str, float]


def build_inputs(seed: int, n_rows: int) -> BuildInputs:
    """Repository corpus from kgforge.corpus.generate_rows at a seed-derived
    start offset.  The offset is a multiple of 20 so the generator's slot
    mix (noise / query / log line / multi-mention / malformed / hot flood)
    is the same for every seed while file names and contents differ."""
    from kgforge.corpus import POOL_BY_ID, generate_rows
    from kgforge.sparql.canonical import canonicalize_bgp

    start = 20 * _rng(seed, "build").randrange(1_000_000)
    rows, plants = generate_rows(n_rows, start=start)
    # distinct BGPs from the pool's HAND-WRITTEN triple patterns (not from
    # parsing the planted text), canonicalized once per planted query id
    canon = {q: canonicalize_bgp(POOL_BY_ID[q].tps) for q in {p.qid for p in plants}}
    per_bgp = Counter(canon[p.qid] for p in plants)
    qtexts = {POOL_BY_ID[p.qid].text for p in plants}
    in_bytes = sum(len(r["content"].encode("utf-8")) for r in rows)
    # the JVM prefilter's predicate (extract.prefilter_expr), in Python
    n_pass = sum(
        "/sparql?" in r["content"] or bool(_PREFILTER.search(r["content"])) for r in rows
    )
    tps = [tp for p in plants for tp in POOL_BY_ID[p.qid].tps]
    props = {
        "files": len(rows),
        "files_with_query_frac": len({p.row for p in plants}) / len(rows),
        "prefilter_pass_frac": n_pass / len(rows),
        "prefiltered_with_plant_frac": len({p.row for p in plants}) / max(1, n_pass),
        "ground_tp_frac": sum(
            all(t.kind in ("iri", "literal") for t in tp) for tp in tps
        ) / max(1, len(tps)),
        "mentions_planted": len(plants),
        "distinct_query_frac": len(qtexts) / len(plants),
        "distinct_query_bytes_vs_memo": sum(len(q.encode()) for q in qtexts)
        / PARSE_MEMO_BUDGET,
        "in_bytes": in_bytes,
    }
    top = sorted(per_bgp.values(), reverse=True)[:10]
    return BuildInputs(rows, len(plants), len(per_bgp), top, in_bytes, props)


# ----------------------------------------------------------------------- log

# Pure-BGP templates with pairwise different predicate structure, so two
# plants share a canonical BGP exactly when they share (template, constants).
_LOG_TEMPLATES = [
    "PREFIX dbo: <{dbo}> SELECT ?{a} WHERE {{ ?{a} dbo:birthPlace <{dbr}Place{c0}> }}",
    "PREFIX dbo: <{dbo}> SELECT ?{a} ?{b} WHERE {{ ?{a} dbo:birthPlace ?{b} . "
    "?{b} dbo:country <{dbr}Country{c0}> }}",
    "PREFIX dbo: <{dbo}> PREFIX foaf: <{foaf}> SELECT ?{a} WHERE {{ "
    "?{a} a dbo:Class{c0} . ?{a} foaf:name \"Name {c1}\"@en }}",
    "PREFIX dbo: <{dbo}> SELECT ?{a} ?{b} WHERE {{ <{dbr}Work{c0}> "
    "dbo:wikiPageWikiLink ?{a} . ?{a} dbo:author ?{b} }}",
]
_MALFORMED = [
    "SELECT broken {{ {c0}",
    "SELECT ?x WHERE {{ ?x <{dbo}p{c0}> }}",
    "ASK {{ ?s ?p }} {c0}",
]
_VAR_NAMES = ["s", "x", "who", "item", "thing", "v", "res", "o", "y", "ent", "n1", "n2"]


def _log_line(ip: str, t: int, path_query: str) -> str:
    day, sec = 14 + t // 86400, t % 86400
    return (
        f'{ip} - - [{day}/Aug/2026:{sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d} +0000] '
        f'"GET {path_query} HTTP/1.1" 200 {500 + t % 3000} "-" "bench-client"'
    )


@dataclass
class LogInputs:
    text: str
    expected: Dict[str, int]
    top_counts: List[int]  # the 10 largest ranking counts
    in_bytes: int
    props: Dict[str, float] = field(default_factory=dict)


def log_inputs(seed: int, part: int, n_lines: int) -> LogInputs:
    """One seeded DBpedia access log.  ``part`` selects an independent log
    for the same seed: successive runs in one session use fresh parts, so
    the workers' parse memo (which survives across jobs) does not turn the
    distinct queries of a warm run into memo hits.

    Line mix: ~62% fresh queries (new constants, random variable names),
    ~8% renamed-variable variants of an earlier query (same BGP), ~15% a
    hot query shared by many clients, ~10% same-client repeats (W2 dups),
    ~3% malformed queries (parse rejects), ~2% non-SPARQL requests."""
    rng = _rng(seed, "log", part)
    hot = [
        (k % len(_LOG_TEMPLATES), (10_000_000 + k, k)) for k in range(20)
    ]  # part-independent: memo hits across runs too
    lines: List[str] = []
    hits: List[Tuple[str, str, object]] = []  # (ip, query, bgp key or None)
    planted: List[Tuple[int, Tuple[int, int]]] = []
    t = part * 3 * 86400 // 1000  # parts start at different times of day
    step = max(1, (3 * 86400 - t) // (n_lines + 1))
    for _ in range(n_lines):
        t += step
        ip = f"10.{rng.randrange(4)}.{rng.randrange(256)}.{rng.randrange(256)}"
        u = rng.random()
        if u < 0.02:
            lines.append(_log_line(ip, t, f"/other?page={rng.randrange(10**6)}"))
            continue
        if u < 0.12 and hits:
            ip, q, key = hits[rng.randrange(len(hits))]
        elif u < 0.15:
            q = rng.choice(_MALFORMED).format(dbo=DBO, c0=rng.randrange(10**9))
            key = None
        else:
            if u < 0.30:
                tmpl, consts = hot[rng.randrange(len(hot))]
                names = ("s", "o")
            else:
                if u < 0.38 and planted:
                    tmpl, consts = planted[rng.randrange(len(planted))]
                else:
                    tmpl = rng.randrange(len(_LOG_TEMPLATES))
                    consts = (rng.randrange(10**9), rng.randrange(10**9))
                    planted.append((tmpl, consts))
                names = tuple(rng.sample(_VAR_NAMES, 2))
            q = _LOG_TEMPLATES[tmpl].format(
                dbo=DBO, dbr=DBR, foaf=FOAF, a=names[0], b=names[1],
                c0=consts[0], c1=consts[1],
            )
            key = (tmpl, consts)
        hits.append((ip, q, key))
        lines.append(_log_line(ip, t, "/sparql?query=" + quote_plus(q) + "&format=json"))
    text = "\n".join(lines) + "\n"
    seen: Dict[Tuple[str, str], int] = {}
    for ip, q, _ in hits:
        seen[(ip, q)] = seen.get((ip, q), 0) + 1
    n_dups = sum(n - 1 for n in seen.values())
    n_rejected = sum(1 for _, _, k in hits if k is None)
    first_ok = {(ip, q): k for ip, q, k in hits if k is not None}
    queries = {q for _, q, _ in hits}
    expected = {
        "n_lines": len(lines),
        "n_hits": len(hits),
        "n_dups": n_dups,
        "n_rejected": n_rejected,
        "n_ok": len(first_ok),
        "n_distinct_bgps": len(set(first_ok.values())),
    }
    in_bytes = len(text.encode("utf-8"))
    props = {
        "lines": len(lines),
        "distinct_query_frac": len(queries) / max(1, len(hits)),
        "distinct_query_bytes_vs_memo": sum(len(q.encode()) for q in queries)
        / PARSE_MEMO_BUDGET,
        "in_bytes": in_bytes,
    }
    top = sorted(Counter(first_ok.values()).values(), reverse=True)[:10]
    return LogInputs(text, expected, top, in_bytes, props)


# --------------------------------------------------------------------- serve


def _iri(x: str) -> str:
    return f"<{x}>"


def ent(i: int) -> str:
    return _iri(f"{DBR}E{i}")


def cls(c: int) -> str:
    return _iri(f"{DBO}Class{c}")


@dataclass
class ServeInputs:
    triples: List[Tuple[str, str, str]]
    n_entities: int
    n_places: int
    n_classes: int


def serve_inputs(seed: int, n_entities: int) -> ServeInputs:
    """DBpedia-shaped graph in N-Triples term rendering: every entity has an
    rdf:type and three wikiPageWikiLink edges (the two hot predicates of
    kgforge.operators.triples.HOT_PREDICATES), a foaf:name; persons carry
    dbo:birthPlace, works dbo:author; places form a dbo:isPartOf tree (the
    p+ closure target).  Entities 0..n_places-1 are places."""
    rng = _rng(seed, "serve")
    n_places, n_classes = max(10, n_entities // 10), 20
    out = set()
    for i in range(n_entities):
        e = ent(i)
        out.add((e, _iri(RDF_TYPE), cls(rng.randrange(n_classes))))
        for _ in range(3):
            out.add((e, _iri(WIKILINK), ent(rng.randrange(n_entities))))
        out.add((e, _iri(FOAF + "name"), f'"Name {i}"@en'))
        if i < n_places:
            if i:
                out.add((e, _iri(DBO + "isPartOf"), ent((i - 1) // 3)))
        elif rng.random() < 0.5:
            out.add((e, _iri(DBO + "birthPlace"), ent(rng.randrange(n_places))))
        elif rng.random() < 0.4:
            out.add((e, _iri(DBO + "author"), ent(rng.randrange(n_places, n_entities))))
    return ServeInputs(sorted(out), n_entities, n_places, n_classes)


def merge_batch(seed: int, k: int, g: ServeInputs, n_rows: int) -> List[Tuple[str, str, str]]:
    """Batch ``k`` for merge_graph: half new wikiPageWikiLink / rdf:type
    rows (inserts), half copies of existing rows (src_count updates)."""
    rng = _rng(seed, "merge", k)
    out = set()
    while len(out) < n_rows // 2:
        i = rng.randrange(g.n_entities)
        if rng.random() < 0.5:
            out.add((ent(i), _iri(WIKILINK), ent(g.n_entities + rng.randrange(10**6))))
        else:
            out.add((ent(g.n_entities + rng.randrange(10**6)), _iri(RDF_TYPE), cls(i % g.n_classes)))
    while len(out) < n_rows:
        out.add(g.triples[rng.randrange(len(g.triples))])
    return sorted(out)


SERVE_TEMPLATES = [
    "star", "chain", "optional", "union", "filter", "count", "closure", "describe", "ask",
]


def serve_params(seed: int, i: int, g: ServeInputs) -> Tuple[str, str, str]:
    """Constants of read ``i``: a non-place entity, a place, a class."""
    rng = _rng(seed, "read", i)
    return (
        ent(rng.randrange(g.n_places, g.n_entities)),
        ent(rng.randrange(1, g.n_places)),
        cls(rng.randrange(g.n_classes)),
    )


def serve_query(name: str, e: str, p: str, c: str) -> str:
    """SPARQL text of template ``name`` over the constants of serve_params."""
    pre = f"PREFIX dbo: <{DBO}> PREFIX foaf: <{FOAF}> "
    if name == "star":
        return pre + f"SELECT ?x ?n ?p WHERE {{ ?x a {c} . ?x foaf:name ?n . ?x dbo:birthPlace ?p }}"
    if name == "chain":
        return pre + f"SELECT ?x ?y ?z WHERE {{ {e} dbo:wikiPageWikiLink ?x . ?x dbo:wikiPageWikiLink ?y . ?y a ?z }}"
    if name == "optional":
        return pre + f"SELECT ?x ?p WHERE {{ ?x a {c} OPTIONAL {{ ?x dbo:birthPlace ?p }} }}"
    if name == "union":
        return pre + f"SELECT ?x WHERE {{ {{ ?x dbo:birthPlace {p} }} UNION {{ ?x dbo:isPartOf {p} }} }}"
    if name == "filter":
        return pre + f"SELECT ?a ?b WHERE {{ {e} dbo:wikiPageWikiLink ?a . ?a dbo:wikiPageWikiLink ?b FILTER(?a != ?b) }}"
    if name == "count":
        return pre + f"SELECT ?c (COUNT(?x) AS ?n) WHERE {{ ?x a ?c . ?x dbo:birthPlace ?p . ?p dbo:isPartOf {p} }} GROUP BY ?c"
    if name == "closure":
        return pre + f"SELECT ?y WHERE {{ {p} dbo:isPartOf+ ?y }}"
    if name == "describe":
        return f"DESCRIBE {e}"
    if name == "ask":
        return pre + f"ASK {{ {e} dbo:wikiPageWikiLink ?x . ?x a {c} }}"
    raise KeyError(name)
