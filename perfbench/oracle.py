"""DuckDB ground truth for the serve workload's SPARQL reads.

Each template of gen.SERVE_TEMPLATES has a SQL twin over the same graph
parquet the program reads; ``expected`` returns its answer as a sorted list
of string tuples, the shape ``normalize`` gives a Spark result.
"""

from __future__ import annotations

from typing import List, Tuple

import duckdb

from perfbench.gen import DBO, FOAF, RDF_TYPE, WIKILINK

T = "<" + RDF_TYPE + ">"
WL = "<" + WIKILINK + ">"
NAME = "<" + FOAF + "name>"
BIRTH = "<" + DBO + "birthPlace>"
PART = "<" + DBO + "isPartOf>"


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def sql_for(name: str, e: str, p: str, c: str) -> str:
    e, p, c = _q(e), _q(p), _q(c)
    if name == "star":
        return (
            f"SELECT a.subj, n.obj, b.obj FROM g a JOIN g n ON n.subj = a.subj AND n.pred = {_q(NAME)} "
            f"JOIN g b ON b.subj = a.subj AND b.pred = {_q(BIRTH)} "
            f"WHERE a.pred = {_q(T)} AND a.obj = {c}"
        )
    if name == "chain":
        return (
            f"SELECT x.obj, y.obj, z.obj FROM g x JOIN g y ON y.subj = x.obj AND y.pred = {_q(WL)} "
            f"JOIN g z ON z.subj = y.obj AND z.pred = {_q(T)} WHERE x.subj = {e} AND x.pred = {_q(WL)}"
        )
    if name == "optional":
        return (
            f"SELECT a.subj, b.obj FROM g a LEFT JOIN g b ON b.subj = a.subj AND b.pred = {_q(BIRTH)} "
            f"WHERE a.pred = {_q(T)} AND a.obj = {c}"
        )
    if name == "union":
        return (
            f"SELECT subj FROM g WHERE pred = {_q(BIRTH)} AND obj = {p} "
            f"UNION ALL SELECT subj FROM g WHERE pred = {_q(PART)} AND obj = {p}"
        )
    if name == "filter":
        return (
            f"SELECT a.obj, b.obj FROM g a JOIN g b ON b.subj = a.obj AND b.pred = {_q(WL)} "
            f"WHERE a.subj = {e} AND a.pred = {_q(WL)} AND a.obj <> b.obj"
        )
    if name == "count":
        return (
            f"SELECT a.obj, count(*) FROM g a JOIN g b ON b.subj = a.subj AND b.pred = {_q(BIRTH)} "
            f"JOIN g q ON q.subj = b.obj AND q.pred = {_q(PART)} AND q.obj = {p} "
            f"WHERE a.pred = {_q(T)} GROUP BY a.obj"
        )
    if name == "closure":
        return (
            f"WITH RECURSIVE r(n) AS (SELECT obj FROM g WHERE subj = {p} AND pred = {_q(PART)} "
            f"UNION SELECT g.obj FROM g JOIN r ON g.subj = r.n WHERE g.pred = {_q(PART)}) "
            f"SELECT n FROM r"
        )
    if name == "describe":
        return f"SELECT DISTINCT subj, pred, obj FROM g WHERE subj = {e} OR obj = {e}"
    if name == "ask":
        return (
            f"SELECT count(*) > 0 FROM g a JOIN g b ON b.subj = a.obj AND b.pred = {_q(T)} "
            f"AND b.obj = {c} WHERE a.subj = {e} AND a.pred = {_q(WL)}"
        )
    raise KeyError(name)


def normalize(rows) -> List[Tuple[str, ...]]:
    return sorted(tuple(str(v) for v in r) for r in rows)


class GraphOracle:
    def __init__(self, graph_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute(
            "CREATE VIEW g AS SELECT subj, pred, obj, src_count FROM read_parquet("
            f"{_q(graph_dir + '/*/*.parquet')}, hive_partitioning = true)"
        )

    def expected(self, name: str, e: str, p: str, c: str) -> List[Tuple[str, ...]]:
        return normalize(self.con.execute(sql_for(name, e, p, c)).fetchall())

    def table_stats(self) -> Tuple[int, int]:
        """(rows, sum of src_count)."""
        n, s = self.con.execute("SELECT count(*), sum(src_count) FROM g").fetchone()
        return int(n), int(s or 0)

    def close(self) -> None:
        self.con.close()
