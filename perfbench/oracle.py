"""Expected top-k for every mix request from the DuckDB BM25 twin.

The SQL comes from ``quicker_spark.driver_queries.sql_bm25_topk``, the
independent oracle that module's query registry already certifies: it
tokenizes raw text in SQL and scores with its own BM25 arithmetic,
sharing no code with the engine's kernels. Its two tokenizing CTEs (``toks``, ``dl``)
are materialized once per corpus into tables, from their own SQL text,
and the per-request statements read those tables: the same relations,
without re-tokenizing the corpus on every request. The token table is
stored sorted by term, and a request's ``toks`` holds only the rows of
the words it reads, one equality scan per word: DuckDB then skips the
row groups of every other term (an ``IN`` list scans them all).

Answers are ``(ranked, lo, hi)``: the twin's ``(doc_id, score_x4)``
rows, ``score_x4 = round(score * 10^4)`` (the twin's rounding), ordered
``(score_x4 desc, doc_id asc)`` and reaching ``SLACK`` rows past the
requested ranks ``lo:hi``. At 10^-4 many docs share a rounded score, and
which of them the engine's exact scores put at a page boundary is below
the twin's resolution; the rows past the cut let a check accept any of
them (``workloads.same_ranking``).
"""

from __future__ import annotations

import os
import re

import duckdb
import pandas as pd

from quicker_spark.driver_queries import sql_bm25_topk

from mix import read_words, words_of

K = 10
SLACK = 40
BASE = "SELECT doc_id, text FROM corp"
_CTE = {name: re.compile(rf"\n{name} AS \((.*?)\),\n", re.S)
        for name in ("toks", "dl")}


def _q(w: str) -> str:
    if not re.fullmatch(r"[a-z0-9_]+", w):
        raise ValueError(f"not a token: {w!r}")
    return w


def _having(spec) -> str:
    """Candidate predicate of a positive tree over one doc's tf rows."""
    if isinstance(spec, str):
        return f"max(CASE WHEN term = '{_q(spec)}' THEN 1 ELSE 0 END) = 1"
    op, *kids = spec
    parts = [_having(k) for k in kids]
    return "(" + f" {op.upper()} ".join(parts) + ")"


def _final(score_cte: str, n: int = K + SLACK) -> str:
    return (f"SELECT doc_id, round(score * 10000.0)::bigint AS score_x4 "
            f"FROM {score_cte} ORDER BY score DESC, doc_id LIMIT {n}")


def canonical(rows) -> list[tuple[int, int]]:
    """(doc_id, score_x4) rows in rank order at the twin's resolution."""
    return sorted(rows, key=lambda r: (-r[1], r[0]))


def twin_sql(req: dict) -> str:
    """The twin's statement for one request (before materialization):
    the top ``K + SLACK`` rows, or both pages' for an ``after`` cursor."""
    tree, o = req["tree"], req["opts"]
    kw: dict = {"k": K + SLACK, "base": BASE}
    excl: list[str] = []
    if isinstance(tree, list) and tree[0] == "andnot":
        tree, neg = tree[1], tree[2]
        excl.append(neg)
    words = words_of(tree)
    if "exclude" in o:
        excl.append(o["exclude"])
    if excl:
        kw["exclude_terms"] = tuple(_q(w) for w in excl)
    if "boosts" in o:
        kw["weights"] = {_q(w): b for w, b in o["boosts"].items()}
    if "min_should_match" in o:
        kw["cand_having"] = f"count(DISTINCT term) >= {o['min_should_match']}"
    elif isinstance(tree, list) and tree[0] == "and":
        kw["cand_having"] = _having(tree)
    if "after" in o:
        kw["k"] = 2 * K + SLACK
    elif "demote" in o:
        kw["project"] = (
            f", dem AS (SELECT DISTINCT doc_id FROM toks "
            f"WHERE term = '{_q(o['demote'])}'), "
            "final AS (SELECT s.doc_id, CASE WHEN s.doc_id IN "
            f"(SELECT doc_id FROM dem) THEN s.score * {o['demote_factor']!r} "
            "ELSE s.score END AS score FROM scores s) " + _final("final"))
    elif req["kind"] == "rescore":
        kw["project"] = _rescore_project(o)
    return sql_bm25_topk(tuple(_q(w) for w in words), **kw)


def _rescore_project(o: dict) -> str:
    """Window of the primary top ``window_size``, re-ranked by
    primary + weight x the rescorer's own BM25 over its match set
    (the registry's ``rescore_top10`` statement, with this request's
    terms, window and weight)."""
    if o["rescore"][0] != "and":
        raise ValueError("the twin's rescorer is an AND of terms")
    rw = [_q(w) for w in words_of(o["rescore"])]
    in_list = "('" + "','".join(rw) + "')"
    return (
        f", rtf AS (SELECT doc_id, term, count(*)::double AS tf FROM toks "
        f"WHERE term IN {in_list} GROUP BY doc_id, term), "
        f"rdf AS (SELECT term, count(DISTINCT doc_id)::double AS dfv "
        f"FROM toks WHERE term IN {in_list} GROUP BY term), "
        "ridf AS (SELECT term, ln((stats.n - dfv + 0.5) / (dfv + 0.5) "
        "+ 1.0) AS idf FROM rdf, stats), "
        "rcand AS (SELECT doc_id FROM rtf GROUP BY doc_id "
        f"HAVING count(DISTINCT term) = {len(rw)}), "
        "rscores AS (SELECT rtf.doc_id, "
        "sum(ridf.idf * (rtf.tf * (1.2 + 1.0)) / "
        "(rtf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / stats.avgdl))) "
        "AS score FROM rtf JOIN dl ON rtf.doc_id = dl.doc_id "
        "JOIN ridf ON rtf.term = ridf.term CROSS JOIN stats "
        "WHERE rtf.doc_id IN (SELECT doc_id FROM rcand) "
        "GROUP BY rtf.doc_id), "
        "win AS (SELECT doc_id, score FROM scores "
        f"ORDER BY score DESC, doc_id LIMIT {int(o['window_size'])}), "
        "final AS (SELECT w.doc_id, "
        f"1.0 * w.score + coalesce({o['rescore_weight']!r} * r.score, 0.0) "
        "AS score FROM win w LEFT JOIN rscores r ON w.doc_id = r.doc_id) "
        + _final("final"))


class Twin:
    """The DuckDB twin over one corpus (doc_id, content, payload cols).

    ``path`` names a database file: opened read-only when it exists,
    created from ``corpus`` when it does not (``":memory:"`` always
    creates)."""

    def __init__(self, corpus: pd.DataFrame, path: str = ":memory:"):
        exists = path != ":memory:" and os.path.exists(path)
        # one thread per statement: a statement's sums then add in one
        # fixed order, so the same request always gets the same rows
        self.con = duckdb.connect(path, read_only=exists,
                                  config={"threads": 1})
        self.payload = corpus.set_index("doc_id")
        if exists:
            return
        self.con.register("corp_src", corpus[["doc_id", "content"]])
        self.con.execute("CREATE TABLE corp AS SELECT doc_id, "
                         "content AS text FROM corp_src")
        self.con.unregister("corp_src")
        probe = sql_bm25_topk(("x",), base=BASE)
        order = {"toks": "term, doc_id", "dl": "doc_id"}
        for name, pat in _CTE.items():
            body = pat.search(probe).group(1)
            self.con.execute(f"CREATE TABLE bench_{name} AS "
                             f"WITH base AS ({BASE}) SELECT * FROM ({body}) "
                             f"ORDER BY {order[name]}")

    def expected(self, req: dict) -> tuple[list[tuple[int, int]], int, int]:
        sql = twin_sql(req)
        # every statement reads toks only for the request's own words
        toks = " UNION ALL ".join(
            f"SELECT * FROM bench_toks WHERE term = '{_q(w)}'"
            for w in dict.fromkeys(read_words(req)))
        rel = {"toks": toks, "dl": "SELECT * FROM bench_dl"}
        for name, pat in _CTE.items():
            sql, n = pat.subn(
                lambda _m, name=name: f"\n{name} AS ({rel[name]}),\n",
                sql, count=1)
            if n != 1:
                raise RuntimeError(f"twin SQL has no {name} CTE to bind")
        rows = canonical((int(d), int(s)) for d, s in
                         self.con.cursor().execute(sql).fetchall())
        lo = K if "after" in req["opts"] else 0
        return rows, lo, lo + K

    def expected_many(self, reqs: list[dict]) -> list[tuple]:
        """``expected`` for many requests, a few statements at a time
        (each on its own cursor)."""
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(4) as ex:
            return list(ex.map(self.expected, reqs))

    def close(self) -> None:
        self.con.close()
