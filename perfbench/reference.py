"""Reference computations the benchmark checks outputs against.  All of
them run outside the timed regions."""

from __future__ import annotations

import decimal
import math
import re
from collections import Counter

import pandas as pd

DIFF = "_pw_diff"
TIME = "_pw_time"
_SPLIT = re.compile(r"\s+")


class Integrator:
    """Folds a stream of output deltas `(columns, rows)` into the
    current snapshot: a multiset of data rows (time column dropped)."""

    def __init__(self):
        self.rows: Counter = Counter()
        self.cols: list[str] | None = None

    def apply(self, cols, rows) -> None:
        if self.cols is None:
            self.cols = [c for c in cols if c not in (DIFF, TIME)]
        idx = [cols.index(c) for c in self.cols]
        dp = cols.index(DIFF)
        for r in rows:
            key = tuple(r[i] for i in idx)
            self.rows[key] += r[dp]
            if self.rows[key] == 0:
                del self.rows[key]

    def snapshot(self) -> dict:
        """{row: multiplicity}; a negative multiplicity is left in
        place so a comparison shows it."""
        return dict(self.rows)


def word_counts(texts) -> Counter:
    """Spark `explode(split(text, '\\s+'))` token counts."""
    c: Counter = Counter()
    for t in texts:
        if t is not None:
            c.update(_SPLIT.split(t))
    return c


def wordcount_matches(snapshot: dict, counts: Counter) -> bool:
    want = {(w, n): 1 for w, n in counts.items() if n > 0}
    return snapshot == want


def cdc_reference(duck, tick: int) -> dict:
    """Revenue and count per customer over the net inputs fed up to
    and including `tick` (views `li_feed` / `od_feed` carry a `tick`
    column and `_pw_diff`)."""
    rows = duck.execute(f"""
        WITH li AS (
            SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount,
                   SUM({DIFF}) AS m
            FROM li_feed WHERE tick <= {tick}
            GROUP BY ALL HAVING SUM({DIFF}) > 0),
        od AS (
            SELECT o_orderkey, o_custkey, SUM({DIFF}) AS m
            FROM od_feed WHERE tick <= {tick}
            GROUP BY ALL HAVING SUM({DIFF}) > 0)
        SELECT o_custkey,
               SUM(l_extendedprice * (1 - l_discount) * li.m * od.m),
               SUM(li.m * od.m)::BIGINT
        FROM li JOIN od ON l_orderkey = o_orderkey
        GROUP BY o_custkey""").fetchall()
    return {int(c): (float(rev), int(n)) for c, rev, n in rows}


def cdc_matches(snapshot: dict, cols: list[str], want: dict) -> bool:
    """Snapshot rows `(o_custkey, revenue, n)` against the reference,
    revenue to 1e-9 relative (summation order differs)."""
    ci, ri, ni = (cols.index("o_custkey"), cols.index("revenue"),
                  cols.index("n"))
    got = {}
    for row, mult in snapshot.items():
        if mult != 1 or row[ci] in got:
            return False
        got[row[ci]] = (row[ri], row[ni])
    if set(got) != set(want):
        return False
    return all(got[k][1] == want[k][1]
               and _close(got[k][0], want[k][0]) for k in want)


def _close(a, b, rel=1e-9) -> bool:
    if a is None or b is None:
        return a is b
    a, b = float(a), float(b)
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= rel * max(1.0, abs(a), abs(b))


# -- batch oracles: the comparisons of tests/test_oracle.py (exact,
# order-insensitive) and tests/test_tpch.py (1e-9 on floats) ----------------


def _norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return repr(v)


def exact_match(scols, srows, dcols, drows) -> bool:
    if sorted(scols) != sorted(dcols) or len(srows) != len(drows):
        return False

    def norm(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)

    return norm(srows, scols) == norm(drows, dcols)


def tolerant_match(scols, srows, dcols, drows) -> bool:
    if sorted(scols) != sorted(dcols) or len(srows) != len(drows):
        return False
    cols = sorted(scols)
    si = [scols.index(c) for c in cols]
    di = [dcols.index(c) for c in cols]

    def key(t):
        return tuple((x is None, str(x)) for x in t)

    a = sorted((tuple(r[i] for i in si) for r in srows), key=key)
    b = sorted((tuple(r[i] for i in di) for r in drows), key=key)
    for x, y in zip(a, b):
        for u, v in zip(x, y):
            if isinstance(u, (float, decimal.Decimal)) \
                    or isinstance(v, (float, decimal.Decimal)):
                if not _close(u, v):
                    return False
            elif u != v:
                return False
    return True


def bm25_reference(spark, corpus: pd.DataFrame, queries: list[str], k: int
                   ) -> list[list[dict]]:
    """Batch BM25 (`indexing.tfidf_score`) over `corpus` for each of
    `queries`, in `LiveDocumentStore.query`'s hit shape."""
    from pathway_spark.indexing import tfidf_score
    from pathway_spark.table import ID, Table

    docs = spark.createDataFrame(corpus[["doc_id", "text"]])
    qdf = spark.createDataFrame(list(enumerate(queries)),
                                "query_id long, query string")
    rows = tfidf_score(Table(docs), Table(qdf), k=k)._df.drop(ID).collect()
    hits: list[list[dict]] = [[] for _ in queries]
    for r in rows:
        hits[r["query_id"]].append({"doc_id": r["doc_id"], "rank": r["rank"],
                                    "score": round(r["score"], 6)})
    return [sorted(h, key=lambda h: h["rank"]) for h in hits]


def bm25_matches(got: list[dict], want: list[dict]) -> bool:
    """Two hit lists agree: the same documents with the same scores (to
    1e-5), in the same order except among hits whose scores tie, which
    float sums taken in another order may rank either way."""
    def key(h):
        return (-h["score"], h["doc_id"])

    a, b = sorted(got, key=key), sorted(want, key=key)
    return len(a) == len(b) and all(
        x["doc_id"] == y["doc_id"] and abs(x["score"] - y["score"]) <= 1e-5
        for x, y in zip(a, b))
