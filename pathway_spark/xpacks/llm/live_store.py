"""LiveDocumentStore — the reference's serving story on the
differential engine.

The reference `DocumentStore` (`python/pathway/xpacks/llm/
document_store.py`) is a LIVE index: documents stream in and out, the
index updates incrementally, and `retrieve_query` answers against the
corpus as of each query's arrival (`query_as_of_now` semantics —
served answers never change retroactively).  The batch
:class:`~pathway_spark.xpacks.llm.vector_store.VectorStore` here
re-scores per call; this class keeps the index ALIVE between calls on
the differential micro-batch engine:

- `add_documents` / `remove_documents` maintain the inverted index
  (postings, doc lengths, document frequencies, corpus stats) at
  O(delta) per call via `streaming/incremental_bm25.py`;
- `query` steps the graph with a query delta and returns rows scored
  against the corpus AS OF THAT TICK — byte-identical to batch
  `indexing.tfidf_score` on the current corpus, frozen thereafter;
- with `state_dir=`, `commit()` durably persists the index and a new
  process resumes serving exactly where the old one stopped
  (`DifferentialGraph.commit/restore`).

Retrieval is lexical BM25 — the reference DocumentStore's default
retriever family (`stdlib/indexing/bm25.py` TantivyBM25).  For live
VECTOR retrieval compose `DiffTable.knn_topk` (live, revising) or an
`asof_now_join` pipeline (frozen) with an embedder column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class LiveDocumentStore:
    """Incrementally-maintained BM25 document store with
    freeze-at-arrival query answers."""

    def __init__(self, spark: SparkSession, *, k: int = 3,
                 id_col: str = "doc_id", text_col: str = "text",
                 k1: float = 1.2, b: float = 0.75,
                 state_dir: str | None = None):
        from ...streaming.differential import DifferentialGraph
        from ...streaming.incremental_bm25 import incremental_bm25_topk

        self._spark = spark
        self._id_col, self._text_col = id_col, text_col
        self._k = k
        self._g = DifferentialGraph(spark, state_dir=state_dir)
        dtpl = spark.createDataFrame(
            [], f"{id_col} long, {text_col} string")
        qtpl = spark.createDataFrame([], "query_id long, query string")
        self._dsrc = self._g.source("docs", dtpl)
        self._qsrc = self._g.source("queries", qtpl)
        self._out = incremental_bm25_topk(
            self._dsrc, self._qsrc, text_col=text_col, id_col=id_col,
            k=k, k1=k1, b=b)
        # the query-id counter is part of the durable state: a restored
        # process reusing old ids would collide with persisted
        # query-keyed state (the distinct() arrangement suppresses
        # already-seen (query_id, term) pairs and the per-(query, doc)
        # score reduce would merge old and new contributions — silently
        # wrong answers).  commit() persists it via the graph's
        # node_meta; a never-committed graph starts at 0.
        self._next_qid = int(self._g._node_meta.get(
            "live_store_next_qid", 0))

    # -- corpus maintenance ------------------------------------------------
    def add_documents(self, docs: DataFrame) -> None:
        """Feed (id, text) rows; the index absorbs them at O(delta)."""
        self._g.step(self._out, docs=docs.select(
            self._id_col, self._text_col))

    def remove_documents(self, docs: DataFrame) -> None:
        """Retract (id, text) rows (exact rows previously added)."""
        self._g.step(self._out, docs=docs.select(
            self._id_col, self._text_col)
            .withColumn("_pw_diff", F.lit(-1)))

    # -- serving -------------------------------------------------------------
    def query(self, queries: list[str], *, k: int | None = None
              ) -> list[list[dict]]:
        """Score `queries` against the corpus as of NOW; answers are
        frozen (later corpus changes never revise them).  Returns one
        rank-ordered hit list per query, each hit a dict with the id
        column, `rank`, and `score` — the reference HTTP endpoint's
        shape.  `k` may narrow (never widen) the store's build-time k."""
        if isinstance(queries, str):
            queries = [queries]     # a bare string would split per char
        if not queries:
            return []
        base = self._next_qid
        self._next_qid += len(queries)
        # recorded in graph meta so commit() persists it and a restored
        # process continues the id space instead of re-issuing old ids
        self._g._node_meta["live_store_next_qid"] = self._next_qid
        # rows in, rows out: the query delta feeds as LocalRows (zero
        # Spark involvement on a resident tick) and the ranked answer
        # comes back as driver tuples via step_rows — the reference's
        # arrangement-probe serving shape.  A fresh store's first
        # delta runs resident too when it fits the caps; a distributed
        # tick (over-cap load, the first query after a restore, cap
        # fallback) transparently pays the classic path
        feed = (["query_id", "query"],
                [(base + i, q) for i, q in enumerate(queries)])
        ((cols, rows),) = self._g.step_rows(self._out, queries=feed)
        qp, dp = cols.index("query_id"), cols.index("_pw_diff")
        ip = cols.index(self._id_col)
        rp, sp = cols.index("rank"), cols.index("score")
        kk = min(k, self._k) if k is not None else self._k
        out: list[list[dict]] = [[] for _ in queries]
        for r in rows:
            if r[dp] <= 0:
                continue
            idx = r[qp] - base
            # ids outside this call's window would be stray deltas from
            # a colliding id space — never attribute them to a caller
            if 0 <= idx < len(queries) and r[rp] <= kk:
                out[idx].append(
                    {self._id_col: r[ip], "rank": r[rp], "score": r[sp]})
        for lst in out:
            lst.sort(key=lambda d: d["rank"])
        return out

    # -- durability -----------------------------------------------------------
    def commit(self) -> None:
        """Durably persist the index (requires `state_dir=`).  Restore
        is automatic: constructing a LiveDocumentStore over the same
        `state_dir` resumes serving from the last commit — the logical
        clock AND the query-id counter persist, so a restored process
        issues fresh ids that never collide with persisted
        query-keyed state."""
        self._g.commit()

    def close(self) -> None:
        self._g.restore_session_confs()


__all__ = ["LiveDocumentStore"]
