"""Seeded input generation.

Every workload's inputs are a pure function of (seed, sizes) over the
repository's parquet test data: the seed picks which rows are used,
their order, the ids they are rewritten to, which earlier rows are
retracted and which query strings are sent.  The program under test
only ever sees the frames produced here.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

DIFF = "_pw_diff"
_WORD_RE = re.compile(r"\s+")


def data_dir() -> str:
    """The TPC-H-shaped parquet directory the repository's own
    benchmark harness reads (`bench.SF_DIR`: `$SPARK_GRAFT_SF_DIR`,
    else the sf0.1 test data)."""
    import bench
    return bench.SF_DIR


def _read(name: str, columns: list[str], sf: str | None = None
          ) -> pd.DataFrame:
    path = os.path.join(sf or data_dir(), f"{name}.parquet")
    return pq.read_table(path, columns=columns).to_pandas()


def _doc_frame(ids, texts, diff: int) -> pd.DataFrame:
    return pd.DataFrame({"doc_id": np.asarray(ids, dtype="int64"),
                         "text": list(texts),
                         DIFF: np.full(len(ids), diff, dtype="int64")})


class _DocStream:
    """Documents drawn (with replacement) from the corpus, each given a
    fresh id; tracks which ids are still present so retractions name
    exact earlier rows."""

    def __init__(self, rng: np.random.Generator, texts: np.ndarray):
        self.rng, self.texts = rng, texts
        self.next_id = 1
        self.live: dict[int, str] = {}

    def insert(self, n: int) -> pd.DataFrame:
        picks = self.rng.integers(0, len(self.texts), n)
        ids = np.arange(self.next_id, self.next_id + n)
        self.next_id += n
        texts = self.texts[picks]
        self.live.update(zip(ids.tolist(), texts.tolist()))
        return _doc_frame(ids, texts, 1)

    def retract(self, n: int) -> pd.DataFrame:
        ids = sorted(self.live)
        n = min(n, len(ids))
        gone = sorted(self.rng.choice(ids, n, replace=False).tolist())
        texts = [self.live.pop(i) for i in gone]
        return _doc_frame(gone, texts, -1)


def wordcount_inputs(seed: int, *, n_init: int, open_batches: int,
                     open_size: int, closed_batches: int, closed_size: int,
                     retract_every: int, retract_size: int,
                     sf: str | None = None) -> dict:
    """Initial documents plus the open-loop and closed-loop batches;
    every `retract_every`-th batch also retracts `retract_size` earlier
    documents.  Batches carry `_pw_diff`."""
    rng = np.random.default_rng([seed, 1])
    texts = _read("documents", ["text"], sf)["text"].to_numpy()
    ds = _DocStream(rng, texts)
    init = ds.insert(n_init).drop(columns=[DIFF])

    def batches(count: int, size: int, start: int) -> list[pd.DataFrame]:
        out = []
        for i in range(count):
            parts = [ds.insert(size)]
            if (start + i) % retract_every == retract_every - 1:
                parts.append(ds.retract(retract_size))
            out.append(pd.concat(parts, ignore_index=True))
        return out

    opened = batches(open_batches, open_size, 0)
    closed = batches(closed_batches, closed_size, open_batches)
    return {"init": init, "open": opened, "closed": closed}


def rag_inputs(seed: int, *, n_init: int, n_queries: int, query_terms: int,
               writes: list[str], add_size: int, remove_size: int,
               sf: str | None = None) -> dict:
    """Initial corpus, query strings drawn from its vocabulary, and the
    write operations (`"add"` / `"remove"` in the order of `writes`)
    with the exact rows each adds or retracts."""
    rng = np.random.default_rng([seed, 2])
    texts = _read("documents", ["text"], sf)["text"].to_numpy()
    ds = _DocStream(rng, texts)
    init = ds.insert(n_init).drop(columns=[DIFF])
    vocab = sorted({w for t in init["text"] for w in _WORD_RE.split(t) if w})
    queries = [" ".join(rng.choice(vocab, query_terms, replace=False))
               for _ in range(n_queries)]
    ops = []
    for kind in writes:
        frame = ds.insert(add_size) if kind == "add" \
            else ds.retract(remove_size)
        ops.append((kind, frame.drop(columns=[DIFF])))
    return {"init": init, "queries": queries, "writes": ops}


LI_COLS = ["l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"]
ORD_COLS = ["o_orderkey", "o_custkey"]
_NEW_KEY_BASE = 10_000_000


def cdc_inputs(seed: int, *, n_init_orders: int, ticks: int,
               new_orders: int, retract_orders: int,
               sf: str | None = None) -> dict:
    """Orders with their lineitems.  The initial load is
    `n_init_orders` orders; each tick inserts `new_orders` orders
    (copies of sampled orders rewritten to fresh order keys, with all
    their lineitems) and retracts `retract_orders` present orders with
    all their lineitems.  Returns the initial `(li, od)` frames and the
    per-tick `(li, od)` delta frames."""
    rng = np.random.default_rng([seed, 3])
    li = _read("lineitem", LI_COLS, sf)
    od = _read("orders", ORD_COLS, sf)
    li = li.sort_values(["l_orderkey", "l_linenumber"], kind="stable")
    starts = li["l_orderkey"].searchsorted(od["o_orderkey"].to_numpy(), "left")
    ends = li["l_orderkey"].searchsorted(od["o_orderkey"].to_numpy(), "right")
    li_vals = li.to_numpy(dtype=object)
    od_cust = od["o_custkey"].to_numpy()
    next_key = [_NEW_KEY_BASE]
    live: dict[int, tuple] = {}     # new order key -> (custkey, li rows)

    def make(n: int):
        picks = rng.integers(0, len(od), n)
        li_rows, od_rows = [], []
        for p in picks.tolist():
            key = next_key[0]
            next_key[0] += 1
            rows = [(key, int(r[1]), float(r[2]), float(r[3]))
                    for r in li_vals[starts[p]:ends[p]]]
            cust = int(od_cust[p])
            live[key] = (cust, rows)
            od_rows.append((key, cust))
            li_rows.extend(rows)
        return li_rows, od_rows

    def drop(n: int):
        keys = sorted(live)
        gone = sorted(rng.choice(keys, min(n, len(keys)),
                                 replace=False).tolist())
        li_rows, od_rows = [], []
        for key in gone:
            cust, rows = live.pop(key)
            od_rows.append((key, cust))
            li_rows.extend(rows)
        return li_rows, od_rows

    def li_frame(rows, diff=None) -> pd.DataFrame:
        f = pd.DataFrame(rows, columns=LI_COLS).astype(
            {"l_orderkey": "int64", "l_linenumber": "int32",
             "l_extendedprice": "float64", "l_discount": "float64"})
        if diff is not None:
            f[DIFF] = np.asarray(diff, dtype="int64")
        return f

    def od_frame(rows, diff=None) -> pd.DataFrame:
        f = pd.DataFrame(rows, columns=ORD_COLS).astype("int64")
        if diff is not None:
            f[DIFF] = np.asarray(diff, dtype="int64")
        return f

    li0, od0 = make(n_init_orders)
    out = {"init": (li_frame(li0), od_frame(od0)), "ticks": []}
    for _ in range(ticks):
        li_in, od_in = make(new_orders)
        li_out, od_out = drop(retract_orders)
        out["ticks"].append((
            li_frame(li_in + li_out, [1] * len(li_in) + [-1] * len(li_out)),
            od_frame(od_in + od_out, [1] * len(od_in) + [-1] * len(od_out))))
    return out


def batch_order(seed: int, names: list[str]) -> list[str]:
    """A seeded permutation of the batch queries."""
    rng = np.random.default_rng([seed, 4])
    return [names[i] for i in rng.permutation(len(names))]


def fingerprint(obj) -> str:
    """sha256 over a canonical serialization of generated inputs
    (frames, lists, dicts, tuples, scalars)."""
    h = hashlib.sha256()

    def feed(o):
        if isinstance(o, pd.DataFrame):
            h.update(b"F" + ",".join(o.columns).encode())
            h.update(pd.util.hash_pandas_object(o, index=False)
                     .to_numpy().tobytes())
        elif isinstance(o, dict):
            h.update(b"D")
            for k in sorted(o, key=repr):
                feed(k)
                feed(o[k])
        elif isinstance(o, (list, tuple)):
            h.update(b"L%d" % len(o))
            for x in o:
                feed(x)
        else:
            h.update(repr(o).encode())

    feed(obj)
    return h.hexdigest()
