"""A fresh graph's first step on the resident engine.

The first delta into empty arrangements follows the routing rule of
every later tick: it runs resident when it fits the caps.  The nodes'
schemas and stores then come from their probes (`DiffNode._probe_frame`,
`DiffNode._ensure_stores`, `DifferentialGraph._prime_fresh`) instead of
a first distributed batch.  These tests pin:

- schema parity: per node class, the probe-derived output schema
  (names, order, types) equals the `_empty_tpl` a distributed batch 0
  memoizes, and the primed stores have the layouts — and the numbering
  restore keys on — that batch 0 creates;
- routing: a first delta within the caps runs resident with its stores
  untouched (the mirrors hold the state); one over the caps runs
  distributed and compacts, as before;
- the serving store: a fresh LiveDocumentStore's initial load is one
  job-free resident tick, and survives commit + reopen."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from pathway_spark.streaming import resident
from pathway_spark.streaming.differential import (
    DifferentialGraph, _AsofNowNode, _KeyedRecomputeNode,
    _KeyedRecomputeUnaryNode)
from pathway_spark.streaming.resident import ResidentEngine


def _fields(schema) -> list[tuple[str, str]]:
    # names, order and types; nullability flags are not compared
    return [(f.name, f.dataType.simpleString()) for f in schema.fields]


def _layouts(g) -> tuple[list, list]:
    memos = [None if n._empty_tpl is None else _fields(n._empty_tpl.schema)
             for n in g._nodes]
    stores = [_fields(st.get().schema) for st in g._stores]
    return memos, stores


def _assert_parity(spark, build, graph_cls=DifferentialGraph):
    """Batch 0 on the distributed path vs probe priming on a fresh
    twin graph: same schema memo per node, same stores in the same
    order."""
    gd = graph_cls(spark, resident=False)
    outs, feeds0 = build(gd)
    gd.step(outs, **feeds0)
    gp = graph_cls(spark, resident=False)
    outs_p, _ = build(gp)
    assert gp._prime_fresh(ResidentEngine(gp)._topo(outs_p))
    want, got = _layouts(gd), _layouts(gp)
    assert got[0] == want[0]
    assert got[1] == want[1]
    assert all(m is not None for m in got[0])


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def _build_join_reduce(spark):
    orders = _df(spark, [(i, i % 5, i * 0.25) for i in range(20)],
                 "k long, ck long, price double")
    cust = _df(spark, [(i, i % 2) for i in range(5)], "ck long, nat long")

    def build(g):
        so, sc = g.source("o", orders), g.source("c", cust)
        j = so.join(sc, on=["ck"])
        acc = j.reduce(["nat"], rev=("sum", "price"), n=("count",),
                       ks=("sum", "k"), mean=("avg", "price"))
        glob = j.reduce([], n=("count",), ks=("sum", "k"))
        return [acc, glob], dict(o=orders, c=cust)
    return build


def _build_slice_reduce(spark):
    src = _df(spark, [(i, i % 4, i * 3 % 11, f"s{i % 3}") for i in range(20)],
              "k long, g long, v long, s string")

    def build(g):
        so = g.source("o", src)
        sl = so.reduce(["g"], lo=("min", "v"), hi=("max", "v"),
                       nd=("count_distinct", "s"), st=("sum_strict", "v"),
                       a=("any", "s"), n=("count",))
        keyless = so.reduce([], hi=("max", "v"), m=("avg", "v"))
        return [sl, keyless], dict(o=src)
    return build


def _build_linear_distinct(spark):
    docs = _df(spark, [(1, "a b c"), (2, "b c"), (3, None)],
               "id long, text string")
    more = _df(spark, [(7, "c d")], "id long, text string")

    def build(g):
        d, m = g.source("d", docs), g.source("m", more)
        words = (d.union(m).with_columns(ws=F.split(F.col("text"), " "))
                 .select(F.col("id"), F.col("ws"))
                 .flatten("ws", "w")
                 .with_lit("one", 1)
                 .project("w", "one", doc="id"))
        return [words.distinct(), words.reduce(["w"], n=("count",))], \
            dict(d=docs, m=more)
    return build


def _build_outer_joins(spark):
    left = _df(spark, [(i % 4, f"l{i}") for i in range(8)] + [(None, "ln")],
               "k long, lval string")
    right = _df(spark, [(i % 3, i * 10) for i in range(6)],
                "k long, rval long")

    def build(g):
        a, b = g.source("a", left), g.source("b", right)
        return [a.join(b, on=["k"], how=h)
                for h in ("left", "right", "outer")], dict(a=left, b=right)
    return build


def _build_semi_anti(spark):
    left = _df(spark, [(i % 6, f"p{i}") for i in range(12)],
               "k long, payload string")
    right = _df(spark, [(i % 3, i) for i in range(6)], "rk long, rv long")

    def build(g):
        a, b = g.source("a", left), g.source("b", right)
        return [a.semi_join(b, ["k"], ["rk"]),
                a.anti_join(b, ["k"], ["rk"])], dict(a=left, b=right)
    return build


def _build_asof_now(spark):
    docs = _df(spark, [(i % 3, f"d{i}", i * 0.5) for i in range(9)],
               "key long, doc string, score double")
    qs = _df(spark, [(1, 0), (2, 2)], "qid long, key long")

    def build(g):
        d, q = g.source("docs", docs), g.source("qs", qs)
        return [_AsofNowNode(g, q, d, ["key"], ["key"])], \
            dict(docs=docs, qs=qs)
    return build


def _build_keyed_recompute(spark):
    base = _df(spark, [(i, i % 3, (i * 17) % 50) for i in range(12)],
               "rid long, g long, x long")
    side = _df(spark, [(g, g * 1.5) for g in range(3)], "g long, w double")

    def sort_op(plain):
        w = W.partitionBy("g").orderBy("x", "rid")
        return (plain.withColumn("prev", F.lag("rid").over(w))
                     .withColumn("next", F.lead("rid").over(w)))

    def pair_op(lhs, rhs):
        return lhs.join(rhs, on="g", how="left")

    def build(g):
        src, sd = g.source("t", base), g.source("s", side)
        return [_KeyedRecomputeUnaryNode(g, src, ["g"], sort_op),
                _KeyedRecomputeNode(g, src, sd, ["g"], ["g"], pair_op)], \
            dict(t=base, s=side)
    return build


def _build_watermarks(spark):
    base = _df(spark, [(i, i * 10, f"v{i}") for i in range(8)],
               "k long, ts long, s string")

    def build(g):
        so = g.source("d", base)
        return [so.ignore_late("ts", 25), so.forget("ts", 25),
                so.buffer("ts", 25)], dict(d=base)
    return build


_BUILDERS = {
    "join_acc_reduce": _build_join_reduce,
    "slice_reduce": _build_slice_reduce,
    "linear_union_distinct": _build_linear_distinct,
    "outer_joins": _build_outer_joins,
    "semi_anti": _build_semi_anti,
    "asof_now": _build_asof_now,
    "keyed_recompute": _build_keyed_recompute,
    "watermarks": _build_watermarks,
}


@pytest.mark.quick
@pytest.mark.parametrize("shape", sorted(_BUILDERS))
def test_probe_schema_parity(spark, shape):
    _assert_parity(spark, _BUILDERS[shape](spark))


@pytest.mark.quick
def test_probe_schema_parity_banded_theta_join(spark):
    from pathway_spark import this
    from pathway_spark.streaming.diff_table import DifferentialTableGraph

    ldf = _df(spark, [(i, i % 3, i * 3 % 40, f"l{i}") for i in range(10)],
              "lid long, g long, lt long, tag string")
    rdf = _df(spark, [(i, i % 3, i * 7 % 40, i * 10) for i in range(10)],
              "rid long, rg long, rt long, rv long")

    def build(g):
        lt, rt = g.input("l", ldf), g.input("r", rdf)
        out = lt.interval_join(rt, this.lt, this.rt, (-4, 9),
                               this.g == this.rg)
        return [out.node], dict(l=ldf, r=rdf)

    _assert_parity(spark, build, graph_cls=DifferentialTableGraph)


@pytest.mark.quick
def test_probe_time_width_follows_clock(spark):
    """A stamped batch time is an int literal below 2^31 and a long
    one above; probes stamp the current clock, as the batch will."""
    build = _build_join_reduce(spark)
    for t0, want in ((0, "int"), (2 ** 40, "bigint")):
        gd = DifferentialGraph(spark, resident=False)
        outs, feeds0 = build(gd)
        gd.step(outs, time=t0, **feeds0)
        gp = DifferentialGraph(spark, resident=False)
        outs_p, _ = build(gp)
        gp._t = t0
        got = [dict(_fields(o._probe().schema))["_pw_time"] for o in outs_p]
        assert got == [want, want]
        assert [_fields(o._probe().schema) for o in outs_p] == \
            [_fields(o._empty_tpl.schema) for o in outs]


# ---------------------------------------------------------------------------
# routing


def _orders(spark, n0, nk=10):
    rows0 = [(i, i % nk, (i % 37) * 0.25) for i in range(n0)]
    orders = _df(spark, rows0, "k long, ck long, price double")
    cust = _df(spark, [(i, i % 3) for i in range(nk)], "ck long, nat long")

    def build(g):
        so, sc = g.source("o", orders), g.source("c", cust)
        return so.join(sc, on=["ck"]).reduce(
            ["nat"], rev=("sum", "price"), n=("count",), ks=("sum", "k"))
    return build, rows0, dict(o=orders, c=cust)


def _ticks(spark, rows0, n, rng, nk=10, size=6):
    sch = "k long, ck long, price double, _pw_diff long"
    live, out = list(rows0), []
    for b in range(n):
        ins = [(10_000 + b * 100 + j, rng.randrange(nk),
                rng.randrange(40) * 0.25, 1) for j in range(size)]
        dels = [r + (-1,) for r in rng.sample(live, 2)]
        for r in dels:
            live.remove(r[:3])
        live.extend(i[:3] for i in ins)
        out.append(dict(o=_df(spark, ins + dels, sch)))
    return out


def _run(spark, build, feeds0, ticks, *, resident, cap=None):
    g = DifferentialGraph(spark, resident=resident)
    if cap is not None:
        g.RESIDENT_MAX_DELTA_ROWS = cap
    out = build(g)
    (d0,) = g.step(out, **feeds0)
    first = g._res_last_t == g._t
    traces = [sorted(map(tuple, d0.collect()), key=repr)]
    for feeds in ticks:
        (d,) = g.step(out, **feeds)
        traces.append(sorted(map(tuple, d.collect()), key=repr))
    return g, first, traces


def test_fresh_first_step_runs_resident(spark):
    build, rows0, feeds0 = _orders(spark, 200)
    ticks = _ticks(spark, rows0, 3, random.Random(2))
    s0 = dict(resident.STATS)
    g, first, a = _run(spark, build, feeds0, ticks, resident=True)
    assert first
    assert resident.STATS["resident_ticks"] == s0["resident_ticks"] + 4
    # nothing was ever written into the stores: the mirrors hold state
    assert g._stores and all(st._never_written() for st in g._stores)
    _, _, b = _run(spark, build, feeds0, ticks, resident=False)
    assert a == b


def test_over_cap_initial_load_runs_distributed_and_compacts(spark):
    build, rows0, feeds0 = _orders(spark, 200)
    ticks = _ticks(spark, rows0, 3, random.Random(4), size=3)
    g, first, a = _run(spark, build, feeds0, ticks, resident=True, cap=10)
    assert not first, "an over-cap initial load must run distributed"
    # ... and folded into one consolidated base per store
    assert all(len(st._chunks) == 1 and st._pend_df is None
               and not st._never_written() for st in g._stores)
    # the small ticks after it went resident (no cooldown from step 0)
    assert g._res_last_t == g._t
    _, _, b = _run(spark, build, feeds0, ticks, resident=False)
    assert a == b


def test_over_cap_local_rows_load_touches_nothing(spark):
    """A driver-held initial load over the cap is refused on its size
    alone: no schema is derived and no store is created before the
    distributed step."""
    build, rows0, _ = _orders(spark, 50)
    g = DifferentialGraph(spark, resident=True)
    g.RESIDENT_MAX_DELTA_ROWS = 10
    out = build(g)
    calls = []
    g._prime_fresh = lambda order: calls.append(order) or False
    cust = (["ck", "nat"], [(i, i % 3) for i in range(10)])
    g.step(out, o=(["k", "ck", "price"], rows0), c=cust)
    assert calls == []
    assert g._res_last_t != g._t


# ---------------------------------------------------------------------------
# the serving store


def _corpus(n: int) -> dict[int, str]:
    rng = random.Random(9)
    words = ("spark stream state index query catalyst delta join "
             "reduce window vector score rank merge table").split()
    return {i: " ".join(rng.choice(words) for _ in range(6))
            for i in range(n)}


def _docs_frame(spark, corpus: dict[int, str]):
    import pandas as pd
    return spark.createDataFrame(pd.DataFrame(
        {"doc_id": list(corpus), "text": list(corpus.values())}))


def _round(hits):
    return [[{**h, "score": round(h["score"], 6)} for h in lst]
            for lst in hits]


_QUERIES = ["spark state", "catalyst join", "vector score rank"]


def test_live_store_initial_load_is_one_job_free_resident_tick(spark):
    from pathway_spark.indexing import tfidf_score
    from pathway_spark.table import ID, Table
    from pathway_spark.xpacks.llm import LiveDocumentStore

    corpus = _corpus(150)
    docs = _docs_frame(spark, corpus)
    store = LiveDocumentStore(spark, k=3)
    sc = spark.sparkContext
    s0 = dict(resident.STATS)
    sc.setJobGroup("pw-first-step-add", "initial add")
    try:
        store.add_documents(docs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert resident.STATS["resident_ticks"] == s0["resident_ticks"] + 1
    assert resident.STATS["fallback_ticks"] == s0["fallback_ticks"]
    assert sc.statusTracker().getJobIdsForGroup("pw-first-step-add") == []

    got = _round(store.query(_QUERIES))
    qdf = spark.createDataFrame(list(enumerate(_QUERIES)),
                                "query_id long, query string")
    rows = tfidf_score(Table(docs), Table(qdf), k=3)._df.drop(ID).collect()
    want = [[] for _ in _QUERIES]
    for r in rows:
        want[r["query_id"]].append({"doc_id": r["doc_id"], "rank": r["rank"],
                                    "score": round(r["score"], 6)})
    for lst in want:
        lst.sort(key=lambda h: h["rank"])
    assert got == want
    store.close()


def test_live_store_durable_through_resident_first_step(spark, tmp_path):
    """Initial add (resident), commit, reopen over the same state dir:
    the reopened store answers — and keeps absorbing writes — exactly
    like a store that never restarted."""
    from pathway_spark.xpacks.llm import LiveDocumentStore

    corpus = _corpus(60)
    docs = _docs_frame(spark, corpus)
    extra = _docs_frame(spark, {1000 + i: t for i, t
                                in _corpus(5).items()})
    sd = str(tmp_path / "store")

    s1 = LiveDocumentStore(spark, k=3, state_dir=sd)
    s1.add_documents(docs)
    assert s1._g._res_last_t == s1._g._t, "initial add should be resident"
    s1.commit()
    s1.close()

    ref = LiveDocumentStore(spark, k=3)
    ref.add_documents(docs)

    s2 = LiveDocumentStore(spark, k=3, state_dir=sd)
    assert _round(s2.query(_QUERIES)) == _round(ref.query(_QUERIES))
    for store in (s2, ref):
        store.add_documents(extra)
        store.remove_documents(_docs_frame(spark, {0: corpus[0]}))
    assert _round(s2.query(_QUERIES)) == _round(ref.query(_QUERIES))
    s2.close()
    ref.close()
