"""Resident fast-path equivalence: the driver-resident engine
(`streaming/resident.py`) must emit exactly the deltas the distributed
path emits, tick for tick, through inserts and retractions — and fold
back into the distributed path (caps, wide batches, commit/restore)
without losing state.

Float columns in these streams use dyadic values (multiples of 0.25),
which double-precision sums represent exactly regardless of fold
order, so trace comparisons are exact even where the two paths fold
partials in different orders (both are compensated sums; neither is
bit-pinned to the other on non-representable data — same caveat as
the distributed accumulator's own docstring)."""

from __future__ import annotations

import functools
import random

import pytest
from pyspark.sql import functions as F

from pathway_spark.streaming.differential import DifferentialGraph


def _trace(rows) -> list[tuple]:
    # repr sort key: rows may mix None with values in any column
    return sorted((tuple(r) for r in rows), key=repr)


def _drive(spark, build, ticks, *, resident, state_dir=None,
           collect_active=False, first="auto"):
    """Build the graph, run batch 0 + the given ticks, return the
    per-tick sorted traces (and whether each tick ran resident).

    A fresh graph's batch 0 runs resident when it fits the caps, so the
    steady ticks start from empty mirrors.  `first="distributed"`
    forces batch 0 onto the distributed path by lowering the documented
    per-instance RESIDENT_MAX_DELTA_ROWS for that step only: the first
    resident tick then admits its mirrors from compacted, populated
    stores."""
    g = DifferentialGraph(spark, resident=resident, state_dir=state_dir)
    out, feeds0 = build(g)
    if first == "distributed":
        g.RESIDENT_MAX_DELTA_ROWS = 0
    (d0,) = g.step(out, **feeds0)
    if first == "distributed":
        del g.RESIDENT_MAX_DELTA_ROWS     # back to the class cap
        assert g._res_last_t != g._t
    traces = [_trace(d0.collect())]
    active = []
    for feeds in ticks:
        (d,) = g.step(out, **feeds)
        traces.append(_trace(d.collect()))
        active.append(g._res_last_t == g._t)
    if collect_active:
        return g, out, traces, active
    return g, out, traces


def _orders_build(spark, n0=3000, nk=50):
    rows0 = [(i, i % nk, (i % 37) * 0.25) for i in range(n0)]
    orders = spark.createDataFrame(
        rows0, "k long, ck long, price double")
    cust = spark.createDataFrame(
        [(i, i % 7) for i in range(nk)], "ck long, nat long")

    def build(g):
        so = g.source("o", orders)
        sc = g.source("c", cust)
        out = so.join(sc, on=["ck"]).reduce(
            ["nat"], rev=("sum", "price"), n=("count",),
            ks=("sum", "k"))
        return out, dict(o=orders, c=cust)
    return build, rows0


def _mk_ticks(spark, rows0, nticks, *, rng, nk=50, schema=None):
    schema = schema or "k long, ck long, price double, _pw_diff long"
    live = list(rows0)
    ticks = []
    for b in range(nticks):
        ins = [(10_000 + b * 1000 + j, rng.randrange(nk),
                (rng.randrange(200)) * 0.25, 1) for j in range(120)]
        dels = []
        for r in rng.sample(live, 25):
            dels.append(r + (-1,))
            live.remove(r)
        live.extend(i[:3] for i in ins)
        ticks.append(dict(o=spark.createDataFrame(ins + dels, schema)))
    return ticks


def test_join_reduce_acc_equivalence(spark, first="auto"):
    rng = random.Random(11)
    build, rows0 = _orders_build(spark)
    ticks = _mk_ticks(spark, rows0, 8, rng=rng)
    _, _, tr_res, act = _drive(spark, build, ticks, resident=True,
                               collect_active=True, first=first)
    _, _, tr_cls = _drive(spark, build, ticks, resident=False)
    assert tr_res == tr_cls
    assert all(act), "resident engine silently fell back on a steady tick"


def test_slice_reduce_equivalence(spark, first="auto"):
    """min/max/count_distinct force the slice strategy; retractions
    must re-derive order statistics from the surviving multiset."""
    rng = random.Random(5)
    rows0 = [(i, i % 20, (i * 7) % 101, f"s{i % 13}") for i in range(800)]
    src_df = spark.createDataFrame(rows0, "k long, g long, v long, s string")

    def build(g):
        so = g.source("o", src_df)
        out = so.reduce(["g"], lo=("min", "v"), hi=("max", "v"),
                        nd=("count_distinct", "s"), tot=("sum", "v"),
                        n=("count",))
        return out, dict(o=src_df)

    live = list(rows0)
    ticks = []
    for b in range(6):
        ins = [(5000 + b * 100 + j, rng.randrange(20),
                rng.randrange(101), f"s{rng.randrange(13)}", 1)
               for j in range(40)]
        dels = []
        for r in rng.sample(live, 15):
            dels.append(r + (-1,))
            live.remove(r)
        live.extend(i[:4] for i in ins)
        ticks.append(dict(o=spark.createDataFrame(
            ins + dels, "k long, g long, v long, s string, _pw_diff long")))

    _, _, a = _drive(spark, build, ticks, resident=True,
                     first=first)
    _, _, b = _drive(spark, build, ticks, resident=False)
    assert a == b


def test_distinct_union_flatten_equivalence(spark):
    """The wordcount shape: linear chain + python-explode + count
    reduce, plus a distinct over a union — with NULL text rows (split
    of NULL explodes to nothing) and empty strings."""
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "b c"), (3, None), (4, "")],
        "id long, text string")

    def build(g):
        so = g.source("d", docs)
        words = (so.with_columns(ws=F.split(F.col("text"), r"\s+"))
                   .select(F.col("id"), F.col("ws"))
                   .flatten("ws", "w")
                   .reduce(["w"], n=("count",)))
        return words, dict(d=docs)

    ticks = []
    payloads = [
        [(10, "c d e", 1)],
        [(11, "e e e", 1), (1, "a b c", -1)],
        [(12, None, 1), (13, "f", 1)],
        [(11, "e e e", -1)],
    ]
    for p in payloads:
        ticks.append(dict(d=spark.createDataFrame(
            p, "id long, text string, _pw_diff long")))

    _, _, a = _drive(spark, build, ticks, resident=True)
    _, _, b = _drive(spark, build, ticks, resident=False)
    assert a == b


def test_distinct_node_equivalence(spark, first="auto"):
    base = spark.createDataFrame([(i % 5, f"v{i % 3}") for i in range(40)],
                                 "a long, s string")

    def build(g):
        so = g.source("d", base)
        return so.distinct(), dict(d=base)

    ticks = []
    payloads = [
        [(9, "new", 1)],
        [(0, "v0", -1)],                    # multiplicity drops, stays >0
        [(0, "v0", -7), (1, "v1", 2)],      # flips 0/v0 out
        [(0, "v0", 7)],                     # back in
    ]
    for p in payloads:
        ticks.append(dict(d=spark.createDataFrame(
            p, "a long, s string, _pw_diff long")))
    _, _, a = _drive(spark, build, ticks, resident=True,
                     first=first)
    _, _, b = _drive(spark, build, ticks, resident=False)
    assert a == b


def test_null_join_keys_never_match(spark):
    left = spark.createDataFrame([(1, "x"), (None, "y")], "k long, l string")
    right = spark.createDataFrame([(1, "r1"), (None, "r2")],
                                  "k long, r string")

    def build(g):
        a = g.source("a", left)
        b = g.source("b", right)
        return a.join(b, on=["k"]), dict(a=left, b=right)

    ticks = [dict(a=spark.createDataFrame([(None, "z", 1), (1, "w", 1)],
                                          "k long, l string, _pw_diff long"))]
    _, _, a = _drive(spark, build, ticks, resident=True)
    _, _, b = _drive(spark, build, ticks, resident=False)
    assert a == b
    # null keys padded nothing into the inner join
    assert all("y" not in str(row) for row in a[-1])


def test_nan_group_keys_group_together(spark):
    nan = float("nan")
    base = spark.createDataFrame([(nan, 1), (nan, 2), (1.5, 3)],
                                 "g double, v long")

    def build(g):
        so = g.source("d", base)
        return so.reduce(["g"], s=("sum", "v"), n=("count",)), dict(d=base)

    ticks = [dict(d=spark.createDataFrame([(nan, 10, 1)],
                                          "g double, v long, _pw_diff long")),
             dict(d=spark.createDataFrame([(nan, 1, -1)],
                                          "g double, v long, _pw_diff long"))]
    g, out, a, act = _drive(spark, build, ticks, resident=True,
                            collect_active=True)
    assert all(act)
    _, _, b = _drive(spark, build, ticks, resident=False)

    def keyed(tr):
        return sorted((repr(x[0]),) + tuple(x[1:]) for x in tr)
    assert [keyed(x) for x in a] == [keyed(x) for x in b]


def test_fallback_and_resume_preserve_state(spark):
    """Resident ticks → an over-cap wide batch (distributed, mirrors
    synced + dropped) → resident resumes after the cooldown; the full
    integrated trace must match an always-distributed drive."""
    rng = random.Random(23)
    build, rows0 = _orders_build(spark, n0=1000, nk=30)
    small = _mk_ticks(spark, rows0, 3, rng=rng, nk=30)
    wide_rows = [(90_000 + j, j % 30, 0.25, 1) for j in range(60_000)]
    wide = dict(o=spark.createDataFrame(
        wide_rows, "k long, ck long, price double, _pw_diff long"))
    more = _mk_ticks(spark, rows0, 12, rng=rng, nk=30)
    ticks = small + [wide] + more

    gr, outr, a, act = _drive(spark, build, ticks, resident=True,
                              collect_active=True)
    _, _, b = _drive(spark, build, ticks, resident=False)
    assert a == b
    assert act[0] and act[1] and act[2], "steady prefix should be resident"
    assert not act[3], "the wide batch must run distributed"
    assert act[-1], "resident mode should re-establish after the cooldown"


def test_commit_restore_through_resident_ticks(spark, tmp_path):
    """Mirror rows must reach durable state: resident ticks, commit,
    restore into a fresh graph, continue — equal to one distributed
    drive of the same stream."""
    rng = random.Random(7)
    sd = str(tmp_path / "state")
    build, rows0 = _orders_build(spark, n0=500, nk=10)
    pre = _mk_ticks(spark, rows0, 3, rng=rng, nk=10)
    post = _mk_ticks(spark, rows0, 2, rng=rng, nk=10)

    g, out, traces = _drive(spark, build, pre, resident=True, state_dir=sd)
    assert g._res_last_t == g._t      # resident actually ran
    g.commit()

    g2 = DifferentialGraph(spark, resident=True, state_dir=sd)
    out2, _ = build(g2)
    for feeds in post:
        (d,) = g2.step(out2, **feeds)
        traces.append(_trace(d.collect()))

    _, _, ref = _drive(spark, build, pre + post, resident=False)
    assert traces == ref


def test_repeated_commit_restore_between_resident_stretches(spark,
                                                            tmp_path):
    """commit() with live mirrors (sync without detach), more resident
    ticks, commit again, crash-restore, resume — integrated durable
    state must match an always-distributed drive of the same stream."""
    rng = random.Random(31)
    sd = str(tmp_path / "state2")
    build, rows0 = _orders_build(spark, n0=400, nk=8)
    s1 = _mk_ticks(spark, rows0, 2, rng=rng, nk=8)
    s2 = _mk_ticks(spark, rows0, 2, rng=rng, nk=8)
    s3 = _mk_ticks(spark, rows0, 2, rng=rng, nk=8)

    g, out, traces = _drive(spark, build, s1, resident=True, state_dir=sd)
    g.commit()
    for feeds in s2:
        (d,) = g.step(out, **feeds)
        traces.append(_trace(d.collect()))
    assert g._res_last_t == g._t
    g.commit()

    g2 = DifferentialGraph(spark, resident=True, state_dir=sd)
    out2, _ = build(g2)
    for feeds in s3:
        (d,) = g2.step(out2, **feeds)
        traces.append(_trace(d.collect()))

    _, _, ref = _drive(spark, build, s1 + s2 + s3, resident=False)
    assert traces == ref


def test_caps_route_to_distributed(spark):
    build, rows0 = _orders_build(spark, n0=400, nk=10)
    rng = random.Random(3)
    ticks = _mk_ticks(spark, rows0, 2, rng=rng, nk=10)

    g = DifferentialGraph(spark, resident=True)
    g.RESIDENT_MAX_DELTA_ROWS = 10       # instance override
    out, feeds0 = build(g)
    g.step(out, **feeds0)
    for feeds in ticks:
        (d,) = g.step(out, **feeds)
        d.collect()
        assert g._res_last_t != g._t, "over-cap delta must run distributed"


@pytest.mark.parametrize("anti", [False, True], ids=["semi", "anti"])
def test_semi_anti_equivalence(spark, anti, first="auto"):
    """Presence flips (0↔>0) through right-side churn, null keys, and
    left deltas gating on the new presence."""
    left0 = spark.createDataFrame(
        [(i % 12, f"l{i}") for i in range(60)] + [(None, "lnull")],
        "k long, payload string")
    right0 = spark.createDataFrame(
        [(i % 6, i) for i in range(18)], "rk long, rv long")

    def build(g):
        a = g.source("a", left0)
        b = g.source("b", right0)
        out = (a.anti_join(b, ["k"], ["rk"]) if anti
               else a.semi_join(b, ["k"], ["rk"]))
        return out, dict(a=left0, b=right0)

    rsch = "rk long, rv long, _pw_diff long"
    lsch = "k long, payload string, _pw_diff long"
    ticks = [
        dict(b=spark.createDataFrame([(7, 100, 1)], rsch)),   # appears
        dict(a=spark.createDataFrame([(7, "new7", 1),
                                      (None, "n2", 1)], lsch)),
        dict(b=spark.createDataFrame([(0, 0, -1), (0, 6, -1),
                                      (0, 12, -1)], rsch)),   # vanishes
        dict(b=spark.createDataFrame([(0, 50, 1)], rsch),
             a=spark.createDataFrame([(0, "back", 1)], lsch)),
        dict(a=spark.createDataFrame([(7, "new7", -1)], lsch)),
    ]
    _, _, a = _drive(spark, build, ticks, resident=True,
                     first=first)
    _, _, b = _drive(spark, build, ticks, resident=False)
    assert a == b


def test_asof_now_equivalence(spark, first="auto"):
    """Freeze-at-arrival: later right churn never retracts frozen
    matches; left retractions replay exact trace bytes."""
    docs0 = spark.createDataFrame(
        [(i % 5, f"d{i}", i * 0.25) for i in range(20)],
        "key long, doc string, score double")
    q0 = spark.createDataFrame([], "qid long, key long")

    def build(g):
        docs = g.source("docs", docs0)
        qs = g.source("qs", q0)
        from pathway_spark.streaming.differential import _AsofNowNode
        out = _AsofNowNode(g, qs, docs, ["key"], ["key"])
        return out, dict(docs=docs0, qs=q0)

    qsch = "qid long, key long, _pw_diff long"
    dsch = "key long, doc string, score double, _pw_diff long"
    ticks = [
        dict(qs=spark.createDataFrame([(1, 0, 1), (2, 3, 1)], qsch)),
        dict(docs=spark.createDataFrame([(0, "new0", 9.0, 1),
                                         (3, "d3", 0.75, -1)], dsch)),
        # same keys queried again: sees the CHANGED right state
        dict(qs=spark.createDataFrame([(3, 0, 1)], qsch)),
        # retraction of query 1 replays its frozen rows only
        dict(qs=spark.createDataFrame([(1, 0, -1)], qsch)),
        # mixed tick: docs and queries together
        dict(docs=spark.createDataFrame([(2, "late2", 1.0, 1)], dsch),
             qs=spark.createDataFrame([(4, 2, 1)], qsch)),
    ]
    _, _, a = _drive(spark, build, ticks, resident=True,
                     first=first)
    _, _, b = _drive(spark, build, ticks, resident=False)
    assert a == b


def test_keyed_recompute_sort_equivalence(spark, first="auto"):
    """keyed_recompute (per-instance lag/lead sort) through inserts
    and retractions: the user op runs through Spark in both paths;
    resident must replay exact trace bytes for retractions."""
    from pyspark.sql import Window as W
    from pathway_spark.streaming.differential import (
        _KeyedRecomputeUnaryNode)

    base = spark.createDataFrame(
        [(i, i % 3, (i * 17) % 50) for i in range(30)],
        "rid long, g long, x long")

    def op(plain):
        w = W.partitionBy("g").orderBy("x", "rid")
        return (plain.withColumn("prev", F.lag("rid").over(w))
                     .withColumn("next", F.lead("rid").over(w)))

    def build(g):
        src = g.source("t", base)
        return _KeyedRecomputeUnaryNode(g, src, ["g"], op), dict(t=base)

    sch = "rid long, g long, x long, _pw_diff long"
    ticks = [
        dict(t=spark.createDataFrame([(100, 0, 7, 1), (101, 2, 3, 1)],
                                     sch)),
        dict(t=spark.createDataFrame([(0, 0, 0, -1), (100, 0, 7, -1)],
                                     sch)),
        dict(t=spark.createDataFrame([(102, 1, 25, 1), (4, 1, 18, -1)],
                                     sch)),
    ]
    _, _, a = _drive(spark, build, ticks, resident=True,
                     first=first)
    _, _, b = _drive(spark, build, ticks, resident=False)
    assert a == b


def test_binary_keyed_recompute_asof_equivalence(spark):
    """Live asof_join (binary keyed recompute) through churn on both
    sides: per-key slices re-run the batch asof op through Spark in
    both paths; trace bytes must cancel across retractions."""
    from pathway_spark.streaming.diff_table import DifferentialTableGraph
    from pathway_spark import this

    lrows = [(k, ts, float(ts)) for k in range(4) for ts in (10, 20, 30)]
    rrows = [(k, ts, ts * 100) for k in range(4) for ts in (5, 15, 25)]
    lsch = "k long, lt long, lv double"
    rsch = "k long, rt long, rv long"

    def drive(resident):
        g = DifferentialTableGraph(spark, resident=resident)
        lt = g.input("l", spark.createDataFrame(lrows, lsch))
        rt = g.input("r", spark.createDataFrame(rrows, rsch))
        out = lt.asof_join(rt, this.lt, this.rt, this.k == this.k)
        (d0,) = g.step(out.node,
                       l=spark.createDataFrame(lrows, lsch),
                       r=spark.createDataFrame(rrows, rsch))
        traces = [_trace(d0.collect())]
        ticks = [
            dict(l=spark.createDataFrame([(1, 40, 40.0, 1)],
                                         lsch + ", _pw_diff long")),
            dict(r=spark.createDataFrame([(1, 35, 3500, 1)],
                                         rsch + ", _pw_diff long")),
            dict(l=spark.createDataFrame([(1, 40, 40.0, -1)],
                                         lsch + ", _pw_diff long"),
                 r=spark.createDataFrame([(2, 28, 2800, 1)],
                                         rsch + ", _pw_diff long")),
            dict(r=spark.createDataFrame([(2, 25, 2500, -1)],
                                         rsch + ", _pw_diff long")),
        ]
        for feeds in ticks:
            (d,) = g.step(out.node, **feeds)
            traces.append(_trace(d.collect()))
        return traces

    assert drive(True) == drive(False)


@pytest.mark.parametrize("how", ["left", "right", "outer"])
def test_outer_join_equivalence(spark, how, first="auto"):
    """Presence-flip padding: probe keys appearing/vanishing retract/
    emit null-padded rows; fresh kept rows pad under absent keys; null
    keys always pad (EqualTo semantics)."""
    left0 = spark.createDataFrame(
        [(i % 8, f"l{i}") for i in range(24)] + [(None, "lnull")],
        "k long, lval string")
    right0 = spark.createDataFrame(
        [(i % 5, i * 10) for i in range(10)], "k long, rval long")

    def build(g):
        a = g.source("a", left0)
        b = g.source("b", right0)
        return a.join(b, on=["k"], how=how), dict(a=left0, b=right0)

    lsch = "k long, lval string, _pw_diff long"
    rsch = "k long, rval long, _pw_diff long"
    ticks = [
        dict(b=spark.createDataFrame([(6, 600, 1)], rsch)),    # appears
        dict(a=spark.createDataFrame([(6, "n6", 1), (None, "n2", 1)],
                                     lsch)),
        dict(b=spark.createDataFrame([(0, 0, -1), (0, 50, -1)], rsch)),
        dict(b=spark.createDataFrame([(0, 7, 1)], rsch),       # back +
             a=spark.createDataFrame([(0, "back", 1)], lsch)),  # mixed
        dict(a=spark.createDataFrame([(6, "n6", -1)], lsch)),
    ]
    _, _, a = _drive(spark, build, ticks, resident=True,
                     first=first)
    _, _, b = _drive(spark, build, ticks, resident=False)
    assert a == b


@pytest.mark.parametrize("mode", ["ignore_late", "forget", "buffer"])
def test_watermark_behaviors_equivalence(spark, mode, first="auto"):
    """Watermark cuts, NULL times, late rows, and (forget) horizon
    evictions / (buffer) releases across watermark jumps."""
    base = spark.createDataFrame(
        [(i, i * 10, f"v{i}") for i in range(10)],
        "k long, ts long, s string")

    def build(g):
        so = g.source("d", base)
        if mode == "ignore_late":
            out = so.ignore_late("ts", 25)
        elif mode == "forget":
            out = so.forget("ts", 25)
        else:
            out = so.buffer("ts", 25)
        return out, dict(d=base)

    sch = "k long, ts long, s string, _pw_diff long"
    ticks = [
        dict(d=spark.createDataFrame([(20, 95, "fresh", 1),
                                      (21, None, "nullts", 1)], sch)),
        dict(d=spark.createDataFrame([(22, 10, "late", 1)], sch)),
        # watermark jump: expires/releases a batch of rows at once
        dict(d=spark.createDataFrame([(23, 500, "jump", 1)], sch)),
        dict(d=spark.createDataFrame([(24, 495, "edge", 1),
                                      (20, 95, "fresh", -1)], sch)),
    ]
    _, _, a = _drive(spark, build, ticks, resident=True,
                     first=first)
    _, _, b = _drive(spark, build, ticks, resident=False)
    assert a == b


@pytest.mark.parametrize("check", [
    test_join_reduce_acc_equivalence,
    test_slice_reduce_equivalence,
    test_distinct_node_equivalence,
    functools.partial(test_semi_anti_equivalence, anti=True),
    test_asof_now_equivalence,
    test_keyed_recompute_sort_equivalence,
    functools.partial(test_outer_join_equivalence, how="outer"),
    functools.partial(test_watermark_behaviors_equivalence, mode="forget"),
    functools.partial(test_watermark_behaviors_equivalence, mode="buffer"),
], ids=["join_acc_reduce", "slice_reduce", "distinct", "anti_join",
        "asof_now", "keyed_recompute", "outer_join", "forget", "buffer"])
def test_equivalence_with_batch0_distributed(spark, check):
    """The equivalence drives above run batch 0 resident (fresh graphs
    start from empty mirrors).  Forcing batch 0 distributed keeps the
    other admission path covered: mirrors loaded from compacted,
    populated stores on the first steady tick."""
    check(spark, first="distributed")


def test_watermark_timestamp_threshold_equivalence(spark):
    """timedelta thresholds over TIMESTAMP columns are resident
    (microsecond-exact in both paths)."""
    import datetime as dt
    t0 = dt.datetime(2024, 1, 1)
    base = spark.createDataFrame(
        [(i, t0 + dt.timedelta(seconds=i * 10)) for i in range(10)],
        "k long, ts timestamp")

    def build(g):
        so = g.source("d", base)
        return so.forget("ts", dt.timedelta(seconds=25)), dict(d=base)

    sch = "k long, ts timestamp, _pw_diff long"
    ticks = [
        dict(d=spark.createDataFrame(
            [(20, t0 + dt.timedelta(seconds=95), 1)], sch)),
        dict(d=spark.createDataFrame(
            [(23, t0 + dt.timedelta(seconds=500), 1)], sch)),
    ]
    g, _, a, act = _drive(spark, build, ticks, resident=True,
                          collect_active=True)
    assert all(act), "timestamp watermark should run resident"
    _, _, b = _drive(spark, build, ticks, resident=False)
    assert a == b


def test_partial_mirror_attach_then_fallback(spark):
    """A kernel whose SECOND store is over the state cap aborts phase 1
    after the first mirror already attached; the distributed fallback
    tick must see detached stores (not trip the update guard) and stay
    correct."""
    left0 = spark.createDataFrame([(i % 10, i) for i in range(50)],
                                  "k long, lv long")
    right0 = spark.createDataFrame([(i % 10, i * 2) for i in range(3000)],
                                   "k long, rv long")

    def build(g):
        a = g.source("a", left0)
        b = g.source("b", right0)
        return a.join(b, on=["k"]), dict(a=left0, b=right0)

    lsch = "k long, lv long, _pw_diff long"
    ticks = [dict(a=spark.createDataFrame([(3, 999, 1)], lsch)),
             dict(a=spark.createDataFrame([(3, 999, -1)], lsch))]

    g = DifferentialGraph(spark, resident=True)
    g.RESIDENT_MAX_STATE_ROWS = 1000     # right store (3000 rows) over
    out, feeds0 = build(g)
    (d0,) = g.step(out, **feeds0)
    traces = [_trace(d0.collect())]
    for feeds in ticks:
        (d,) = g.step(out, **feeds)      # must not raise
        traces.append(_trace(d.collect()))
        assert g._res_last_t != g._t     # stayed distributed

    _, _, ref = _drive(spark, build, ticks, resident=False)
    assert traces == ref


def test_mixed_kernel_graph_randomized_with_bursts(spark):
    """One graph exercising join + acc reduce + semi join + distinct +
    forget simultaneously, driven by randomized churn with two
    over-cap bursts (mid-stream fallback + resumption) — the whole
    trace must equal an always-distributed drive."""
    rng = random.Random(99)
    ev0 = [(i, i % 25, i * 5, (i % 8) * 0.25) for i in range(2000)]
    events = spark.createDataFrame(ev0, "eid long, g long, ts long, v double")
    dims = spark.createDataFrame([(i, f"d{i % 4}") for i in range(25)],
                                 "g long, tag string")
    allow = spark.createDataFrame([(i,) for i in range(0, 25, 2)],
                                  "g long")

    def build(g):
        ev = g.source("ev", events)
        dm = g.source("dm", dims)
        al = g.source("al", allow)
        fresh = ev.forget("ts", 10_000)          # horizon far away
        joined = fresh.join(dm, on=["g"])
        gated = joined.semi_join(al, ["g"])
        agg = gated.reduce(["tag"], n=("count",), s=("sum", "v"))
        return agg.distinct(), dict(ev=events, dm=dims, al=allow)

    esch = "eid long, g long, ts long, v double, _pw_diff long"
    live = list(ev0)
    ticks = []
    for b in range(12):
        if b in (4, 8):   # burst over the delta cap -> distributed
            rows = [(10**6 + b * 10**5 + j, j % 25, 10_000 + j,
                     0.25, 1) for j in range(60_001)]
            ticks.append(dict(ev=spark.createDataFrame(rows, esch)))
            continue
        ins = [(10_000 + b * 100 + j, rng.randrange(25),
                10_000 + b * 10 + j, rng.randrange(8) * 0.25, 1)
               for j in range(30)]
        dels = []
        for r in rng.sample(live, 10):
            dels.append(r + (-1,))
            live.remove(r)
        live.extend(i[:4] for i in ins)
        feeds = dict(ev=spark.createDataFrame(ins + dels, esch))
        if b % 3 == 0:    # occasional right-side churn on the gate
            feeds["al"] = spark.createDataFrame(
                [(rng.randrange(25), rng.choice((1, -1)))],
                "g long, _pw_diff long")
        ticks.append(feeds)

    _, _, a = _drive(spark, build, ticks, resident=True)
    _, _, b = _drive(spark, build, ticks, resident=False)
    assert a == b


def test_topk_kernel_equivalence(spark):
    """Live top-k join: doc inserts that beat k-th scores, doc
    retractions held by queries, and query churn — resident vs
    distributed, exact traces."""
    from pathway_spark.streaming.incremental_topk import (
        incremental_knn_topk)
    rng = random.Random(17)

    def vec(i):
        return [round(rng.uniform(-1, 1), 3) for _ in range(8)]

    docs0 = [(i, vec(i)) for i in range(60)]
    qs0 = [(1000 + i, vec(i)) for i in range(5)]
    dsch = "vec_id long, embedding array<double>"

    def build(g):
        dq = g.source("q", spark.createDataFrame(qs0, dsch))
        dd = g.source("d", spark.createDataFrame(docs0, dsch))
        out = incremental_knn_topk(dq, dd, k=3)
        return out, dict(q=spark.createDataFrame(qs0, dsch),
                         d=spark.createDataFrame(docs0, dsch))

    esch = dsch + ", _pw_diff long"
    rng2 = random.Random(5)
    ticks = [
        dict(q=spark.createDataFrame([(1010, vec(99), 1)], esch)),
        dict(d=spark.createDataFrame([(200, vec(7), 1),
                                      (3, docs0[3][1], -1)], esch)),
        dict(d=spark.createDataFrame(
            [(201 + j, vec(50 + j), 1) for j in range(5)], esch)),
        dict(q=spark.createDataFrame([(1000, qs0[0][1], -1)], esch)),
    ]
    _, _, a, act = _drive(spark, build, ticks, resident=True,
                          collect_active=True)
    assert all(act), "topk kernel should engage on steady ticks"
    _, _, b = _drive(spark, build, ticks, resident=False)
    assert a == b


def _drive_table(spark, build_out, feeds0, ticks, *, resident):
    """DiffTable-idiom drive: build via DifferentialTableGraph, run
    batch 0 + ticks, return (traces, per-tick resident flags)."""
    from pathway_spark.streaming.diff_table import DifferentialTableGraph
    g = DifferentialTableGraph(spark, resident=resident)
    out = build_out(g)
    (d0,) = g.step(out.node, **feeds0)
    traces = [_trace(d0.collect())]
    active = []
    for feeds in ticks:
        (d,) = g.step(out.node, **feeds)
        traces.append(_trace(d.collect()))
        active.append(g._res_last_t == g._t)
    return traces, active


def test_interval_join_equivalence(spark):
    """Live interval join (banded θ kernel): inserts AND retractions on
    both sides, NULL times, NULL keys, matches at both interval
    boundaries — resident traces must equal the distributed path."""
    from pathway_spark import this
    rng = random.Random(41)

    lrows = [(i, i % 6, i * 3 % 100, f"l{i}") for i in range(200)]
    rrows = [(i, i % 6, (i * 7 + 2) % 100, i * 10) for i in range(200)]
    lrows += [(900, None, 5, "lnullk"), (901, 2, None, "lnullt")]
    rrows += [(900, None, 5, -1), (901, 2, None, -2)]
    lsch = "lid long, g long, lt long, tag string"
    rsch = "rid long, rg long, rt long, rv long"
    ldf = spark.createDataFrame(lrows, lsch)
    rdf = spark.createDataFrame(rrows, rsch)

    def build(g):
        lt = g.input("l", ldf)
        rt = g.input("r", rdf)
        return lt.interval_join(rt, this.lt, this.rt, (-4, 9),
                                this.g == this.rg)

    live_l, live_r = list(lrows), list(rrows)
    ticks = []
    for b in range(6):
        lin = [(1000 + b * 50 + j, rng.randrange(6), rng.randrange(100),
                f"n{b}_{j}", 1) for j in range(15)]
        rin = [(2000 + b * 50 + j, rng.randrange(6), rng.randrange(100),
                rng.randrange(500), 1) for j in range(15)]
        ldel = []
        for r in rng.sample(live_l, 5):
            ldel.append(r + (-1,))
            live_l.remove(r)
        rdel = []
        for r in rng.sample(live_r, 5):
            rdel.append(r + (-1,))
            live_r.remove(r)
        live_l.extend(x[:4] for x in lin)
        live_r.extend(x[:4] for x in rin)
        ticks.append(dict(
            l=spark.createDataFrame(lin + ldel, lsch + ", _pw_diff long"),
            r=spark.createDataFrame(rin + rdel, rsch + ", _pw_diff long")))

    feeds0 = dict(l=ldf, r=rdf)
    a, act = _drive_table(spark, build, feeds0, ticks, resident=True)
    b_, _ = _drive_table(spark, build, feeds0, ticks, resident=False)
    assert a == b_
    assert all(act), "interval-join ticks should run resident"
    # sanity: the stream actually produced matches
    assert any(len(tr) > 0 for tr in a)


def test_interval_join_timestamp_equivalence(spark):
    """timedelta bounds over TIMESTAMP columns band resident under the
    fixed-offset (UTC) session timezone — microsecond-exact."""
    import datetime as dt
    from pathway_spark import this
    t0 = dt.datetime(2024, 3, 1)

    lrows = [(i, i % 3, t0 + dt.timedelta(seconds=i * 7)) for i in range(60)]
    rrows = [(i, i % 3, t0 + dt.timedelta(seconds=i * 5 + 3))
             for i in range(60)]
    lsch = "lid long, g long, lt timestamp"
    rsch = "rid long, rg long, rt timestamp"
    ldf = spark.createDataFrame(lrows, lsch)
    rdf = spark.createDataFrame(rrows, rsch)

    def build(g):
        lt = g.input("l", ldf)
        rt = g.input("r", rdf)
        return lt.interval_join(
            rt, this.lt, this.rt,
            (dt.timedelta(seconds=-10), dt.timedelta(seconds=10)),
            this.g == this.rg)

    ticks = [
        dict(l=spark.createDataFrame(
            [(100, 1, t0 + dt.timedelta(seconds=50), 1),
             (3, 0, t0 + dt.timedelta(seconds=21), -1)],
            lsch + ", _pw_diff long")),
        dict(r=spark.createDataFrame(
            [(100, 1, t0 + dt.timedelta(seconds=55), 1),
             (6, 0, t0 + dt.timedelta(seconds=33), -1)],
            rsch + ", _pw_diff long")),
        dict(l=spark.createDataFrame(
            [(100, 1, t0 + dt.timedelta(seconds=50), -1)],
            lsch + ", _pw_diff long")),
    ]
    feeds0 = dict(l=ldf, r=rdf)
    a, act = _drive_table(spark, build, feeds0, ticks, resident=True)
    b_, _ = _drive_table(spark, build, feeds0, ticks, resident=False)
    assert a == b_
    assert all(act), "timestamp interval join should run resident"


def test_interval_join_double_nan_inf_equivalence(spark):
    """Double time axis with NaN and ±inf values: the kernel's sentinel
    bands must reproduce Spark's NaN total-order comparison semantics
    exactly (NaN matches NaN; inf matches inf)."""
    from pathway_spark import this
    nan, inf = float("nan"), float("inf")

    lrows = [(1, 1.0), (2, 5.5), (3, nan), (4, inf), (5, -inf)]
    rrows = [(11, 2.0), (12, 6.0), (13, nan), (14, inf), (15, -inf)]
    lsch = "lid long, lt double"
    rsch = "rid long, rt double"
    ldf = spark.createDataFrame(lrows, lsch)
    rdf = spark.createDataFrame(rrows, rsch)

    def build(g):
        lt = g.input("l", ldf)
        rt = g.input("r", rdf)
        return lt.interval_join(rt, this.lt, this.rt, (-1, 1))

    ticks = [
        dict(l=spark.createDataFrame([(6, nan, 1), (3, nan, -1)],
                                     lsch + ", _pw_diff long")),
        dict(r=spark.createDataFrame([(16, 1.5, 1), (14, inf, -1)],
                                     rsch + ", _pw_diff long")),
        dict(l=spark.createDataFrame([(7, -inf, 1)],
                                     lsch + ", _pw_diff long")),
    ]
    feeds0 = dict(l=ldf, r=rdf)
    a, act = _drive_table(spark, build, feeds0, ticks, resident=True)
    b_, _ = _drive_table(spark, build, feeds0, ticks, resident=False)

    def norm(trs):   # NaN != NaN breaks raw tuple equality — repr-compare
        return [sorted(tuple(repr(v) for v in row) for row in tr)
                for tr in trs]
    assert norm(a) == norm(b_)
    assert all(act)
    # NaN must have matched NaN somewhere in batch 0
    assert any("nan" in repr(tr).lower() for tr in a)


def test_interval_join_state_cap_fallback(spark):
    """An interval join whose state exceeds the resident cap stays
    distributed and correct (the generic cap contract holds for the
    banded mirrors too)."""
    from pathway_spark import this
    from pathway_spark.streaming.diff_table import DifferentialTableGraph

    lrows = [(i, i % 4, i % 50) for i in range(3000)]
    rrows = [(i, i % 4, (i + 3) % 50) for i in range(100)]
    lsch = "lid long, g long, lt long"
    rsch = "rid long, rg long, rt long"
    ldf = spark.createDataFrame(lrows, lsch)
    rdf = spark.createDataFrame(rrows, rsch)

    def run(resident, cap=None):
        g = DifferentialTableGraph(spark, resident=resident)
        if cap:
            g.RESIDENT_MAX_STATE_ROWS = cap
        lt = g.input("l", ldf)
        rt = g.input("r", rdf)
        out = lt.interval_join(rt, this.lt, this.rt, (0, 2),
                               this.g == this.rg)
        (d0,) = g.step(out.node, l=ldf, r=rdf)
        traces = [_trace(d0.collect())]
        flags = []
        for i in range(2):
            (d,) = g.step(out.node, r=spark.createDataFrame(
                [(5000 + i, i % 4, (i * 11) % 50, 1)],
                rsch + ", _pw_diff long"))
            traces.append(_trace(d.collect()))
            flags.append(g._res_last_t == g._t)
        return traces, flags

    a, fa = run(True, cap=1000)
    b_, _ = run(False)
    assert a == b_
    assert not any(fa), "over-cap state must stay distributed"


def _rtrace(rows) -> list[tuple]:
    return sorted((tuple(repr(v) for v in r) for r in rows), key=repr)


def test_step_rows_and_local_feed_equivalence(spark):
    """Connector-handoff feeds (pandas / pyarrow / (cols, rows)) plus
    step_rows direct output must produce exactly the DataFrame-feed
    distributed trace — including NULLs, NaN doubles and timestamps —
    with every steady tick resident."""
    import datetime as dt
    import pandas as pd
    import pyarrow as pa
    from pathway_spark.streaming.differential import DifferentialGraph

    t0 = dt.datetime(2024, 5, 1)
    nan = float("nan")
    rows0 = [(i, i % 7, (i % 5) * 0.25 if i % 11 else nan,
              t0 + dt.timedelta(minutes=i) if i % 13 else None,
              f"s{i % 3}" if i % 9 else None)
             for i in range(400)]
    sch = ("k long, g long, v double, ts timestamp, s string")
    base = spark.createDataFrame(rows0, sch)

    def build(g):
        src = g.source("o", base)
        out = src.filter(F.col("g") != 5).reduce(
            ["g"], n=("count",), sv=("sum", "v"),
            mx=("max", "ts"), nd=("count_distinct", "s"))
        return out

    payload_rows = []
    for b in range(6):
        ins = [(10_000 + b * 100 + j, (b + j) % 7,
                (j % 4) * 0.5 if j % 6 else nan,
                t0 + dt.timedelta(hours=b, minutes=j) if j % 5 else None,
                f"s{j % 3}", 1) for j in range(20)]
        dels = [rows0[b * 30 + j] + (-1,) for j in range(5)]
        payload_rows.append(ins + dels)
    cols = ["k", "g", "v", "ts", "s", "_pw_diff"]

    def payload(i, rows):
        kind = i % 3
        if kind == 0:
            return pd.DataFrame(rows, columns=cols)
        if kind == 1:
            pdf = pd.DataFrame(rows, columns=cols)
            return pa.Table.from_pandas(pdf, preserve_index=False)
        return (cols, rows)

    # resident drive, row feeds, step_rows
    g = DifferentialGraph(spark, resident=True)
    out = build(g)
    (d0,) = g.step(out, o=base)
    tr_res = [_rtrace(tuple(r) for r in d0.collect())]
    for i, rows in enumerate(payload_rows):
        ((ocols, orows),) = g.step_rows(out, o=payload(i, rows))
        assert g._res_last_t == g._t, f"tick {i} fell back"
        # realign rows to a canonical column order before comparing
        order = sorted(range(len(ocols)), key=lambda j: ocols[j])
        tr_res.append(_rtrace(tuple(r[j] for j in order) for r in orows))

    # distributed drive, DataFrame feeds
    g2 = DifferentialGraph(spark, resident=False)
    out2 = build(g2)
    (e0,) = g2.step(out2, o=base)
    tr_cls = [_rtrace(tuple(r) for r in e0.collect())]
    for rows in payload_rows:
        (d,) = g2.step(out2, o=spark.createDataFrame(
            rows, sch + ", _pw_diff long"))
        cc = sorted(d.columns)
        tr_cls.append(_rtrace(tuple(r[c] for c in cc)
                              for r in d.collect()))
    assert tr_res == tr_cls


def test_local_feed_on_distributed_graph(spark):
    """Row feeds also work with resident=False — converted to one
    Arrow LocalRelation per source on the classic path."""
    import pandas as pd
    from pathway_spark.streaming.differential import DifferentialGraph

    base = spark.createDataFrame([(i, i % 3) for i in range(30)],
                                 "k long, g long")
    g = DifferentialGraph(spark, resident=False)
    out = g.source("o", base).reduce(["g"], n=("count",))
    g.step(out, o=base)
    (d,) = g.step(out, o=pd.DataFrame(
        [(100, 0, 1), (101, 0, 1)], columns=["k", "g", "_pw_diff"]))
    got = {(r["g"], r["n"], r["_pw_diff"]) for r in d.collect()}
    assert (0, 12, 1) in got and (0, 10, -1) in got


def test_local_feed_rejects_unknown_columns(spark):
    import pandas as pd
    from pathway_spark.streaming.differential import DifferentialGraph

    base = spark.createDataFrame([(1, 2)], "k long, g long")
    g = DifferentialGraph(spark, resident=False)
    out = g.source("o", base).distinct()
    g.step(out, o=base)
    with pytest.raises(ValueError, match="unknown columns"):
        g.step(out, o=pd.DataFrame([(1, 2)], columns=["k", "wrong"]))


def test_byte_cap_keeps_wide_rows_distributed(spark):
    """Few-but-wide rows (long text) must trip the BYTE cap even far
    under the row cap — the r8 wide-row driver-OOM hazard — while the
    same pipeline with narrow rows stays resident under the same
    byte budget."""
    from pathway_spark.streaming.differential import DifferentialGraph

    def drive(texts, byte_cap):
        base = spark.createDataFrame(
            [(i, texts[i % len(texts)]) for i in range(200)],
            "k long, text string")
        g = DifferentialGraph(spark, resident=True)
        g.RESIDENT_MAX_STATE_BYTES = byte_cap
        out = g.source("d", base).distinct()
        (d0,) = g.step(out, d=base)
        traces = [_trace(d0.collect())]
        flags = []
        for i in range(2):
            (d,) = g.step(out, d=spark.createDataFrame(
                [(1000 + i, texts[0], 1)],
                "k long, text string, _pw_diff long"))
            traces.append(_trace(d.collect()))
            flags.append(g._res_last_t == g._t)
        return traces, flags

    wide = ["x" * 20_000 + str(i) for i in range(7)]    # ~4 MB state
    narrow = [f"t{i}" for i in range(7)]                # ~10 KB state
    cap = 1024 * 1024
    tw, fw = drive(wide, cap)
    tn, fn_ = drive(narrow, cap)
    assert not any(fw), "wide rows must stay distributed (byte cap)"
    assert all(fn_), "narrow rows must stay resident under the same cap"
    # correctness unaffected either way
    ref_w, _ = drive(wide, 10**12)
    assert tw == ref_w


def test_byte_cap_trips_on_growth(spark):
    """A mirror admitted small must detach when APPLIED deltas grow it
    past the byte cap (est_bytes is maintained incrementally)."""
    from pathway_spark.streaming.differential import DifferentialGraph

    base = spark.createDataFrame([(i, f"s{i}") for i in range(50)],
                                 "k long, text string")
    g = DifferentialGraph(spark, resident=True)
    g.RESIDENT_MAX_STATE_BYTES = 200_000
    out = g.source("d", base).distinct()
    g.step(out, d=base)
    wide = "y" * 5_000
    flags = []
    for i in range(60):
        (d,) = g.step(out, d=spark.createDataFrame(
            [(10_000 + i, wide + str(i), 1)],
            "k long, text string, _pw_diff long"))
        d.collect()
        flags.append(g._res_last_t == g._t)
    assert flags[0], "starts resident"
    assert not flags[-1], "growth past the byte cap must detach"


def test_global_keyless_reduce(spark):
    base = spark.createDataFrame([(i, (i % 4) * 0.25) for i in range(100)],
                                 "k long, v double")

    def build(g):
        so = g.source("d", base)
        return (so.reduce([], s=("sum", "v"), n=("count",),
                          a=("avg", "v")),
                dict(d=base))

    ticks = [dict(d=spark.createDataFrame([(200, 5.25, 1), (0, 0.0, -1)],
                                          "k long, v double, _pw_diff long")),
             dict(d=spark.createDataFrame([(201, 1.0, 1)],
                                          "k long, v double, _pw_diff long"))]
    _, _, a = _drive(spark, build, ticks, resident=True)
    _, _, b = _drive(spark, build, ticks, resident=False)
    assert a == b


@pytest.mark.parametrize("axis", ["long", "double"])
def test_intervals_over_live_resident_equivalence(spark, axis):
    """Live intervals_over (θ join against at-points, banded with the
    rearranged int-only metadata) + per-point reduce: resident vs
    distributed traces through data and at-point churn.  The double
    axis (r10) exercises orig_bounds: bands generate with ulp slack on
    the rearranged side and every candidate re-checks the ORIGINAL
    `t ∈ [p+lo, p+up]` in IEEE doubles — Catalyst-identical, including
    inexact decimal bounds and on-boundary values."""
    import pathway_spark as pw
    from pathway_spark import this, reducers as r
    from pathway_spark.streaming.diff_table import DifferentialTableGraph

    dbl = axis == "double"

    def tv(x):       # 0.1 steps: deliberately inexact doubles
        return x * 0.1 if dbl else x

    dtpl = spark.createDataFrame([], f"t {axis}, v long")
    atpl = spark.createDataFrame([], f"p {axis}")
    d0 = spark.createDataFrame(
        [(tv(i * 3 % 50), i) for i in range(60)], dtpl.schema)
    a0 = spark.createDataFrame([(tv(5),), (tv(20),), (tv(37),)],
                               atpl.schema)
    dsch = f"t {axis}, v long, _pw_diff long"
    asch = f"p {axis}, _pw_diff long"
    ticks = [
        dict(d=spark.createDataFrame([(tv(21), 500, 1), (tv(0), 0, -1)],
                                     dsch)),
        dict(a=spark.createDataFrame([(tv(11), 1)], asch)),
        dict(a=spark.createDataFrame([(tv(20), -1)], asch),
             d=spark.createDataFrame([(tv(39), 7, 1)], dsch)),
    ]
    lo, up = (-0.43, 0.62) if dbl else (-4, 6)

    def drive(resident):
        g = DifferentialTableGraph(spark, resident=resident)
        data, pts = g.input("d", dtpl), g.input("a", atpl)
        win = data.windowby(
            this.t, window=pw.temporal.intervals_over(
                at=pts, lower_bound=lo, upper_bound=up)
        ).reduce(n=r.count(), s=r.sum(this.v))
        (o0,) = g.step(win.node, d=d0, a=a0)
        traces = [_trace(tuple(x) for x in o0.collect())]
        act = []
        for tk in ticks:
            (o,) = g.step(win.node, **tk)
            traces.append(_trace(tuple(x) for x in o.collect()))
            act.append(g._res_last_t == g._t)
        g.restore_session_confs()
        return traces, act

    a, act = drive(True)
    b, _ = drive(False)
    assert a == b
    assert any(len(t) > 1 for t in a)       # windows actually populated
    assert all(act), f"intervals_over ticks should run resident: {act}"


@pytest.mark.parametrize("seed", [101, 202, 303])
def test_interval_join_randomized_property(spark, seed):
    """Randomized interval-join equivalence: random bounds (including
    point and INVERTED/empty intervals), axis type (long or double),
    0 or 1 equi keys, NULL times/keys, and random insert/retract churn
    on both sides — resident traces must equal the distributed path
    tick for tick."""
    from pathway_spark import this
    rng = random.Random(seed)

    use_double = rng.random() < 0.5
    use_key = rng.random() < 0.7
    lo = rng.randint(-12, 12)
    hi = lo + rng.choice([-3, 0, 1, 5, 14])      # may be inverted/empty
    tcast = (lambda x: x * 0.5) if use_double else (lambda x: x)
    ttype = "double" if use_double else "long"

    def mk(n, base):
        rows = []
        for i in range(n):
            t = None if rng.random() < 0.06 else tcast(rng.randint(0, 80))
            k = None if (use_key and rng.random() < 0.06) \
                else rng.randrange(4)
            rows.append((base + i, k, t))
        return rows

    lsch = f"lid long, g long, lt {ttype}"
    rsch = f"rid long, rg long, rt {ttype}"
    l0, r0 = mk(80, 0), mk(80, 1000)
    ldf = spark.createDataFrame(l0, lsch)
    rdf = spark.createDataFrame(r0, rsch)

    def build(g):
        lt = g.input("l", ldf)
        rt = g.input("r", rdf)
        on = (this.g == this.rg,) if use_key else ()
        return lt.interval_join(rt, this.lt, this.rt, (lo, hi), *on)

    live_l, live_r = list(l0), list(r0)
    ticks = []
    for b in range(5):
        lin = mk(8, 5000 + b * 100)
        rin = mk(8, 6000 + b * 100)
        ldel = [x + (-1,) for x in rng.sample(live_l, 3)]
        rdel = [x + (-1,) for x in rng.sample(live_r, 3)]
        for x in ldel:
            live_l.remove(x[:3])
        for x in rdel:
            live_r.remove(x[:3])
        live_l.extend(lin)
        live_r.extend(rin)
        ticks.append(dict(
            l=spark.createDataFrame([x + (1,) for x in lin] + ldel,
                                    lsch + ", _pw_diff long"),
            r=spark.createDataFrame([x + (1,) for x in rin] + rdel,
                                    rsch + ", _pw_diff long")))

    feeds0 = dict(l=ldf, r=rdf)
    a, act = _drive_table(spark, build, feeds0, ticks, resident=True)
    b_, _ = _drive_table(spark, build, feeds0, ticks, resident=False)

    def norm(trs):
        return [sorted(tuple(repr(v) for v in row) for row in tr)
                for tr in trs]
    assert norm(a) == norm(b_), (use_double, use_key, lo, hi)
    assert all(act), (act, use_double, use_key, lo, hi)


@pytest.mark.parametrize("kind,axis", [("tumbling", "long"),
                                       ("sliding", "long"),
                                       ("sliding", "timestamp")])
def test_live_hopping_windows_resident_equivalence(spark, kind, axis):
    """Live tumbling/sliding windowby+reduce: the Python window
    assignment (resident `_hopping_rows`) must match `_assign_hopping`
    through Catalyst exactly — including NULL times (kept with NULL
    windows when one window is assigned, dropped under fan-out) and
    retractions."""
    import datetime as dt
    import pathway_spark as pw
    from pathway_spark import this, reducers as r
    from pathway_spark.streaming.diff_table import DifferentialTableGraph

    t0 = dt.datetime(2024, 6, 1)
    if axis == "long":
        tval = lambda i: i * 7 % 300
        tnull = None
        sch = "k long, t long, v long"
        win = (pw.temporal.tumbling(duration=40) if kind == "tumbling"
               else pw.temporal.sliding(duration=40, hop=15))
    else:
        tval = lambda i: t0 + dt.timedelta(seconds=i * 7 % 300)
        tnull = None
        sch = "k long, t timestamp, v long"
        win = pw.temporal.sliding(duration=dt.timedelta(seconds=40),
                                  hop=dt.timedelta(seconds=15))

    rows0 = [(i, tval(i), i % 11) for i in range(120)]
    rows0.append((900, tnull, 5))
    base = spark.createDataFrame(rows0, sch)
    ticks = [
        dict(d=spark.createDataFrame(
            [(200, tval(33), 7, 1), (901, tnull, 3, 1)],
            sch + ", _pw_diff long")),
        dict(d=spark.createDataFrame(
            [(3, tval(3), 3 % 11, -1), (201, tval(90), 2, 1)],
            sch + ", _pw_diff long")),
    ]

    def drive(resident):
        g = DifferentialTableGraph(spark, resident=resident)
        data = g.input("d", base.limit(0))
        out = data.windowby(this.t, window=win).reduce(
            n=r.count(), s=r.sum(this.v))
        (o0,) = g.step(out.node, d=base)
        traces = [_rtrace(tuple(x) for x in o0.collect())]
        act = []
        for tk in ticks:
            (o,) = g.step(out.node, **tk)
            traces.append(_rtrace(tuple(x) for x in o.collect()))
            act.append(g._res_last_t == g._t)
        g.restore_session_confs()
        return traces, act

    a, act = drive(True)
    b, _ = drive(False)
    assert a == b
    assert all(act), f"hopping-window ticks should run resident: {act}"


def test_session_window_null_instance_matches_batch(spark):
    """Live session windows with a NULL instance: NULL groups like any
    other key (SQL GROUP BY; r9 null-safe slices) — resident and
    distributed agree, and the integrated snapshot equals the batch
    operator on the surviving rows."""
    import pathway_spark as pw
    from pathway_spark import this, reducers as r
    from pathway_spark.operators import temporal
    from pathway_spark.streaming.diff_table import DifferentialTableGraph
    from pathway_spark.table import Table

    sch = "u string, t long, v long"
    rows0 = [("a", 1, 1), ("a", 3, 2), (None, 2, 5), (None, 4, 6),
             ("b", 10, 3), (None, 30, 7)]
    base = spark.createDataFrame(rows0, sch)
    ticks = [
        dict(d=spark.createDataFrame([(None, 5, 8, 1)],
                                     sch + ", _pw_diff long")),
        dict(d=spark.createDataFrame([(None, 2, 5, -1)],
                                     sch + ", _pw_diff long")),
    ]
    win = pw.temporal.session(max_gap=3)

    def drive(resident):
        g = DifferentialTableGraph(spark, resident=resident)
        data = g.input("d", base.limit(0))
        out = data.windowby(this.t, window=win, instance=this.u).reduce(
            u=this._pw_instance, n=r.count(), s=r.sum(this.v))
        (o0,) = g.step(out.node, d=base)
        traces = [_rtrace(tuple(x) for x in o0.collect())]
        full = o0.localCheckpoint(True)
        for tk in ticks:
            (o,) = g.step(out.node, **tk)
            traces.append(_rtrace(tuple(x) for x in o.collect()))
            full = full.unionByName(o.localCheckpoint(True))
        g.restore_session_confs()
        return traces, full

    a, full_a = drive(True)
    b, _ = drive(False)
    assert a == b

    # integrated == batch operator over the surviving multiset
    live = [x for x in rows0 if x != (None, 2, 5)] + [(None, 5, 8)]
    bt = temporal.windowby(
        Table.from_spark(spark.createDataFrame(live, sch)),
        this.t, window=win, instance=this.u).reduce(
        u=this._pw_instance, n=r.count(), s=r.sum(this.v)).to_df()
    want = _rtrace(tuple(x) for x in bt.select("u", "n", "s").collect())
    got = _rtrace(
        tuple(x) for x in
        DifferentialGraph.integrate(full_a)
        .select("u", "n", "s").collect())
    assert got == want, f"\ngot {got}\nwant {want}"


def test_live_left_asof_null_key_pads_like_batch(spark):
    """Live LEFT asof join: NULL-key left rows reach the op's slice
    (null-safe, r9) and come back padded — the batch operator's
    semantics; previously they were silently dropped."""
    from pathway_spark import this
    from pathway_spark.streaming.diff_table import DifferentialTableGraph

    lsch = "k long, lt long, lv long"
    rsch = "k long, rt long, rv long"
    l0 = [(1, 10, 100), (None, 10, 999)]
    r0 = [(1, 5, 7)]
    ldf = spark.createDataFrame(l0, lsch)
    rdf = spark.createDataFrame(r0, rsch)
    ticks = [
        dict(l=spark.createDataFrame([(None, 20, 888, 1)],
                                     lsch + ", _pw_diff long")),
        dict(l=spark.createDataFrame([(None, 10, 999, -1)],
                                     lsch + ", _pw_diff long")),
    ]

    def drive(resident):
        g = DifferentialTableGraph(spark, resident=resident)
        lt = g.input("l", ldf)
        rt = g.input("r", rdf)
        out = lt.asof_join(rt, this.lt, this.rt, this.k == this.k,
                           how="left")
        (o0,) = g.step(out.node, l=ldf, r=rdf)
        traces = [_rtrace(tuple(x) for x in o0.collect())]
        full = o0.localCheckpoint(True)
        for tk in ticks:
            (o,) = g.step(out.node, **tk)
            traces.append(_rtrace(tuple(x) for x in o.collect()))
            full = full.unionByName(o.localCheckpoint(True))
        g.restore_session_confs()
        return traces, full

    a, full_a = drive(True)
    b, _ = drive(False)
    assert a == b
    snap = {tuple(x) for x in
            DifferentialGraph.integrate(full_a).collect()}
    # the surviving NULL-key left row is padded, the retracted one gone
    assert any(x[2] == 888 for x in snap), snap
    assert not any(x[2] == 999 for x in snap), snap


def test_float_sum_cancellation_exactness(spark):
    """Adversarial float strict sums: ±1e18 terms straddling tiny
    values, with churn AND retraction.  At these magnitudes every
    partial is exactly representable, so BOTH engines must match an
    exact-Decimal ground truth bit-for-bit and integrate to exactly
    one live row per key (trace retraction always cancels).  Data is
    pre-built (never drawn inside the drive) so both engines see the
    SAME multiset — a shared-RNG variant of this test once
    manufactured a phantom 2e18 "divergence"."""
    import collections
    import decimal

    rng = random.Random(7)
    rows = [(i % 3, rng.choice([1e18, -1e18, 1.0, 1e-6, 3.14159,
                                -2.71828])) for i in range(500)]
    deltas = []
    for i in range(3):
        deltas.append([(i % 3, rng.choice([1e18, -1e18, 2.5]), 1),
                       rows[i * 7] + (-1,)])

    live = collections.Counter()
    for r in rows:
        live[r] += 1
    for d in deltas:
        for (k, v, w) in d:
            live[(k, v)] += w
    gt_s = collections.defaultdict(lambda: decimal.Decimal(0))
    gt_n = collections.Counter()
    for (k, v), w in live.items():
        gt_s[k] += decimal.Decimal(v) * w
        gt_n[k] += w

    def run(resident):
        base = spark.createDataFrame(rows, "k long, v double")
        g = DifferentialGraph(spark, resident=resident)
        src = g.source("t", base.limit(0))
        out = src.reduce(["k"], s=("sum_strict", "v"), n=("count",))
        (d0,) = g.step(out, t=base)
        chunks = [d0.localCheckpoint(eager=True)]
        for d in deltas:
            (x,) = g.step(out, t=spark.createDataFrame(
                d, "k long, v double, _pw_diff long"))
            chunks.append(x.localCheckpoint(eager=True))
        g.restore_session_confs()
        tr = chunks[0]
        for c in chunks[1:]:
            tr = tr.unionByName(c)
        snap = DifferentialGraph.integrate(tr).collect()
        return {r["k"]: (r["s"], r["n"]) for r in snap}, len(snap)

    for resident in (True, False):
        got, nrows = run(resident)
        assert nrows == len(got) == 3          # one live row per key
        for k in got:
            assert got[k][1] == gt_n[k]
            assert got[k][0] == float(gt_s[k]), (resident, k, got[k])
