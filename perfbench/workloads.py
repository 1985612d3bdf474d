"""The four workloads.  Each drives the system only through its public
API, makes one layer do most of the work, and returns its metrics.

Phases per run: set-up (graph or store build, initial load, warm-up
operations), the timed phase, then the output checks.  With tracing on,
the timed operations of each kind (a query, a tick that retracts, ...)
alternate between running with and without the span wrappers, so the
run reports its own tracing overhead from like-for-like pairs.
"""

from __future__ import annotations

import bisect
import os
import sys
import time
import traceback

from . import inputs, measure, reference

perf = time.perf_counter

# Queries of batch_analytics: a scan-aggregate, a join-aggregate and an
# explode-aggregate.  tpch_q7, q19, q22, q32, q46 and q62 are left out
# to fit the run budget (q46 alone costs ~9 s a run; BM25 is measured by
# live_rag).
BATCH_QUERIES = ["tpch_q1", "tpch_q18", "q09_flatten_wordcount"]

# DiffNode subclasses whose `delta` self time is reported
NODE_CLASSES = ["SourceNode", "LinearNode", "ReduceNode", "JoinNode",
                "DistinctNode", "AsofNowNode", "KeyedRecomputeUnaryNode"]


class Run:
    """State of one benchmark run: timing, failure accounting, spans."""

    def __init__(self, spark, *, seed: int, seconds: int, trace: bool,
                 workdir: str):
        self.spark = spark
        self.seed, self.seconds = seed, seconds
        self.workdir = workdir
        self.tracer = measure.Tracer() if trace else None
        self.groups = measure.JobGroups(spark)
        self.attempted = 0
        self.failed = 0
        self.busy_s = 0.0           # summed duration of timed operations
        self.setup_wall_s = 0.0     # the workload's own set-up
        self.setup_cpu_s = 0.0      # CPU time from process start
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layer: dict[str, tuple[float, str]] = {}
        self.info: dict = {}
        self._kind_ops: dict[str, int] = {}
        # kind -> (traced, untraced) operation durations
        self.op_times: dict[str, tuple[list, list]] = {}
        self.op_cpu: dict[str, list[float]] = {}    # kind -> CPU s

    # -- operations ------------------------------------------------------------

    def op(self, kind: str, fn, *args):
        """Run one timed operation of `kind`; returns (result or None,
        seconds).  A raised exception counts as a failed operation.
        With tracing on, every other operation of a kind is traced.
        The CPU time of every process of the run is counted around the
        call only, so background work between operations (an open loop
        is idle most of the time) does not add to it."""
        n = self._kind_ops.get(kind, 0)
        self._kind_ops[kind] = n + 1
        traced = self.tracer is not None and n % 2 == 0
        if traced:
            self.tracer.install()
        self.attempted += 1
        pids = measure.tree_pids()
        cpu0 = measure.process_cpu_s(pids)
        t0 = perf()
        try:
            res = fn(*args)
        except Exception:       # the run goes on; the failure is counted
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            res = None
        finally:
            el = perf() - t0
            cpu1 = measure.process_cpu_s(pids)
            self.busy_s += el
            if traced:
                self.tracer.uninstall()
        self.op_cpu.setdefault(kind, []).append(
            measure.cpu_between(cpu0, cpu1))
        self.op_times.setdefault(kind, ([], []))[0 if traced else 1].append(el)
        return res, el

    def mismatch(self, n: int = 1) -> None:
        """An attempted operation whose output did not match."""
        self.failed += n

    def timed_begin(self) -> None:
        self._host0 = measure.host_ticks()

    def timed_end(self) -> None:
        """The share of the machine's CPU time the host took during the
        timed phase: a high value explains slow wall-clock figures."""
        self.layer["host.steal_share"] = (
            measure.steal_share(self._host0, measure.host_ticks()), "ratio")

    def setup_done(self, t0: float) -> None:
        """Set-up began at `t0` and ends now."""
        self.setup_wall_s = perf() - t0
        self.setup_cpu_s = measure.tree_cpu_s()

    # -- open loop -------------------------------------------------------------

    def open_loop(self, schedule):
        """`schedule`: list of (due offset s, kind, fn, args).  Sends each
        operation at its due time (never earlier; later when the system
        lags) and times it from the due time: its lateness plus the
        call's own duration, which leaves out the CPU readings around
        the call.  Returns per-operation (result, latency s) and records
        generator lateness, backlog and utilization (time spent in
        operations over the loop's span)."""
        start = perf()
        busy0 = self.busy_s
        late, backlog, out = [], 0, []
        dues = [d for d, _, _, _ in schedule]
        for i, (due, kind, fn, args) in enumerate(schedule):
            wait = start + due - perf()
            if wait > 0:
                time.sleep(wait)
            sent = perf()
            late.append(sent - start - due)
            # operations already due but not yet sent
            backlog = max(backlog,
                          bisect.bisect_right(dues, sent - start) - (i + 1))
            res, el = self.op(kind, fn, *args)
            out.append((res, late[-1] + el))
        self.layer["gen.late_max_ms"] = (max(late) * 1e3, "ms")
        self.layer["gen.backlog_max"] = (backlog, "count")
        self.layer["gen.utilization"] = (
            (self.busy_s - busy0) / (perf() - start), "ratio")
        return out

    # -- tracing -------------------------------------------------------------------

    def trace_targets(self) -> None:
        """Wrap the public entry points of the streaming layers."""
        if self.tracer is None:
            return
        from pathway_spark.streaming import differential as D
        from pathway_spark.streaming import resident as R
        from pathway_spark.xpacks.llm import live_store as LS
        tr = self.tracer
        tr.target(R.ResidentEngine, "try_tick", "resident.try_tick")
        tr.target(D.DifferentialGraph, "step", "differential.step")
        tr.target(D.DifferentialGraph, "commit", "state.commit")
        tr.target(D.DiffNode, "delta", lambda node: "differential.delta."
                  + type(node).__name__.lstrip("_"))
        tr.target(R.LocalRows, "coerce", "io.coerce")
        tr.target(R, "local_rows_to_df", "io.to_df")
        for attr in ("query", "add_documents", "remove_documents"):
            tr.target(LS.LiveDocumentStore, attr, f"live_store.{attr}")

    def span_metrics(self) -> dict:
        """Per-layer self times from the traced operations' spans."""
        spans = self.tracer.spans if self.tracer is not None else []
        by = measure.self_time_by_name(spans)

        def p50_ms(name):
            xs = by.get(name)
            return measure.median(xs) * 1e3 if xs else 0.0

        def total_ms(name):
            return sum(by.get(name, [])) * 1e3

        m = {
            "resident.try_tick_self_ms_p50": (p50_ms("resident.try_tick"), "ms"),
            "differential.step_self_ms_p50": (p50_ms("differential.step"), "ms"),
            "io.coerce_ms_total": (total_ms("io.coerce"), "ms"),
            "io.to_df_ms_total": (total_ms("io.to_df"), "ms"),
            "trace.spans": (len(spans), "count"),
        }
        for cls in NODE_CLASSES:
            m[f"differential.delta.{cls}_ms"] = (
                total_ms(f"differential.delta.{cls}"), "ms")
        # the serving calls, whole (their children are the graph steps)
        calls: dict[str, list[float]] = {}
        for s in spans:
            calls.setdefault(s[0], []).append(s[2] - s[1])
        for attr, metric in (("query", "query"), ("add_documents", "add"),
                             ("remove_documents", "remove")):
            xs = calls.get(f"live_store.{attr}")
            m[f"live_store.{metric}_ms_p50"] = (
                measure.median(xs) * 1e3 if xs else 0.0, "ms")
        m["trace.overhead_pct"] = (measure.overhead_pct(self.op_times), "%")
        self.span_summary = {
            name: {"n": len(xs), "self_ms_total": sum(xs) * 1e3,
                   "self_ms_p50": measure.median(xs) * 1e3}
            for name, xs in sorted(by.items())}
        return m

    def resident_metrics(self, s0: dict, s1: dict, graph) -> None:
        """Resident hit ratio over the timed phase (from
        `resident.STATS` deltas) and the engine's memory telemetry (from
        the graph's `topology()`, the monitoring view)."""
        res = s1["resident_ticks"] - s0["resident_ticks"]
        fb = s1["fallback_ticks"] - s0["fallback_ticks"]
        mem = graph.topology()["resident_memory"]
        self.layer.update({
            "resident.ticks": (res + fb, "count"),
            "resident.fallback_ticks": (fb, "count"),
            "resident.hit_ratio": (res / (res + fb) if res + fb else 0.0,
                                   "ratio"),
            "resident.cap_detaches": (
                mem["events"]["cap_detaches"] if mem else 0, "count"),
            "resident.mirror_admissions": (
                mem["events"]["mirror_admissions"] if mem else 0, "count"),
            "resident.state_bytes": (
                mem["est_bytes_total"] if mem else 0, "bytes"),
            "resident.pyexpr_on": (mem["pyexpr"]["on"] if mem else 0, "count"),
            "resident.pyexpr_off": (mem["pyexpr"]["off"] if mem else 0,
                                    "count"),
        })

    def tick_counts(self, group: str, ticks: int) -> None:
        c = self.groups.counts(group)
        self.layer.update({
            "differential.spark_jobs_per_tick": (c["jobs"] / ticks, "count"),
            "differential.spark_stages_per_tick": (c["stages"] / ticks,
                                                   "count"),
            "differential.spark_tasks_per_tick": (c["tasks"] / ticks,
                                                  "count"),
        })
        self.info["tick_counts"] = c


def _stats():
    from pathway_spark.streaming import resident
    return dict(resident.STATS)


def _lat_metrics(run: Run, lat_s: list[float]):
    ms = [x * 1e3 for x in lat_s]
    run.e2e["latency_p50_ms"] = (measure.median(ms), "ms")
    for name, v in measure.tail(ms).items():
        run.e2e[f"latency_{name}_ms"] = (v, "ms")
    run.info["latency_samples"] = len(ms)


# ---------------------------------------------------------------------------
# live_wordcount
# ---------------------------------------------------------------------------

WORDCOUNT = {"n_init": 500, "rate_per_s": 20.0, "open_size": 100,
             "closed_size": 400, "closed_tick_s": 0.05,
             "retract_every": 4, "retract_size": 40, "warm_ticks": 3}


def live_wordcount(run: Run) -> None:
    from pyspark.sql import functions as F
    from pathway_spark.streaming.differential import DifferentialGraph

    cfg = WORDCOUNT
    n_open = int(round(0.6 * run.seconds * cfg["rate_per_s"]))
    n_closed = max(10, int(round(0.4 * run.seconds / cfg["closed_tick_s"])))
    data = inputs.wordcount_inputs(
        run.seed, n_init=cfg["n_init"],
        open_batches=cfg["warm_ticks"] + n_open, open_size=cfg["open_size"],
        closed_batches=n_closed, closed_size=cfg["closed_size"],
        retract_every=cfg["retract_every"], retract_size=cfg["retract_size"])
    run.info.update(offered_rate_ticks_per_s=cfg["rate_per_s"],
                    open_batch_docs=cfg["open_size"],
                    closed_batch_docs=cfg["closed_size"],
                    open_ticks=n_open, closed_ticks=n_closed)
    tpl = run.spark.createDataFrame([], "doc_id long, text string")

    def build():
        g = DifferentialGraph(run.spark)
        docs = g.source("docs", tpl)
        out = (docs.with_columns(ws=F.split(F.col("text"), r"\s+"))
               .select(F.col("doc_id"), F.col("ws"))
               .flatten("ws", "word")
               .reduce(["word"], n=("count",)))
        return g, out

    run.groups.enter("pb-setup")
    t0 = perf()
    g, out = build()
    outputs = [g.step_rows(out, docs=data["init"])]
    outputs += [g.step_rows(out, docs=b)
                for b in data["open"][:cfg["warm_ticks"]]]
    run.setup_done(t0)
    run.trace_targets()

    run.groups.enter("pb-measure")
    s0 = _stats()
    run.timed_begin()
    batches = data["open"][cfg["warm_ticks"]:]
    period = 1.0 / cfg["rate_per_s"]
    res = run.open_loop([(i * period, _tick_kind("open", b), _tick,
                          (g, out, b)) for i, b in enumerate(batches)])
    outputs += [r for r, _ in res]
    closed_s = 0.0
    for b in data["closed"]:
        r, el = run.op(_tick_kind("closed", b), _tick, g, out, b)
        outputs.append(r)
        closed_s += el
    run.timed_end()
    s1 = _stats()
    run.groups.enter("pb-check")

    _lat_metrics(run, [lat for _, lat in res])
    rows_closed = sum(len(b) for b in data["closed"])
    run.e2e["throughput_rows_per_s"] = (rows_closed / closed_s, "1/s")
    run.resident_metrics(s0, s1, g)
    run.tick_counts("pb-measure", len(batches) + len(data["closed"]))

    # check: the integrated output after every tick equals a word count
    # over the documents present at that tick
    integ, counts = reference.Integrator(), reference.word_counts(
        data["init"]["text"])
    feeds = [None] + data["open"] + data["closed"]
    bad = 0
    for feed, o in zip(feeds, outputs):
        if feed is not None:
            for text, d in zip(feed["text"], feed["_pw_diff"]):
                for w, c in reference.word_counts([text]).items():
                    counts[w] += c * int(d)
        if o is None:
            continue            # raised: already counted
        ((cols, rows),) = o
        integ.apply(cols, rows)
        if not reference.wordcount_matches(integ.snapshot(), counts):
            bad += 1
    run.mismatch(bad)


def _tick(g, out, batch):
    return g.step_rows(out, docs=batch)


def _tick_kind(loop: str, batch) -> str:
    """Ticks that also retract are a kind of their own."""
    return loop + ("-retract" if (batch["_pw_diff"] < 0).any() else "")


# ---------------------------------------------------------------------------
# live_rag
# ---------------------------------------------------------------------------

RAG = {"n_init": 150, "k": 5, "query_rate_per_s": 16.0,
       "write_rate_per_s": 2.0, "query_terms": 3, "add_size": 5,
       "remove_size": 3}


def live_rag(run: Run) -> None:
    import numpy as np
    import pandas as pd
    from pathway_spark.streaming.differential import live_graphs
    from pathway_spark.xpacks.llm import LiveDocumentStore

    cfg = RAG
    n_q = int(round(run.seconds * cfg["query_rate_per_s"]))
    n_w = int(round(run.seconds * cfg["write_rate_per_s"]))
    kinds = ["add", "remove"] + ["add" if i % 2 == 0 else "remove"
                                 for i in range(n_w)]
    data = inputs.rag_inputs(
        run.seed, n_init=cfg["n_init"], n_queries=1 + n_q,
        query_terms=cfg["query_terms"], writes=kinds,
        add_size=cfg["add_size"], remove_size=cfg["remove_size"])
    run.info.update(offered_query_rate_per_s=cfg["query_rate_per_s"],
                    offered_write_rate_per_s=cfg["write_rate_per_s"],
                    add_docs=cfg["add_size"], remove_docs=cfg["remove_size"],
                    corpus_docs=cfg["n_init"])

    run.groups.enter("pb-setup")
    t0 = perf()
    store = LiveDocumentStore(run.spark, k=cfg["k"])
    store.add_documents(run.spark.createDataFrame(data["init"]))
    frames = [(kind, run.spark.createDataFrame(f))
              for kind, f in data["writes"]]
    # warm-up: the first query and the first add/remove admit the
    # resident mirrors (one-off cost, outside the timed phase)
    store.query([data["queries"][0]])
    for kind, f in frames[:2]:
        _write(store, kind, f)
    run.setup_done(t0)
    run.trace_targets()

    # one schedule: queries and writes interleaved by due time
    qp, wp = 1.0 / cfg["query_rate_per_s"], 1.0 / cfg["write_rate_per_s"]
    sched = [(i * qp, ("q", i), data["queries"][1 + i]) for i in range(n_q)]
    sched += [(j * wp + wp / 2, ("w", j), frames[2 + j]) for j in range(n_w)]
    sched.sort(key=lambda s: s[0])
    ops = [(due, "query" if tag[0] == "q" else arg[0], _rag_op,
            (store, tag, arg)) for due, tag, arg in sched]

    run.groups.enter("pb-measure")
    s0 = _stats()
    run.timed_begin()
    res = run.open_loop(ops)
    run.timed_end()
    s1 = _stats()
    run.groups.enter("pb-check")

    q_lat, w_lat, answers = [], [], {}
    for (due, tag, arg), (r, lat) in zip(sched, res):
        if tag[0] == "q":
            q_lat.append(lat)
            answers[tag[1]] = r
        else:
            w_lat.append(lat)
    _lat_metrics(run, q_lat)
    run.e2e["write_p50_ms"] = (measure.median(w_lat) * 1e3, "ms")
    hits = [len(a[0]) for a in answers.values() if a]
    run.layer["live_store.hits_per_query"] = (
        sum(hits) / len(hits) if hits else 0.0, "count")
    (graph,) = live_graphs()     # the store's own graph
    run.resident_metrics(s0, s1, graph)
    run.tick_counts("pb-measure", len(sched))

    # check: every answer of one seeded interval between writes equals
    # batch BM25 over the corpus as of that interval (one batch run)
    corpus = data["init"].set_index("doc_id")["text"].to_dict()
    for kind, f in data["writes"][:2]:
        _apply(corpus, kind, f)
    versions, asked = [dict(corpus)], [[]]
    for due, tag, arg in sched:
        if tag[0] == "w":
            _apply(corpus, *data["writes"][2 + tag[1]])
            versions.append(dict(corpus))
            asked.append([])
        elif answers.get(tag[1]) is not None:
            asked[-1].append((tag[1], arg))
    rng = np.random.default_rng([run.seed, 5])
    v = int(rng.choice([i for i, qs in enumerate(asked) if qs]))
    frame = pd.DataFrame({"doc_id": list(versions[v]),
                          "text": list(versions[v].values())})
    wants = reference.bm25_reference(run.spark, frame,
                                     [q for _, q in asked[v]], cfg["k"])
    for (i, _), want in zip(asked[v], wants):
        got = [{**h, "score": round(h["score"], 6)} for h in answers[i][0]]
        if not reference.bm25_matches(got, want):
            print(f"live_rag answer {i} differs: {got} != {want}",
                  file=sys.stderr)
            run.mismatch()
    run.info["checked_answers"] = len(asked[v])
    store.close()


def _write(store, kind, frame):
    if kind == "add":
        store.add_documents(frame)
    else:
        store.remove_documents(frame)


def _rag_op(store, tag, arg):
    if tag[0] == "q":
        return store.query([arg])
    kind, frame = arg
    _write(store, kind, frame)


def _apply(corpus: dict, kind: str, frame) -> None:
    if kind == "add":
        corpus.update(zip(frame["doc_id"].tolist(), frame["text"].tolist()))
    else:
        for i in frame["doc_id"].tolist():
            del corpus[i]


# ---------------------------------------------------------------------------
# bulk_cdc
# ---------------------------------------------------------------------------

CDC = {"n_init_orders": 2500, "new_orders": 350, "retract_orders": 250,
       "resident_cap_rows": 1000, "commit_every": 3, "nominal_tick_s": 1.2,
       "warm_ticks": 1}


def bulk_cdc(run: Run) -> None:
    import duckdb
    import pandas as pd
    from pyspark.sql import functions as F
    from pathway_spark.streaming.differential import DifferentialGraph

    cfg = CDC
    n_ticks = max(3, int(round(run.seconds / cfg["nominal_tick_s"])))
    data = inputs.cdc_inputs(
        run.seed, n_init_orders=cfg["n_init_orders"],
        ticks=cfg["warm_ticks"] + n_ticks, new_orders=cfg["new_orders"],
        retract_orders=cfg["retract_orders"])
    sizes = [len(li) + len(od) for li, od in data["ticks"]]
    run.info.update(delta_rows_per_tick_mean=sum(sizes) / len(sizes),
                    initial_rows=sum(len(f) for f in data["init"]),
                    resident_cap_rows=cfg["resident_cap_rows"],
                    commit_every=cfg["commit_every"], ticks=n_ticks)
    state_dir = os.path.join(run.workdir, "state")
    ltpl = run.spark.createDataFrame(
        [], "l_orderkey long, l_linenumber int, l_extendedprice double, "
            "l_discount double")
    otpl = run.spark.createDataFrame([], "o_orderkey long, o_custkey long")

    run.groups.enter("pb-setup")
    t0 = perf()
    g = DifferentialGraph(run.spark, state_dir=state_dir)
    # the documented per-graph cap: every delta below is above it, so
    # every tick runs on the distributed path
    g.RESIDENT_MAX_DELTA_ROWS = cfg["resident_cap_rows"]
    li = g.source("lineitem", ltpl)
    od = g.source("orders", otpl)
    rev = li.select(F.col("l_orderkey"), (F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))).alias("rev"))
    keyed = od.project(l_orderkey="o_orderkey", o_custkey="o_custkey")
    out = rev.join(keyed, on=["l_orderkey"]).reduce(
        ["o_custkey"], revenue=("sum", "rev"), n=("count",))
    t_load = perf()
    outputs = [g.step_rows(out, lineitem=data["init"][0],
                           orders=data["init"][1])]
    initial_load_s = perf() - t_load
    g.commit()
    for lid, odd in data["ticks"][:cfg["warm_ticks"]]:
        outputs.append(g.step_rows(out, lineitem=lid, orders=odd))
    run.setup_done(t0)
    run.trace_targets()

    run.groups.enter("pb-measure")
    s0 = _stats()
    run.timed_begin()
    lat, commits, rows = [], [], 0
    t0 = perf()
    for i, (lid, odd) in enumerate(data["ticks"][cfg["warm_ticks"]:]):
        r, el = run.op("tick", _cdc_tick, g, out, lid, odd)
        outputs.append(r)
        lat.append(el)
        rows += len(lid) + len(odd)
        if (i + 1) % cfg["commit_every"] == 0:
            run.groups.enter("pb-commit")
            _, el = run.op("commit", g.commit)
            commits.append(el)
            run.groups.enter("pb-measure")
    loop_s = perf() - t0
    run.timed_end()
    s1 = _stats()
    run.groups.enter("pb-check")

    _lat_metrics(run, lat)
    run.e2e["throughput_rows_per_s"] = (rows / loop_s, "1/s")
    run.layer["differential.initial_load_s"] = (initial_load_s, "s")
    run.layer["state.commit_s_p50"] = (
        measure.median(commits) if commits else 0.0, "s")
    run.layer["state.disk_bytes"] = (_du(state_dir), "bytes")
    run.resident_metrics(s0, s1, g)
    run.tick_counts("pb-measure", n_ticks)

    # check: the integrated output after every tick equals DuckDB over
    # the net inputs fed so far
    feeds_li = [data["init"][0].assign(_pw_diff=1, tick=0)]
    feeds_od = [data["init"][1].assign(_pw_diff=1, tick=0)]
    for t, (lid, odd) in enumerate(data["ticks"], 1):
        feeds_li.append(lid.assign(tick=t))
        feeds_od.append(odd.assign(tick=t))
    duck = duckdb.connect()
    try:
        duck.register("li_feed", pd.concat(feeds_li, ignore_index=True))
        duck.register("od_feed", pd.concat(feeds_od, ignore_index=True))
        integ = reference.Integrator()
        for t, o in enumerate(outputs):
            if o is None:
                continue
            ((cols, rows_),) = o
            integ.apply(cols, rows_)
            want = reference.cdc_reference(duck, t)
            if not reference.cdc_matches(integ.snapshot(), integ.cols, want):
                run.mismatch()
    finally:
        duck.close()


def _cdc_tick(g, out, li, od):
    return g.step_rows(out, lineitem=li, orders=od)


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


# ---------------------------------------------------------------------------
# batch_analytics
# ---------------------------------------------------------------------------

BATCH = {"nominal_pass_s": 2.0, "min_passes": 2}


def batch_analytics(run: Run) -> None:
    import duckdb
    import __spark_entry__ as entry
    from pathway_spark.benchmarks import tpch

    sf = inputs.data_dir()
    fns, oracles = {}, {}
    for name in BATCH_QUERIES:
        if name in tpch.QUERIES:
            fns[name] = (lambda f: lambda sp, d: f(sp, d).to_df())(
                tpch.QUERIES[name])
            oracles[name] = (tpch.ORACLE_SQL[name], reference.tolerant_match)
        else:
            fns[name] = entry.queries()[name]
            oracles[name] = (entry.oracle_sql()[name],
                             reference.exact_match)
    passes = max(BATCH["min_passes"],
                 int(round(run.seconds / BATCH["nominal_pass_s"])))
    # the seed orders the warm pass; timed passes keep one fixed order,
    # which measured steadier across runs than a seeded order per pass
    warm_order = inputs.batch_order(run.seed, BATCH_QUERIES)
    run.info.update(queries=BATCH_QUERIES, passes=passes, sf_dir=sf)
    if run.tracer is not None:
        from pathway_spark.table import Table
        run.tracer.target(Table, "to_df", "table.to_df")

    # set-up: the untimed warm pass, collected for the oracle check
    run.groups.enter("pb-setup")
    t0 = perf()
    results = {}
    for name in warm_order:
        try:
            df = fns[name](run.spark, sf)
            results[name] = (list(df.columns),
                             [tuple(r) for r in df.collect()])
        except Exception:
            traceback.print_exc(file=sys.stderr)
            results[name] = None
    run.setup_done(t0)

    plan: dict[str, list] = {n: [] for n in BATCH_QUERIES}
    execs: dict[str, list] = {n: [] for n in BATCH_QUERIES}
    total: dict[str, list] = {n: [] for n in BATCH_QUERIES}
    run.timed_begin()
    for p in range(passes):
        for name in BATCH_QUERIES:
            run.spark.catalog.clearCache()
            group = f"pb-q-{name}-{p}"
            run.groups.enter(group)
            r, el = run.op(name, _build_and_run, run.tracer, fns[name],
                           run.spark, sf)
            if r is None:
                continue
            plan[name].append(r[0])
            execs[name].append(r[1])
            total[name].append(el)
    run.timed_end()
    run.groups.enter("pb-check")

    med = {n: measure.median(v) for n, v in total.items() if v}
    run.e2e["suite_s"] = (sum(med.values()), "s")
    run.e2e["latency_p50_ms"] = (measure.median(list(med.values())) * 1e3,
                                 "ms")
    for name in BATCH_QUERIES:
        c = run.groups.counts(f"pb-q-{name}-0")
        run.layer[f"batch.{name}.plan_ms"] = (
            measure.median(plan[name]) * 1e3 if plan[name] else 0.0, "ms")
        run.layer[f"batch.{name}.exec_s"] = (
            measure.median(execs[name]) if execs[name] else 0.0, "s")
        run.layer[f"batch.{name}.spark_jobs"] = (c["jobs"], "count")
        run.layer[f"batch.{name}.spark_tasks"] = (c["tasks"], "count")

    # check: each warm-pass result against its DuckDB oracle, compared
    # the way the repository's oracle gates compare them
    duck = duckdb.connect()
    try:
        for t in ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents",
                  "embeddings"]:
            path = os.path.join(sf, f"{t}.parquet")
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"read_parquet('{path}')")
        for name in BATCH_QUERIES:
            sql, match = oracles[name]
            if results[name] is None:
                run.mismatch(passes)
                continue
            res = duck.execute(sql)
            dcols = [d[0] for d in res.description]
            if not match(*results[name], dcols, res.fetchall()):
                run.mismatch(passes)
    finally:
        duck.close()


def _build_and_run(tracer, fn, spark, sf):
    """Build the query's DataFrame and executed plan, then run it to
    the `noop` sink; returns (plan s, exec s).  Traced, the two phases
    are spans `batch.plan` and `batch.exec`."""
    spans = tracer is not None and tracer.installed
    t0 = perf()
    idx = tracer.open("batch.plan") if spans else None
    df = fn(spark, sf)
    df._jdf.queryExecution().executedPlan()
    if spans:
        tracer.close(idx)
        idx = tracer.open("batch.exec")
    t1 = perf()
    df.write.format("noop").mode("overwrite").save()
    if spans:
        tracer.close(idx)
    return t1 - t0, perf() - t1


WORKLOADS = {"live_wordcount": live_wordcount, "live_rag": live_rag,
             "bulk_cdc": bulk_cdc, "batch_analytics": batch_analytics}
