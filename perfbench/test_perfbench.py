"""Self-tests of the benchmark's own machinery (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs, measure, reference  # noqa: E402

_HAVE_DATA = os.path.isdir(inputs.data_dir())
needs_data = pytest.mark.skipif(not _HAVE_DATA, reason="no parquet test data")

_SMALL = {
    "wordcount": (inputs.wordcount_inputs, dict(
        n_init=20, open_batches=6, open_size=5, closed_batches=3,
        closed_size=7, retract_every=2, retract_size=3)),
    "rag": (inputs.rag_inputs, dict(
        n_init=20, n_queries=5, query_terms=3,
        writes=["add", "remove", "add"], add_size=4, remove_size=2)),
    "cdc": (inputs.cdc_inputs, dict(
        n_init_orders=30, ticks=3, new_orders=10, retract_orders=8)),
}


@needs_data
@pytest.mark.parametrize("kind", sorted(_SMALL))
def test_same_seed_same_inputs_other_seed_other_inputs(kind):
    fn, kw = _SMALL[kind]
    a, b, c = fn(7, **kw), fn(7, **kw), fn(8, **kw)
    assert inputs.fingerprint(a) == inputs.fingerprint(b)
    assert inputs.fingerprint(a) != inputs.fingerprint(c)


@needs_data
def test_retractions_name_rows_still_present():
    _, kw = _SMALL["cdc"]
    data = inputs.cdc_inputs(3, **kw)
    present = set(data["init"][0].itertuples(index=False, name=None))
    for li, _od in data["ticks"]:
        for *row, d in li.itertuples(index=False, name=None):
            row = tuple(row)
            if d < 0:
                present.remove(row)     # KeyError if never inserted
            else:
                assert row not in present
                present.add(row)


def test_batch_order_is_a_seeded_permutation():
    names = ["a", "b", "c", "d", "e"]
    assert inputs.batch_order(1, names) == inputs.batch_order(1, names)
    assert sorted(inputs.batch_order(1, names)) == names
    assert any(inputs.batch_order(s, names) != inputs.batch_order(1, names)
               for s in range(2, 6))


def test_percentile_values():
    xs = list(range(1, 101))             # 1..100
    assert measure.percentile(xs, 90) == 90
    assert measure.percentile(xs, 50, min_beyond=0) == 50
    assert measure.median([3, 1, 2]) == 2
    assert measure.median([4, 1, 2, 3]) == 2.5


def test_percentile_refuses_unsupported_tail():
    xs = list(range(99))
    with pytest.raises(measure.UnsupportedPercentile):
        measure.percentile(xs, 90)       # only 9 samples beyond p90
    with pytest.raises(measure.UnsupportedPercentile):
        measure.percentile(list(range(500)), 99)
    with pytest.raises(measure.UnsupportedPercentile):
        measure.median([])
    assert measure.tail(list(range(100))) == {"p90": 89}


def test_self_time_on_hand_built_tree():
    # root [0, 10] with children [1, 4] and [3, 6] (overlapping: union
    # [1, 6]) and [8, 9]; the first child has a grandchild [2, 3]
    spans = [
        ["root", 0.0, 10.0, -1],
        ["a", 1.0, 4.0, 0],
        ["a.x", 2.0, 3.0, 1],
        ["b", 3.0, 6.0, 0],
        ["c", 8.0, 9.0, 0],
    ]
    assert measure.self_times(spans) == [4.0, 2.0, 1.0, 3.0, 1.0]
    by = measure.self_time_by_name(spans)
    assert by["root"] == [4.0] and by["a.x"] == [1.0]


def test_overhead_pairs_operations_of_one_kind():
    # a kind with only traced operations (one commit) is left out;
    # "q": medians 1.1 vs 1.0 over 3 ops, "t": 2.2 vs 2.0 over 2 ops
    times = {"q": ([1.1, 1.1], [1.0]), "t": ([2.2], [2.0]),
             "commit": ([9.0], [])}
    assert measure.overhead_pct(times) == pytest.approx(10.0)
    assert measure.overhead_pct({"commit": ([9.0], [])}) == 0.0


@pytest.mark.parametrize("clock", ["ticks", "threads"])
def test_tree_cpu_counts_a_busy_child(clock):
    import subprocess
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nt = time.process_time()\n"
                              "while time.process_time() - t < 0.5: pass\n"
                              "input()"], stdin=subprocess.PIPE)
    if clock == "ticks":
        read = measure.tree_cpu_s
    else:
        pids = [os.getpid(), child.pid]
        start = measure.process_cpu_s(pids)

        def read():
            return measure.cpu_between(start, measure.process_cpu_s(pids))
    try:
        before = read()
        assert before >= 0.0
        deadline = time.time() + 20
        while read() - before < 0.3:
            assert time.time() < deadline, "child CPU time not counted"
            time.sleep(0.05)
    finally:
        child.communicate(b"\n", timeout=20)


def test_cpu_between_leaves_out_exited_processes():
    before = {1: 5.0, 2: 1.0}
    after = {2: 1.5}                    # process 1 exited
    assert measure.cpu_between(before, after) == pytest.approx(0.5)


def test_median_total_ignores_an_outlier():
    assert measure.median_total({"q": [1.0, 1.0, 9.0], "w": [2.0, 4.0],
                                 "none": []}) == pytest.approx(9.0)


def test_tracer_wraps_and_restores():
    class Engine:
        def step(self, n):
            return self.inner(n) + 1

        def inner(self, n):
            return n * 2

        @classmethod
        def make(cls):
            return cls()

    tr = measure.Tracer()
    tr.target(Engine, "step", "step")
    tr.target(Engine, "inner", lambda self: type(self).__name__ + ".inner")
    tr.target(Engine, "make", "make")
    original = Engine.__dict__["step"]
    tr.install()
    try:
        assert Engine.make().step(3) == 7
    finally:
        tr.uninstall()
    assert Engine.__dict__["step"] is original
    assert Engine().step(1) == 3            # untraced: no new spans
    names = [s[0] for s in tr.spans]
    assert names == ["make", "step", "Engine.inner"]
    assert tr.spans[2][3] == 1               # inner's parent is step


def test_bm25_hits_match_up_to_tied_scores():
    def hits(*pairs):
        return [{"doc_id": d, "rank": r, "score": s}
                for r, (d, s) in enumerate(pairs, 1)]
    live = hits((67, 1.104129), (68, 1.102028), (131, 1.102028))
    batch = hits((67, 1.104129), (131, 1.102028), (68, 1.102028))
    assert reference.bm25_matches(live, batch)
    assert not reference.bm25_matches(
        live, hits((67, 1.104129), (131, 1.102028), (69, 1.102028)))
    assert not reference.bm25_matches(
        live, hits((68, 1.104129), (67, 1.102028), (131, 1.102028)))
