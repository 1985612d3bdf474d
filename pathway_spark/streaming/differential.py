"""Differential micro-batch engine — arbitrary derived-row retraction streams.

The reference's defining capability is incremental computation: every
table is a stream of `(row, time, diff)` updates and every operator
propagates *deltas*, so a derived table (filter → join → groupby) emits
`+1` insertions and `-1` retractions as its inputs change (reference
`src/engine/dataflow.rs` differential-dataflow reduce/join cores,
`python/pathway/internals/table.py` `__diff__`/`__time__` semantics).

Spark's Structured Streaming only retracts through built-in stateful
ops (update-mode aggregation), not through arbitrary compositions.
This module closes that gap with a Spark-first design: a small operator
graph evaluated once per micro-batch, where

- a **delta** is a DataFrame carrying the data columns plus
  `_pw_diff` (a signed multiplicity, usually ±1) and `_pw_time`
  (the logical batch); and
- each *stateful* node keeps its accumulated input as a consolidated
  multiset DataFrame (positive weights), updated per batch.

Every per-batch rule is itself declarative DataFrame algebra — no
driver-side row loops — so Catalyst plans each step and the state
update is one shuffle on the operator's own key:

- linear ops (select / filter / flatten / union): apply to the delta
  rows directly; diffs pass through untouched.
- join (inner):  d(A ⋈ B) = dA ⋈ B ∪ A_old ⋈ dB ∪ dA ⋈ dB
  with output weight = wA · wB (the bilinearity rule).  Implemented as
  dA ⋈ B_new ∪ A_old ⋈ dB — two key-partitioned joins per batch.
- left/right/full-outer joins add the null-padded complement
  (A ⋉̸ B and/or B ⋉̸ A), maintained from the opposite side's per-key
  presence; a key's presence flipping 0↔>0 retracts/emits the padded
  rows for all matching rows of the kept side.
- reduce (groupby/agg): the affected-key rule — keys touched by the
  delta recompute their aggregate from the consolidated input state
  (a semi-join on the delta's keys), then emit `-1` for the old output
  row and `+1` for the new one; unchanged rows cancel in consolidation.
  This supports *any* aggregate (min/max included) because the group's
  full multiset is at hand — the same strategy differential dataflow's
  `reduce` uses, expressed as Spark joins instead of arrangement
  cursors.
- distinct: reduce with presence semantics (net weight > 0 → one row).
- linear reduces specialize to an ABELIAN-GROUP ACCUMULATOR (per-key
  partial sums — no input multiset state at all): exact long adds for
  integral columns, the reference's running Neumaier-compensated
  (sum, compensation) semigroup for floats (`src/engine/reduce.rs`
  FloatSumState; `sum_strict` keeps the per-group slice recompute).
  Keyed integral accumulators additionally fuse MULTI-TIME batches
  into one step (per-time -old/+new via a cumulative window — integer
  partials commute, so the trace is bit-equal to sub-steps).
- watermark behaviors: ignore_late (cutoff), forget (expired rows
  RETRACT — downstream state bounded by the retention horizon), buffer
  (exactly-once release when the watermark passes).
- asof_now joins freeze left rows against right state at arrival.

State is LSM-chunked (see `_StateStore`): per-batch delta chunks,
in-memory compaction every `checkpoint_every` batches, and durable
parquet versions written only by `DifferentialGraph.commit` so restore
is always commit-consistent.

Micro-batch ticks additionally run on the RESIDENT fast path
(`resident.py`, on by default): the same delta algebra evaluated over
driver-held dict-indexed state mirrors — the Spark-side analog of the
reference's resident arrangements — with hard caps and automatic
fallback to the distributed rules above for wide batches, over-cap
state, and operators without a resident kernel.  A fresh graph's first
delta is no exception: it runs resident when it fits the caps.

Scale notes: all state updates shuffle on the operator key only; the
affected-key reduce touches |delta-keys| groups, not |state| groups;
consolidation is a map-side-combinable sum.  Nothing collects to the
driver.
"""

from __future__ import annotations

import math as _math
import weakref
from contextlib import contextmanager
from time import perf_counter as _perf_counter
from typing import Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DIFF = "_pw_diff"
TIME = "_pw_time"
_META = (DIFF, TIME)

# -- hot-path expression cache -------------------------------------------
# Column objects are immutable and freely reusable across DataFrames,
# but every F.col/F.lit/expression constructor is a py4j roundtrip; a
# differential tick builds a few hundred of them, and at ~0.2-1 ms per
# roundtrip that chatter is a measured slice of the per-tick driver
# floor.  Cache the handful of expressions every node builds each tick,
# keyed on the live SparkContext (a restarted JVM invalidates the
# JavaObject handles, so the cache resets with it).
import re as _re

# a bare column reference's repr in classic pyspark: Column<'name'>.
# Used only as a POSITIVE detector for the resident projection fast
# path — anything that doesn't match keeps the Catalyst fold
_PLAIN_COL_RE = _re.compile(r"^Column<'([A-Za-z0-9_]+)'>$")

# live graphs of this process, for the monitoring dashboard (weak:
# registration must never keep a finished pipeline's state alive)
_LIVE_GRAPHS: "weakref.WeakSet" = weakref.WeakSet()


def live_graphs() -> list:
    """DifferentialGraphs currently alive in this process, in creation
    order where determinable — the monitoring server's data source."""
    return sorted(_LIVE_GRAPHS, key=id)


_EXPR_CACHE: tuple | None = None


def _expr_cached(key: str, build) -> Column:
    global _EXPR_CACHE
    from pyspark import SparkContext
    sc = SparkContext._active_spark_context
    if _EXPR_CACHE is None or _EXPR_CACHE[0] is not sc:
        _EXPR_CACHE = (sc, {})
    d = _EXPR_CACHE[1]
    c = d.get(key)
    if c is None:
        c = build()
        d[key] = c
    return c


def _cc(name: str) -> Column:
    """Cached `F.col(name)` for per-tick hot paths."""
    return _expr_cached(f"col:{name}", lambda: F.col(name))


def _ccs(names) -> list[Column]:
    """Cached Columns for a list of names (hot-path selects/groupBys:
    each raw string→Column conversion is a py4j roundtrip)."""
    return [_cc(n) for n in names]


def _one_l() -> Column:
    return _expr_cached("lit1l", lambda: F.lit(1).cast("long"))


def _data_cols(df: DataFrame) -> list[str]:
    return [c for c in df.columns if c not in _META]


def consolidate(df: DataFrame) -> DataFrame:
    """Sum multiplicities per distinct row; drop rows that net to zero.

    The differential-dataflow `consolidate` — map-side combinable, one
    shuffle on the row content."""
    cols = _data_cols(df)
    return (df.groupBy(*_ccs(cols))
              .agg(_expr_cached("sumdiff",
                                lambda: F.sum(DIFF).alias(DIFF)))
              .filter(_expr_cached("diffne0",
                                   lambda: F.col(DIFF) != 0)))


def as_delta(df: DataFrame, *, diff: int = 1, time: int = 0) -> DataFrame:
    """Lift a plain DataFrame into a delta (all rows share one diff).

    One fused select: every Dataset transformation runs the full
    Catalyst analyzer over its subtree, so chained withColumns are a
    measured per-tick driver cost, not a style choice."""
    cols = df.columns
    add = ([] if DIFF in cols else [F.lit(diff).alias(DIFF)]) + \
          ([] if TIME in cols else [F.lit(time).alias(TIME)])
    return df.select("*", *add) if add else df


def _empty_frame(spark: SparkSession, schema) -> DataFrame:
    """Empty LocalRelation with `schema` (a Python or a JVM StructType)
    built JVM-side — `createDataFrame([], schema)` parallelizes an
    empty RDD, ~20 ms a frame."""
    if isinstance(schema, T.StructType):
        schema = spark._jsparkSession.parseDataType(schema.json())
    return DataFrame(spark._jsparkSession.createDataFrame(
        spark._jvm.java.util.ArrayList(), schema), spark)


def _multiset_tpl(df: DataFrame) -> DataFrame:
    """Empty frame of `df`'s data columns plus a long weight — the row
    layout of a state store built from `df`, and of its slices."""
    return df.filter(F.lit(False)).select(
        *_ccs(_data_cols(df)), F.col(DIFF).cast("long").alias(DIFF))


class _StateStore:
    """Accumulated multiset state for one node input — LSM-style.

    Differential dataflow keeps state in *arrangements* (LSM batches
    merged lazily); the Spark translation: state is a LIST of
    materialized chunks (base + one small chunk per batch), and
    `get()` is their zero-cost union.  Per-batch work is then
    O(|delta|) — only the tiny delta chunk is materialized — instead
    of a full-state consolidate-shuffle per batch.  Every
    `checkpoint_every` batches the chunks COMPACT into one
    consolidated base (the amortized full-state shuffle).

    Consequence consumers must honor: between compactions `get()` is
    NOT consolidated — a retracted row appears as a +1 and a -1 row.
    That is harmless wherever state enters *linear* algebra (joins,
    weight-aware sums); order statistics (min/max/distinct) must
    consolidate the slice they aggregate first (see `_ReduceNode`:
    it consolidates the affected-key slice, cost O(|affected|)).

    With a `path` (graph built with `state_dir=`), compaction writes a
    parquet VERSION (`v{n:08d}/`) read back lineage-free, so the
    pipeline survives a driver restart (`DifferentialGraph.commit` /
    `restore`).  At cluster scale the same layout holds: delta chunks
    append as small files, compaction rewrites the base — swap in
    Delta/Iceberg for transactional state by overriding `flush`."""

    # durable layout: hash buckets per key — enough parallelism for a
    # big restore, small enough that a 1-key probe reads 1/64 of state
    N_BUCKETS = 64

    def __init__(self, spark: SparkSession, template: DataFrame,
                 checkpoint_every: int = 8, path: str | None = None,
                 restore_version=None, phase: int = 0,
                 key_cols: list[str] | None = None,
                 local_collect=None, backend=None):
        self._key_cols = list(key_cols) if key_cols else None
        # graph-supplied collector: returns a (size-capped) JVM row
        # list of a small frame, or None.  When set, steady-state delta
        # chunks MERGE into one driver-held pending LocalRelation
        # instead of appending an RDD chunk per batch — the state scan
        # then keeps a CONSTANT plan shape across ticks (base + one
        # pending leaf), per-chunk scan overhead stops growing between
        # compactions, and the merge itself runs job-free whenever the
        # chunk plan folds to a LocalRelation (ConvertToLocalRelation)
        self._local = local_collect
        self._pend_rows = None          # java ArrayList[Row]
        self._pend_df: DataFrame | None = None
        empty = template.filter(F.lit(False))
        if DIFF not in empty.columns:
            empty = empty.withColumn(DIFF, F.lit(1).cast("long"))
        base = empty.select(*_data_cols(empty), F.col(DIFF).cast("long"))
        self._cols = base.columns
        self._jschema = base._jdf.schema()   # row layout of every chunk
        self._empty_base = base
        self._chunks: list[DataFrame] = [base]
        # True while no appended chunk may contain NEGATIVE weights:
        # then the chunk union holds no +x/−x cancellation pairs, and
        # consumers may skip the slice consolidate entirely (order
        # statistics see only truly-present rows; float sums cannot
        # catastrophically cancel).  Compaction consolidates, which
        # removes every pair — pair-freeness resets to True.
        self._pair_free = True
        self._spark = spark
        self._every = max(1, checkpoint_every)
        # stagger: stores compact on different batches (phase offset)
        # so one batch never pays every store's full-state consolidate
        self._phase = phase % self._every
        self._ticks = 0
        # storage backend: an explicit backend object (graph-supplied —
        # POSIX or Hadoop-URI, see state_backend.py), or one wrapped
        # around a plain local `path`
        if backend is None and path is not None:
            from .state_backend import LocalStoreBackend
            backend = LocalStoreBackend(path)
        self._bk = backend
        self._ver_ord = 0          # committed version ordinal
        self._ver_token = None     # committed version token (dir name)
        # resident-mirror hook (see resident.py): while attached, the
        # driver-held mirror is the state's source of truth; any
        # distributed consumer syncs it back into _chunks first
        self._res_df_fn = None
        self._res_dirty = False
        if self._bk is not None:
            self._load_version(restore_version)

    # -- resident mirror protocol (resident.py) ---------------------------
    def _res_attach(self, df_fn) -> None:
        self._res_df_fn = df_fn
        self._res_dirty = False

    def _res_detach(self) -> None:
        self._res_df_fn = None
        self._res_dirty = False

    def _res_sync(self) -> None:
        """Fold the resident mirror's current rows back into the chunk
        list (ONE consolidated LocalRelation) so distributed consumers
        — a fallback tick, flush(), compaction — see the same state."""
        if self._res_df_fn is not None and self._res_dirty:
            self._chunks = [self._res_df_fn()]
            self._pair_free = True
            self._clear_pending()
            self._res_dirty = False

    def _never_written(self) -> bool:
        """True while the store holds only its empty template base: no
        loaded version, appended chunk, pending rows, compaction or
        mirror sync has replaced it."""
        return (self._pend_df is None and len(self._chunks) == 1
                and self._chunks[0] is self._empty_base)

    def _load_version(self, want) -> None:
        """Load the version the graph's committed meta recorded (never
        blindly the newest: a crash between a store's flush and the
        meta write must roll back to the committed one, or replayed
        batches would double-count).

        `want is None` means NO commit ever recorded this store — any
        v* dirs on disk are uncommitted leftovers of a crash before the
        first meta commit, so the store starts EMPTY (loading the
        newest here would double-count the replay of batch 0).
        `want` is a version TOKEN (dir name; pre-r8 local metas stored
        bare ordinals, which the local backend still resolves)."""
        if want is None or want == 0:
            return  # never committed (or committed pre-first-flush)
        if not self._bk.exists(want):
            raise RuntimeError(
                f"state dir {self._bk.path} lacks committed version "
                f"{want!r} (found {self._bk.list_versions()}); cannot "
                "resume safely")
        self._ver_ord = self._bk.ordinal(want)
        self._ver_token = want
        base = self._spark.read.parquet(self._bk.uri(want))
        if "__pw_bucket" in base.columns:
            # bucket-partitioned (large) versions keep __pw_bucket on
            # the base chunk so probe pruning can filter the scan
            self._chunks = [base.select(*self._cols, "__pw_bucket")]
        else:
            # small plain base: swap the FileSourceScan for a
            # lineage-cut in-memory frame (materializes with the first
            # tick's action).  A restored serving graph re-plans every
            # store's base in several per-tick planning passes; ~25
            # parquet relations per pass made the restored
            # LiveDocumentStore 3-5x slower than a fresh one — a
            # LogicalRDD leaf plans in microseconds
            self._chunks = [base.select(*self._cols)
                            .localCheckpoint(eager=False)]

    def _bucket(self, df: DataFrame, cols: list[str]):
        return F.pmod(F.xxhash64(*[F.col(c) for c in cols]),
                      F.lit(self.N_BUCKETS))

    def get(self, probe: DataFrame | None = None,
            on: list[str] | None = None) -> DataFrame:
        """Union of all live chunks (multiset-correct, possibly
        unconsolidated between compactions).

        `probe` (a small delta-derived key frame) prunes a DISK-
        resident bucket-partitioned base to only the file groups the
        probe's keys can live in: the probe's distinct bucket ids are
        collected (tiny — probe is micro-batch-bounded) and pushed as a
        STATIC partition filter into the parquet scan.  In-memory bases
        skip the collect entirely — pruning only pays its one tiny job
        when state actually lives on disk, where it turns a full-state
        scan into an O(|touched buckets|) read."""
        self._res_sync()
        base = self._chunks[0]
        if (probe is not None and self._key_cols
                and "__pw_bucket" in base.columns):
            cols = on or self._key_cols
            ids = [r[0] for r in probe.select(
                self._bucket(probe, cols).alias("b")).distinct().collect()]
            base = base.filter(F.col("__pw_bucket").isin(ids))
        # chunks are stored pre-normalized to self._cols (update()
        # selects that order; compaction/restore preserve it), so the
        # per-chunk reorder select is skipped unless a bucket column or
        # a legacy layout makes it necessary — each skipped select is a
        # full analyzer pass per chunk per scan
        acc = base if base.columns == self._cols else base.select(*self._cols)
        for c in self._chunks[1:]:
            if c.columns != self._cols:
                c = c.select(*self._cols)
            acc = acc.unionByName(c)
        if self._pend_df is not None:
            acc = acc.unionByName(self._pend_df)
        return acc

    def update(self, delta: DataFrame, *, wide: bool = False,
               positive: bool = False, cut: bool = True) -> None:
        # `positive` is the CALLER's structural guarantee (insert-only
        # lineage) that this delta has no negative weights — never
        # probed from data
        if self._res_df_fn is not None:
            raise RuntimeError(
                "store update while a resident mirror is attached — "
                "the graph must detach mirrors before a distributed "
                "tick (DifferentialGraph.step does this)")
        if not positive:
            self._pair_free = False
        d = delta.select(*_ccs(c for c in self._cols if c != DIFF),
                         _expr_cached("diff_long",
                                      lambda: F.col(DIFF).cast("long")
                                      .alias(DIFF)))
        if not wide and self._local is not None and self._merge_local(d):
            self._tick_done()
            return
        # keep each chunk's partition contribution bounded: without
        # this every chunk adds its parent's partition count to all
        # later scans of the union and per-batch task counts grow.
        # Steady-state deltas are small → one partition.  `wide` is
        # the graph-known initial load (batch 0), which stays wide and
        # is folded into the base right after (the graph compacts all
        # stores after batch 0).  The wideness MUST be caller-supplied,
        # never probed via `.rdd.getNumPartitions()`: under AQE that
        # probe forces immediate execution of the delta's whole
        # lineage — one extra full job per store per batch.
        if not wide:
            d = d.coalesce(1)
        # lineage cut for ONLY the delta chunk — O(|delta|); lazy, so
        # the materialization fuses into this batch's output action
        # instead of costing a separate job.  `cut=False` is the
        # caller's guarantee that `delta` is ALREADY byte-stable and
        # cheap to rescan — an output the node just localCheckpointed,
        # or a narrow transform over checkpointed frames (node input
        # deltas: sources checkpoint in _feed, stateful nodes
        # checkpoint their outs).  Skipping the redundant checkpoint
        # matters because every lazy localCheckpoint forces a full
        # analyze+physical-plan pass at build time (~80 ms) — the
        # dominant term of the per-tick driver floor.
        if cut:
            d = d.localCheckpoint(eager=False)
        self._chunks.append(d)
        self._tick_done()

    def _tick_done(self) -> None:
        self._ticks += 1
        if (self._ticks + self._phase) % self._every == 0:
            self.compact(eager=False)

    def update_legs(self, legs: Sequence[DataFrame], *, wide: bool = False,
                    positive: bool = False, cut: bool = True) -> None:
        """update() for a delta given as separate legs (e.g. a -old
        retraction leg and a +new insertion leg).  Catalyst does not
        constant-fold a Union of LocalRelations, so merging the legs
        one by one keeps the driver-side (job-free) pending path open
        when each leg folds on its own; any non-folding leg falls the
        whole update back to the classic single-chunk append."""
        if self._res_df_fn is not None:
            raise RuntimeError(
                "store update while a resident mirror is attached — "
                "the graph must detach mirrors before a distributed "
                "tick (DifferentialGraph.step does this)")
        legs = [lg for lg in legs if lg is not None]
        if len(legs) == 1:
            return self.update(legs[0], wide=wide, positive=positive,
                               cut=cut)
        if not wide and self._local is not None:
            ds = [lg.select(*_ccs(c for c in self._cols if c != DIFF),
                            _expr_cached("diff_long",
                                         lambda: F.col(DIFF).cast("long")
                                         .alias(DIFF)))
                  for lg in legs]
            rows = [self._local(d, folded_only=True) for d in ds]
            pend = self._pend_rows.size() if self._pend_rows is not None \
                else 0
            if (all(r is not None for r in rows)
                    and pend + sum(r.size() for r in rows)
                    <= DifferentialGraph.LOCAL_CUT_MAX_ROWS):
                if not positive:
                    self._pair_free = False
                for r in rows:
                    self._merge_rows(r)
                self._tick_done()
                return
        u = legs[0]
        for lg in legs[1:]:
            u = u.unionByName(lg.select(*u.columns))
        self.update(u, wide=wide, positive=positive, cut=cut)

    def _merge_local(self, d: DataFrame) -> bool:
        """Fold a steady-state delta chunk into the single driver-held
        pending LocalRelation.  Keeps the state scan's plan shape
        CONSTANT across ticks (base + one pending leaf) instead of one
        appended chunk frame per batch: per-scan analyzer work stops
        growing, and the chunk materialization is usually job-free
        (a narrow plan over a LocalRelation folds driver-side).
        Returns False (caller appends a classic chunk) when the rows
        can't be collected cheaply or the pending would exceed the
        graph's local cap."""
        jl = self._local(d, folded_only=True)
        if jl is None:
            return False
        pend = self._pend_rows.size() if self._pend_rows is not None else 0
        if pend + jl.size() > DifferentialGraph.LOCAL_CUT_MAX_ROWS:
            return False
        self._merge_rows(jl)
        return True

    def _merge_rows(self, jl) -> None:
        if self._pend_rows is None:
            self._pend_rows = self._spark._jvm.java.util.ArrayList()
        self._pend_rows.addAll(jl)
        # createDataFrame copies the rows EAGERLY (verified), so frames
        # built from the previous pending still see their old data and
        # this rebuild is the only place the new rows become visible
        self._pend_df = DataFrame(
            self._spark._jsparkSession.createDataFrame(
                self._pend_rows, self._jschema),
            self._spark)

    def _clear_pending(self) -> None:
        self._pend_rows = None
        self._pend_df = None

    def compact(self, *, eager: bool = True) -> None:
        """Consolidate all chunks into one in-memory base (the
        amortized full-state shuffle).  Durable versions are NOT
        written here — only `flush()` (from `commit()`) does, so
        on-disk versions always correspond to a committed clock.
        Periodic tick-compactions pass `eager=False` so the
        consolidate fuses into the NEXT batch's single action instead
        of costing its own job; the post-initial-load compaction stays
        eager (it is the one wide shuffle worth its own job)."""
        full = consolidate(self.get())
        self._chunks = [full.localCheckpoint(eager=eager)]
        self._clear_pending()    # folded into the base
        self._pair_free = True   # consolidated: no cancellation pairs

    # states below this row count are flushed PLAIN (single-file, no
    # bucket column): the bucketed layout's probe pruning costs one
    # tiny driver job (collect of the probe's bucket ids) per get() —
    # worth it when it prunes a big scan, pure per-tick overhead when
    # the whole state is a few thousand rows.  A serving pipeline with
    # ~20 small stores would otherwise pay ~20 extra jobs per tick
    # after its first commit, each force-evaluating the tick's upstream
    # plan (the round-6 advisor's restored-LiveDocumentStore blowup).
    SMALL_STATE_ROWS = 100_000

    def flush(self) -> None:
        """Write a durable parquet version of the current state (called
        by `DifferentialGraph.commit`, which records the version per
        store in its meta — restore loads exactly those).

        Layout is decided engine-side from the consolidated row count
        (never from a driver-local directory glob, which breaks on
        URI-schemed state dirs): small/empty states write one plain
        coalesced file; large states write the hash-bucketed layout so
        restored probes prune file groups (the 100 TB path)."""
        if self._bk is None:
            self.compact()
            return
        full = consolidate(self.get()).localCheckpoint(eager=True)
        cnt = full.count()   # one job per store per COMMIT (rare)
        # ACID publication protocol (see state_backend.py for both the
        # POSIX rename-claim and the object-store rename-free variants):
        #   1. the version's data is fully written where no reader
        #      looks (staging dir locally; a uuid-unique final dir on
        #      object stores, invisible until its _SUCCESS lands);
        #   2. the backend's `publish` makes it atomically visible and
        #      resolves concurrent-writer collisions (rename claim /
        #      unique names);
        #   3. a version only becomes THE committed one when the
        #      graph's meta (atomic swap / append-log PUT) references
        #      its token — readers load exactly the referenced version,
        #      so stray uncommitted versions are harmless garbage.
        bucketed = bool(self._key_cols) and cnt > self.SMALL_STATE_ROWS

        def write_fn(dest: str) -> None:
            if bucketed:
                # hash-bucketed layout: probes after restore prune to
                # the touched buckets instead of scanning every file
                (full.withColumn("__pw_bucket",
                                 self._bucket(full, self._key_cols))
                     .write.mode("overwrite").partitionBy("__pw_bucket")
                     .parquet(dest))
            elif cnt <= self.SMALL_STATE_ROWS:
                full.coalesce(1).write.mode("overwrite").parquet(dest)
            else:
                # large KEYLESS state: no bucket column to prune by,
                # but funneling it through one task per commit is slow
                # and an executor-OOM risk — keep the write parallel
                full.write.mode("overwrite").parquet(dest)

        self._ver_ord, self._ver_token = self._bk.publish(
            self._ver_ord + 1, write_fn)
        if bucketed:
            self._chunks = [
                self._spark.read.parquet(self._bk.uri(self._ver_token))
                    .select(*self._cols, "__pw_bucket")]
        else:
            # keep serving from the already-materialized checkpoint —
            # lineage-free like the parquet re-read, but a LogicalRDD
            # leaf that later planning passes traverse in microseconds
            self._chunks = [full]
        self._clear_pending()    # folded into the flushed version
        self._pair_free = True

    def vacuum(self, *, below: int) -> None:
        """Drop published versions with ordinal strictly below `below`
        — called by `DifferentialGraph.commit` AFTER the meta commit,
        with `below` = the PREVIOUS commit's ordinal, so both the new
        and the prior committed versions (and anything a concurrent
        compactor published above them) always survive; a crash
        between flush and meta commit leaves the previously committed
        version untouched.  Removal races with a concurrent
        maintenance process are benign (deletes ignore already-gone
        trees; readers resolve versions through the committed meta,
        never by directory listing)."""
        self._bk.vacuum_below(below)

    def compact_versions(self, *, attempts: int = 3) -> None:
        """Maintenance-side compaction: republish the NEWEST version's
        data as a fresh version (e.g. to merge small files after many
        commits) using the backend's collision-safe publication — a
        concurrent committer and this compactor can interleave freely
        (rename-claim locally; unique names on object stores).  The
        committed meta keeps pointing at its own version either way.
        Best-effort by design: a version VANISHING mid-read (the
        committer's post-commit vacuum reclaimed it) re-resolves the
        newest version and retries, giving up quietly after
        `attempts` — maintenance must never wedge the pipeline."""
        for _ in range(max(1, attempts)):
            vers = self._bk.list_versions()
            if not vers:
                return
            ordn, token = vers[-1]
            try:
                df = self._spark.read.parquet(self._bk.uri(token))

                def write_fn(dest: str) -> None:
                    if "__pw_bucket" in df.columns:
                        (df.write.mode("overwrite")
                           .partitionBy("__pw_bucket").parquet(dest))
                    else:
                        df.coalesce(1).write.mode("overwrite") \
                          .parquet(dest)

                self._bk.publish(ordn + 1, write_fn)
                return
            except Exception:
                if self._bk.exists(token):
                    raise             # real IO error, not a vacuum race
                continue              # version vanished: retry newest

    def close(self) -> None:
        self._chunks = []
        self._clear_pending()


class DiffNode:
    """One operator in the differential graph.

    `delta(t)` returns this node's output delta for batch `t`
    (memoized so diamond-shaped graphs evaluate each node once)."""

    # set on operators allowed to consume an ArrangedInput (its shared
    # state is only coherent under the plain bilinear join rule)
    _JOINS_ARRANGED = False

    def __init__(self, graph: "DifferentialGraph",
                 inputs: Sequence["DiffNode"]):
        self.graph = graph
        self.inputs = list(inputs)
        for i in self.inputs:
            if (getattr(i, "shared_store", None) is not None
                    and not type(self)._JOINS_ARRANGED):
                raise TypeError(
                    "an arranged input may only be JOINED directly "
                    "(its accumulated state is shared across consumers; "
                    f"{type(self).__name__} would need its own copy) — "
                    "drop it from arranged= to transform it")
        self._memo_t: int | None = None
        self._memo: DataFrame | None = None
        # output schema memo: set by the 1st advance, or from the probe
        # on a resident first step (DifferentialGraph._prime_fresh)
        self._empty_tpl: DataFrame | None = None
        graph._nodes.append(self)

    # -- builder API ----------------------------------------------------
    def select(self, *cols: Column | str, **named: Column) -> "DiffNode":
        exprs = [F.col(c) if isinstance(c, str) else c for c in cols]
        exprs += [c.alias(n) for n, c in named.items()]
        node = _LinearNode(self.graph, self,
                           lambda df: df.select(*exprs, DIFF, TIME))
        if not named:
            # pure column picking — the resident evaluator reorders
            # tuples in Python instead of paying a Catalyst fold.
            # Besides plain strings, a bare `F.col("name")` is
            # recognized by its stable repr (simple identifiers only —
            # dotted names mean nested-field access and never match)
            names: list[str] | None = []
            for c in cols:
                if isinstance(c, str):
                    names.append(c)
                    continue
                m = _PLAIN_COL_RE.match(str(c))
                if m is None:
                    names = None
                    break
                names.append(m.group(1))
            if names is not None:
                node._res_project = [(c, c) for c in names]
        return node

    def project(self, *cols: str, **renamed: str) -> "DiffNode":
        """Pure projection/rename — NO computation: `project("a",
        b="c")` keeps `a` and renames `c` to `b`.  Semantically
        identical to a select of plain column references; the resident
        fast path evaluates it as a tuple reorder in Python (zero
        Spark involvement), which is what makes multi-stage serving
        graphs tick in milliseconds — use it in engine builders for
        every hop that only routes columns."""
        pairs = [(c, c) for c in cols] + list(renamed.items())
        exprs = [F.col(i).alias(o) if o != i else F.col(o)
                 for o, i in pairs]
        node = _LinearNode(self.graph, self,
                           lambda df: df.select(*exprs, DIFF, TIME))
        node._res_project = pairs
        return node

    def with_lit(self, name: str, value) -> "DiffNode":
        """`with_columns(name=F.lit(value))` whose resident evaluation
        is a Python tuple append (the literal needs no Catalyst): the
        column's TYPE is still authoritative from the distributed
        schema memo, so int/long literal typing matches Spark's."""
        node = _LinearNode(self.graph, self,
                           lambda df: df.withColumn(name, F.lit(value)))
        node._res_lit = (name, value)
        return node

    def filter(self, cond: Column) -> "DiffNode":
        return _LinearNode(self.graph, self, lambda df: df.filter(cond))

    def with_columns(self, **named: Column) -> "DiffNode":
        def fn(df: DataFrame) -> DataFrame:
            for n, c in named.items():
                df = df.withColumn(n, c)
            return df
        return _LinearNode(self.graph, self, fn)

    def flatten(self, col: str, alias: str | None = None) -> "DiffNode":
        alias = alias or col
        def fn(df: DataFrame) -> DataFrame:
            keep = [c for c in _data_cols(df) if c != col]
            return df.select(*keep, F.explode(col).alias(alias), DIFF, TIME)
        node = _LinearNode(self.graph, self, fn)
        # resident fast path: F.explode doesn't constant-fold over a
        # LocalRelation (Generate ⇒ one micro-job per tick), so the
        # resident evaluator runs this hop in Python with exact explode
        # semantics (skip NULL/empty; one row per element)
        node._res_explode = (col, alias)
        return node

    def union(self, other: "DiffNode") -> "DiffNode":
        return _UnionNode(self.graph, [self, other])

    concat = union

    def join(self, other: "DiffNode", on: Sequence[str], *,
             how: str = "inner") -> "DiffNode":
        return _JoinNode(self.graph, self, other, list(on), how)

    def join_theta(self, other: "DiffNode", cond_fn,
                   lcols: Sequence[str], rcols: Sequence[str], *,
                   band: dict | None = None) -> "DiffNode":
        """Inner join under an arbitrary predicate; `cond_fn(a, b)`
        receives the two aliased frames and returns a boolean Column.

        `band` (optional) declares that the predicate is exactly an
        interval condition — equi keys plus a time-axis range
        `rtime ∈ [ltime+lo, ltime+hi]` — so the resident fast path can
        arrange state by (keys, ⌊time/width⌋) and probe only touched
        bands (`resident._ThetaBandKernel`).  Shape:
        ``{"ltime": str, "rtime": str, "lo": int, "hi": int,
        "micros": bool, "keys": [(lkey, rkey), ...]}`` with lo/hi in
        the column's own units (microseconds when ``micros`` — the
        predicate is then over ``unix_micros(col.cast("timestamp"))``).
        The declaration must MATCH cond_fn; it changes only the
        physical strategy, never the semantics — the resident kernel
        re-evaluates the same range predicate on the banded slice."""
        return _ThetaJoinNode(self.graph, self, other, cond_fn,
                              list(lcols), list(rcols), band=band)

    def semi_join(self, other: "DiffNode", lkeys: Sequence[str],
                  rkeys: Sequence[str] | None = None) -> "DiffNode":
        rkeys = list(rkeys) if rkeys is not None else list(lkeys)
        return _SemiAntiNode(self.graph, self, other, list(lkeys), rkeys,
                             anti=False)

    def anti_join(self, other: "DiffNode", lkeys: Sequence[str],
                  rkeys: Sequence[str] | None = None) -> "DiffNode":
        rkeys = list(rkeys) if rkeys is not None else list(lkeys)
        return _SemiAntiNode(self.graph, self, other, list(lkeys), rkeys,
                             anti=True)

    def ignore_late(self, time_col: str, threshold) -> "DiffNode":
        """Drop rows older than max(time) − threshold (the reference's
        cutoff behavior, `table.py:852`): the watermark advances with
        the data; late rows never enter downstream state."""
        return _ForgetNode(self.graph, self, time_col, threshold,
                           retract=False)

    def forget(self, time_col: str, threshold) -> "DiffNode":
        """Watermark-horizon state eviction (reference `table.py:671`
        `forget`): rows older than max(time) − threshold are RETRACTED
        (-1 deltas), so every downstream join/reduce evicts their
        state automatically — composed before a join, this bounds the
        join's state by the retention horizon, the requirement for
        infinite streams.  Late rows are dropped (cutoff)."""
        return _ForgetNode(self.graph, self, time_col, threshold,
                           retract=True)

    def buffer(self, time_col: str, threshold) -> "DiffNode":
        """Delay emission until the watermark passes (the reference's
        `table.py` `_buffer` / `exactly_once_behavior`): a row is held
        in the node's pending state and released (+1) only once
        max(seen time) − threshold reaches its time — so downstream
        sees each row exactly once, after its event-time is final.
        Retractions of still-pending rows cancel silently inside the
        buffer (the row never escapes)."""
        return _BufferNode(self.graph, self, time_col, threshold)

    def reduce(self, keys: Sequence[str],
               aggs: dict[str, tuple] | None = None, **kw: tuple) -> "DiffNode":
        """aggs: name -> ("sum"|"count"|"min"|"max"|"avg"|"count_distinct"|
        "any", column_name?) — weight-aware aggregation specs."""
        specs = dict(aggs or {})
        specs.update(kw)
        return _ReduceNode(self.graph, self, list(keys), specs)

    def distinct(self) -> "DiffNode":
        return _DistinctNode(self.graph, self)

    def negate(self) -> "DiffNode":
        return _LinearNode(self.graph, self,
                           lambda df: df.withColumn(DIFF, -F.col(DIFF)),
                           sign_preserving=False)

    def _small(self, df: DataFrame, src: "DiffNode | None" = None
               ) -> DataFrame:
        """Broadcast-hint a delta-derived frame.  Checkpointed state
        frames carry no size statistics, so without the hint Catalyst
        falls back to shuffling the FULL state against a 1k-row delta
        every batch.  Steady-state deltas are micro-batch-bounded
        (small by construction); the hint is skipped for the one wide
        batch (the initial load) AND when `src` — the node whose delta
        the frame derives from — is not provably micro-batch-bounded
        (a retract-mode forget or a buffer can emit a state-sized
        expiry/release batch on a watermark jump; broadcasting that
        risks driver OOM, so those fall back to a shuffle join)."""
        if self.graph._wide_batch:
            return df
        bounded = (src._delta_bounded() if src is not None
                   else all(i._delta_bounded() for i in self.inputs))
        return F.broadcast(df) if bounded else df

    def _delta_bounded(self) -> bool:
        """True when this node's per-batch delta size is provably
        bounded by the micro-batch size (broadcast-safe).  Watermark
        state eviction (forget retract mode) and buffer release are
        not: a watermark jump can expire/release a state-sized batch —
        they and everything downstream report unbounded, trading the
        broadcast fast path for shuffle safety on those pipelines."""
        return all(i._delta_bounded() for i in self.inputs)

    def _insert_only(self) -> bool:
        """True when this node's delta stream provably never carries a
        negative weight (structural: insert-only sources through
        sign-preserving operators).  Lets stateful consumers mark their
        state chunks pair-free and skip slice consolidates.  Default
        FALSE — only operators that provably preserve non-negativity
        override."""
        return False

    # nodes whose per-batch output is EXPENSIVE and consumed more than
    # once (downstream rule + a state-chunk append, or graph fan-out)
    # mark _CKPT_OUT so delta() wraps the output in ONE shared lazy
    # localCheckpoint: every consumer then reuses the same materialized
    # blocks instead of re-executing the node's whole plan (separately
    # compiled Spark plans do NOT share exchanges — without this, a
    # join feeding a reduce ran once for the output action and again
    # when the reduce's state chunk materialized, re-scanning even the
    # base parquet).  Reduce/keyed-recompute already checkpoint inside
    # their trace logic; linear ops are cheap narrow recomputes.
    _CKPT_OUT = False
    _requested = False   # set by step(): True when the caller consumes us
    # pass-through nodes (select/filter/union/forget...) forward their
    # input's rows without consolidating, so a caller requesting THEM
    # effectively requests their inputs' deltas too — step() propagates
    # the requested flag down through these (a requested select over an
    # interior join must still see the join's CONSOLIDATED output)
    _PASSTHROUGH = False

    # -- evaluation ------------------------------------------------------
    def _empty_at(self, t: int) -> bool:
        """Structurally known-empty delta for batch `t` — decided on
        the driver from which sources were fed, NO action run.  An
        empty-delta node is elided entirely: no plan built, no state
        chunk appended (frontier sparsity — in a multi-source graph
        most batches touch one source, so the untouched half of the
        dataflow costs zero; Catalyst's PropagateEmptyRelation prunes
        plan legs, but only this elision stops the per-batch state
        appends and planning overhead)."""
        return (all(i._empty_at(t) for i in self.inputs)
                if self.inputs else False)

    def delta(self, t: int) -> DataFrame:
        if self._memo_t != t:
            if self.graph._res_last_t == t:
                # batch t ran on the resident engine: hand out the delta
                # it computed for this node — a distributed advance now
                # would re-apply the delta to synced state
                out = self.graph._res_engine.memo_df(self, t)
                if out is None:
                    raise RuntimeError(
                        f"batch {t} was evaluated by the resident engine; "
                        "this node was not part of the requested subgraph")
                self._memo, self._memo_t = out, t
                return out
            if self._empty_tpl is not None and self._empty_at(t):
                out = self._empty_tpl
            else:
                _t0 = _perf_counter()
                out = self._advance(t)
                self.graph._nstat(self, _perf_counter() - _t0,
                                  resident=False)
                if self._CKPT_OUT:
                    out = self.graph._tick_cut(
                        out, bounded=self._delta_bounded())
                if self._empty_tpl is None:
                    self._empty_tpl = self.graph.spark.createDataFrame(
                        [], out.schema)
            self._memo = out
            self._memo_t = t
        return self._memo

    def _advance(self, t: int) -> DataFrame:  # pragma: no cover - abstract
        raise NotImplementedError

    def _probe_frame(self) -> DataFrame:
        """Empty frame with this node's OUTPUT delta schema — names,
        order and types equal to the `_empty_tpl` a first distributed
        batch memoizes — derived from the inputs' probes by analysis
        only (no batch, no Spark job).  Used for build-time capability
        checks (e.g. multi-time fusion) and to run a fresh graph's
        first step on the resident engine.  Stateful nodes stamp the
        batch time as their advance does (`DifferentialGraph.
        _probe_time`).  Only defined for nodes whose output schema is a
        pure function of their inputs'."""
        raise NotImplementedError(type(self).__name__)

    _probe_memo: tuple | None = None

    def _probe(self) -> DataFrame:
        """Memoized `_probe_frame()`: the schema is fixed by the
        topology except for the width of a stamped batch-time literal,
        which keys the memo."""
        key = self.graph._probe_time_long()
        m = self._probe_memo
        if m is None or m[0] != key:
            m = self._probe_memo = (key, self._probe_frame())
        return m[1]

    def _ensure_stores(self, *tpls: DataFrame) -> None:
        """Create this node's state stores (no-op for stateless nodes)
        from frames carrying its inputs' schemas: the batch deltas on a
        distributed advance, the inputs' probes on a resident first
        step.  Idempotent; both paths create through it, so they write
        to the same store objects, created in the same order (the
        store numbering restore relies on)."""


class SourceNode(DiffNode):
    """Graph input: receives the externally-supplied delta each batch."""

    def __init__(self, graph: "DifferentialGraph", name: str,
                 template: DataFrame):
        super().__init__(graph, [])
        self.name = name
        empty = as_delta(template.filter(F.lit(False)))
        self._template = empty
        self._pending: DataFrame | None = None
        self._fed_t: int | None = None   # batch the last real feed was for
        self._ins_only = True   # sticky: False once a fed delta carries DIFF
        self._local_refuse = 0   # consecutive oversized-localization skips

    def _empty_at(self, t: int) -> bool:
        return self._fed_t != t

    def _insert_only(self) -> bool:
        return self._ins_only

    def _probe_frame(self) -> DataFrame:
        # the layout `_feed` gives every fed delta
        return self._template.select(
            *_data_cols(self._template),
            F.col(DIFF).cast("long").alias(DIFF),
            F.col(TIME).cast("long").alias(TIME))

    def _feed(self, delta: DataFrame | None, t: int,
              row_times: bool = False) -> None:
        if delta is None:
            self._pending = self._template
        else:
            self._fed_t = t
            if DIFF in delta.columns:
                # caller-supplied weights may be negative — permanently
                # drop the insert-only guarantee for this source
                self._ins_only = False
            # restore the wide-batch guard the static flag lost: a
            # burst micro-batch (backlogged file source, large replay
            # slice) must NOT be coalesced to one partition or
            # broadcast-hinted.  Probe .rdd ONLY when the delta's plan
            # is exchange-free (then the probe runs no jobs); plans
            # with shuffles estimate via inputFiles() — under AQE,
            # .rdd on a shuffling plan would execute its whole lineage
            # once for the probe (the bug _StateStore.update documents)
            try:
                plan = delta._jdf.queryExecution() \
                    .executedPlan().toString()
                if "Exchange" not in plan:
                    wide = delta.rdd.getNumPartitions() > 64
                else:
                    wide = len(delta.inputFiles()) > 64
                if wide:
                    self.graph._batch_wide = True
            except Exception:
                pass
            # row_times (fused multi-time batches over LINEAR graphs):
            # keep the caller's per-row TIME column instead of stamping
            # the batch clock — linear operators pass TIME through
            # untouched, so the output trace equals per-time stepping
            tcol = (F.col(TIME).cast("long")
                    if row_times and TIME in delta.columns
                    else F.lit(t).cast("long"))
            d = delta.select(
                *_data_cols(self._template),
                (F.col(DIFF) if DIFF in delta.columns
                 else F.lit(1)).cast("long").alias(DIFF),
                tcol.alias(TIME))
            # one shared lineage cut per batch: every consumer (output
            # action, state chunks) sees the same bytes, so a
            # nondeterministic source plan (sample/limit) cannot
            # evaluate differently for the emitted delta vs the state.
            # Steady micro-batches become driver-held LocalRelations
            # (all downstream broadcasts of the delta then run job-free
            # — see _tick_cut); wide batches keep the lazy checkpoint.
            # Three consecutive refusals (oversized rows — e.g. full-
            # text documents) stop the attempts: a refused localization
            # already paid its collect, so probing every tick forever
            # would add a wasted job per batch.
            if self.graph._wide_batch or self._local_refuse >= 3:
                self._pending = d.localCheckpoint(eager=False)
            else:
                loc = self.graph._local_cut(d)
                if loc is None:
                    self._local_refuse += 1
                    self._pending = d.localCheckpoint(eager=False)
                else:
                    self._local_refuse = 0
                    self._pending = loc

    def _advance(self, t: int) -> DataFrame:
        return self._pending if self._pending is not None else self._template


class ArrangedInput(SourceNode):
    """A source whose accumulated multiset is ARRANGED once and shared
    by every direct join against it — differential dataflow's
    arrangement sharing (`arrange`/`Arranged` in DD; the reference
    shares one arrangement across an iterate scope's iterations).

    The OWNER (e.g. `_IterateNode`) updates `shared_store` exactly once
    per batch AFTER all consumers pulled, so each consuming join sees
    B_old from the shared store plus its own `db` delta leg — state is
    held once, not once per consumer.  Build-time contract (enforced in
    `DiffNode.__init__`): only plain joins may consume an arranged
    input; any other operator would need a private copy of the
    accumulated state that the delta-only feeds no longer provide."""

    def __init__(self, graph: "DifferentialGraph", name: str,
                 template: DataFrame, store: _StateStore):
        super().__init__(graph, name, template)
        self.shared_store = store


def _plan_deterministic(df: DataFrame) -> bool:
    """True when every expression in the analyzed plan is deterministic.

    Downstream stateful nodes append linear-node outputs to their state
    WITHOUT a lineage cut (`update(cut=False)` trusts the delta to be
    byte-stable under rescans).  A nondeterministic expression between
    a source and a stateful node (F.rand(), shuffle(), sample, limit)
    breaks that trust: each rescan re-draws, retractions stop canceling
    and state silently corrupts.  Unknown/unreadable plans report False
    (the safe side — the output gets its own checkpoint)."""
    try:
        stack = [df._jdf.queryExecution().analyzed()]
        while stack:
            n = stack.pop()
            exprs = n.expressions()
            for i in range(exprs.size()):
                if not exprs.apply(i).deterministic():
                    return False
            ch = n.children()
            for i in range(ch.size()):
                stack.append(ch.apply(i))
        return True
    except Exception:
        return False


class _LinearNode(DiffNode):
    _PASSTHROUGH = True
    def __init__(self, graph, parent: DiffNode,
                 fn: Callable[[DataFrame], DataFrame],
                 sign_preserving: bool = True):
        super().__init__(graph, [parent])
        self._fn = fn
        self._sign_preserving = sign_preserving
        self._det_checked = False

    def _probe_frame(self) -> DataFrame:
        p = self.inputs[0]._probe()
        # a resident first step never advances this node: decide the
        # fn's determinism here too, over a lineage-free frame of the
        # input's schema — what an advance's (cut) input looks like
        self._check_det(self._fn(_empty_frame(self.graph.spark,
                                              p._jdf.schema())))
        return self._fn(p)

    def _insert_only(self) -> bool:
        return self._sign_preserving and self.inputs[0]._insert_only()

    def _check_det(self, out: DataFrame) -> None:
        if not self._det_checked:
            # structural property of the fixed fn — decided once.  A
            # nondeterministic transform (F.rand()...) flips this node
            # to checkpoint-its-output mode so every consumer (join
            # legs, state-chunk appends with cut=False) sees the SAME
            # bytes instead of a fresh draw per rescan.
            self._det_checked = True
            if not _plan_deterministic(out):
                self._CKPT_OUT = True   # instance attr shadows class

    def _advance(self, t: int) -> DataFrame:
        out = self._fn(self.inputs[0].delta(t))
        self._check_det(out)
        return out


class _UnionNode(DiffNode):
    _PASSTHROUGH = True
    def _insert_only(self) -> bool:
        return all(i._insert_only() for i in self.inputs)

    def _advance(self, t: int) -> DataFrame:
        a, b = (i.delta(t) for i in self.inputs)
        return a.unionByName(b.select(*a.columns))

    def _probe_frame(self) -> DataFrame:
        a, b = (i._probe() for i in self.inputs)
        return a.unionByName(b.select(*a.columns))


_BAND = "_pw_theta_band"        # banded θ join: hash-join key column
_BAND_T = "_pw_theta_band_t"    # staging column for the time axis


def _band_assign(df: DataFrame, t_expr: Column, width: int) -> DataFrame:
    """Tag each row with its time band ⌊t/width⌋ — exact long floor
    division ((t - pmod(t, w)) div w): `/`+floor would route through
    doubles and round above 2^53 (micros pass that in year ~2255, user
    ints any time).  NULL time ⇒ NULL band ⇒ the band-equality join
    key never matches, same as the θ predicate itself on NULLs."""
    df = df.withColumn(_BAND_T, t_expr.cast("long"))
    return df.withColumn(_BAND, F.expr(
        f"({_BAND_T} - pmod({_BAND_T}, {width})) div {width}"
    )).drop(_BAND_T)


def _band_explode(df: DataFrame, t_expr: Column, rlo: int, rhi: int,
                  width: int) -> DataFrame:
    """Explode each delta row to its candidate bands for the range
    [t+rlo, t+rhi] — ⌈(rhi-rlo)/width⌉+1 ≤ 3 rows since width is the
    interval length.  Bands only GENERATE candidates; the exact θ
    predicate re-checks every pair, so integer band arithmetic being
    exact is all that's needed for no-missed-pairs (float axes are
    gated out by `_dband_init`).  NULL time ⇒ NULL sequence ⇒ explode
    drops the row, matching the predicate's NULL-no-match."""
    df = df.withColumn(_BAND_T, t_expr.cast("long"))
    lo_e = (f"(({_BAND_T} + ({rlo})) - pmod({_BAND_T} + ({rlo}), {width}))"
            f" div {width}")
    hi_e = (f"(({_BAND_T} + ({rhi})) - pmod({_BAND_T} + ({rhi}), {width}))"
            f" div {width}")
    return df.withColumn(
        _BAND, F.explode(F.expr(f"sequence({lo_e}, {hi_e})"))
    ).drop(_BAND_T)


_DBAND_CLAMP = float(2 ** 50)   # |quotient| beyond this: overflow band
_DBAND_P = float(2 ** 51)       # +overflow sentinel band (also +inf)
_DBAND_N = -float(2 ** 51)      # -overflow sentinel band (also -inf)


def _dband_assign_dbl(df: DataFrame, t_expr: Column,
                      width: float) -> DataFrame:
    """Double-axis POINT-side banding (r11): band = ⌊t/W⌋ as a DOUBLE
    join key.  NaN quotients keep a NaN band (Spark join keys treat
    NaN = NaN as true), quotients beyond ±2^50 (incl. ±inf) collapse
    to overflow sentinel bands, NULL time ⇒ NULL band ⇒ no match.
    floor() only runs on the clamped branch, so the long cast is exact
    and ANSI-safe."""
    q = t_expr.cast("double") / F.lit(width)
    band = (F.when(F.isnan(q), F.lit(float("nan")))
             .when(q > F.lit(_DBAND_CLAMP), F.lit(_DBAND_P))
             .when(q < F.lit(-_DBAND_CLAMP), F.lit(_DBAND_N))
             .otherwise(F.floor(q).cast("double")))
    return df.withColumn(_BAND, band)


def _dband_explode_dbl(df: DataFrame, t_expr: Column, rlo: float,
                       rhi: float, width: float) -> DataFrame:
    """Double-axis INTERVAL-side banding: explode to every band a
    match could occupy for the range [t+rlo, t+rhi] — computed with
    the PREDICATE'S OWN float operations (`t + bound`, literal-typed
    double), then divided by W.  Coverage is exact with NO slack:
    round-to-nearest double division and floor are both monotone, so
    a point p satisfying `fl(t+rlo) <= p <= fl(t+rhi)` (the predicate,
    evaluated on computed doubles) has ⌊fl(p/W)⌋ between the exploded
    endpoints' bands.  This is why the interval side always explodes
    and the point side always assigns, whichever of the two is the
    delta: a REARRANGED probe range (the resident kernel's backward
    direction) would need ulp slack and a blowup fallback; the
    predicate-form range needs neither.  Quotients beyond ±2^50 attach
    the overflow sentinel bands; NaN times band to the NaN sentinel;
    NULL times produce an empty band array and drop (predicate
    no-match)."""
    t = t_expr.cast("double")
    qlo = (t + F.lit(rlo)) / F.lit(width)
    qhi = (t + F.lit(rhi)) / F.lit(width)
    C, C1 = F.lit(_DBAND_CLAMP), F.lit(_DBAND_CLAMP + 1.0)
    empty = F.array().cast("array<double>")
    # clamp BEFORE floor: inputs land in [-(2^50+1), 2^50+1], so the
    # long-typed floor is exact and cannot overflow under ANSI
    lo_l = F.floor(F.greatest(-C, F.least(qlo, C1)))
    hi_l = F.floor(F.greatest(-C1, F.least(qhi, C)))
    main = F.when(lo_l <= hi_l,
                  F.transform(F.sequence(lo_l, hi_l),
                              lambda v: v.cast("double"))
                  ).otherwise(empty)
    pb = F.when(qhi > C, F.array(F.lit(_DBAND_P))).otherwise(empty)
    nb = F.when(qlo < -C, F.array(F.lit(_DBAND_N))).otherwise(empty)
    bands = (F.when(qlo.isNull() | qhi.isNull(), empty)
              .when(F.isnan(qlo) | F.isnan(qhi),
                    F.array(F.lit(float("nan"))))
              .otherwise(F.concat(nb, main, pb)))
    return df.withColumn(_BAND, F.explode(bands))


class _ThetaJoinNode(DiffNode):
    """Bilinear delta join under an arbitrary θ predicate (interval /
    range joins): d(A ⋈θ B) = dA ⋈θ B_new ∪ A_old ⋈θ dB — the
    bilinearity rule is predicate-agnostic, only the matching changes.

    With `band` metadata on an exact-integer time axis the state probe
    is BANDED (mirrors `resident._ThetaBandKernel`, and the reference's
    time-bucketed arrangements,
    python/pathway/stdlib/temporal/_interval_join.py:577): each delta
    row explodes to its 2-3 candidate bands ⌊t±bound / width⌋, state
    rows carry ⌊t/width⌋, and the join hash-partitions on (equi keys,
    band) with the ORIGINAL predicate re-checked on the banded slice.
    Probe work per delta row is then O(band slice), not O(key history),
    and a key-less interval condition plans as a broadcast HASH join on
    the band instead of a nested-loop of delta × full state.  Bands
    never change semantics: they only generate candidates; every pair
    passes the exact predicate.  Float axes (and non-integer bounds)
    keep the un-banded join — Catalyst still extracts equi keys into a
    hash join with the range as a post-filter."""
    _CKPT_OUT = True

    def __init__(self, graph, left: DiffNode, right: DiffNode,
                 cond_fn, lcols: list[str], rcols: list[str],
                 band: dict | None = None):
        super().__init__(graph, [left, right])
        self._cond_fn = cond_fn       # (left_df, right_df) -> Column
        self._lcols = lcols           # output columns from the left
        self._rcols = rcols           # output columns from the right
        self._theta_band = band       # resident banding metadata or None
        self._sa: _StateStore | None = None
        self._sb: _StateStore | None = None
        self._dband = None            # distributed banding, decided once
        self._dband_done = False

    def _insert_only(self) -> bool:
        return all(i._insert_only() for i in self.inputs)

    def _ensure_stores(self, da: DataFrame, db: DataFrame) -> None:
        if self._sa is None:
            self._sa = self.graph._make_store(da)
            self._sb = self.graph._make_store(db)

    def _probe_frame(self) -> DataFrame:
        a, b = (i._probe() for i in self.inputs)
        return consolidate(self._weighted(a, b, 0)).withColumn(
            TIME, self.graph._probe_time())

    def _dband_init(self, da: DataFrame, db: DataFrame) -> None:
        """Decide ONCE whether (and how) the distributed probe bands.

        "int": integer bounds on int axes, or (under micros)
        timestamp/date axes — exact long arithmetic; band assignment +
        probe range use the SAME Spark expressions as the predicate,
        so no session-tz gating is needed here (unlike the Python
        resident kernel).

        "dbl" (r11, the last BroadcastNestedLoop case): double axes
        and/or float bounds band too.  Exactness comes from banding in
        the predicate's own computed arithmetic — the interval side
        explodes [t+lo, t+hi] with the predicate's literal-typed
        double ops, the point side assigns ⌊t/W⌋, and monotonicity of
        IEEE round-to-nearest division makes the explode range cover
        every matching point band with no slack (`_dband_explode_dbl`).
        The gate below only admits axis/bound combinations whose
        Catalyst type coercion provably computes in doubles the same
        way the band expressions do: a double axis with any real
        bounds, an int axis with float bounds (coerced to double), or
        an int32-or-narrower axis with int bounds (integer add exact
        in double).  A LONG axis with int bounds against a double
        other side is out (Catalyst adds in int64, lossy above 2^53
        when cast); float32 axes are out (the predicate computes in
        float32)."""
        self._dband_done = True
        meta = self._theta_band
        if not meta:
            return
        lo, hi = meta["lo"], meta["hi"]

        def real(v):
            return (isinstance(v, (int, float))
                    and not isinstance(v, bool) and _math.isfinite(v)
                    and abs(v) < 2 ** 53)
        int_bounds = (isinstance(lo, int) and isinstance(hi, int)
                      and not isinstance(lo, bool)
                      and not isinstance(hi, bool))
        l_by = {f.name: f.dataType for f in da.schema.fields}
        r_by = {f.name: f.dataType for f in db.schema.fields}
        lt, rt = l_by.get(meta["ltime"]), r_by.get(meta["rtime"])
        INTS = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        if meta["micros"]:
            if not int_bounds:
                return
            ok_types = (T.TimestampType, T.TimestampNTZType, T.DateType)
            if not (isinstance(lt, ok_types) and isinstance(rt, ok_types)):
                return

            def conv(c: Column) -> Column:
                return F.unix_micros(c.cast("timestamp"))
            self._dband = dict(kind="int", conv=conv, lo=lo, hi=hi,
                               width=hi - lo if hi > lo else 1)
            return
        if int_bounds and isinstance(lt, INTS) and isinstance(rt, INTS):
            self._dband = dict(kind="int", conv=lambda c: c, lo=lo, hi=hi,
                               width=hi - lo if hi > lo else 1)
            return
        # double path: which side is the INTERVAL side (its axis does
        # the predicate's `t + bound` additions)?
        if not (real(lo) and real(hi)):
            return
        orig = meta.get("orig_bounds")
        if orig is not None:
            if not (real(orig[0]) and real(orig[1])):
                return
            iv_t, pt_t = rt, lt          # predicate: lt ∈ [rt+L, rt+U]
            b_lo, b_hi = orig
        else:
            iv_t, pt_t = lt, rt          # predicate: rt ∈ [lt+lo, lt+hi]
            b_lo, b_hi = lo, hi
        if not isinstance(pt_t, INTS + (T.DoubleType,)):
            return
        float_bounds = isinstance(b_lo, float) or isinstance(b_hi, float)
        if isinstance(iv_t, T.DoubleType):
            pass                          # double + int/double lit: ok
        elif isinstance(iv_t, INTS):
            if not float_bounds:
                return   # int+int add wraps/overflows in int space —
                         # not the double arithmetic the bands use
        else:
            return                        # float32 / decimal / etc.
        width = float(b_hi) - float(b_lo) if b_hi > b_lo else 1.0
        if not (_math.isfinite(width) and width > 0):
            return
        self._dband = dict(kind="dbl", lo=float(b_lo), hi=float(b_hi),
                           width=width, orig=orig is not None)

    def _weighted(self, a: DataFrame, b: DataFrame, t: int,
                  delta_side: str | None = None) -> DataFrame:
        wa, wb = f"{DIFF}__a", f"{DIFF}__b"
        a = a.select(*self._lcols, F.col(DIFF).alias(wa))
        b = b.select(*self._rcols, F.col(DIFF).alias(wb))
        dband = self._dband if delta_side else None
        if dband is not None:
            meta = self._theta_band
            if dband["kind"] == "int":
                conv, lo, hi = dband["conv"], dband["lo"], dband["hi"]
                width = dband["width"]
                if delta_side == "l":  # dA probes B: bands of [lt+lo, lt+hi]
                    a = _band_explode(a, conv(F.col(meta["ltime"])),
                                      lo, hi, width)
                    b = _band_assign(b, conv(F.col(meta["rtime"])), width)
                else:                  # dB probes A: bands of [rt-hi, rt-lo]
                    b = _band_explode(b, conv(F.col(meta["rtime"])),
                                      -hi, -lo, width)
                    a = _band_assign(a, conv(F.col(meta["ltime"])), width)
            else:
                # "dbl" (r11): predicate-form banding — the interval
                # side ALWAYS explodes (even as state) and the point
                # side always assigns, so neither probe direction ever
                # uses a rearranged (rounding) range; see
                # `_dband_explode_dbl` for the no-slack coverage
                # argument
                lo, hi, width = dband["lo"], dband["hi"], dband["width"]
                if dband["orig"]:      # predicate: lt ∈ [rt+lo, rt+hi]
                    b = _dband_explode_dbl(b, F.col(meta["rtime"]),
                                           lo, hi, width)
                    a = _dband_assign_dbl(a, F.col(meta["ltime"]), width)
                else:                  # predicate: rt ∈ [lt+lo, lt+hi]
                    a = _dband_explode_dbl(a, F.col(meta["ltime"]),
                                           lo, hi, width)
                    b = _dband_assign_dbl(b, F.col(meta["rtime"]), width)
        a, b = a.alias("l"), b.alias("r")
        cond = self._cond_fn(a, b)
        if dband is not None:
            # band equality leads the conjunction: with the equi keys
            # it forms the hash-join key set; the θ range stays a
            # post-filter over the banded slice
            cond = (a[_BAND] == b[_BAND]) & cond
        out = a.join(b, on=cond, how="inner")
        return (out.select(
            *[a[c] for c in self._lcols], *[b[c] for c in self._rcols],
            (F.col(wa) * F.col(wb)).alias(DIFF))
            .withColumn(TIME, F.lit(t)))

    def _advance(self, t: int) -> DataFrame:
        da, db = self.inputs[0].delta(t), self.inputs[1].delta(t)
        da_e = self.inputs[0]._empty_at(t) and self._sa is not None
        db_e = self.inputs[1]._empty_at(t) and self._sb is not None
        self._ensure_stores(da, db)
        if not self._dband_done:
            self._dband_init(da, db)
        a_old, b_old = self._sa.get(), self._sb.get()
        b_new = b_old if db_e else b_old.unionByName(
            db.select(*_ccs(_data_cols(b_old)), _cc(DIFF)))
        parts = []
        if not da_e:
            parts.append(self._weighted(
                self._small(da, self.inputs[0]), as_delta(b_new, time=t), t,
                delta_side="l"))
        if not db_e:
            parts.append(self._weighted(
                as_delta(a_old, time=t), self._small(db, self.inputs[1]), t,
                delta_side="r"))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p.select(*out.columns))
        wide = self.graph._wide_batch
        if not da_e:
            self._sa.update(da, wide=wide, cut=False,
                            positive=self.inputs[0]._insert_only())
        if not db_e:
            self._sb.update(db, wide=wide, cut=False,
                            positive=self.inputs[1]._insert_only())
        return consolidate(out).withColumn(TIME, F.lit(t))


class _SemiAntiNode(DiffNode):
    """Differential semi/anti join: keep (or drop) left rows by the
    RIGHT side's per-key presence.  Same presence algebra as outer-join
    padding: a key flipping 0↔>0 emits/retracts every matching left
    row; left deltas pass/block by the new presence.

    anti per key (p0/p1 = old/new right presence):
      appeared (0→1): −A_old   vanished (1→0): +A_old + dA
      never: +dA               always: nothing
    semi is the complement (signs swapped, dA gated on presence)."""
    _CKPT_OUT = True

    def __init__(self, graph, left: DiffNode, right: DiffNode,
                 lkeys: list[str], rkeys: list[str], anti: bool):
        super().__init__(graph, [left, right])
        self._lkeys, self._rkeys = lkeys, rkeys
        self._anti = anti
        self._sa: _StateStore | None = None
        self._sb: _StateStore | None = None

    def _ensure_stores(self, da: DataFrame, db: DataFrame) -> None:
        if self._sa is None:
            self._sa = self.graph._make_store(da)
            self._sb = self.graph._make_store(db)

    def _probe_frame(self) -> DataFrame:
        # every leg is a slice of the left state (or the left delta)
        return consolidate(_multiset_tpl(self.inputs[0]._probe())) \
            .withColumn(TIME, self.graph._probe_time())

    def _advance(self, t: int) -> DataFrame:
        da, db = self.inputs[0].delta(t), self.inputs[1].delta(t)
        da_e = self.inputs[0]._empty_at(t) and self._sa is not None
        db_e = self.inputs[1]._empty_at(t) and self._sb is not None
        self._ensure_stores(da, db)
        a_old, b_old = self._sa.get(), self._sb.get()
        lk, rk = self._lkeys, self._rkeys

        def presence(ms: DataFrame, keys: DataFrame) -> DataFrame:
            # keys is small (delta-derived) → broadcast semi-join prunes
            # each state chunk before the aggregation — O(slice) and no
            # state shuffle
            return (ms.join(self._small(keys), on=rk, how="left_semi")
                      .groupBy(*rk).agg(F.sum(DIFF).alias("__w"))
                      .filter(F.col("__w") > 0)
                      .select(*[F.col(r).alias(l) for l, r in zip(lk, rk)]))

        b_new = b_old if db_e else b_old.unionByName(
            db.select(*_ccs(_data_cols(b_old)), _cc(DIFF)))

        def rows(src: DataFrame, keys: DataFrame, sign: int) -> DataFrame:
            return src.join(self._small(keys), on=lk,
                            how="left_semi").select(
                *_data_cols(src), (F.col(DIFF) * sign).alias(DIFF))

        legs = []
        if not db_e:   # presence can flip only under right-delta keys
            pk = db.select(*rk).distinct()
            p_old = presence(b_old, pk)
            p_new = presence(b_new, pk)
            appeared = p_new.join(p_old, on=lk, how="left_anti")
            vanished = p_old.join(p_new, on=lk, how="left_anti")
            sa, sv = (-1, +1) if self._anti else (+1, -1)
            legs.append(rows(a_old, appeared, sa))
            legs.append(rows(a_old, vanished, sv))
        if not da_e:   # fresh left rows gate on the NEW presence
            kk = da.select(*[F.col(l).alias(r)
                             for l, r in zip(lk, rk)]).distinct()
            p_new_gate = presence(b_new, kk)
            gate_how = "left_anti" if self._anti else "left_semi"
            legs.append(
                da.drop(TIME).join(p_new_gate, on=lk, how=gate_how)
                  .select(*_data_cols(a_old), DIFF))
        wide = self.graph._wide_batch
        if not da_e:
            self._sa.update(da, wide=wide, cut=False,
                            positive=self.inputs[0]._insert_only())
        if not db_e:
            self._sb.update(db, wide=wide, cut=False,
                            positive=self.inputs[1]._insert_only())
        out = legs[0]
        for leg in legs[1:]:
            out = out.unionByName(leg.select(*out.columns))
        return consolidate(out).withColumn(TIME, F.lit(t))


def _expand(ms: DataFrame) -> DataFrame:
    """Multiset → plain rows: replicate by multiplicity (weights in a
    consolidated, well-formed stream are positive and almost always 1,
    so the explode is effectively free)."""
    pos = ms.filter(F.col(DIFF) > 0)
    return (pos.withColumn("__x", F.explode(F.sequence(F.lit(1), F.col(DIFF))))
               .drop("__x", DIFF))


def _trace_old(node, new: DataFrame, keys: list[str], touched: DataFrame,
               recompute_old) -> DataFrame:
    """Old-output rows to retract, for a keyed-recompute node.

    Preferred path: slice the node's OUTPUT TRACE under the touched
    keys and negate those exact bytes (float-safe — see _ReduceNode).
    Requires every key column to appear in the op's output; otherwise
    fall back to `recompute_old()` (re-running the op on the old
    slices), which is only byte-stable for deterministic ops.  Nodes
    without a store hook get their trace created here, on first use."""
    if set(keys) <= set(new.columns):
        if node._out_state is None:
            _op_out_store(node, new, keys)
        sl = _ns_semi(node._out_state.get(probe=touched, on=keys),
                      node._small(touched), keys)
        return consolidate(sl).withColumn(DIFF, -F.col(DIFF))
    return recompute_old().withColumn(DIFF, F.lit(-1).cast("long"))


def _op_out_store(node, new: DataFrame, keys: list[str]) -> None:
    """Create a keyed-recompute node's output trace from the op's
    output template `new`, when the op keeps every key column."""
    if set(keys) <= set(new.columns):
        node._out_state = node.graph._make_store(new, key_cols=keys)


def _op_probe(new: DataFrame, graph) -> DataFrame:
    """Output probe of a keyed-recompute node: the op's output plus
    weight, consolidated and stamped as `_emit_traced` does."""
    return consolidate(new).withColumn(TIME, graph._probe_time())


def _emit_traced(node, old: DataFrame, new: DataFrame, t: int) -> DataFrame:
    """Consolidate old∪new, stamp the time, and append the emitted delta
    to the node's output trace under ONE shared lineage cut (the trace
    must hold the same bytes the consumer saw)."""
    out = consolidate(old.unionByName(new.select(*old.columns))) \
        .withColumn(TIME, F.lit(t))
    if node._out_state is not None:
        out = node.graph._tick_cut(out, bounded=node._delta_bounded())
        node._out_state.update(out, wide=node.graph._wide_batch, cut=False)
    return out


class _KeyedRecomputeNode(DiffNode):
    """Differential wrapper for ANY keyed binary batch operator.

    If `op(A, B)`'s output rows for key k depend only on A- and B-rows
    with key k (true for asof joins, per-key sort/diff, windowed ops
    keyed per instance...), then the operator is incrementally
    maintainable without a custom delta rule: per batch, recompute
    `op` on the affected-key SLICES of both states and emit
    `op(new slices) − op(old slices)`.  This is differential
    dataflow's generic `reduce` contract applied to a two-input
    operator — cost O(|slices|), not O(|state|)."""

    def __init__(self, graph, left: DiffNode, right: DiffNode,
                 lkeys: list[str], rkeys: list[str], op_fn):
        super().__init__(graph, [left, right])
        self._lkeys, self._rkeys = lkeys, rkeys
        self._op = op_fn            # (left_df, right_df) -> plain DataFrame
        self._sa: _StateStore | None = None
        self._sb: _StateStore | None = None
        self._out_state: _StateStore | None = None

    def _new_tpl(self, da: DataFrame, db: DataFrame) -> DataFrame:
        return self._op(_expand(_multiset_tpl(da)),
                        _expand(_multiset_tpl(db))) \
            .withColumn(DIFF, F.lit(1).cast("long"))

    def _ensure_stores(self, da: DataFrame, db: DataFrame) -> None:
        if self._sa is None:
            self._sa = self.graph._make_store(da, key_cols=self._lkeys)
            self._sb = self.graph._make_store(db, key_cols=self._rkeys)
            _op_out_store(self, self._new_tpl(da, db), self._lkeys)

    def _probe_frame(self) -> DataFrame:
        a, b = (i._probe() for i in self.inputs)
        return _op_probe(self._new_tpl(a, b), self.graph)

    def _advance(self, t: int) -> DataFrame:
        da, db = self.inputs[0].delta(t), self.inputs[1].delta(t)
        self._ensure_stores(da, db)
        touched0 = (da.select(*[F.col(k) for k in self._lkeys])
                     .unionByName(db.select(
                         *[F.col(rk).alias(lk) for lk, rk
                           in zip(self._lkeys, self._rkeys)]))
                     .distinct())
        touched = touched0
        touched_r = touched.select(
            *[F.col(lk).alias(rk) for lk, rk
              in zip(self._lkeys, self._rkeys)])
        a_old = self._sa.get(probe=touched, on=self._lkeys)
        b_old = self._sb.get(probe=touched_r, on=self._rkeys)
        # pair-free stores (insert-only lineage / fresh compaction) skip
        # the slice consolidates — _expand is multiplicity-correct over
        # a pair-free multiset (see _ReduceNode)
        a_pf = self._sa._pair_free and self.inputs[0]._insert_only()
        b_pf = self._sb._pair_free and self.inputs[1]._insert_only()
        ao = _ns_semi(a_old, self._small(touched), self._lkeys)
        bo = _ns_semi(b_old, self._small(touched_r), self._rkeys)
        if not a_pf:
            ao = consolidate(ao)
        if not b_pf:
            bo = consolidate(bo)
        an = ao.unionByName(da.select(*_data_cols(ao), DIFF))
        bn = bo.unionByName(db.select(*_data_cols(bo), DIFF))
        if not a_pf:
            an = consolidate(an)
        if not b_pf:
            bn = consolidate(bn)
        new = self._op(_expand(an), _expand(bn)) \
            .withColumn(DIFF, F.lit(1).cast("long"))
        # retract from the OUTPUT TRACE where the op's key columns
        # survive into its output (asof joins, sort/diff, interpolate):
        # exact-byte cancellation even when the op's float arithmetic
        # is summation-order sensitive (see _ReduceNode).  An op that
        # projects its keys away falls back to recompute-old.
        old = _trace_old(self, new, self._lkeys, touched,
                         lambda: self._op(_expand(ao), _expand(bo)))
        wide = self.graph._wide_batch
        self._sa.update(da, wide=wide, cut=False,
                        positive=self.inputs[0]._insert_only())
        self._sb.update(db, wide=wide, cut=False,
                        positive=self.inputs[1]._insert_only())
        return _emit_traced(self, old, new, t)


class _KeyedRecomputeUnaryNode(DiffNode):
    """One-input keyed recompute: for operators whose output under key
    k depends only on input rows with key k (session windows per
    instance, per-key sort/diff/prev-next, interpolation...), the
    affected-key slices recompute the batch operator and the node
    emits new − old."""

    def __init__(self, graph, parent: DiffNode, keys: list[str], op_fn):
        super().__init__(graph, [parent])
        self._keys = keys
        self._op = op_fn             # (plain_df) -> plain DataFrame
        self._state: _StateStore | None = None
        self._out_state: _StateStore | None = None

    def _new_tpl(self, tpl: DataFrame) -> DataFrame:
        return self._op(_expand(_multiset_tpl(tpl))) \
            .withColumn(DIFF, F.lit(1).cast("long"))

    def _ensure_stores(self, tpl: DataFrame) -> None:
        if self._state is None:
            self._state = self.graph._make_store(tpl, key_cols=self._keys)
            _op_out_store(self, self._new_tpl(tpl), self._keys)

    def _probe_frame(self) -> DataFrame:
        return _op_probe(self._new_tpl(self.inputs[0]._probe()), self.graph)

    def _advance(self, t: int) -> DataFrame:
        delta = self.inputs[0].delta(t)
        self._ensure_stores(delta)
        touched = delta.select(*_ccs(self._keys)).distinct()
        state = self._state.get(probe=touched, on=self._keys)
        pair_free = (self._state._pair_free
                     and self.inputs[0]._insert_only())
        old_in = _ns_semi(state, self._small(touched), self._keys)
        if not pair_free:
            old_in = consolidate(old_in)
        new_in = old_in.unionByName(
            delta.select(*_ccs(_data_cols(old_in)), _cc(DIFF)))
        if not pair_free:
            new_in = consolidate(new_in)
        new = self._op(_expand(new_in)) \
            .withColumn(DIFF, F.lit(1).cast("long"))
        old = _trace_old(self, new, self._keys, touched,
                         lambda: self._op(_expand(old_in)))
        self._state.update(delta, wide=self.graph._wide_batch, cut=False,
                           positive=self.inputs[0]._insert_only())
        return _emit_traced(self, old, new, t)



class _WatermarkedNode(DiffNode):
    """Shared machinery for the behavior nodes: a one-row watermark
    store advanced by a designated column's max, and the broadcast
    1-row cut frame (__cut = watermark − threshold)."""

    _wm: "_StateStore | None" = None

    def _wm_init(self, d: DataFrame, wm_col: str) -> None:
        mx_tpl = (d.filter(F.lit(False))
                  .select(F.col(wm_col).alias("__mx"))
                  .withColumn(DIFF, F.lit(1).cast("long")))
        self._wm = self.graph._make_store(mx_tpl)

    def _wm_cut(self, d: DataFrame, wm_col: str, threshold):
        """Advance the watermark by this delta; return (old_cut, cut):
        broadcast 1-row frames of watermark − threshold BEFORE and
        AFTER the advance (old_cut is what late-drop compares against).
        Exactly one retract/insert lands in the watermark store."""
        old_mx = consolidate(self._wm.get()).select("__mx")
        old_mx = self.graph._tick_cut(old_mx)   # ≤1 row
        # old_cut must be a ONE-ROW frame even before any watermark
        # exists (empty frame × crossJoin would wipe the delta): the
        # aggregate yields a single NULL row, and NULL cuts compare
        # permissively downstream
        old_mx_row = old_mx.agg(F.max("__mx").alias("__mx"))
        new_mx = (old_mx.unionByName(d.select(F.col(wm_col).alias("__mx")))
                  .agg(F.max("__mx").alias("__mx")))
        new_mx = self.graph._tick_cut(new_mx)   # 1 row
        if isinstance(threshold, (int, float)):
            def cexpr(col):
                return col - F.lit(threshold)
        else:   # datetime.timedelta over timestamp columns
            us = int(threshold.total_seconds() * 1e6)

            def cexpr(col):
                return col - F.expr(f"INTERVAL {us} MICROSECOND")
        old_cut = F.broadcast(old_mx_row.select(
            cexpr(F.col("__mx")).alias("__cut")))
        cut = F.broadcast(new_mx.select(cexpr(F.col("__mx")).alias("__cut")))
        self._wm.update(
            old_mx.withColumn(DIFF, F.lit(-1).cast("long"))
                  .unionByName(new_mx.withColumn(DIFF,
                                                 F.lit(1).cast("long"))),
            wide=False, cut=False)
        return old_cut, cut


class _ForgetNode(_WatermarkedNode):
    """Watermark-horizon eviction.  State: the current watermark (one
    row) and — in retract mode — the still-alive rows.  Per batch the
    watermark advances to max(seen time); rows older than
    watermark − threshold emit -1 deltas and leave the state, so the
    node's own state AND all downstream state stay bounded by the
    retention horizon.  Rows with a NULL time pass through and never
    expire.  All comparisons are one broadcast of the 1-row cut frame
    — no shuffles beyond the delta itself."""
    _PASSTHROUGH = True
    _CKPT_OUT = True

    def __init__(self, graph, parent: DiffNode, time_col: str, threshold,
                 retract: bool):
        super().__init__(graph, [parent])
        self._tcol = time_col
        self._thr = threshold
        self._retract = retract
        self._rows: _StateStore | None = None

    def _delta_bounded(self) -> bool:
        # retract mode can expire a state-sized batch on a watermark
        # jump — downstream must not broadcast such deltas
        return (not self._retract) and super()._delta_bounded()

    def _insert_only(self) -> bool:
        return (not self._retract) and self.inputs[0]._insert_only()

    def _ensure_stores(self, tpl: DataFrame) -> None:
        if self._wm is None:
            self._wm_init(tpl, self._tcol)
            if self._retract:
                self._rows = self.graph._make_store(tpl)

    def _probe_frame(self) -> DataFrame:
        p = self.inputs[0]._probe()
        if self._retract:     # passed rows ∪ expiries re-stamped
            p = p.drop(TIME)
        return p.withColumn(TIME, self.graph._probe_time())

    def _advance(self, t: int) -> DataFrame:
        d = self.inputs[0].delta(t)
        self._ensure_stores(d)
        _old_cut, cut = self._wm_cut(d, self._tcol, self._thr)
        # reference convention (table.py:671 forget / :852 ignore_late):
        # rows satisfying time <= max(time) − threshold are removed, so
        # the horizon row itself expires — pass is strict >, expire is <=
        # (matches _BufferNode's <= release and the batch _late_filter)
        d_pass = (d.crossJoin(cut)
                  .filter(F.coalesce(F.col(self._tcol) > F.col("__cut"),
                                     F.lit(True)))
                  .drop("__cut"))
        if not self._retract:
            return d_pass.withColumn(TIME, F.lit(t))
        alive = consolidate(self._rows.get())
        expired = (alive.crossJoin(cut)
                   .filter(F.col(self._tcol) <= F.col("__cut"))
                   .drop("__cut")
                   .withColumn(DIFF, -F.col(DIFF)))
        out = (d_pass.drop(TIME)
               .unionByName(expired.select(*_data_cols(d_pass), DIFF))
               .withColumn(TIME, F.lit(t)))
        # retract-mode forget is NOT delta-bounded (a watermark jump can
        # expire a state-sized batch) — _tick_cut falls back to the
        # lazy checkpoint on bounded=False
        out = self.graph._tick_cut(out, bounded=self._delta_bounded())
        self._rows.update(out, wide=self.graph._wide_batch, cut=False)
        return out


class _BufferNode(_WatermarkedNode):
    """Watermark-gated release buffer.  State: the watermark (one
    row) + pending rows.  Per batch the incoming delta joins the
    pending set; everything at or behind the cut releases downstream,
    the rest waits.  A retraction arriving while its row is still
    pending cancels in the pending consolidate and nothing is ever
    emitted.

    `wm_col` decouples the WATERMARK column from the RELEASE column:
    exactly-once windowing advances the watermark on event time but
    releases rows by their window END, so a whole window escapes in
    one batch.  `drop_late` drops rows arriving at or behind the
    PREVIOUS cut (their release point already passed — emitting them
    would re-open an already-released group).  Rows with a NULL
    release time release immediately (they cannot be watermarked)."""
    _CKPT_OUT = True

    def __init__(self, graph, parent: DiffNode, time_col: str, threshold,
                 *, wm_col: str | None = None, drop_late: bool = False):
        super().__init__(graph, [parent])
        self._tcol = time_col
        self._thr = threshold
        self._wmcol = wm_col or time_col
        self._drop_late = drop_late
        self._pending: _StateStore | None = None

    def _delta_bounded(self) -> bool:
        # a watermark jump can release MANY accumulated pending batches
        # at once — the release is not bounded by the input micro-batch
        return False

    def _insert_only(self) -> bool:
        # released rows carry their original weights; pending-state
        # retraction pairs cancel INSIDE the buffer, never released
        return self.inputs[0]._insert_only()

    def _ensure_stores(self, tpl: DataFrame) -> None:
        if self._wm is None:
            self._wm_init(tpl, self._wmcol)
            self._pending = self.graph._make_store(tpl)

    def _probe_frame(self) -> DataFrame:
        # releases are consolidated pending rows
        return consolidate(_multiset_tpl(self.inputs[0]._probe())) \
            .withColumn(TIME, self.graph._probe_time())

    def _advance(self, t: int) -> DataFrame:
        d = self.inputs[0].delta(t)
        self._ensure_stores(d)
        old_cut, cut = self._wm_cut(d, self._wmcol, self._thr)
        if self._drop_late:
            d = (d.crossJoin(old_cut)
                 .filter(F.coalesce(F.col(self._tcol) > F.col("__cut"),
                                    F.lit(True)))
                 .drop("__cut"))
        pool = consolidate(self._pending.get().unionByName(
            d.select(*_data_cols(self._pending.get()), DIFF)))
        pool = pool.crossJoin(cut).localCheckpoint(eager=False)
        released = (pool.filter(F.when(
            F.col(self._tcol).isNull(), F.lit(True)).otherwise(
            F.col(self._tcol) <= F.col("__cut")))
            .drop("__cut"))
        # pending state: append this batch's delta, remove released rows
        upd = (d.drop(TIME)
               .unionByName(released.withColumn(DIFF, -F.col(DIFF))
                            .select(*_data_cols(d.drop(TIME)), DIFF)))
        self._pending.update(upd, wide=self.graph._wide_batch, cut=False)
        return released.withColumn(TIME, F.lit(t))


class _AsofNowNode(DiffNode):
    """Freeze-at-arrival join (reference `_asof_now_join.py`): a left
    delta row joins the right side's CURRENT state and the result is
    immutable — later right-side deltas only update the right state,
    they never retract already-emitted matches (the defining contrast
    with the bilinear `_JoinNode`).  Left retractions remove their
    frozen outputs via the node's output trace."""
    _CKPT_OUT = True

    def __init__(self, graph, left: DiffNode, right: DiffNode,
                 lkeys: list[str], rkeys: list[str]):
        super().__init__(graph, [left, right])
        self._lk, self._rk = lkeys, rkeys
        self._sb: _StateStore | None = None
        self._trace: _StateStore | None = None
        self._lcols: list[str] | None = None
        self._rcols: list[str] | None = None
        self._out_tpl: DataFrame | None = None
        self._exprs: tuple | None = None   # per-node cached Columns

    def _frozen_schema(self, da: DataFrame, db: DataFrame) -> T.StructType:
        """Row layout of the frozen matches (and of the trace): the left
        columns, the right's non-left columns, a long weight."""
        lcols = _data_cols(da)
        l_by = {f.name: f for f in da.schema.fields}
        r_by = {f.name: f for f in db.schema.fields}
        return T.StructType(
            [l_by[c] for c in lcols]
            + [r_by[c] for c in _data_cols(db) if c not in lcols]
            + [T.StructField(DIFF, T.LongType())])

    def _out_frame(self, da: DataFrame, db: DataFrame) -> DataFrame:
        return _empty_frame(self.graph.spark,
                            self._frozen_schema(da, db)).withColumn(
            TIME, self.graph._probe_time())

    def _ensure_stores(self, da: DataFrame, db: DataFrame) -> None:
        if self._sb is not None:
            return
        self._sb = self.graph._make_store(db)
        self._lcols = _data_cols(da)
        self._rcols = [c for c in _data_cols(db) if c not in self._lcols]
        # a fresh empty frame, never a filtered join: checkpointing a
        # template that still carries the l/r-aliased join plan trips a
        # Catalyst AttributeMap bug ("key not found: <attr>") when the
        # left lineage contains an explode
        self._trace = self.graph._make_store(_empty_frame(
            self.graph.spark, self._frozen_schema(da, db)))
        self._out_tpl = self._out_frame(da, db)

    def _probe_frame(self) -> DataFrame:
        return self._out_frame(*(i._probe() for i in self.inputs))

    def _advance(self, t: int) -> DataFrame:
        # one-sided frontier sparsity (same as _JoinNode): a query-only
        # tick appends no empty right-state chunk, and a right-only
        # tick emits nothing without building the join/trace plans at
        # all (frozen output only changes when the LEFT side changes) —
        # in a serving graph this is every tick for one side or the
        # other, and the skipped chunks keep every later scan narrow
        da_e = self.inputs[0]._empty_at(t) and self._out_tpl is not None
        db_e = self.inputs[1]._empty_at(t) and self._sb is not None
        if da_e:
            if not db_e:
                self._sb.update(self.inputs[1].delta(t),
                                wide=self.graph._wide_batch, cut=False,
                                positive=self.inputs[1]._insert_only())
            return self._out_tpl
        da, db = self.inputs[0].delta(t), self.inputs[1].delta(t)
        self._ensure_stores(da, db)
        r_now = self._sb.get().unionByName(
            db.select(*_data_cols(self._sb.get()), DIFF))
        # net the left delta first: a same-batch +r/-r pair must freeze
        # NOTHING (the raw split would freeze r and fail to retract it
        # because the trace lacks this batch's rows).  Retraction of a
        # multi-inserted left row removes ALL its frozen outputs — the
        # per-copy association is genuinely ambiguous (the copies froze
        # different right states); the operator's contract is
        # append-only-unique left rows, like the reference's.
        da_net = consolidate(da.drop(TIME))
        pos = da_net.filter(F.col(DIFF) > 0)
        neg = da_net.filter(F.col(DIFF) < 0)
        wa, wb = f"{DIFF}__a", f"{DIFF}__b"
        if self._exprs is None:
            # the plain-name expression sets are schema-fixed per node:
            # build each Column ONCE (every F.col/alias/eqNullSafe is a
            # py4j roundtrip, and this method runs per tick per stage
            # of a serving chain)
            cond = None
            for lk, rk in zip(self._lk, self._rk):
                c = F.col(f"__l_{lk}") == F.col(f"__r_{rk}")
                cond = c if cond is None else (cond & c)
            fro_sel = ([F.col(f"__l_{c}").alias(c) for c in self._lcols]
                       + [F.col(f"__r_{c}").alias(c) for c in self._rcols]
                       + [(F.col(f"__l_{wa}") * F.col(f"__r_{wb}"))
                          .alias(DIFF)])
            null_safe = None
            for c in self._lcols:
                e = F.col(f"`{c}`").eqNullSafe(F.col(f"__n_{c}"))
                null_safe = e if null_safe is None else (null_safe & e)
            self._exprs = (cond, fro_sel, null_safe)
        cond, fro_sel, null_safe = self._exprs
        # rename BOTH sides to disjoint names and join/select by plain
        # name, never through subquery aliases or dataframe-attribute
        # refs: "l.`c`" lookups die in the optimizer ("key not found:
        # <attr>") when the left lineage contains an explode, and
        # attr refs (a[c]) trip the ambiguous-self-join check when the
        # two sides share lineage (e.g. chained asof_now stages built
        # over the same upstream reduce) — unique names sidestep both
        a = self._small(pos.withColumnRenamed(DIFF, wa).drop(TIME))
        b = r_now.withColumnRenamed(DIFF, wb)
        a2 = a.select(*[a[c].alias(f"__l_{c}") for c in a.columns])
        b2 = b.select(*[b[c].alias(f"__r_{c}") for c in b.columns])
        frozen = a2.join(b2, on=cond, how="inner").select(*fro_sel)
        # left retraction: drop that left row's frozen outputs, exact
        # bytes from the trace.  NULL-SAFE equality on every left
        # column — plain left_semi `on=` uses EqualTo, under which a
        # retraction of ('a', NULL) matches nothing and the frozen row
        # survives forever (consolidate() itself groups NULLs equal,
        # so the rest of the engine already treats them as matching)
        tr = self._trace.get()
        ng0 = self._small(neg.select(*_ccs(self._lcols)).distinct())
        ng = ng0.select(*[ng0[c].alias(f"__n_{c}")
                          for c in self._lcols])
        gone = consolidate(
            tr.join(ng, on=null_safe, how="left_semi")) \
            .withColumn(DIFF, -_cc(DIFF))
        # consolidate: the unconsolidated right-state chunks surface as
        # +x/-x row pairs inside `frozen`; net them before freezing
        out = consolidate(frozen.unionByName(gone.select(*frozen.columns))) \
            .withColumn(TIME, F.lit(t))
        out = self.graph._tick_cut(out, bounded=self._delta_bounded())
        wide = self.graph._wide_batch
        self._trace.update(out, wide=wide, cut=False)
        if not db_e:
            self._sb.update(db, wide=wide, cut=False,
                            positive=self.inputs[1]._insert_only())
        return out


class _JoinNode(DiffNode):
    """Bilinear delta join; outer variants add presence-tracked padding."""
    _CKPT_OUT = True
    _JOINS_ARRANGED = True

    def __init__(self, graph, left: DiffNode, right: DiffNode,
                 on: list[str], how: str):
        how = {"full": "outer", "full_outer": "outer"}.get(how, how)
        if how not in ("inner", "left", "right", "outer"):
            raise NotImplementedError(
                f"differential join supports inner/left/right/outer, got {how!r}")
        super().__init__(graph, [left, right])
        self.on = on
        self.how = how
        self._sa: _StateStore | None = None
        self._sb: _StateStore | None = None
        self._sa_shared = False
        self._sb_shared = False

    def _insert_only(self) -> bool:
        # inner: products of positive weights stay positive; outer
        # variants emit -1 padding retractions when presence flips
        return (self.how == "inner"
                and all(i._insert_only() for i in self.inputs))

    def _ensure_stores(self, da: DataFrame, db: DataFrame) -> None:
        if self._sa is None:
            # an ArrangedInput side reuses the shared arrangement (the
            # owner appends its deltas once per batch, after all pulls);
            # only unshared sides get a private store
            sh_a = getattr(self.inputs[0], "shared_store", None)
            sh_b = getattr(self.inputs[1], "shared_store", None)
            self._sa = sh_a or self.graph._make_store(da, key_cols=self.on)
            self._sb = sh_b or self.graph._make_store(db, key_cols=self.on)
            self._sa_shared = sh_a is not None
            self._sb_shared = sh_b is not None

    def _probe_frame(self) -> DataFrame:
        a, b = (i._probe() for i in self.inputs)
        rcols = [c for c in _data_cols(b) if c not in self.on]
        return self._weighted(a, b, self.on, rcols, 0).withColumn(
            TIME, self.graph._probe_time())

    @staticmethod
    def _weighted(a: DataFrame, b: DataFrame, on: list[str],
                  rcols: list[str], t: int) -> DataFrame:
        """inner join two multisets; weight = product of weights.
        `a`/`b` may or may not carry TIME — it is dropped; the caller
        stamps the batch time once on the final union.  Four analyzer
        passes total (two projections, the join, the weight select)."""
        wa, wb = f"{DIFF}__a", f"{DIFF}__b"
        lcols = [c for c in a.columns if c not in (DIFF, TIME)]
        a = a.select(*_ccs(lcols), _cc(DIFF).alias(wa))
        b = b.select(*_ccs(on), *_ccs(rcols), _cc(DIFF).alias(wb))
        out = a.join(b, on=on, how="inner")
        return out.select(*_ccs(lcols), *_ccs(rcols),
                          _expr_cached("wa*wb", lambda: (
                              F.col(wa) * F.col(wb)).alias(DIFF)))

    def _advance(self, t: int) -> DataFrame:
        da, db = self.inputs[0].delta(t), self.inputs[1].delta(t)
        # one-sided frontier sparsity: an untouched side contributes no
        # bilinear part, no padding flips, and — critically — no state
        # chunk append (appends of empty chunks would still grow every
        # later batch's union scan)
        da_e = self.inputs[0]._empty_at(t) and self._sa is not None
        db_e = self.inputs[1]._empty_at(t) and self._sb is not None
        self._ensure_stores(da, db)
        # every leg of the bilinear rule + outer padding only touches
        # state rows under THIS batch's delta keys (either side), so a
        # disk-resident bucketed base prunes to those buckets
        pieces = ([] if da_e else [da.select(*_ccs(self.on))]) + \
                 ([] if db_e else [db.select(*_ccs(self.on))])
        probe = pieces[0] if len(pieces) == 1 else (
            pieces[0].unionByName(pieces[1]) if pieces else None)
        a_old = self._sa.get(probe=probe, on=self.on)
        b_old = self._sb.get(probe=probe, on=self.on)
        lcols = [c for c in _data_cols(da) if c not in self.on]
        rcols = [c for c in _data_cols(db) if c not in self.on]
        # joins are LINEAR in each input, so the possibly-unconsolidated
        # chunked state unions are multiset-correct as-is — no
        # full-state consolidate per batch; spurious +x/-x pairs from
        # not-yet-compacted retractions cancel in the output consolidate
        b_new = b_old if db_e else b_old.unionByName(
            db.select(*_ccs(_data_cols(b_old)), _cc(DIFF)))
        # dA ⋈ B_new ∪ A_old ⋈ dB  ==  dA⋈B + A⋈dB + dA⋈dB
        # the DELTA side broadcasts (see _small): state stays in place,
        # per-batch join cost is a state scan, not a state shuffle
        parts = []
        if not da_e:
            parts.append(self._weighted(
                self._small(da, self.inputs[0]), b_new,
                self.on, rcols, t))
        if not db_e:
            parts.append(self._weighted(
                a_old, self._small(db, self.inputs[1]),
                self.on, rcols, t))
        inner = parts[0]
        for p in parts[1:]:
            inner = inner.unionByName(p.select(*inner.columns))
        out = inner
        if self.how in ("left", "outer"):
            out = out.unionByName(
                self._padding(da, a_old, b_old, b_new, db, rcols, t,
                              d_keep_empty=da_e, d_probe_empty=db_e)
                    .select(*inner.columns))
        if self.how in ("right", "outer"):
            a_new = a_old if da_e else a_old.unionByName(
                da.select(*_ccs(_data_cols(a_old)), _cc(DIFF)))
            out = out.unionByName(
                self._padding(db, b_old, a_old, a_new, da, lcols, t,
                              d_keep_empty=db_e, d_probe_empty=da_e)
                    .select(*inner.columns))
        wide = self.graph._wide_batch
        if not da_e and not self._sa_shared:
            self._sa.update(da, wide=wide, cut=False,
                            positive=self.inputs[0]._insert_only())
        if not db_e and not self._sb_shared:
            self._sb.update(db, wide=wide, cut=False,
                            positive=self.inputs[1]._insert_only())
        if self._requested:
            out = consolidate(out)
        return out.withColumn(TIME, F.lit(t))

    def _padding(self, d_keep, keep_old, probe_old, probe_new,
                 d_probe, null_cols: list[str], t: int,
                 d_keep_empty: bool = False,
                 d_probe_empty: bool = False) -> DataFrame:
        """Delta of KEEP ⋉̸ PROBE × NULLs, from probe-side key presence.

        pad(K, P) = (K anti-join keys(P)) with NULL probe columns;
        d pad = pad(K_new, P_new) − pad(K_old, P_old).  Presence can
        only FLIP on keys the probe delta touches, and the fresh-row
        gate only needs presence under the keep delta's keys — so every
        presence aggregation first semi-joins the state on one of those
        (small) key sets: per-batch cost is O(state rows under delta
        keys), never a full-state groupBy.
        Called with (A, B, dB) for left padding, (B, A, dA) for right."""
        on = self.on
        def presence(state: DataFrame, keys: DataFrame) -> DataFrame:
            return (state.join(self._small(keys), on=on, how="left_semi")
                         .groupBy(*_ccs(on))
                         .agg(_expr_cached(
                             "sumw", lambda: F.sum(DIFF).alias("__w")))
                         .filter(_expr_cached(
                             "wgt0", lambda: F.col("__w") > 0))
                         .select(*_ccs(on)))
        nulls = [F.lit(None).alias(c) for c in null_cols]
        def pad(rows: DataFrame, sign: int) -> DataFrame:
            # no TIME stamp: the caller aligns columns to the bilinear
            # legs (TIME-less) and stamps the batch time once at the end
            return rows.select(
                *_ccs(_data_cols(rows)), *nulls,
                (_cc(DIFF) * sign).alias(DIFF))
        # case algebra per key (p0/p1 = old/new presence), against
        # d pad = K_new·[!p1] − K_old·[!p0]:
        #   appeared (0→1): −K_old        (fresh excludes p_new keys)
        #   vanished (1→0): +K_old + dK   (lost + fresh)
        #   never present:  +dK           (fresh)
        # NB gained uses K_old, not K_new — same-batch dK rows under an
        # appeared key never had padding emitted, so nothing to retract.
        # Structural sparsity: no probe delta → presence cannot flip
        # (gained/lost vanish); no keep delta → no fresh rows.
        legs = []
        if not d_probe_empty:
            pk = d_probe.select(*_ccs(on)).distinct()
            p_old = presence(probe_old, pk)
            p_new = presence(probe_new, pk)
            appeared = p_new.join(p_old, on=on, how="left_anti")  # 0 → >0
            vanished = p_old.join(p_new, on=on, how="left_anti")  # >0 → 0
            legs.append(pad(keep_old.join(self._small(appeared), on=on,
                                          how="left_semi"), -1))
            legs.append(pad(keep_old.join(self._small(vanished), on=on,
                                          how="left_semi"), +1))
        if not d_keep_empty:
            kk = d_keep.select(*_ccs(on)).distinct()
            p_new_keep = presence(probe_new, kk)
            legs.append(pad(d_keep.drop(TIME).join(p_new_keep, on=on,
                                                   how="left_anti"), +1))
        out = legs[0]
        for leg in legs[1:]:
            out = out.unionByName(leg.select(*out.columns))
        return out


def _c(c) -> Column:
    return c if isinstance(c, Column) else F.col(c)


# weight-aware aggregates over a consolidated multiset (weights > 0):
# linear ones fold the weight in; order statistics ignore it
_AGG_BUILDERS = {
    "sum": lambda c: F.sum(_c(c) * F.col(DIFF)),
    # strict float sum (reference `reducers.sum(strict=True)`):
    # recomputed from the group's full multiset on the slice path —
    # same fold as "sum", but _acc_ok never takes the accumulator
    "sum_strict": lambda c: F.sum(_c(c) * F.col(DIFF)),
    "count": lambda c: F.sum(DIFF),
    "min": lambda c: F.min(_c(c)),
    "max": lambda c: F.max(_c(c)),
    "avg": lambda c: F.sum(_c(c) * F.col(DIFF)) / F.sum(DIFF),
    "count_distinct": lambda c: F.countDistinct(_c(c)),
    "any": lambda c: F.min(_c(c)),
    "unique": lambda c: F.when(
        F.count_distinct(_c(c)) <= 1, F.any_value(_c(c), ignoreNulls=True)
    ).otherwise(F.raise_error(
        F.lit("unique(): more than one distinct value"))),
    # multiplicity-sensitive but deterministic: rows replicate by
    # weight BEFORE aggregation (_ReduceNode pre-expands the slice)
    "sorted_tuple": lambda c: F.sort_array(F.collect_list(_c(c))),
    "argmin": lambda c, v: F.min_by(_c(c), _c(v)),
    "argmax": lambda c, v: F.max_by(_c(c), _c(v)),
    "earliest": lambda c, v: F.min_by(_c(c), _c(v)),
    "latest": lambda c, v: F.max_by(_c(c), _c(v)),
}


def _ns_semi(left: DataFrame, right: DataFrame, keys: list[str],
             how: str = "left_semi") -> DataFrame:
    """Key-slice join that treats NULL keys as EQUAL (`<=>`).  Reduce
    and distinct group NULLs into ONE group (SQL GROUP BY semantics —
    and the resident kernels' dict grouping), so their affected-key
    slices and output-trace retractions must match NULL-key rows too:
    a plain `on=[names]` join (EqualTo) silently dropped the NULL
    group from every slice, leaving its old output row unretracted
    beside each batch's fresh one (r9 fix; the resident/distributed
    equivalence suite caught it via NULL window columns).  Spark hash
    joins support EqualNullSafe keys, so broadcast plans survive."""
    # rename the right keys through an Alias FIRST: slice probes often
    # share lineage with the state they probe, and cross-frame
    # attribute refs (df["k"]) over shared ids feed Catalyst plans the
    # self-join dedup rewrites from under the condition (optimizer
    # NoSuchElementException); fresh Alias ids make resolution
    # unambiguous without relying on the dedup
    rhs = right.select(*[F.col(k).alias(f"__ns_{k}") for k in keys])
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"__ns_{k}"))
        cond = c if cond is None else cond & c
    return left.join(rhs, cond, how)


def _ns_left(left: DataFrame, right: DataFrame,
             keys: list[str]) -> DataFrame:
    """Null-safe LEFT join keeping the left frame's columns plus the
    right's non-key columns — the `on=[names]` shape with `<=>`."""
    rest = [c for c in right.columns if c not in keys]
    rhs = right.select(*[F.col(k).alias(f"__ns_{k}") for k in keys],
                       *rest)
    cond = None
    for k in keys:
        c = F.col(k).eqNullSafe(F.col(f"__ns_{k}"))
        cond = c if cond is None else cond & c
    return left.join(rhs, cond, "left").select(*left.columns, *rest)


class _ReduceNode(DiffNode):
    """Affected-key groupby/agg with retraction of superseded rows.

    Retractions come from an OUTPUT TRACE, not a recompute: the node
    keeps a second store holding exactly the rows it has emitted, and
    retracts those bytes.  Recomputing the old aggregate would emit a
    retraction that differs from the original row by a float-summation
    ULP whenever partition order shifts between batches — the -old/+old
    pair then fails to cancel and a phantom stale row survives
    integration.  Differential dataflow's reduce does the same: it
    subtracts from the arranged *output* trace
    (`differential-dataflow reduce`), never from a re-evaluation."""

    def __init__(self, graph, parent: DiffNode, keys: list[str],
                 specs: dict[str, tuple]):
        super().__init__(graph, [parent])
        self.keys = keys
        self.specs = {}
        for name, spec in specs.items():
            if isinstance(spec, str):
                spec = (spec,)
            kind, args = spec[0], tuple(spec[1:])
            if kind not in _AGG_BUILDERS:
                raise ValueError(f"unknown reducer {kind!r} for {name!r}")
            if not args:
                args = (keys[0] if keys else None,)
            self.specs[name] = (kind, args)
        self._state: _StateStore | None = None
        self._out_state: _StateStore | None = None
        self._acc: _StateStore | None = None
        # sum/count/avg fold the weight column exactly even over an
        # UNCONSOLIDATED multiset (+x/-x pairs cancel inside the sum),
        # so linear-only reduces skip the two slice-consolidate
        # shuffles per batch; order statistics (min/max/distinct/
        # argmin...) need the consolidated slice
        self._linear = all(k in ("sum", "count", "avg", "sum_strict")
                           for k, _ in self.specs.values())
        self._strategy: str | None = None   # "acc" | "slice", set on 1st batch
        self._float_accs: set[str] = set()  # acc specs on float columns

    # -- accumulator strategy (abelian-group reduce) ---------------------
    # For linear aggregates over EXACT (integral) columns the group's
    # aggregate is itself an abelian sum, so the node keeps per-key
    # PARTIAL SUMS (one row per key) instead of the input multiset:
    #   acc_new(k) = acc_old(k) + Σ_delta(c·w),  n_new = n_old + Σ_delta w
    # Per batch that is one delta-sized groupBy plus a broadcast-pruned
    # scan of the (|keys|-row) accumulator — the input state store is
    # never created, so a 100 TB input needs only |keys| rows of state.
    # Differential dataflow's reduce makes the same specialization for
    # abelian groups (`count`/`sum` operate on aggregates, not traces).
    # FLOAT sums take the accumulator too, with a Neumaier compensation
    # term — exactly the reference's DEFAULT float-sum semantics
    # (`src/engine/reduce.rs:209-256` FloatSumState: a running
    # (sum, compensation) semigroup folded per update, NOT a per-group
    # recompute; `strict=True` opts into the recompute, our slice path).

    def _acc_ok(self, delta: DataFrame) -> bool:
        from pyspark.sql import types as T

        if not self._linear:
            return False
        dtypes = {f.name: f.dataType for f in delta.schema.fields}
        self._float_accs = set()
        for name, (k, a) in self.specs.items():
            if k == "count":
                continue
            if k not in ("sum", "avg"):
                return False       # sum_strict: per-group recompute
            col = a[0]
            if not isinstance(col, str):
                return False       # expression arg: dtype unknown
            dt = dtypes.get(col)
            if isinstance(dt, (T.ByteType, T.ShortType,
                               T.IntegerType, T.LongType)):
                continue
            if isinstance(dt, (T.FloatType, T.DoubleType)):
                self._float_accs.add(name)
                continue
            return False
        return True

    def _part_cols(self) -> list[str]:
        cols = ["__pw_n"]
        for n, (k, _a) in self.specs.items():
            if k in ("sum", "avg"):
                cols.append(f"__ps_{n}")
                if n in self._float_accs:
                    cols.append(f"__pc_{n}")
        return cols

    def _part_aggs(self) -> list[Column]:
        aggs = [F.sum(F.col(DIFF)).cast("long").alias("__pw_n")]
        for name, (k, a) in self.specs.items():
            if k in ("sum", "avg"):
                if name in self._float_accs:
                    # the micro-batch's own partial folds in one Spark
                    # SUM; compensation starts at 0 and accrues in the
                    # per-tick merge step (reference folds per ROW —
                    # both are compensated summations, neither is
                    # bit-pinned to the other)
                    aggs.append(F.sum(_c(a[0]) * F.col(DIFF))
                                .cast("double").alias(f"__ps_{name}"))
                    aggs.append(F.lit(0.0).alias(f"__pc_{name}"))
                else:
                    aggs.append(F.sum(_c(a[0]) * F.col(DIFF)).cast("long")
                                .alias(f"__ps_{name}"))
        return aggs

    def _merge_parts(self, acc_slice: DataFrame,
                     d_parts: DataFrame) -> DataFrame:
        """acc ⊕ delta, per key: exact long adds for integral partials;
        one Neumaier compensation step for float sums (the reference's
        `neumeier_summation_step`, `src/engine/reduce.rs:209-217`):
          new_sum = s + v
          delta_c = (s - new_sum) + v   if |s| > |v|
                    (v - new_sum) + s   otherwise
          new_c   = c_acc + c_delta + delta_c"""
        parts = self._part_cols()
        on = list(self.keys)
        # tagged union + ONE groupBy (a full-outer join would cost two
        # exchanges + sorts for rows that are ≤2 per key by construction)
        u = (acc_slice.select(*_ccs(on), *_ccs(parts),
                              F.lit(0).alias("__src"))
             .unionByName(d_parts.select(*_ccs(on), *_ccs(parts),
                                         F.lit(1).alias("__src"))))
        aggs = [F.sum("__pw_n").cast("long").alias("__pw_n")]
        for name, (k, _a) in self.specs.items():
            if k not in ("sum", "avg"):
                continue
            ps, pc = f"__ps_{name}", f"__pc_{name}"
            if name in self._float_accs:
                # split the (single) acc row's sum from the delta's so
                # the compensation step can order its operands
                aggs.append(F.sum(F.when(F.col("__src") == 0,
                                         F.col(ps))).alias(f"__as_{name}"))
                aggs.append(F.sum(F.when(F.col("__src") == 1,
                                         F.col(ps))).alias(f"__ds_{name}"))
                aggs.append(F.sum(pc).alias(f"__c_{name}"))
            else:
                aggs.append(F.sum(ps).cast("long").alias(ps))
        g = u.groupBy(*_ccs(on)).agg(*aggs)
        exprs = [_cc("__pw_n")]
        for name, (k, _a) in self.specs.items():
            if k not in ("sum", "avg"):
                continue
            ps, pc = f"__ps_{name}", f"__pc_{name}"
            if name in self._float_accs:
                s = F.coalesce(F.col(f"__as_{name}"), F.lit(0.0))
                v = F.coalesce(F.col(f"__ds_{name}"), F.lit(0.0))
                c0 = F.coalesce(F.col(f"__c_{name}"), F.lit(0.0))
                ns = s + v
                dc = F.when(F.abs(s) > F.abs(v),
                            (s - ns) + v).otherwise((v - ns) + s)
                exprs.append(ns.alias(ps))
                exprs.append((c0 + dc).alias(pc))
            else:
                exprs.append(_cc(ps))
        return g.select(*_ccs(on), *exprs)

    def _finals(self) -> list[Column]:
        out = []
        for name, (k, _a) in self.specs.items():
            if k == "count":
                out.append(F.col("__pw_n").alias(name))
                continue
            base = F.col(f"__ps_{name}")
            if name in self._float_accs:
                # finish(): sum + compensation (reduce.rs:277-283)
                base = base + F.col(f"__pc_{name}")
            if k == "sum":
                out.append(base.alias(name))
            else:   # avg — same division dtype as _AGG_BUILDERS
                out.append((base / F.col("__pw_n")).alias(name))
        return out

    def _advance_acc(self, delta: DataFrame, t: int) -> DataFrame:
        parts = self._part_cols()
        d_parts = delta.groupBy(*self.keys).agg(*self._part_aggs())
        if self.keys:
            # no .distinct(): the keys frame only ever feeds broadcast
            # semi-joins, whose hash relation dedups — skipping the
            # distinct saves a shuffle per batch
            keys = delta.select(*_ccs(self.keys))
            acc_state = self._acc.get(probe=keys, on=self.keys)
            acc_slice = consolidate(_ns_semi(
                acc_state, self._small(keys), self.keys))
        else:
            keys = None
            acc_slice = consolidate(self._acc.get())
        bounded = self._delta_bounded()
        # NOTE (r8, measured): eagerly localizing acc_slice/comb/out
        # (one collect job each) was tried and REVERTED — in local mode
        # a PySpark job costs ~100-150 ms end-to-end regardless of
        # size, so 3 extra tiny jobs lose to 2 lazy checkpoints whose
        # materialization fuses into the tick's single action.
        comb = self._merge_parts(acc_slice, d_parts)
        # one shared cut: the acc chunk and the emitted finals must see
        # the same combined bytes
        comb = self.graph._tick_cut(comb, bounded=bounded)
        new_acc = comb.filter(F.col("__pw_n") != 0)
        new_out = new_acc.select(*_ccs(self.keys), *self._finals(),
                                 _one_l().alias(DIFF))
        otrace = self._out_state.get(probe=keys, on=self.keys or None)
        if keys is not None:
            otrace = _ns_semi(otrace, self._small(keys), self.keys)
        old_out = consolidate(otrace).withColumn(DIFF, -_cc(DIFF))
        wide = self.graph._wide_batch
        # two legs, each a narrow select over a LOCALIZED frame — the
        # store merges them driver-side with no chunk checkpoint
        self._acc.update_legs(
            [acc_slice.select(*_ccs(self.keys), *_ccs(parts),
                              _expr_cached("litm1l", lambda: F.lit(-1)
                                           .cast("long").alias(DIFF))),
             new_acc.select(*_ccs(self.keys), *_ccs(parts),
                            _one_l().alias(DIFF))],
            wide=wide)
        out = consolidate(old_out.unionByName(new_out)) \
            .withColumn(TIME, F.lit(t))
        out = self.graph._tick_cut(out, bounded=bounded)
        self._out_state.update(out, wide=wide, cut=False)
        return out

    def _advance_acc_rowtimes(self, delta: DataFrame, t: int) -> DataFrame:
        """TICK FUSION through a keyed integral accumulator (round 8):
        one step evaluates a whole multi-time batch, emitting per
        (key, time) exactly the -old/+new rows per-time stepping would
        — old/new are the cumulative partials BEFORE/AFTER that time,
        a window over `_pw_time` per key seeded with the accumulator
        base.  Integer partial sums commute through the accumulator, so
        intermediate values are bit-equal to sequential sub-steps; one
        Spark job replaces one full graph step per distinct time."""
        from pyspark.sql import Window as W

        parts = self._part_cols()
        keys = delta.select(*_ccs(self.keys))
        acc_state = self._acc.get(probe=keys, on=self.keys)
        acc_slice = consolidate(_ns_semi(
            acc_state, self._small(keys), self.keys))
        acc_slice = acc_slice.localCheckpoint(eager=False)  # used 3x
        # per-(key, time) batch partials, cumulated over the batch's
        # ascending times on top of the per-key base
        d_parts = delta.groupBy(*_ccs(self.keys), _cc(TIME)) \
            .agg(*self._part_aggs())
        base = acc_slice.select(
            *_ccs(self.keys),
            *[F.col(c).alias(f"__b_{c}") for c in parts])
        j = _ns_left(d_parts, base, self.keys)
        w = W.partitionBy(*self.keys).orderBy(TIME) \
             .rowsBetween(W.unboundedPreceding, W.currentRow)
        cum = j
        for p in parts:
            cum = cum.withColumn(
                f"__cum_{p}",
                (F.coalesce(F.col(f"__b_{p}"), F.lit(0))
                 + F.sum(p).over(w)).cast("long"))
        # rows whose partials are all zero change nothing — per-time
        # stepping's -old/+new would cancel; emit nothing
        touched = None
        for p in parts:
            c = F.col(p) != 0
            touched = c if touched is None else (touched | c)
        cum = cum.filter(touched).localCheckpoint(eager=False)

        def finals_from(prefix: str) -> list[Column]:
            sub = {p: F.col(f"{prefix}{p}") for p in parts}
            out = []
            for name, (k, _a) in self.specs.items():
                if k == "count":
                    out.append(sub["__pw_n"].alias(name))
                elif k == "sum":
                    out.append(sub[f"__ps_{name}"].alias(name))
                else:
                    out.append((sub[f"__ps_{name}"] / sub["__pw_n"])
                               .alias(name))
            return out

        prev_cols = {p: (F.col(f"__cum_{p}") - F.col(p)).alias(f"__prev_{p}")
                     for p in parts}
        cum2 = cum.select("*", *prev_cols.values())
        retracts = (cum2.filter(F.col("__prev___pw_n") != 0)
                    .select(*_ccs(self.keys), *finals_from("__prev_"),
                            F.lit(-1).cast("long").alias(DIFF),
                            _cc(TIME)))
        inserts = (cum2.filter(F.col("__cum___pw_n") != 0)
                   .select(*_ccs(self.keys), *finals_from("__cum_"),
                           _one_l().alias(DIFF), _cc(TIME)))
        out = retracts.unionByName(inserts)
        out = self.graph._tick_cut(out, bounded=self._delta_bounded())
        # accumulator: retract the touched base rows, insert the final
        # cumulative per key (the batch total folded onto the base)
        totals = delta.groupBy(*_ccs(self.keys)).agg(*self._part_aggs())
        final_acc = (_ns_left(totals, base, self.keys)
                     .select(*_ccs(self.keys),
                             *[(F.coalesce(F.col(f"__b_{p}"), F.lit(0))
                                + F.col(p)).cast("long").alias(p)
                               for p in parts])
                     .filter(F.col("__pw_n") != 0))
        wide = self.graph._wide_batch
        self._acc.update_legs(
            [acc_slice.select(*_ccs(self.keys), *_ccs(parts),
                              F.lit(-1).cast("long").alias(DIFF)),
             final_acc.select(*_ccs(self.keys), *_ccs(parts),
                              _one_l().alias(DIFF))],
            wide=wide)
        # the trace stores the NET emitted multiset: intermediate
        # -x/+x pairs across times cancel at its next consolidation
        self._out_state.update(out, wide=wide, cut=False)
        return out

    _EXPAND_KINDS = ("sorted_tuple",)   # need per-row multiplicity

    def _aggregate(self, multiset: DataFrame) -> DataFrame:
        if any(k in self._EXPAND_KINDS for k, _ in self.specs.values()):
            # replicate rows by weight so collection reducers see the
            # true multiset, then re-attach unit weights
            multiset = _expand(multiset).withColumn(
                DIFF, F.lit(1).cast("long"))
        aggs = [_AGG_BUILDERS[k](*a).alias(n)
                for n, (k, a) in self.specs.items()]
        # __n suppresses the phantom row a GLOBAL (keyless) aggregate
        # emits over an empty multiset — differential reduce outputs
        # nothing for an empty group, keyed or not
        grouped = multiset.groupBy(*_ccs(self.keys)).agg(
            *aggs, _expr_cached("sumn", lambda: F.sum(DIFF).alias("__n")))
        # no TIME stamp: callers consolidate (which drops TIME) and
        # stamp the batch time once on the final output
        return (grouped.filter(_expr_cached(
                    "nok", lambda: F.col("__n").isNotNull()
                    & (F.col("__n") != 0)))
                .select(*_ccs(self.keys), *_ccs(self.specs),
                        _one_l().alias(DIFF)))

    def _rowtimes_capable(self) -> bool:
        """True when a multi-time batch can run through this reduce in
        ONE step: keyed, accumulator-capable, and EXACT (integral) —
        per-time emission is then a cumulative window per key whose
        values are bit-equal to per-time stepping (float compensation
        is a sequential fold the window cannot reproduce, so float acc
        reduces keep the sub-step path)."""
        if not self.keys:
            return False
        # fed by linear operators only: another stateful node's per-time
        # output is outside the fusion contract
        stack = list(self.inputs)
        while stack:
            n = stack.pop()
            if type(n) not in (SourceNode, _LinearNode, _UnionNode):
                return False
            stack.extend(n.inputs)
        return self._acc_ok(self.inputs[0]._probe()) and not self._float_accs

    _tpl_memo: tuple | None = None

    def _templates(self, tpl: DataFrame) -> tuple:
        """(accumulator strategy?, empty partials frame — keys +
        `_part_cols` — or None, empty frame of the emitted rows — keys,
        aggregates, long weight) for the input schema `tpl`.  Memoized
        on the frame until `_ensure_stores` consumes it: a resident
        first step asks for the input probe's twice."""
        m = self._tpl_memo
        if m is not None and m[0] is tpl:
            return m[1]
        acc = self._acc_ok(tpl)
        parts = None
        if acc:
            parts = (tpl.filter(F.lit(False))
                     .groupBy(*_ccs(self.keys)).agg(*self._part_aggs())
                     .filter(F.lit(False)))
            # finals over the partials' own layout: `_merge_parts` keeps
            # every partial's type, so its analysis is not needed here
            trace = parts.select(
                *_ccs(self.keys), *self._finals(), _one_l().alias(DIFF))
        else:
            trace = self._aggregate(_multiset_tpl(tpl)).filter(F.lit(False))
        self._tpl_memo = (tpl, (acc, parts, trace))
        return acc, parts, trace

    def _ensure_stores(self, tpl: DataFrame) -> None:
        """Pick the strategy and create the stores: the accumulator (or
        the input multiset) first, then the output trace."""
        if self._strategy is not None:
            return
        acc, parts, trace = self._templates(tpl)
        self._tpl_memo = None    # never pin a batch delta's lineage
        self._strategy = "acc" if acc else "slice"
        kc = self.keys or None
        if acc:
            self._acc = self.graph._make_store(
                parts.withColumn(DIFF, _one_l()), key_cols=kc)
        else:
            self._state = self.graph._make_store(tpl, key_cols=kc)
        self._out_state = self.graph._make_store(trace, key_cols=kc)

    def _probe_frame(self) -> DataFrame:
        _acc, _parts, trace = self._templates(self.inputs[0]._probe())
        return consolidate(trace).withColumn(TIME, self.graph._probe_time())

    def _advance(self, t: int) -> DataFrame:
        delta = self.inputs[0].delta(t)
        self._ensure_stores(delta)
        if getattr(self.graph, "_row_times_step", False):
            if self._strategy != "acc" or self._float_accs:
                raise ValueError(
                    "row_times fusion reached a reduce that cannot "
                    "take it (slice strategy or float sums)")
            return self._advance_acc_rowtimes(delta, t)
        if self._strategy == "acc":
            return self._advance_acc(delta, t)
        # the chunked state may carry uncompacted +x/-x pairs, which
        # corrupt order statistics AND float sums (a +1e16/-1e16
        # pair straddling a small value cancels catastrophically,
        # not just by ULPs) — so the affected-key slice consolidates
        # BEFORE aggregation... unless the store is structurally
        # PAIR-FREE (insert-only lineage, or freshly compacted): then
        # the slice ∪ delta multiset is well-formed as-is and the
        # consolidate shuffle is skipped entirely (one shuffle per
        # batch — the aggregate itself — instead of three).
        pair_free = self._state._pair_free and self.inputs[0]._insert_only()
        if not self.keys:
            # global reduce: every batch touches THE one group — the
            # affected-key rule degenerates to a full recompute (state
            # stays chunk-bounded; the consolidate is the same shuffle
            # a compaction pays)
            keys = None
            sl = self._state.get()
        else:
            # no .distinct(): only feeds broadcast semi-joins (hash
            # relation dedups) — saves a shuffle per batch
            keys = delta.select(*_ccs(self.keys))
            # bucket-pruned after a restore; the semi-join then prunes
            # each chunk scan to |affected| rows pre-shuffle
            state = self._state.get(probe=keys, on=self.keys)
            sl = _ns_semi(state, self._small(keys), self.keys)
        new_in = sl.unionByName(
            delta.select(*_ccs(_data_cols(sl)), _cc(DIFF)))
        if not pair_free:
            # one fused consolidate of slice ∪ delta (consolidate is
            # associative, so separately consolidating the slice first
            # was a wasted second shuffle)
            new_in = consolidate(new_in)
        # _aggregate is pair-free-safe as-is: weight-aware sums fold
        # weights, order statistics ignore them, and _expand replicates
        # by (all-positive) multiplicity
        new_out = self._aggregate(new_in)
        otrace = self._out_state.get(probe=keys, on=self.keys or None)
        if self.keys:
            otrace = _ns_semi(otrace, self._small(keys), self.keys)
        # exact bytes previously emitted, negated — guaranteed to cancel
        old_out = consolidate(otrace).withColumn(DIFF, -_cc(DIFF))
        self._state.update(delta, wide=self.graph._wide_batch, cut=False,
                           positive=self.inputs[0]._insert_only())
        # identical old/new rows cancel here, so steady keys emit nothing
        out = consolidate(old_out.unionByName(new_out)) \
            .withColumn(TIME, F.lit(t))
        # one shared lineage cut: the returned delta and the output-trace
        # chunk must be the SAME bytes (a second evaluation could differ
        # by a ULP again, re-opening the hole this trace closes)
        out = self.graph._tick_cut(out, bounded=self._delta_bounded())
        self._out_state.update(out, wide=self.graph._wide_batch, cut=False)
        return out


class _DistinctNode(DiffNode):
    """Multiset → set semantics: a row is present iff net weight > 0."""
    _CKPT_OUT = True

    def __init__(self, graph, parent: DiffNode):
        super().__init__(graph, [parent])
        self._state: _StateStore | None = None

    def _ensure_stores(self, tpl: DataFrame) -> None:
        if self._state is None:
            self._state = self.graph._make_store(
                tpl, key_cols=_data_cols(tpl))

    def _probe_frame(self) -> DataFrame:
        p = self.inputs[0]._probe()
        return p.select(*_ccs(_data_cols(p)), _one_l().alias(DIFF),
                        self.graph._probe_time().alias(TIME))

    def _advance(self, t: int) -> DataFrame:
        delta = self.inputs[0].delta(t)
        self._ensure_stores(delta)
        cols = [c for c in self._state._cols if c != DIFF]
        touched = delta.select(*_ccs(cols)).distinct()
        state = self._state.get(probe=touched, on=cols)
        def present(ms: DataFrame) -> DataFrame:
            return (_ns_semi(ms, self._small(touched), cols)
                      .groupBy(*_ccs(cols))
                      .agg(_expr_cached(
                          "sumw", lambda: F.sum(DIFF).alias("__w")))
                      .filter(_expr_cached(
                          "wgt0", lambda: F.col("__w") > 0)).drop("__w"))
        old_p = present(state)
        # no intermediate consolidate: present() already sums weights
        # over the touched slice, so the plain union is enough
        new_p = present(state.unionByName(
            delta.select(*_ccs(cols), _cc(DIFF))))
        ins = new_p.join(old_p, on=cols, how="left_anti") \
                   .withColumn(DIFF, F.lit(1).cast("long"))
        outs = old_p.join(new_p, on=cols, how="left_anti") \
                    .withColumn(DIFF, F.lit(-1).cast("long"))
        self._state.update(delta, wide=self.graph._wide_batch, cut=False)
        return ins.unionByName(outs).withColumn(TIME, F.lit(t))


class DifferentialGraph:
    """Builder + runner for a differential dataflow over micro-batches.

    >>> g = DifferentialGraph(spark)
    >>> orders = g.source("orders", template_df)
    >>> totals = orders.filter(F.col("qty") > 0) \\
    ...                .reduce(["user"], total=("sum", "amount"))
    >>> out = g.run(totals, batches=[batch1, batch2])  # list of deltas
    """

    # session confs tuned for STEADY-STATE micro-batches: the plans are
    # delta-sized, so AQE's per-query-stage jobs and 32-partition
    # shuffles are pure scheduler overhead (measured ~25% of the
    # per-batch floor).  Applied by step() on non-wide batches, restored
    # on wide batches and by restore_session_confs().
    _STEADY_CONFS = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "4",
        # steady deltas are micro-batch-sized: wholestage codegen would
        # RECOMPILE every tick (the logical-time literal lands in the
        # generated source, so the codegen cache never hits) for plans
        # that process a few thousand rows — compilation costs more
        # than interpreted execution saves.  Wide batches restore the
        # session default, so the initial load still codegens.
        "spark.sql.codegen.wholeStage": "false",
    }
    # the pre-tuning conf snapshot lives ON THE SESSION, not on the
    # graph: several graphs may share one SparkSession (bench suites,
    # notebooks), and a per-graph snapshot taken while another graph's
    # tuning is still applied would capture the TUNED values as the
    # "originals" — after which wide batches and manual restores
    # re-apply aqe=false/partitions=4 forever
    _SAVED_CONF_ATTR = "_pw_steady_saved_confs"

    # steady-state per-tick frames at or under these bounds are
    # materialized as driver-held LocalRelations instead of lazily
    # checkpointed RDDs (see _tick_cut); above them the RDD path is
    # kept.  Bounded by construction: only micro-batch-bounded deltas
    # qualify, and state BASES never go through this (they stay
    # distributed).  The BYTE cap matters as much as the row cap:
    # LocalRelation data rides inline in every consuming plan (analyzer
    # copies, per-stage task binaries), so a 500-row batch of full-text
    # documents (~MBs) measurably SLOWS ticks if localized — wide-row
    # feeds keep the RDD checkpoint (measured: wordcount latency p50
    # 0.72s -> 1.05s when text batches were localized).
    LOCAL_CUT_MAX_ROWS = 100_000
    LOCAL_CUT_MAX_BYTES = 512 * 1024

    # resident fast-path caps (see resident.py): a tick whose delta or
    # whose per-store state exceeds these runs distributed instead —
    # residency is a micro-batch latency device, never the scale path.
    # The caps are TWO-dimensional per store: rows AND estimated bytes
    # (r9; the same lesson LOCAL_CUT_MAX_BYTES encodes above) — a
    # 400k-row cap alone would admit gigabytes of full-text or
    # embedding-array mirrors into the driver heap.  Byte accounting is
    # maintained on load and on every apply (`_StoreMirror.est_bytes`);
    # crossing either bound detaches the mirrors and routes ticks
    # distributed until the cooldown expires.
    RESIDENT_MAX_DELTA_ROWS = 50_000
    RESIDENT_MAX_STATE_ROWS = 400_000
    RESIDENT_MAX_STATE_BYTES = 64 * 1024 * 1024

    def __init__(self, spark: SparkSession, *, checkpoint_every: int = 8,
                 state_dir: str | None = None, tune_steady_confs: bool = True,
                 truncate_every: int = 1, local_tick_cut: bool = True,
                 resident: bool = True):
        self.spark = spark
        self.local_tick_cut = local_tick_cut
        self.local_cut_outs = False
        # per-node tick accounting for the monitoring dashboard
        # (/status differential section): cumulative advance time split
        # by execution path — a node stuck on the distributed path in a
        # latency-sensitive graph shows up immediately
        self._node_stats: dict[int, dict] = {}
        _LIVE_GRAPHS.add(self)
        # driver-resident steady-tick evaluation (resident.py): dict-
        # indexed state mirrors + Python delta algebra for micro
        # batches, automatic distributed fallback beyond the caps
        import os as _os
        self.resident = resident and _os.environ.get(
            "PATHWAY_SPARK_RESIDENT", "1") != "0"
        self._res_engine = None
        self._res_last_t: int | None = None
        # how often (in steps) jobs run with all-marked-ancestor
        # truncation: 1 = every step (default — wide serving graphs
        # grow plan/lineage steeply inside any window; measured: the
        # 25-store BM25 serving graph went 21->79 s/tick inside an
        # 8-step window, vs stable 8-27 s always-on).  Narrow graphs
        # that profile truncation as their bottleneck may raise it;
        # lineage then stays bounded by the chosen window.
        self.truncate_every = max(1, truncate_every)
        # THE lineage-boundedness switch: lazy localCheckpoints mark
        # RDDs, but RDD.doCheckpoint truncates only the TOPMOST marked
        # RDD of each job unless this (thread-local) property is set —
        # interior per-tick checkpoints (node outs, state chunks) then
        # never truncate, every tick's plan carries the whole history,
        # and task/broadcast serialization over that growing graph
        # turns quadratic (the round-6 restored-LiveDocumentStore OOM:
        # a restored graph never runs the eager wide-batch compaction
        # that incidentally truncated a fresh graph's bases).  Local
        # properties are captured per job submission, so setting it on
        # the driver thread covers broadcast-exchange pool jobs too.
        spark.sparkContext.setLocalProperty(
            "spark.checkpoint.checkpointAllMarkedAncestors", "true")
        self.checkpoint_every = checkpoint_every
        self.state_dir = state_dir
        self._tune_steady = tune_steady_confs
        self._nodes: list[DiffNode] = []
        self._sources: dict[str, SourceNode] = {}
        # store-key namespace: nodes whose stores are created at
        # DATA-DEPENDENT times (iterate levels appear when the
        # fixed-point depth grows) set this so their store keys are
        # derived from the node's own deterministic naming instead of
        # the global creation index — a restored process then finds the
        # right directory no matter when other nodes created theirs
        self._store_ns: str | None = None
        self._ns_counter: dict[str, int] = {}
        # small durable per-node scalars (e.g. an iterate node's level
        # count) persisted with commit() and visible after restore
        self._node_meta: dict[str, int] = {}
        self._iter_count = 0
        # True only while evaluating the INITIAL batch (the one wide
        # load): stores keep that delta's parallelism; every later
        # delta chunk coalesces to one partition (see _StateStore.update)
        self._stores: list[_StateStore] = []
        self._restore_vers: dict[str, int] = {}
        # per-store version at the LAST commit (meta-referenced), kept
        # through the next commit's vacuum so a concurrent reader still
        # serving from it never has files reclaimed mid-scan
        self._committed_vers: dict[str, int] = {}
        self._t = -1
        self._steps_seen = 0
        self._batch_wide = False   # set per batch by wide source feeds
        self._row_times_step = False   # fused multi-time step in flight
        self._store_bk_factory = None
        self._meta_bk = None
        if state_dir is not None:
            # driver-local paths use the POSIX rename-claim protocol;
            # URI-schemed dirs (s3a://, gs://, abfs://, hdfs://,
            # file://) go through the Hadoop FileSystem API with the
            # RENAME-FREE protocol (uuid version dirs + an append-only
            # meta log) — see state_backend.py; reference parity:
            # src/persistence/backends/{file,s3}.rs
            from .state_backend import make_backends
            self._store_bk_factory, self._meta_bk = \
                make_backends(spark, state_dir)
            self._load_meta()
        # first-ever step folds the (usually wide) initial load into the
        # stores' bases; tracked separately from the clock because the
        # logical time of batch 0 is caller-chosen (event-time replay)
        self._stepped = self._t != -1

    @property
    def _wide_batch(self) -> bool:
        return not self._stepped or self._batch_wide

    def _probe_time(self) -> Column:
        """The batch-time literal stateful nodes stamp (`F.lit(t)`) as
        probes see it: the current clock, so a probe's time column has
        the width (int or long) the batch's own stamp gets."""
        return F.lit(max(self._t, 0))

    def _probe_time_long(self) -> bool:
        return not -2 ** 31 <= max(self._t, 0) < 2 ** 31

    def _prime_fresh(self, order: Sequence[DiffNode]) -> bool:
        """Ready a fresh graph's requested subgraph (`order`: inputs
        before consumers) for a resident first step: every node's
        `_empty_tpl` from its probe — the memo a distributed first
        batch would set — and every stateful node's stores, both by
        analysis alone (no batch, no Spark job).  `order` is the
        post-order a distributed first batch advances nodes in, so the
        stores are numbered as a later restore numbers them.  False,
        with nothing changed, when some schema cannot be derived."""
        try:
            schemas = [n._probe()._jdf.schema() for n in order]
        except Exception:
            return False
        for n, schema in zip(order, schemas):
            n._ensure_stores(*(i._probe() for i in n.inputs))
            if n._empty_tpl is None:
                n._empty_tpl = _empty_frame(self.spark, schema)
        return True

    def _make_store(self, template: DataFrame,
                    key_cols: list[str] | None = None) -> _StateStore:
        """Stores are numbered in creation order, which is deterministic
        for a fixed graph topology and step sequence — rebuild the same
        pipeline and `restore` finds each store's directory again.
        `key_cols` (the store's probe key) enables bucket-partitioned
        durable versions: flush() lays the state out hash-bucketed by
        key, so delta probes after a restore prune file groups instead
        of scanning full state (the 100 TB path)."""
        idx = len(self._stores)
        if self._store_ns is not None:
            k = self._ns_counter.get(self._store_ns, 0)
            self._ns_counter[self._store_ns] = k + 1
            key = f"{self._store_ns}_{k:02d}"
        else:
            key = str(idx)
        dir_key = key if self._store_ns is not None else f"{idx:04d}"
        bk = (self._store_bk_factory(dir_key)
              if self._store_bk_factory is not None else None)
        st = _StateStore(self.spark, template, self.checkpoint_every,
                         restore_version=self._restore_vers.get(key),
                         phase=idx, key_cols=key_cols,
                         local_collect=(self._local_rows
                                        if self.local_tick_cut else None),
                         backend=bk)
        st._meta_key = key
        self._stores.append(st)
        return st

    @contextmanager
    def _store_namespace(self, ns: str):
        prev = self._store_ns
        self._store_ns = ns
        try:
            yield
        finally:
            self._store_ns = prev

    def _local_cut(self, df: DataFrame) -> DataFrame | None:
        """Materialize a small per-tick frame as a DRIVER-HELD
        LocalRelation — the engine's stand-in for the reference's
        resident differential arrangements (`src/engine/dataflow.rs`
        applies deltas in-memory; Spark's unit of in-driver data is the
        LocalRelation leaf).

        Versus the lazy localCheckpoint this replaces on steady ticks:
        - every downstream BROADCAST of the frame (or of key/touched
          frames derived from it) builds its hash relation driver-side
          with NO Spark job — the per-tick broadcast-collect jobs that
          dominated the tick floor disappear;
        - consuming plans carry a LocalRelation leaf instead of an RDD
          scan: narrow transforms over it constant-fold driver-side
          (ConvertToLocalRelation) and lineage is cut absolutely — no
          RDD graph to truncate or re-serialize;
        - the collected values ARE the bytes: rescans cannot redraw
          nondeterministic expressions, so cut=False state appends stay
          sound even without a checkpoint.

        The collect runs through `executeCollectPublic` (plain JVM rows,
        skipping the per-action SQLExecution bookkeeping) and the rows
        never cross into Python — py4j moves only object handles.
        Returns None (caller falls back to localCheckpoint) when the
        result exceeds LOCAL_CUT_MAX_ROWS or any step fails."""
        jl = self._local_rows(df)
        if jl is None:
            return None
        try:
            njdf = self.spark._jsparkSession.createDataFrame(
                jl, df._jdf.schema())
            return DataFrame(njdf, self.spark)
        except Exception:
            return None

    def _local_rows(self, df: DataFrame, *, folded_only: bool = False):
        """Collect a small frame's rows as a JVM List[Row] (handles
        only — nothing crosses into Python), or None when the result
        exceeds LOCAL_CUT_MAX_ROWS or execution fails.  With
        `folded_only`, refuse (return None) unless the optimized plan
        IS a LocalRelation, i.e. the collect runs driver-side with no
        Spark job — the state-chunk merge gate."""
        if not self.local_tick_cut:
            return None
        try:
            qe = df._jdf.queryExecution()
            if folded_only and qe.optimizedPlan().getClass() \
                    .getSimpleName() != "LocalRelation":
                # caller only wants a JOB-FREE collect (the plan must
                # constant-fold driver-side — narrow transforms over
                # already-local frames); anything else would silently
                # add a Spark job per call site per tick
                return None
            arr = qe.executedPlan().executeCollectPublic()
            if len(arr) > self.LOCAL_CUT_MAX_ROWS:
                return None
            jvm = self.spark._jvm
            if len(arr) and jvm.org.apache.spark.util.SizeEstimator \
                    .estimate(arr) > self.LOCAL_CUT_MAX_BYTES:
                return None
            return jvm.scala.collection.JavaConverters.seqAsJavaList(
                jvm.scala.Predef.genericWrapArray(arr))
        except Exception:
            return None

    def _tick_cut(self, df: DataFrame, *, bounded: bool = True) -> DataFrame:
        """The per-tick lineage cut for INTERIOR node outputs: a lazy
        localCheckpoint by default, so the whole tick still executes as
        ONE fused action — eagerly collecting each interior frame
        re-runs its subtree as a separate job per site per tick
        (measured slower: a PySpark job costs ~100-150 ms end-to-end
        here regardless of size).  Only SOURCE feeds localize eagerly
        (see `SourceNode._feed`: one small job that makes every
        downstream broadcast of the delta job-free); `local_cut_outs`
        flips the interior sites too, for shapes whose outputs are
        cheaper to hold driver-side than to re-plan.  Unbounded deltas
        (forget expiries / buffer releases), wide batches, and
        oversized results always keep the checkpoint."""
        if (self._wide_batch or not bounded or not self.local_tick_cut
                or not self.local_cut_outs):
            return df.localCheckpoint(eager=False)
        loc = self._local_cut(df)
        return loc if loc is not None else df.localCheckpoint(eager=False)

    def _apply_steady_confs(self) -> None:
        if getattr(self.spark, self._SAVED_CONF_ATTR, None) is None:
            setattr(self.spark, self._SAVED_CONF_ATTR, {
                k: self.spark.conf.get(k, None)
                for k in self._STEADY_CONFS})
        for k, v in self._STEADY_CONFS.items():
            self.spark.conf.set(k, v)

    def restore_session_confs(self) -> None:
        """Undo the steady-state conf tuning (called automatically on
        wide batches; call manually when interleaving other Spark work
        on the same session after streaming stops).  Session-scoped:
        restores even when a DIFFERENT graph on the same session
        applied the tuning."""
        saved = getattr(self.spark, self._SAVED_CONF_ATTR, None)
        if saved is None:
            return
        for k, v in saved.items():
            if v is None:
                self.spark.conf.unset(k)
            else:
                self.spark.conf.set(k, v)
        setattr(self.spark, self._SAVED_CONF_ATTR, None)

    def _load_meta(self) -> None:
        meta = self._meta_bk.load()
        if meta is not None:
            self._t = meta["t"]
            # versions recorded AT commit: stores load exactly these,
            # never a newer uncommitted flush (crash-window safety)
            self._restore_vers = dict(meta.get("vers", {}))
            self._node_meta = dict(meta.get("node_meta", {}))
            self._committed_vers = dict(self._restore_vers)

    def commit(self) -> None:
        """Durably persist all state + the logical clock; a new process
        that rebuilds the same graph with the same `state_dir` resumes
        exactly here (parquet-versioned stores, latest-two retained).
        The commit POINT is the meta backend's atomic publication
        (os.replace locally; one append-log PUT on object stores) — a
        crash anywhere earlier leaves the previous meta and its
        referenced versions fully intact."""
        if self.state_dir is None:
            raise ValueError("commit() requires a graph built with state_dir=")
        # fully truncate carried lineage under the flush jobs
        self.spark.sparkContext.setLocalProperty(
            "spark.checkpoint.checkpointAllMarkedAncestors", "true")
        vers: dict[str, object] = {}
        for i, st in enumerate(self._stores):
            st.flush()
            vers[getattr(st, "_meta_key", str(i))] = st._ver_token
        self._meta_bk.commit({"t": self._t, "vers": vers,
                              "node_meta": self._node_meta})
        # reclaim only versions below the PREVIOUS commit's: a reader
        # process still serving from that version (it resolved the
        # meta before this commit) keeps its files until the commit
        # after next — Delta-style retention of the last two committed
        # versions, so vacuum never races an in-flight scan
        for i, st in enumerate(self._stores):
            key = getattr(st, "_meta_key", str(i))
            prev = self._committed_vers.get(key, 0)
            if prev:
                st.vacuum(below=min(st._bk.ordinal(prev),
                                    st._bk.ordinal(vers[key])))
        self._committed_vers = vers

    def source(self, name: str, template: DataFrame) -> SourceNode:
        node = SourceNode(self, name, template)
        self._sources[name] = node
        return node

    def is_linear(self) -> bool:
        """True when every node is stateless-linear (select / filter /
        flatten / union over sources): each output row is a function of
        ONE input row, so deltas of different logical times never
        interact through state and a multi-time batch may be FUSED into
        one step with per-row times (`step(row_times=True)`)."""
        return all(type(n) in (SourceNode, _LinearNode, _UnionNode)
                   for n in self._nodes)

    def fusable_rowtimes(self) -> bool:
        """True when a multi-time batch may run as ONE fused step:
        either an all-linear graph, or linear operators feeding keyed
        INTEGRAL-accumulator reduces (round-8 keyed tick fusion — each
        reduce emits its per-time -old/+new rows from a cumulative
        window, bit-equal to sequential sub-steps because integer
        partials commute through the accumulator)."""
        # topology-keyed cache: the capability probe builds schema
        # frames (~10 analyzer passes) — once per topology, not per batch
        cached = getattr(self, "_fusable_cache", None)
        if cached is not None and cached[0] == len(self._nodes):
            return cached[1]
        if self.is_linear():
            out = True
        else:
            reduces = [n for n in self._nodes
                       if isinstance(n, _ReduceNode)]
            others = [n for n in self._nodes
                      if type(n) not in (SourceNode, _LinearNode,
                                         _UnionNode)
                      and not isinstance(n, _ReduceNode)]
            out = (not others and bool(reduces)
                   and all(r._rowtimes_capable() for r in reduces))
        self._fusable_cache = (len(self._nodes), out)
        return out

    def step_rows(self, outputs: Sequence[DiffNode] | DiffNode, *,
                  time: int | None = None, **deltas
                  ) -> list[tuple[list[str], list[tuple]]]:
        """`step()` that returns each output delta as `(columns, rows)`
        driver lists — the subscriber handoff format.  On a fully-
        resident tick the kernel rows are handed over DIRECTLY: no
        output DataFrame is built and no Spark job runs (the reference
        hands subscribers rows straight out of its output arrangements,
        src/engine/dataflow.rs:194-340); a distributed tick falls back
        to step() + collect().  Pair with per-source local-rows feeds
        (pandas / pyarrow / `(columns, rows)`) for end-to-end
        JVM-free steady ticks."""
        out = self.step(outputs, time=time, _rows_out=True, **deltas)
        if out and not isinstance(out[0], tuple):
            out = [(d.columns, [tuple(r) for r in d.collect()])
                   for d in out]
        return out

    def step(self, outputs: Sequence[DiffNode] | DiffNode, *,
             time: int | None = None, row_times: bool = False,
             _rows_out: bool = False,
             **deltas: DataFrame) -> list[DataFrame]:
        """Advance the logical clock; feed `deltas` keyed by source name,
        return each requested output node's delta for this batch.

        `row_times=True` (linear graphs only — enforced) fuses a
        multi-time batch into ONE step: each fed delta keeps its own
        `_pw_time` column (values must be > the previous clock and
        <= `time`, which is required and advances the clock to the
        batch maximum).  The emitted trace is identical to stepping
        each distinct time separately, because linear operators carry
        TIME through row-wise — one Spark job instead of one per time.

        `time` sets the batch's LOGICAL timestamp — the value stamped
        into every emitted delta's `_pw_time`, matching the reference's
        per-minibatch `DataRow::time` (`src/engine/graph.rs:255`; the
        `__time__` column of `pw.debug.table_from_markdown` fixtures).
        Omitted, the clock advances by 1 (processing-ordinal times, the
        pre-event-time behavior).  Times must be strictly increasing —
        out-of-order event times must be folded into a batch upstream
        (watermark semantics), exactly as the reference's connectors
        assign each input row the minibatch timestamp that first
        processes it."""
        from .resident import LocalRows
        self._batch_wide = False
        # a graph may legitimately have a SOURCE named "time" — a
        # DataFrame (or local-rows payload) arriving through the
        # keyword is that source's delta, not a logical timestamp
        if "time" in self._sources and (
                isinstance(time, DataFrame)
                or LocalRows.coerce(time) is not None):
            deltas = dict(deltas)
            deltas["time"] = time
            time = None
        # connector handoff: per-source pandas/pyarrow/(cols, rows)
        # payloads become LocalRows — consumed driver-side by the
        # resident engine, or converted to ONE Arrow LocalRelation for
        # the distributed path (not supported with row_times=True,
        # whose feeds carry their own _pw_time column)
        coerced = None
        for name, val in deltas.items():
            if not isinstance(val, DataFrame):
                lr = LocalRows.coerce(val)
                if lr is not None:
                    coerced = coerced if coerced is not None else dict(deltas)
                    coerced[name] = lr
        if coerced is not None:
            deltas = coerced
        t = self._t + 1 if time is None else int(time)
        if t <= self._t:
            raise ValueError(
                f"logical time must be strictly increasing: got {t} after "
                f"{self._t} (fold late rows into the current batch instead)")
        self._t = t
        # All-ancestor lineage truncation stays ON for every job of the
        # step AND the caller's follow-up action (thread-local, so it is
        # re-set on whichever thread runs this step).  Without it,
        # interior lazy checkpoints never cut (Spark truncates only the
        # topmost marked RDD per job) and long-running graphs stack
        # every tick's plan — the round-6 restored-LiveDocumentStore
        # OOM.  Scoping it to only the post-step action was tried and
        # reverted: state chunks that only materialize inside
        # step-internal jobs (e.g. the acc-reduce chunk) then never
        # truncate and wide serving graphs compound again.  A resident
        # tick checkpoints nothing, so the property is set below, once
        # the step is known to run distributed (one JVM call less on
        # every resident tick).
        trunc = (not self._stepped
                 or self._steps_seen % max(1, self.truncate_every) == 0)
        self._steps_seen += 1
        self._trunc_this_step = trunc
        unknown = set(deltas) - set(self._sources)
        if unknown:
            raise KeyError(f"unknown sources: {sorted(unknown)}")
        if row_times:
            if time is None:
                raise ValueError(
                    "row_times=True requires time= (the batch maximum)")
            if not self.fusable_rowtimes():
                raise ValueError(
                    "row_times=True is only sound on an all-linear "
                    "graph or linear operators feeding keyed integral-"
                    "accumulator reduces (other stateful operators "
                    "need per-time barriers: a later sub-step must see "
                    "earlier sub-steps' state) — step each distinct "
                    "time instead")
        self._row_times_step = row_times
        nodes = [outputs] if isinstance(outputs, DiffNode) else list(outputs)
        # resident fast path: micro-batches over capable subgraphs run
        # driver-side (resident.py) — no planning, no micro-jobs.  A
        # fresh graph's first delta (no restored clock) follows the same
        # rule as every later tick: it runs resident when it fits the
        # caps, as the first delta into empty arrangements.  Anything
        # ineligible falls through to the distributed path unchanged
        if self.resident and not row_times:
            if self._res_engine is None:
                from .resident import ResidentEngine
                self._res_engine = ResidentEngine(self)
            res = self._res_engine.try_tick(nodes, deltas, t,
                                            rows_out=_rows_out,
                                            fresh=not self._stepped)
            if res is not None:
                # a resident first step leaves every store empty (the
                # mirrors hold the state): no initial load to compact
                self._stepped = True
                return res
        if self._res_engine is not None and self._res_engine.mirrors:
            # falling back to the distributed path: fold every mirror
            # into its store first, then drop residency for this graph
            # (it re-establishes on a later eligible steady tick).
            # Keyed on MIRRORS, not the active flag — a phase-1 abort
            # can leave mirrors attached without ever going active
            self._res_engine.detach()
        self.spark.sparkContext.setLocalProperty(
            "spark.checkpoint.checkpointAllMarkedAncestors",
            "true" if trunc else None)
        if coerced is not None:
            # row-fed sources on a distributed tick: one Arrow-backed
            # LocalRelation per source
            from .resident import local_rows_to_df
            deltas = {name: (local_rows_to_df(
                self.spark, val, self._sources[name]._template.schema)
                if isinstance(val, LocalRows) else val)
                for name, val in deltas.items()}
        for name, src in self._sources.items():
            src._feed(deltas.get(name), t, row_times=row_times)
        # tuned confs stay applied across steps (the caller's action on
        # the returned delta runs right after, outside this frame); a
        # wide batch restores them so the initial load keeps AQE + full
        # shuffle parallelism
        if self._tune_steady:
            if self._wide_batch:
                self.restore_session_confs()
            else:
                self._apply_steady_confs()
        # only nodes handed to the caller need CONSOLIDATED deltas;
        # internal consumers are weight-aware, so interior joins skip
        # their output consolidate (one shuffle stage per batch saved)
        for n in self._nodes:
            n._requested = False
        stack = list(nodes)
        while stack:
            n = stack.pop()
            if n._requested:
                continue
            n._requested = True
            if n._PASSTHROUGH:
                stack.extend(n.inputs)
        try:
            out = [n.delta(t) for n in nodes]
        finally:
            self._row_times_step = False
        if not self._stepped:
            self._stepped = True
            # a first step that ran distributed is an initial load over
            # the caps (or past a non-resident operator), usually the
            # one WIDE batch: fold it into each store's consolidated
            # base now (full-parallelism shuffle once) so steady-state
            # scans see base + tiny chunks
            for st in self._stores:
                st.compact()
        return out

    def replay(self, output: DiffNode,
               timed: DataFrame | dict[str, DataFrame],
               on_change: Callable | None = None) -> DataFrame:
        """Replay a TIMED changelog through the graph — the reference's
        `__time__`/`__diff__` markdown-stream semantics
        (`python/pathway/debug/__init__.py:446`,
        `tests/utils.py:304-420` `assert_stream_equality`).

        `timed`: DataFrame(s) carrying `_pw_time` (logical event time)
        and optionally `_pw_diff`; all rows sharing a `_pw_time` form
        one minibatch, fed in ascending time order, and every emitted
        delta is stamped with that same logical time.  Returns the full
        output changelog (union of per-time deltas)."""
        frames = timed if isinstance(timed, dict) else None
        if frames is None:
            only = next(iter(self._sources)) if len(self._sources) == 1 \
                else None
            if only is None:
                raise ValueError("multi-source graph needs a dict of "
                                 "timed frames")
            frames = {only: timed}
        # accept Table-wrapped fixtures (pw.debug.table_from_markdown):
        # unwrap and drop the synthetic row id — replay keys rows by
        # content, like the reference's __time__/__diff__ markdowns
        frames = {n: (f._df if hasattr(f, "_df") else f)
                  for n, f in frames.items()}
        from ..table import ID as _ID
        frames = {n: (f.drop(_ID) if _ID in f.columns else f)
                  for n, f in frames.items()}
        frames = {n: (f if TIME in f.columns
                      else f.withColumn(TIME, F.lit(0)))
                  for n, f in frames.items()}
        times = sorted({r[0] for f in frames.values()
                        for r in f.select(TIME).distinct().collect()})
        pieces: list[DataFrame] = []
        for tv in times:
            batch = {n: f.filter(F.col(TIME) == tv).drop(TIME)
                     for n, f in frames.items()}
            (out,) = self.step(output, time=int(tv), **batch)
            out = self.materialize(out)
            pieces.append(out)
            if on_change is not None:
                on_change(out, int(tv))
        if not pieces:
            (out,) = self.step(output)
            return out
        acc = pieces[0]
        for p in pieces[1:]:
            acc = acc.unionByName(p)
        return acc

    def run(self, output: DiffNode,
            batches: Iterable[DataFrame | dict[str, DataFrame]],
            on_change: Callable | None = None) -> DataFrame:
        """Feed a sequence of delta batches; return the concatenation of
        all output deltas (the full retraction stream).  When the graph
        has one source a bare DataFrame per batch is accepted.

        `on_change(delta_df, t)` is called per batch for sink wiring."""
        only = next(iter(self._sources)) if len(self._sources) == 1 else None
        pieces: list[DataFrame] = []
        for batch in batches:
            if isinstance(batch, DataFrame):
                if only is None:
                    raise ValueError("multi-source graph needs dict batches")
                batch = {only: batch}
            (out,) = self.step(output, **batch)
            out = self.materialize(out)
            pieces.append(out)
            if on_change is not None:
                on_change(out, self._t)
        if not pieces:
            # advance through one EMPTY step rather than peeking at the
            # node (a bare delta(0) would memoize empty outputs at t=0
            # and swallow the first real batch fed later)
            (out,) = self.step(output)
            return out
        acc = pieces[0]
        for p in pieces[1:]:
            acc = acc.unionByName(p)
        return acc

    def _nstat(self, node, secs: float, *, resident: bool) -> None:
        st = self._node_stats.get(id(node))
        if st is None:
            st = self._node_stats[id(node)] = {
                "dist_ticks": 0, "dist_secs": 0.0,
                "res_ticks": 0, "res_secs": 0.0}
        k = "res" if resident else "dist"
        st[k + "_ticks"] += 1
        st[k + "_secs"] += secs

    def topology(self) -> dict:
        """Node list + edges + per-node tick timings, split by
        execution path — the engine-graph view the reference dashboard
        draws (python/pathway/web_dashboard/; per-operator latency in
        internals/monitoring.py).  Served by MonitoringServer under
        /status's `differential` section and rendered as a table on
        /dashboard."""
        index = {id(n): i for i, n in enumerate(self._nodes)}
        nodes = []
        for i, n in enumerate(self._nodes):
            st = self._node_stats.get(id(n), {})
            nodes.append({
                "i": i,
                "op": type(n).__name__.lstrip("_"),
                "name": getattr(n, "name", None),
                "inputs": [index.get(id(x)) for x in n.inputs],
                "dist_ticks": st.get("dist_ticks", 0),
                "dist_ms": round(st.get("dist_secs", 0.0) * 1e3, 1),
                "res_ticks": st.get("res_ticks", 0),
                "res_ms": round(st.get("res_secs", 0.0) * 1e3, 1),
            })
        return {
            "t": self._t,
            "n_nodes": len(nodes),
            "resident_active": bool(self._res_engine is not None
                                    and self._res_engine.mirrors),
            # mirror bytes / band counts / admission-detach events /
            # pyexpr states — observable BEFORE a cap trips (r10)
            "resident_memory": (self._res_engine.memory_stats()
                                if self._res_engine is not None else None),
            "nodes": nodes,
        }

    def materialize(self, out: DataFrame) -> DataFrame:
        """Pin one step's output delta so later state mutations can't
        change it: an eager localCheckpoint for distributed ticks —
        but a NO-OP when the delta came off the resident engine, whose
        outputs are LocalRelations (the rows already live on the
        driver; an eager checkpoint would schedule a pointless job per
        tick, ~25-55 ms of the old latency floor)."""
        if self._res_last_t == self._t:
            return out
        return out.localCheckpoint(eager=True)

    @staticmethod
    def integrate(changelog: DataFrame) -> DataFrame:
        """Fold a retraction stream to its final snapshot (Σ diffs > 0),
        replicating rows by their net multiplicity."""
        return _expand(consolidate(changelog.drop(TIME)))
