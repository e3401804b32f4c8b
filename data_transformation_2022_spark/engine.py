"""End-to-end recommendation engine: profile → enumerate → execute →
assemble charts → score → rank/dedup → provenance DAG.

The Spark re-architecture of the reference's ``searchobj`` lifecycle
(search.py EP2, SURVEY §3):

  * the *search* runs on metadata (plans.search, no data touched);
  * each unique transformation path executes ONCE and is memoized
    (reference resdatabuffer, search.py:293-298) — a step chain's frame
    over a bounded sample (the reference caps all data at 400 rows; we
    cap only what feeds ML/scoring) by the driver-side step evaluator or
    one Spark collect, bar aggregations on the FULL table distributed
    (groupBy over a nominal key is output-bounded by the domain);
  * chart assembly joins channel frames positionally on ``__rid``
    (reference pd.concat(axis=1));
  * scoring runs per chart on the small assembled frames (parallel
    across charts at scale via a thread pool — each chart's job is a
    collected pandas frame).
"""

from __future__ import annotations

import json
import threading
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ml import coret_local
from .ml.coret import CORE_T_RUNNERS
from .operators.steps import (
    RID,
    Step,
    apply_step,
    apply_tpath,
    small_input_mode,
    steps_key,
)
from .operators.steps_local import eval_steps_local
from .plans.catalog import CORE_T, VLIST
from .plans.search import Candidate, enumerate_tpaths
from .profiler import TableProfile, profile_table
from .scoring.insight import (
    SLIST_DEFAULT,
    cdm_score,
    scagnostics,
    sig_correlation,
    sig_linearness,
    sig_outstanding1,
)
from .sources.readers import with_rid

# Recommendation caps per chart type (reference config.py:27-31).
MAX_PER_TYPE = {
    "num_scatter": 10,
    "cat_scatter": 10,
    "rel_line": 3,
    "ord_line": 3,
    "rel_cat_line": 2,
    "ord_cat_line": 2,
    "count_bar": 1,
    "sum_bar": 3,
}
MAX_SERIES = 3  # lines/bars per chart (reference config.py:33-34)
NOT_CALCU_DMT = True  # skip DM core-Ts on arithmetic paths (config.py:19)

# toPandas dtype for each Spark type — a grouping-set Expand union
# promotes ints to float64 whenever nulls appear in a column, and pandas
# infer_objects cannot demote non-object dtypes back; the bar pool
# restores the declared type when a slice is null-free
_PD_BY_SPARK = {
    "tinyint": "int8", "smallint": "int16", "int": "int32",
    "bigint": "int64", "float": "float32", "double": "float64",
    "boolean": "bool",
}


def _merge_rid(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
    """Inner merge on RID, fast-pathed for chart assembly's dominant
    case: both frames carry the IDENTICAL RID sequence (every channel
    frame is a RID-sorted projection of the same bounded sample) and
    disjoint payload columns — then the merge IS a positional column
    concat, and pandas' hash-join machinery (~2.5 ms per call, ~670
    calls per recommend at the bench shape ≈ 1.7 s of driver time,
    cProfile) is skipped. Any mismatch — differing RID sets (a core-T
    path that dropped rows) or a payload-name collision (merge would
    suffix _x/_y) — falls back to the real merge, so the output is
    bit-identical either way (byte-stable recommend goldens +
    tests/test_engine.py pin this). A frame with a repeated column name
    raises ValueError: the dict-of-arrays path would keep one of them."""
    for side in (left, right):
        if side.columns.has_duplicates:
            dup = sorted(set(side.columns[side.columns.duplicated()]))
            raise ValueError(f"_merge_rid: duplicate column names {dup}")
    lv = left[RID].to_numpy()
    rv = right[RID].to_numpy()
    if lv.shape == rv.shape and (lv == rv).all():
        rcols = [c for c in right.columns if c != RID]
        if not any(c in left.columns for c in rcols):
            # positional column concat without pd.concat's block
            # manager (measured ~5x cheaper per call): dict-of-arrays
            # construction preserves dtypes, column order and the
            # RangeIndex the concat+reset_index form produced. The
            # arrays may VIEW the inputs (copy=False) — safe because
            # memoized channel frames are frozen read-only (_freeze), so
            # a consumer that wrote into the merge would raise
            data = {c: left[c].to_numpy() for c in left.columns}
            for c in rcols:
                data[c] = right[c].to_numpy()
            return pd.DataFrame(data, copy=False)
    return left.merge(right, on=RID)


def _freeze(pdf: pd.DataFrame | None) -> pd.DataFrame | None:
    """Mark a memoized frame's backing arrays read-only. Memo entries
    outlive the search that filled them (a session re-search reuses
    them) and _merge_rid(copy=False) aliases them, so an in-place write
    must raise instead of silently corrupting the memo."""
    if pdf is not None:
        for blk in pdf._mgr.blocks:
            arr = getattr(blk.values, "_ndarray", blk.values)
            if isinstance(arr, np.ndarray):
                arr.flags.writeable = False
    return pdf


@dataclass
class ChartCandidate:
    chart_type: str
    channels: dict[str, dict[str, Any]]  # channel → {t, steps, cols}
    scores: dict[str, float] = field(default_factory=dict)
    score: float = 0.0
    data: pd.DataFrame | None = None

    def signature(self) -> tuple:
        """Dedup identity: chart type + per-channel op-name sequence
        (reference duplicationremoval, search.py:1280-1299)."""
        return (
            self.chart_type,
            tuple(
                (ch, info["t"], tuple(s["t"] for s in info["steps"]))
                for ch, info in sorted(self.channels.items())
            ),
        )


@dataclass
class RecommendResult:
    charts: list[ChartCandidate]
    profile: TableProfile
    provenance: dict[str, Any]

    def to_json(self) -> str:
        payload = []
        for c in self.charts:
            payload.append(
                {
                    "chart_type": c.chart_type,
                    "score": c.score,
                    "scores": c.scores,
                    "channels": {
                        ch: {"t": info["t"], "cols": info["cols"], "steps": info["steps"]}
                        for ch, info in c.channels.items()
                    },
                }
            )
        return json.dumps({"charts": payload, "provenance": self.provenance}, default=str)


# release() threads still draining their unpersists. Spark's CacheManager
# uncaches by ANALYZED-PLAN equality, so a delayed async unpersist from a
# previous executor over the same df can evict a NEW executor's freshly
# persisted (plan-identical) sample or derived base mid-prefetch — perf-only
# (blocks recompute), but exactly the back-to-back-recommend() case the async
# release was meant to speed up (ADVICE r12). New executors join these first.
_PENDING_RELEASES: list = []


class Executor:
    """Memoized pipeline executor (reference resdatabuffer)."""

    def __init__(
        self,
        df: DataFrame,
        sample_cap: int,
        quantiles: dict[str, list] | None = None,
    ):
        """``quantiles``: a quantile grid per source column of ``df``
        (``TableProfile.quantiles``), used as the bucket boundaries of
        full-table ranks; columns without one get a boundary job."""
        while _PENDING_RELEASES:
            try:
                _PENDING_RELEASES.pop().join(timeout=60)
            except Exception:
                pass
        if RID not in df.columns:
            df = with_rid(df)
        self.df = df
        # deterministic sample: limit over the stable row order
        self.sample = df.orderBy(RID).limit(sample_cap).cache()
        # every memo table below outlives a single recommend(): a
        # session (api.EngineSession) keeps one Executor per ingested
        # table, so a re-search and the interactive refinements are memo
        # hits; collected pandas entries are frozen read-only (_freeze)
        self._frames: dict[tuple, pd.DataFrame | None] = {}
        self._bar_frames: dict[tuple, pd.DataFrame | None] = {}
        # steps_key → future of the chain's sample frame and its Spark
        # types (_sample_frame), read by its channel frames and core-Ts
        self._sample_frames: dict[tuple, Future] = {}
        # assembled, scored charts, keyed by chart type, slist and each
        # channel's (t, candidate signature, core-T) — a re-search
        # assembles and scores nothing
        self._charts: dict[tuple, ChartCandidate] = {}
        # shared derived-table prefixes on the FULL table, persisted —
        # the reference's resdatabuffer (search.py:293-298): candidates
        # sharing a derivation (e.g. the global rank step) materialize
        # it once instead of re-running its jobs per chart. Keyed by
        # what each base holds (_derived_base): per level, the step and
        # the keep set a rank/nominalize level was pruned to
        self._derived_bases: dict[tuple, DataFrame] = {}
        # base key → the frames persisted for that base (its bucket-local
        # ranking, or the base itself for a wide stacked rank); the
        # executor owns them and release() unpersists them
        self._persisted: dict[tuple, list[DataFrame]] = {}
        self._quantiles = quantiles or {}
        # sample-side step-prefix memo for the chains the step evaluator
        # refuses: chains share a leading rank/nominalize step (e.g.
        # "rank all 100 columns" → select subset), which is
        # localCheckpoint'ed once (≤sample_cap rows), so each chain's
        # plan starts from a leaf instead of re-planning the prefix.
        self._sample_bases: dict[tuple, DataFrame] = {}
        # collected-once copy of the bounded sample for the driver-side
        # step evaluator (operators/steps_local.py): serving a chain from
        # pandas skips a Catalyst plan + job round-trip per chain
        self._sample_pdf: pd.DataFrame | None = None
        self._sample_types: list[tuple[str, str]] | None = None
        self._sample_lock = threading.Lock()
        self._sample_frames_lock = threading.Lock()

    def _sample_local(self) -> tuple[pd.DataFrame, list[tuple[str, str]]]:
        """The sample collected once (RID order) + its Spark types."""
        if self._sample_pdf is None:
            with self._sample_lock:
                if self._sample_pdf is None:
                    pdf = self.sample.toPandas()
                    # defensive: the engine's row-order contract is RID
                    # ascending (the solo path collects orderBy(RID))
                    pdf = pdf.sort_values(RID, kind="mergesort").reset_index(
                        drop=True
                    )
                    self._sample_types = self.sample.dtypes
                    self._sample_pdf = _freeze(pdf)
        return self._sample_pdf, self._sample_types

    def _sample_frame(self, steps: list[Step]) -> tuple[pd.DataFrame, list]:
        """A step chain's full derived frame over the sample (RID order,
        read-only) and its Spark types, evaluated once per chain: by the
        driver-side step evaluator when it proves equivalence with Spark,
        else by one collect of the chain's Spark derivation. Concurrent
        callers of one chain wait for the first; errors propagate to
        them and are not memoized."""
        key = steps_key(steps)
        with self._sample_frames_lock:
            fut = self._sample_frames.get(key)
            owner = fut is None
            if owner:
                fut = self._sample_frames[key] = Future()
        if owner:
            try:
                try:
                    res = eval_steps_local(*self._sample_local(), steps)
                except Exception:
                    res = None
                if res is None:
                    derived = self._sample_derived(steps)
                    # rank/nominalize tails come back in window-sort (or
                    # stacked-groupBy hash) order
                    if RID in derived.columns:
                        derived = derived.orderBy(RID)
                    res = derived.toPandas(), derived.dtypes
                fut.set_result((_freeze(res[0].reset_index(drop=True)), res[1]))
            except BaseException as exc:
                del self._sample_frames[key]
                fut.set_exception(exc)
        return fut.result()

    def steps_frame(self, steps: list[Step]) -> pd.DataFrame:
        """The node data of the interactive refinements (reference
        nid2ndata, search.py:1801-1810): the chain's _sample_frame, shared
        with the search's channel frames."""
        return self._sample_frame(steps)[0]

    def _sample_derived(self, steps) -> DataFrame:
        """apply_tpath over the cached sample with shared-prefix memo +
        lineage truncation after rank/nominalize steps. The build is
        serialized per prefix (double-checked lock): the prefetch pool
        hits the same leading step from 8 threads at once, and letting
        each one eagerly checkpoint its own copy of the expensive prefix
        multiplies the exact cost the memo exists to avoid."""
        df = self.sample
        key: tuple = ()
        for s in steps:
            key = key + steps_key([s])
            hit = self._sample_bases.get(key)
            if hit is not None:
                df = hit
                continue
            with self._sample_lock:
                hit = self._sample_bases.get(key)
                if hit is not None:
                    df = hit
                    continue
                with small_input_mode():
                    df = apply_step(df, s)
                if s.t in ("rank", "nominalize"):
                    df = df.localCheckpoint(eager=True)
                self._sample_bases[key] = df
        return df

    def channel_frame(self, cand: Candidate, coret: str | None) -> pd.DataFrame | None:
        """Execute (tpath, core-T) once on the bounded sample; return the
        collected channel frame keyed by __rid. A step-only frame is a
        projection of the chain's sample frame (_sample_frame); the pca,
        kmeans, mds, tsne, umap and dbscan frames are driver numpy over
        it (ml/coret_local); only lda and lida run their Spark runners."""
        key = (cand.signature(), coret)
        if key in self._frames:
            return self._frames[key]
        out: pd.DataFrame | None
        try:
            with small_input_mode():  # channel frames are sample-bounded
                if coret is None:
                    out = self._sample_frame(cand.steps)[0][[RID, *cand.out_cols]]
                elif NOT_CALCU_DMT and any(
                    s.t in ("sum", "sub", "mul", "div") for s in cand.steps
                ):
                    out = None  # reference Tengine.py:58-64
                elif coret in coret_local.CORETS:  # numpy, no runner job
                    res = self._sample_frame(cand.steps)
                    out = coret_local.eval_coret_local(*res, coret)
                else:  # lda, lida: the distributed Spark runners
                    res = CORE_T_RUNNERS[coret](self._sample_derived(cand.steps))
                    out = res.toPandas() if res is not None else None
        except Exception:
            out = None
        self._frames[key] = _freeze(out)
        return out

    def bar_aggregate(
        self, x_col: str, y_cand: Candidate | None, agg: str
    ) -> pd.DataFrame | None:
        """sum_bar / count_bar on the FULL table (distributed groupBy —
        output bounded by the nominal domain). Memoized per
        (x, y-path, agg); derived bases shared and persisted."""
        return self._bar_aggregate(x_col, y_cand, agg, None)

    def _bar_aggregate(
        self, x_col: str, y_cand: Candidate | None, agg: str, keep_fn
    ) -> pd.DataFrame | None:
        """bar_aggregate over the bases ``keep_fn`` prunes (``None``:
        unpruned); prefetch's one-aggregate fallback passes its own."""
        key = (x_col, y_cand.signature() if y_cand is not None else None, agg)
        if key in self._bar_frames:
            return self._bar_frames[key]
        try:
            if agg == "count":
                out = (
                    self.df.groupBy(x_col)
                    .agg(F.count(F.lit(1)).alias("COUNT"))
                    .toPandas()
                )
            else:
                derive = [s for s in (y_cand.steps if y_cand else []) if s.o_type == "append"]
                _key, base = self._derived_base(derive, keep_fn)
                ys = _prefer_derived(y_cand)[:MAX_SERIES] if y_cand else []
                aggs = [F.sum(F.col(c)).alias(f"SUM({c})") for c in ys]
                out = base.groupBy(x_col).agg(*aggs).toPandas()
        except Exception:
            out = None
        self._bar_frames[key] = _freeze(out)
        return out

    def prefetch(
        self,
        frame_jobs: list[tuple[Candidate, str | None]],
        bar_jobs: list[tuple[str, Candidate | None, str]],
        workers: int = 8,
    ) -> None:
        """Concurrent job submission (replaces the reference's optional
        MULTIPROCESS search parallelism, config.py:15 / search.py:55-63):
        fill the memo tables with thread pools — Spark schedules the
        resulting jobs concurrently on idle executor slots. Frame jobs
        run ``workers`` at a time; the frames of one step chain share its
        sample frame, evaluated once (``_sample_frame``).

        Bar aggregates are BATCHED per derived base: every bar job
        sharing the same base — ALL its x columns and every
        y-candidate's sum columns (+ the count_bar COUNT) — folds into
        ONE aggregation job, a GROUPING SETS pass with one set per x
        column (single scan + Expand, one shuffle), then the combined
        frame is sliced back per (x, candidate) into the memo entries.
        40 one-agg jobs become ~#bases jobs with identical memo
        contents (r12; r8-r11 batched per (base, x) — still ~#bases×#x
        scheduler round-trips, the dominant term of the bar pool's
        4.5 s at sf0.1).

        The frame jobs run first, then the bar jobs; a side with no jobs
        is skipped. The two sides fill disjoint memo tables, so a caller
        may run them as two concurrent calls, ``prefetch(frame_jobs, [])``
        and ``prefetch([], bar_jobs)``: recommend() does, and assembles
        the sample-side charts while the bar jobs run."""
        uniq_frames: dict[tuple, tuple[Candidate, str | None]] = {}
        for cand, coret in frame_jobs:
            uniq_frames[(cand.signature(), coret)] = (cand, coret)
        if uniq_frames:
            with ThreadPoolExecutor(workers) as fpool:
                list(fpool.map(lambda cv: self.channel_frame(*cv), uniq_frames.values()))

        uniq_bars: dict[tuple, tuple[str, Candidate | None, str]] = {}
        for x_col, y_cand, agg in bar_jobs:
            key = (x_col, y_cand.signature() if y_cand is not None else None, agg)
            if key not in self._bar_frames:  # memo hit: no job to run
                uniq_bars[key] = (x_col, y_cand, agg)
        if not uniq_bars:
            # nothing to register: a concurrent bar call may be
            # registering bases this side would otherwise iterate
            return

        # Column hint for the persisted bases: the bar aggregates are the
        # ONLY consumers of these tables (channel frames run on the
        # sample), and they touch just the groupBy x columns, the derived
        # outputs, and the arithmetic inputs — persisting all ~17
        # lineitem columns made the base materialization mostly
        # serialization cost (measured: the 2-column rank itself runs
        # 1.3 s warm at sf0.1 while the full-width persist+count took
        # 4.6 s). The hint is PER LEVEL (keep_fn): a prefix keeps the
        # global consumer needs plus the inputs of steps beyond it across
        # every chain extending it — so the engine's shared all-columns
        # rank step computes and persists only the ranked columns some
        # consumer actually touches (sub-linear in table width), while
        # sibling chains sharing the prefix still find every column they
        # need. Every base this call reads is looked up with keep_fn:
        # None would build a full-width one.
        needs: set[str] = set()
        chains: dict[tuple, list[Step]] = {}
        # group bar jobs by derived base; within a base, by x column —
        # one GROUPING SETS job per base covers every x
        grouped: dict[tuple, dict[str, list]] = {}
        for key, (x_col, y_cand, agg) in uniq_bars.items():
            needs.add(x_col)
            if y_cand is not None:
                # what the aggregate ACTUALLY sums: the series-capped
                # slice (_batched_bars / bar_aggregate both take
                # [:MAX_SERIES]) — an all-numeric-columns candidate lists
                # every column in out_cols, and taking the full list here
                # made `needs` table-wide, defeating the per-consumer
                # reduction entirely
                needs.update(_prefer_derived(y_cand)[:MAX_SERIES])
            chain = [
                s
                for s in (y_cand.steps if (agg == "sum" and y_cand) else [])
                if s.o_type == "append"
            ]
            if chain:
                chains[steps_key(chain)] = chain
            grouped.setdefault(steps_key(chain), {}).setdefault(x_col, []).append(
                (key, x_col, y_cand, agg)
            )
        suffix: dict[tuple, set[str]] = {}
        for chain in chains.values():
            for lvl in range(1, len(chain) + 1):
                ns = suffix.setdefault(steps_key(chain[:lvl]), set())
                for s in chain[lvl:]:
                    ns.update(s.i or [])
                    ns.update(s.index or [])

        def keep_fn(k: tuple) -> set[str]:
            return needs | suffix.get(k, set())

        def _batched_bars(by_x: dict[str, list]) -> None:
            # r13 fix (r12 verdict "What's wrong" #1): a merged group can
            # mix chains whose DERIVED output names collide —
            # common_suffix_name (plans/search.py:64-70) is not
            # content-addressed, so {temp_min,temp_max} and
            # {temp_avg,temp_std} both emit "sub: (temp)". The graft in
            # _batched_bars_one tests output-NAME presence, so the second
            # chain's step was skipped and its SUM silently aggregated
            # the FIRST chain's expression (wrong values, no exception).
            # Partition the group into content-consistent parts first:
            # within a part every touched name maps to exactly one
            # producing chain prefix, so name-presence IS content
            # identity and the graft is sound.
            for part in _split_name_conflicts(by_x):
                _batched_bars_one(part)

        def _batched_bars_one(by_x: dict[str, list]) -> None:
            try:
                aggs: dict[str, F.Column] = {}
                per_entry: list[tuple[tuple, str, list[str]]] = []
                part_chains: dict[tuple, list] = {}
                for x_col, entries in by_x.items():
                    for key, _x, y_cand, agg in entries:
                        if agg == "count":
                            aggs.setdefault(
                                "COUNT", F.count(F.lit(1)).alias("COUNT")
                            )
                            per_entry.append((key, x_col, ["COUNT"]))
                        else:
                            chain = [
                                s for s in y_cand.steps if s.o_type == "append"
                            ]
                            if chain:
                                part_chains[steps_key(chain)] = chain
                            ys = _prefer_derived(y_cand)[:MAX_SERIES]
                            names = []
                            for c in ys:
                                alias = f"SUM({c})"
                                aggs.setdefault(
                                    alias, F.sum(F.col(c)).alias(alias)
                                )
                                names.append(alias)
                            per_entry.append((key, x_col, names))
                # one base serves the whole merged group: sibling chains
                # share their persisted prefix (scheduler invariant), and
                # arithmetic tails are content-addressed per-row
                # projections, so any chain's missing derived columns
                # graft onto the first chain's base as lazy projections —
                # the merged job scans the shared prefix ONCE for every
                # chain instead of once per chain
                chain_list = list(part_chains.values())
                if not chain_list:
                    base = self.df
                else:
                    _key, base = self._derived_base(chain_list[0], keep_fn)
                    for ch in chain_list[1:]:
                        for s in ch:
                            if any(
                                c not in base.columns for c in (s.index or [])
                            ):
                                base = apply_tpath(base, [s])
                xs = sorted(by_x)
                if len(xs) == 1:
                    combined = base.groupBy(xs[0]).agg(*aggs.values()).toPandas()
                    frames = {xs[0]: combined}
                else:
                    # one scan + Expand + one shuffle for ALL x columns
                    # of this base; grouping_id bit j (from the LEFT of
                    # the cols list) is set when xs[j] is aggregated
                    # away, so the set {xs[i]} has id = all-ones ^ the
                    # bit for i
                    k = len(xs)
                    combined = (
                        base.groupingSets(
                            [[F.col(x)] for x in xs], *[F.col(x) for x in xs]
                        )
                        .agg(F.grouping_id().alias("__gid"), *aggs.values())
                        .toPandas()
                    )
                    frames = {}
                    for i, x in enumerate(xs):
                        gid = ((1 << k) - 1) ^ (1 << (k - 1 - i))
                        fr = (
                            combined.loc[combined["__gid"] == gid]
                            .drop(columns="__gid")
                            .reset_index(drop=True)
                        )
                        # the Expand union nulls every other set's x
                        # column, which promotes pandas ints to float64
                        # for the WHOLE column — restore this slice's x
                        # dtype (genuine null groups keep the promoted
                        # dtype)
                        want = _PD_BY_SPARK.get(
                            base.schema[x].dataType.simpleString()
                        )
                        if (
                            want is not None
                            and str(fr[x].dtype) != want
                            and not fr[x].isna().any()
                        ):
                            try:
                                fr[x] = fr[x].astype(want)
                            except (ValueError, TypeError):
                                pass
                        frames[x] = fr
                for key, x_col, names in per_entry:
                    self._bar_frames[key] = _freeze(
                        frames[x_col][[x_col] + names].copy()
                    )
            except Exception:
                # isolate failures: replay each entry through the
                # one-agg path so a single bad candidate can't null its
                # whole batch
                for entries in by_x.values():
                    for key, _x, y_cand, agg in entries:
                        self._bar_frames.pop(key, None)
                        self._bar_aggregate(_x, y_cand, agg, keep_fn)

        # a chain prefix is persisted iff its last step is a rank or
        # nominalize (_derived_base), so the level after which a group's
        # longest persisted prefix is materialized follows from its key;
        # arithmetic tails past it are lazy projections the group's own
        # job computes
        def _ready_level(dk: tuple) -> int:
            return max(
                (L for L, s in enumerate(dk, 1) if s[0] in ("rank", "nominalize")),
                default=0,
            )

        # merge chain groups by (ready level, persisted prefix): chains
        # sharing a materialized prefix differ only in their lazy
        # arithmetic tails, so one grouping-sets job covers them all;
        # level-0 groups (no persisted base) merge with the
        # underived/count group over self.df
        merged: dict[tuple, dict[str, list]] = {}
        for dk, bx in grouped.items():
            lvl = _ready_level(dk)
            tgt = merged.setdefault((lvl, dk[:lvl]), {})
            for x, es in bx.items():
                tgt.setdefault(x, []).extend(es)
        sched: dict[int, list] = {}
        for (lvl, _pk), bx in merged.items():
            sched.setdefault(lvl, []).append(bx)
        # The pool is wider than the frame pool: each bar group is one
        # small groupBy job whose cost is mostly scheduler latency, so
        # concurrency, not executor pressure, bounds the wall time. Bases
        # an earlier prefetch on this executor registered are already
        # materialized.
        known = set(self._derived_bases)
        with ThreadPoolExecutor(max(workers, 16)) as bpool:
            # level-0 groups read self.df or plan-only arithmetic
            # projections of it, which their own threads register
            # (disjoint keys; keep_fn prunes rank levels only): queued
            # first, their jobs run while the rank levels register
            futs = [bpool.submit(_batched_bars, e) for e in sched.pop(0, [])]
            # serial registration, bottom-up through the recursive prefix
            # memo so ('rank','sub') reuses the cached ('rank',) table;
            # registering a rank level runs its one offsets job, which
            # materialises its persisted bucket-local ranking; only a
            # base persisted as a whole (the wide stacked rank) is
            # materialised here, level by level — within a level the
            # bases share no lineage, across levels a child reads its
            # parent's persisted blocks
            for ck, chain in chains.items():
                if _ready_level(ck):
                    self._derived_base(chain, keep_fn)
            by_level: dict[int, list[DataFrame]] = {}
            for key, base in list(self._derived_bases.items()):
                if base.is_cached and key not in known:
                    by_level.setdefault(len(key), []).append(base)
            for level in sorted(by_level):
                group = by_level[level]
                with ThreadPoolExecutor(min(8, len(group))) as mpool:
                    list(mpool.map(lambda b: b.count(), group))
                futs += [
                    bpool.submit(_batched_bars, e)
                    for e in sched.pop(level, [])
                ]
            for lvl in sorted(sched):
                futs += [bpool.submit(_batched_bars, e) for e in sched[lvl]]
            for f in futs:
                f.result()

    def release(self) -> None:
        """Unpersist everything this executor cached (sample + derived
        bases). The memo tables hold collected pandas frames and stay
        valid; only the Spark-side storage is dropped.

        The Spark-side calls run on a daemon thread: every result the
        caller sees is already driver-side pandas by this point, and
        the ~40 py4j round-trips (each ``.rdd`` conversion + unpersist
        is a blocking socket exchange) measured ~1.1 s of pure
        response-latency tail at sf0.1. The memo tables are detached
        SYNCHRONOUSLY (captured into the closure, then cleared), so a
        subsequent recommend() on this executor can never race the
        cleanup — it starts from empty memos and fresh persists. The
        SPARK-side cache is a different story: CacheManager uncaches by
        analyzed-plan equality, so the drop thread is registered in
        _PENDING_RELEASES and the next Executor joins it before
        persisting anything plan-identical (ADVICE r12)."""
        sample = self.sample
        derived = [f for frames in self._persisted.values() for f in frames]
        self._derived_bases.clear()
        self._persisted.clear()
        # _sample_bases (localCheckpoint blocks, ≤sample_cap rows each)
        # are NOT explicitly unpersisted: each ``.rdd`` access re-runs
        # physical planning — 37 frames × ~25 ms of py4j round trips
        # measured ~0.8 s of the ~1.1 s drop, which the NEXT Executor's
        # release-join then waits out (r13 opt). Clearing the memo drops
        # the only references; ContextCleaner (reference tracking, on by
        # default) reclaims the blocks after GC. Unlike the
        # CacheManager entries below, RDD blocks have no analyzed-plan
        # identity, so delayed cleanup cannot evict a successor's cache.
        self._sample_bases.clear()

        def _drop() -> None:
            try:
                sample.unpersist()
            except Exception:
                pass
            for frame in derived:
                try:
                    frame.unpersist()
                except Exception:
                    pass

        th = threading.Thread(target=_drop, daemon=True, name="executor-release")
        _PENDING_RELEASES.append(th)
        th.start()

    def _derived_base(
        self,
        derive: list[Step],
        keep_fn=None,
    ) -> tuple[tuple, DataFrame]:
        """Derived table for an append-step chain and its memo key, built
        from the longest shared prefix — sibling paths like (rank, sub) /
        (rank, div) / (rank, mul) share one cached rank table instead of
        re-running the expensive rank.

        Only chains whose LAST step is expensive (rank/nominalize — a
        full-table shuffle) are persisted; arithmetic append steps
        (sum/sub/mul/div) are narrow per-row expressions, so their
        "table" stays a lazy projection over the persisted parent —
        persisting those too re-materialized the whole table once per
        arithmetic variant (~3 extra full 6M-row writes per recommend
        at sf1) to cache what codegen computes for free in the
        consuming aggregate's scan.

        ``keep_fn`` (prefetch's, for its registration and its lookups):
        ``chain_key -> set[str]`` giving, PER LEVEL, the columns any
        consumer of that prefix can still touch — the union over every
        bar job of its groupBy x / output columns plus the inputs of
        steps BEYOND the prefix, across all registered chains extending
        it (so sibling chains sharing the prefix can't find it
        over-pruned). Two effects on a rank/nominalize level:

        * the COMPUTATION itself is reduced to the consumed outputs —
          the engine's shared rank step ranks every real column of the
          table (plans/search._ranked_profile), but a wide table's bar
          consumers touch a handful, and ranked columns are mutually
          independent, so the melt/exchange shrinks from O(table
          width) to O(consumed width) with identical values
          (r9 verdict item 5: the 102-column stress spent 13.3 s
          materializing a full-width rank chain);
        * the PERSISTED projection drops everything a consumer can't
          touch — including the rank inputs themselves once no later
          step or bar job reads them.

        The memo key says what the base holds: one entry per level, the
        step and, on a rank/nominalize level pruned by ``keep_fn``, the
        frozen keep set (``None`` unpruned), so ``len(key)`` is the
        chain level. A request for other columns gets its own base;
        none is ever evicted or rebuilt. A dynamic selector (``i_type``
        other than ``==``) resolves its inputs from its parent's
        columns, so it always reads the unpruned parent."""
        if not derive:
            return (), self.df
        step = derive[-1]
        pkey, parent = self._derived_base(
            derive[:-1], keep_fn if step.i_type == "==" else None
        )
        keep = None
        if keep_fn is not None and step.t in ("rank", "nominalize"):
            keep = frozenset(keep_fn(steps_key(derive)))
        key = (*pkey, (steps_key([step])[0], keep))
        if key not in self._derived_bases:
            if step.t not in ("rank", "nominalize"):
                child = apply_tpath(parent, [step])
            else:
                if keep is not None and step.i_type == "==":
                    if step.index and len(step.i) == len(step.index):
                        used = [j for j, o in enumerate(step.index) if o in keep]
                        if used and len(used) < len(step.index):
                            step = Step(
                                t=step.t,
                                i_type=step.i_type,
                                i=[step.i[j] for j in used],
                                index=[step.index[j] for j in used],
                                o_type=step.o_type,
                            )
                    # the ranking is persisted with its input's columns:
                    # hand it only what the rank or a consumer reads.
                    # RID always survives: a downstream rank step uses it
                    # as the pandas-faithful tie-break, and apply_step
                    # silently drops the tie-break when RID is absent —
                    # a value change, not an error
                    need = [
                        c for c in parent.columns
                        if c in keep or c == RID or c in step.i
                    ]
                    if len(need) < len(parent.columns):
                        parent = parent.select(*need)
                owned: list[DataFrame] = []
                child = apply_step(
                    parent, step, boundaries=self._quantiles, persisted=owned
                )
                if keep is not None:
                    pruned = [c for c in child.columns if c in keep or c == RID]
                    if pruned:
                        child = child.select(*pruned)
                if not owned:
                    # the wide stacked rank persists nothing itself:
                    # persist the base, which prefetch materialises
                    child = child.persist()
                    owned.append(child)
                self._persisted[key] = owned
            self._derived_bases[key] = child
        return key, self._derived_bases[key]


def _prefer_derived(cand: Candidate) -> list[str]:
    """Series-limiting order: derived (non-source) columns first
    (reference search.py:940-947,1049-1055)."""
    derived = [c for c in cand.out_cols if c in cand.derived]
    source = [c for c in cand.out_cols if c not in cand.derived]
    return derived + source


# non-str dict key: real column names are always str, so this can never
# collide with one in an _entry_name_contents map
_CHAIN_CLASS = ("__chain_class__",)


def _entry_name_contents(
    x_col: str, y_cand: Candidate | None, agg: str
) -> dict[Any, tuple]:
    """Every column name a bar entry touches on the shared merged base,
    mapped to the CONTENT that must produce it: ``()`` for a column read
    from the original table, else the ``steps_key`` of the producing
    chain PREFIX (lineage-inclusive: step tuples that are themselves
    equal but sit over different upstream derivations map differently,
    because the prefix key embeds the upstream steps).

    Chains containing a dynamic selector (``i_type`` != "==", e.g.
    num/all/like) resolve their input set FROM the base's columns at
    apply time, so ANY foreign derived column on a shared base changes
    what they compute over — such a chain is classed by its full chain
    key under the reserved ``_CHAIN_CLASS`` slot and therefore merges
    only with entries of the identical chain."""
    named: dict[Any, tuple] = {x_col: (), _CHAIN_CLASS: ()}
    if agg == "count" or y_cand is None:
        return named
    chain = [s for s in y_cand.steps if s.o_type == "append"]
    if any(s.i_type != "==" for s in chain):
        named[_CHAIN_CLASS] = steps_key(chain)
    for i, s in enumerate(chain):
        for n in s.i or []:
            named.setdefault(n, ())  # read from the table unless derived above
        pk = steps_key(chain[: i + 1])
        for n in s.index or []:
            named[n] = pk
    for n in _prefer_derived(y_cand)[:MAX_SERIES]:
        named.setdefault(n, ())  # summed source column: original content
    return named


def _split_name_conflicts(by_x: dict[str, list]) -> list[dict[str, list]]:
    """Partition a merged bar group (x column → prefetch entries) into
    parts whose touched column names are content-consistent, i.e. within
    a part each name maps to exactly one producing content per
    ``_entry_name_contents``. Greedy first-fit keeps the common case —
    no collisions — as ONE part, so the r12 single-job batching is
    unchanged except when a collision would have produced wrong values
    (r12 verdict live repro: two clusters both deriving "sub: (temp)")."""
    groups: list[tuple[dict[Any, tuple], dict[str, list]]] = []
    for x_col in sorted(by_x):
        for entry in by_x[x_col]:
            _key, _x, y_cand, agg = entry
            named = _entry_name_contents(x_col, y_cand, agg)
            for gmap, gbx in groups:
                if all(gmap.get(n, v) == v for n, v in named.items()):
                    gmap.update(named)
                    gbx.setdefault(x_col, []).append(entry)
                    break
            else:
                groups.append((dict(named), {x_col: [entry]}))
    return [g for _, g in groups]


def recommend(
    df: DataFrame,
    profile: TableProfile | None = None,
    chart_types: list[str] | None = None,
    dm_ts: list[str] | None = None,
    sample_cap: int = 1000,
    slist: dict[str, bool] | None = None,
    max_channel_candidates: int = 12,
    max_depth: int = 2,
    executor: Executor | None = None,
) -> RecommendResult:
    """Run the full recommendation pipeline and return ranked charts +
    provenance. ``max_depth`` defaults lower than the reference's 5:
    Pareto-surviving depth>2 chains add cost quadratically and the
    reference itself prunes most of them.

    ``executor``: an Executor over ``df`` owned by the caller (the
    session API keeps one per ingested table), whose memo tables serve
    every frame and bar an earlier call already computed; its sample
    size wins over ``sample_cap`` and the caller releases it. Without
    one, recommend() builds its own and releases it before returning.

    The full-table bar jobs run on a second thread while this one
    computes the sample-side channel frames and assembles and scores the
    scatter, line and category-line charts; the bar charts are assembled
    after that thread is joined. It is joined on every exit, an
    exception included. The full-table rank bases take their bucket
    boundaries from the profile's quantile grid and their offsets from
    the persisted ranking itself, so each costs one Spark job. Every
    assembled, scored chart is memoised on the executor, so a repeated
    search on a caller-owned executor submits no job and assembles and
    scores nothing."""
    chart_types = chart_types or list(VLIST)
    dm_ts = dm_ts or ["pca", "kmeans", "mds", "dbscan"]
    slist = {**SLIST_DEFAULT, **(slist or {})}

    if profile is None:
        profile = profile_table(df)
    pools = enumerate_tpaths(profile, max_depth=max_depth)
    ex = executor or Executor(df, sample_cap, profile.quantiles)

    # channel candidate lists: (t-name, Candidate, coret-or-None)
    def num2() -> list[tuple[str, Candidate, str | None]]:
        out = []
        for t in dm_ts:
            if CORE_T[t].out_type != "num":
                continue
            for cand in pools["dm"]:
                out.append((t, cand, t))
        return out[:max_channel_candidates]

    def cat1() -> list[tuple[str, Candidate, str | None]]:
        out = []
        for t in dm_ts:
            if CORE_T[t].out_type != "cat":
                continue
            for cand in pools["dm"]:
                out.append((t, cand, t))
        for cand in pools["null_nom1"]:
            out.append(("null_nom1", cand, None))
        return out[:max_channel_candidates]

    def num1() -> list[tuple[str, Candidate, str | None]]:
        return [("null_num1", c, None) for c in pools["null_num1"]][:max_channel_candidates]

    def numN() -> list[tuple[str, Candidate, str | None]]:
        return [("null_num", c, None) for c in pools["null_num"]][:max_channel_candidates]

    def nom1() -> list[tuple[str, Candidate, str | None]]:
        return [("null_nom1", c, None) for c in pools["null_nom1"]][:max_channel_candidates]

    charts: list[ChartCandidate] = []
    slist_key = tuple(sorted(slist.items()))

    def ch_info(t: str, cand: Candidate, cols: list[str]) -> dict[str, Any]:
        return {"t": t, "steps": [s.to_dict() for s in cand.steps], "cols": cols}

    def add(ctype: str, chans: list[tuple[str, Candidate, str | None]], build) -> None:
        """Append the ``ctype`` chart over these channels ((t, candidate,
        core-T) each). A chart is a function of its memoised channel
        frames and of slist, so it is memoised on the executor with that
        key (read-only, like the frames); ``build()`` assembles and
        scores it on a miss."""
        key = (ctype, slist_key, *((t, c.signature(), ct) for t, c, ct in chans))
        chart = ex._charts.get(key)
        if chart is None:
            chart = build()
            _freeze(chart.data)
            ex._charts[key] = chart
        charts.append(chart)

    # materialize candidate lists once, then fill the executor's memo
    # tables with concurrent Spark jobs
    n2, c1, n1, nN, m1 = num2(), cat1(), num1(), numN(), nom1()
    frame_jobs: list[tuple[Candidate, str | None]] = []
    if {"num_scatter", "cat_scatter"} & set(chart_types):
        frame_jobs += [(cand, coret) for _, cand, coret in n2]
        if "num_scatter" in chart_types:
            frame_jobs += [(cand, coret) for _, cand, coret in n1]
        if "cat_scatter" in chart_types:
            frame_jobs += [(cand, coret) for _, cand, coret in c1]
    if {"rel_line", "rel_cat_line", "ord_cat_line"} & set(chart_types):
        frame_jobs += [(cand, coret) for _, cand, coret in n1]
    if {"rel_line", "ord_line"} & set(chart_types):
        frame_jobs += [(cand, coret) for _, cand, coret in nN]
    if {"rel_cat_line", "ord_cat_line"} & set(chart_types):
        frame_jobs += [(cand, coret) for _, cand, coret in m1]
    bar_jobs: list[tuple[str, Candidate | None, str]] = []
    if "sum_bar" in chart_types:
        for _, xc, _c in m1:
            for _, yc, _c2 in nN:
                bar_jobs.append((xc.out_cols[0], yc, "sum"))
    if "count_bar" in chart_types:
        for _, xc, _c in m1:
            bar_jobs.append((xc.out_cols[0], None, "count"))
    # bar charts are assembled last, after the bar thread is joined, so
    # the chart append order (dedup keep-first, provenance ids) is the
    # one a single-threaded assembly gives; the with-block joins the
    # thread on every exit, so no bar job outlives a raising assembly
    with ThreadPoolExecutor(1, thread_name_prefix="recommend-bars") as bar_pool:
        bars = bar_pool.submit(ex.prefetch, [], bar_jobs)
        ex.prefetch(frame_jobs, [])

        # ---- scatters: xy (dim2 num) × color (num or cat) ----
        if "num_scatter" in chart_types or "cat_scatter" in chart_types:
            for t, cand, coret in n2:
                xy = ex.channel_frame(cand, coret)
                if xy is None or len(xy.columns) != 3:
                    continue
                cx, cy = [c for c in xy.columns if c != RID]
                # scagnostics depend only on the xy point cloud — compute the
                # MST metrics ONCE per xy frame, not per color pairing (the
                # reference recomputes per chart; same values, ~#colors×
                # less MST work), and only when one of its charts is built
                sg_xy: list[dict[str, float]] = []

                def scatter(ctype, ct, ccand, col_f) -> ChartCandidate:
                    if not sg_xy:
                        sg_xy.append(
                            scagnostics(
                                xy[cx].to_numpy(dtype=float),
                                xy[cy].to_numpy(dtype=float),
                            )
                        )
                    ccol = [c for c in col_f.columns if c != RID][0]
                    return _score_scatter(
                        ctype, _merge_rid(xy, col_f), cx, cy, ccol,
                        ctype == "cat_scatter", slist,
                        {"xy": ch_info(t, cand, [cx, cy]), "color": ch_info(ct, ccand, [ccol])},
                        sg=sg_xy[0],
                    )

                for ctype, colors in (("num_scatter", n1), ("cat_scatter", c1)):
                    if ctype not in chart_types:
                        continue
                    for ct, ccand, ccoret in colors:
                        col_f = ex.channel_frame(ccand, ccoret)
                        if col_f is None:
                            continue
                        add(
                            ctype,
                            [(t, cand, coret), (ct, ccand, ccoret)],
                            lambda: scatter(ctype, ct, ccand, col_f),
                        )

        # ---- lines ----
        if "rel_line" in chart_types:
            for xt, xc, _ in n1:
                xf = ex.channel_frame(xc, None)
                if xf is None:
                    continue
                xcol = [c for c in xf.columns if c != RID][0]
                for yt, yc, _ in nN:
                    yf = ex.channel_frame(yc, None)
                    if yf is None:
                        continue
                    ycols = [c for c in _prefer_derived(yc) if c in yf.columns and c != xcol][:MAX_SERIES]
                    if not ycols:
                        continue

                    def rel_line() -> ChartCandidate:
                        merged = _merge_rid(xf, yf[[RID] + ycols]).sort_values(xcol)
                        sc = {}
                        if slist.get("linearness"):
                            sc["linearness"] = float(
                                np.mean([sig_linearness(merged[c].to_numpy(), merged[xcol].to_numpy()) for c in ycols])
                            )
                        if slist.get("correlation") and len(ycols) >= 2:
                            sc["correlation"] = sig_correlation(merged[ycols].to_numpy())
                        return ChartCandidate(
                            "rel_line",
                            {"x": ch_info(xt, xc, [xcol]), "y": ch_info(yt, yc, ycols)},
                            sc,
                            float(np.mean(list(sc.values()))) if sc else 0.0,
                            merged[[xcol] + ycols],
                        )

                    add("rel_line", [(xt, xc, None), (yt, yc, None)], rel_line)

        if "ord_line" in chart_types:
            for yt, yc, _ in nN:
                yf = ex.channel_frame(yc, None)
                if yf is None:
                    continue

                def ord_line() -> ChartCandidate:
                    ycols = [c for c in _prefer_derived(yc) if c in yf.columns][:MAX_SERIES]
                    merged = yf.sort_values(RID)
                    sc = {}
                    if slist.get("linearness"):
                        sc["linearness"] = float(np.mean([sig_linearness(merged[c].to_numpy()) for c in ycols]))
                    if slist.get("correlation") and len(ycols) >= 2:
                        sc["correlation"] = sig_correlation(merged[ycols].to_numpy())
                    return ChartCandidate(
                        "ord_line",
                        {"y": ch_info(yt, yc, ycols)},
                        sc,
                        float(np.mean(list(sc.values()))) if sc else 0.0,
                        merged[ycols],
                    )

                add("ord_line", [(yt, yc, None)], ord_line)

        # ---- category-split lines (reference rel_cat_line/ord_cat_line,
        # search.py:1588-1719): one numeric y per nominal category series ----
        if "rel_cat_line" in chart_types or "ord_cat_line" in chart_types:
            # the inner (x, y) merge repeats VERBATIM for every grouping
            # candidate g — memoize it per frame-identity pair (_merge_rid is
            # pure; channel frames are memoized objects, so ids are stable
            # for the life of this call). Loop and chart-append order are
            # untouched (dedup keep-first + provenance ids depend on them).
            _xy_memo: dict[tuple[int, int], pd.DataFrame] = {}

            def linearness(series: list[np.ndarray]) -> dict[str, float]:
                if not slist.get("linearness"):
                    return {}
                return {
                    "linearness": float(
                        np.mean([sig_linearness(s) for s in series if len(s) >= 3] or [0.0])
                    )
                }

            for gt, gc, _ in m1:
                gf = ex.channel_frame(gc, None)
                if gf is None:
                    continue
                gcol = [c for c in gf.columns if c != RID][0]
                cats = pd.unique(gf[gcol])
                if not (2 <= len(cats) <= MAX_SERIES):
                    continue  # series cap (reference MAXLINENUMINCHART)
                for yt, yc, _ in n1:
                    yf = ex.channel_frame(yc, None)
                    if yf is None:
                        continue
                    ycol = [c for c in yf.columns if c != RID][0]
                    if "rel_cat_line" in chart_types:
                        for xt, xc, _ in n1:
                            if xc is yc:
                                continue
                            xf = ex.channel_frame(xc, None)
                            if xf is None:
                                continue
                            xcol = [c for c in xf.columns if c != RID][0]
                            if xcol == ycol:
                                continue

                            def rel_cat_line() -> ChartCandidate:
                                _mk = (id(xf), id(yf))
                                _xy = _xy_memo.get(_mk)
                                if _xy is None:
                                    _xy = _xy_memo[_mk] = _merge_rid(xf, yf)
                                merged = _merge_rid(_xy, gf).sort_values(xcol)
                                # pandas == for the mask (None/NA semantics),
                                # numpy for the slice — same rows in the same
                                # order as merged.loc[mask, ycol].to_numpy()
                                _gs = merged[gcol]
                                _yv = merged[ycol].to_numpy()
                                sc = linearness([_yv[(_gs == cat).to_numpy()] for cat in cats])
                                return ChartCandidate(
                                    "rel_cat_line",
                                    {
                                        "x": ch_info(xt, xc, [xcol]),
                                        "y": ch_info(yt, yc, [ycol]),
                                        "color": ch_info(gt, gc, [gcol]),
                                    },
                                    sc,
                                    float(np.mean(list(sc.values()))) if sc else 0.0,
                                    merged[[xcol, ycol, gcol]],
                                )

                            add(
                                "rel_cat_line",
                                [(xt, xc, None), (yt, yc, None), (gt, gc, None)],
                                rel_cat_line,
                            )
                    if "ord_cat_line" in chart_types:

                        def ord_cat_line() -> ChartCandidate:
                            merged = _merge_rid(yf, gf).sort_values(RID)
                            _gs = merged[gcol]
                            _yv = merged[ycol].to_numpy()
                            sc = linearness([_yv[(_gs == cat).to_numpy()] for cat in cats])
                            return ChartCandidate(
                                "ord_cat_line",
                                {"y": ch_info(yt, yc, [ycol]), "color": ch_info(gt, gc, [gcol])},
                                sc,
                                float(np.mean(list(sc.values()))) if sc else 0.0,
                                merged[[ycol, gcol]],
                            )

                        add("ord_cat_line", [(yt, yc, None), (gt, gc, None)], ord_cat_line)
    bars.result()

    # ---- bars (full-table distributed aggregation) ----
    if "sum_bar" in chart_types:
        for xt, xc, _ in m1:
            xcol = xc.out_cols[0]
            for yt, yc, _ in nN:
                agg = ex.bar_aggregate(xcol, yc, "sum")
                if agg is None or agg.empty:
                    continue

                def sum_bar() -> ChartCandidate:
                    ys = [c for c in agg.columns if c != xcol]
                    sc = {}
                    if slist.get("outstanding1"):
                        sc["outstanding1"] = float(
                            np.mean([sig_outstanding1(agg[c].to_numpy()) for c in ys])
                        )
                    return ChartCandidate(
                        "sum_bar",
                        {"x": ch_info(xt, xc, [xcol]), "y": ch_info(yt, yc, ys)},
                        sc,
                        float(np.mean(list(sc.values()))) if sc else 0.0,
                        agg,
                    )

                add("sum_bar", [(xt, xc, None), (yt, yc, None)], sum_bar)

    if "count_bar" in chart_types:
        for xt, xc, _ in m1:
            xcol = xc.out_cols[0]
            agg = ex.bar_aggregate(xcol, None, "count")
            if agg is None or agg.empty:
                continue

            def count_bar() -> ChartCandidate:
                sc = {}
                if slist.get("outstanding1"):
                    sc["outstanding1"] = sig_outstanding1(agg["COUNT"].to_numpy())
                return ChartCandidate(
                    "count_bar",
                    {"x": ch_info(xt, xc, [xcol])},
                    sc,
                    float(np.mean(list(sc.values()))) if sc else 0.0,
                    agg,
                )

            add("count_bar", [(xt, xc, None)], count_bar)

    ranked = _rank_dedup(charts)
    # every downstream artifact is driver-side pandas by now: release an
    # executor of our own (cached sample, derived bases) so repeated
    # recommend() calls (the bench suite) don't accumulate persisted RDDs
    # and GC pressure; a caller-owned one stays live for its next request
    if executor is None:
        ex.release()
    return RecommendResult(ranked, profile, _provenance(ranked))


def _score_scatter(
    ctype: str,
    merged: pd.DataFrame,
    cx: str,
    cy: str,
    ccol: str,
    cat_color: bool,
    slist: dict[str, bool],
    channels: dict[str, dict[str, Any]],
    sg: dict[str, float],
) -> ChartCandidate:
    """Score one scatter; ``sg`` is its xy frame's (memoised) scagnostics."""
    x = merged[cx].to_numpy(dtype=float)
    y = merged[cy].to_numpy(dtype=float)
    sc: dict[str, float] = {}
    for k, v in sg.items():
        if slist.get(k):
            sc[k] = v * 100.0
    if cat_color and slist.get("cdm"):
        sc["cdm"] = cdm_score(x, y, merged[ccol].to_numpy())
    if slist.get("dispersion") or slist.get("mom_skew") or slist.get("heavytail"):
        from .scoring.insight import moments

        m = moments(y)
        if slist.get("dispersion"):
            sc["dispersion"] = m["variance"]
        if slist.get("mom_skew"):
            sc["mom_skew"] = abs(m["skewness"])
        if slist.get("heavytail"):
            sc["heavytail"] = m["kurtosis"]
    score = float(np.mean(list(sc.values()))) if sc else 0.0
    return ChartCandidate(ctype, channels, sc, score, merged[[cx, cy, ccol]])


def _rank_dedup(charts: list[ChartCandidate]) -> list[ChartCandidate]:
    """Per-type rank + top-k caps + duplicate removal (reference
    search.py:1261-1299)."""
    out: list[ChartCandidate] = []
    for ctype in MAX_PER_TYPE:
        group = [c for c in charts if c.chart_type == ctype]
        group.sort(key=lambda c: -c.score)
        seen: set[tuple] = set()
        kept = []
        for c in group:
            sig = c.signature()
            if sig in seen:
                continue
            seen.add(sig)
            kept.append(c)
            if len(kept) >= MAX_PER_TYPE[ctype]:
                break
        out.extend(kept)
    out.sort(key=lambda c: -c.score)
    return out


def decorate(ret: dict[str, Any]) -> dict[str, Any]:
    """Presentation reorder of the recommendation payload's ``vis_list``
    (reference ``utils.decorate``, utils.py:215-222, applied behind
    BEAUTIFYCASEFLAG, config.py:23 / main.py:106-107): a fixed priority
    order of indices chosen for the reference's demo cases, then every
    remaining chart in original order. Pure presentation — scores and
    provenance are untouched."""
    vis_list = ret.get("vis_list", [])
    order = [0, 2, 3, 6, 12] if len(vis_list) >= 13 else [3, 2, 0, 4, 8, 7]
    for i in range(len(vis_list)):
        if i not in order:
            order.append(i)
    ret = dict(ret)
    ret["vis_list"] = [vis_list[i] for i in order if i < len(vis_list)]
    return ret


def _provenance(charts: list[ChartCandidate]) -> dict[str, Any]:
    """Provenance DAG (reference assembleTtree, search.py:1301-1443):
    D-nodes are data states keyed by canonical step-path JSON (replacing
    the reference's eval-able str(dict) ids — SURVEY watch-list 5),
    V-nodes are charts; edges carry step/T labels."""
    nodes: dict[str, dict[str, Any]] = {"root": {"id": "root", "node_type": "D", "label": "source"}}
    edges: list[dict[str, str]] = []
    vis_list = []
    for i, c in enumerate(charts):
        vid = f"V{i}:{c.chart_type}"
        nodes[vid] = {"id": vid, "node_type": "V", "label": c.chart_type, "score": c.score}
        for ch, info in c.channels.items():
            prev = "root"
            path: list[str] = []
            for s in info["steps"]:
                path.append(f"{s['t']}({','.join(s['i'])})")
                nid = "D:" + ">".join(path)
                if nid not in nodes:
                    nodes[nid] = {"id": nid, "node_type": "D", "label": path[-1]}
                    edges.append({"source": prev, "target": nid, "label": s["t"]})
                prev = nid
            edges.append({"source": prev, "target": vid, "label": f"{ch}:{info['t']}"})
        vis_list.append({"id": vid, "chart_type": c.chart_type, "score": c.score})
    return {"nodes": list(nodes.values()), "edges": edges, "vis_list": vis_list}
