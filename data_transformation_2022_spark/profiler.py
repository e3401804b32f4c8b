"""Table profiler: semantic column typing, key election, and column
clustering — the Spark re-expression of the reference's
``spreadsheet.parsedata`` (reference ``spreadsheet.py:46-274``).

Design for scale:

* **Two rounds of concurrent column-group jobs** compute count /
  distinct / min / max and the quantile sketches of every column (the
  reference iterates per column over pandas). Distinct counts use
  ``approx_count_distinct`` first; the second round confirms only the
  columns whose approximate count is near the row count (exact
  ``countDistinct``; key election must be exact) or small (a sorted
  ``collect_set``, which is also the nominal domain). The work splits by
  column, not by rows: an uploaded single-file table scans as one
  partition, so one aggregate would run as one task on one core, and the
  ``percentile_approx`` sketches depend on the partition layout, so the
  rows stay as they are.
* **Date inference** trial-parses the reference's format families
  (``utils.py:44-129``) with ``try_to_date`` over a bounded sample, as
  one more job of the first round.
* **Column clustering** (the metadata the path enumerator consumes) runs
  driver-side over O(cols²) statistics: Wasserstein distances from
  ``approxQuantile`` sketches (W1 = mean |q_a − q_b| on a quantile grid),
  a small hand-rolled DBSCAN (sklearn-free), unit-suffix groups from
  ``name(unit)`` headers, and shared-substring name groups. The word2vec
  name-semantics clustering of the reference (``utils.py:13``) needs an
  external model and is intentionally optional — substring+unit groups
  cover the same enumeration role.

Differences from the reference, on purpose (SURVEY §1.2): nominal columns
keep their native Spark type plus a ``semantic`` tag instead of being
destructively cast to object; no 400-row truncation — the nominal
threshold applies to the true row count.
"""

from __future__ import annotations

import math as _math
import re
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .session import small_df

NOMINAL_STD = 0.05  # reference NOMINALSTD (config.py:2)
POTENTIAL_IDX = ("idx", "index", "epoch", "no", "no.")  # reference config.py:4
FLOAT_CAN_BE_KEY = False  # reference config.py:14

# The reference's 8 date regex families (utils.py:44-129) expressed as
# Spark datetime patterns for try_to_date trial parsing.
DATE_FORMATS = (
    "M/d/yyyy",
    "M/d/yy",
    "yyyy/M/d",
    "yyyy-M-d",
    "M-d-yyyy",
    "d-MMM-yyyy",
    "d MMMM yyyy",
    "MMM d, yyyy",
    # full month name (reference %B families, utils.py:87-107 — the
    # googleplaystore "January 7, 2018" / NetflixOriginals
    # "August 5, 2019" shape)
    "MMMM d, yyyy",
    "yyyy",
)
_YEAR_RE = re.compile(r"^(18|19|20)\d\d$")

_NUMERIC = {"tinyint", "smallint", "int", "bigint", "float", "double"}


@dataclass
class ColumnProfile:
    name: str
    spark_type: str
    semantic: str  # date | str | nominal | int | real | other
    n_distinct: int
    min_val: object = None
    max_val: object = None
    is_key: bool = False
    date_format: str | None = None
    domain: list | None = None  # populated only for small domains


@dataclass
class TableProfile:
    n_rows: int
    columns: dict[str, ColumnProfile]
    key: str | None
    num_col_names: list[str] = field(default_factory=list)
    dim_clusters: list[list[str]] = field(default_factory=list)  # distribution-based
    name_clusters: list[list[str]] = field(default_factory=list)  # header-text-based
    col_dists: dict[frozenset, float] = field(default_factory=dict)  # pairwise Wasserstein
    # pass-1 approximate quantile grid (k/32, k = 0..32) of every numeric
    # column: the Wasserstein clustering's input, and the bucket
    # boundaries of the engine's full-table ranks (functions.order)
    quantiles: dict[str, list] = field(default_factory=dict)

    def column(self, name: str) -> ColumnProfile:
        return self.columns[name]

    def nominal_cols(self) -> list[str]:
        return [c for c, p in self.columns.items() if p.semantic == "nominal"]


def _base_type(t: str) -> str:
    return t.split("(")[0]


# Catalyst analysis + janino compile of one aggregate grows
# superlinearly in its expression count (a 102-column profile pass
# measured ~30 s of planning on 120 rows); column groups of at most
# this many keep planning linear.
_GROUP_COLS = 32


def _column_groups(cols: list[str], n_groups: int) -> list[list[str]]:
    """``cols`` dealt round-robin into at most ``n_groups`` groups of at
    most ``_GROUP_COLS`` each (more groups only when the cap needs them).
    Callers list their costly columns first, so dealing spreads them."""
    k = max(min(n_groups, len(cols)), -(-len(cols) // _GROUP_COLS))
    return [cols[g::k] for g in range(k)]


def _collect_aggs(jobs: list[tuple[DataFrame, list]]) -> dict:
    """Run every ``(frame, aggregates)`` job as its own Spark job, all
    submitted at once on a pool of ``defaultParallelism`` threads, and
    merge the jobs' one-row results into one dict (callers give every
    aggregate a distinct alias).

    The profiler splits its work by COLUMN, never by rows: an uploaded
    single-file table scans as one partition, so a single aggregate is
    one task on one core, and repartitioning the rows would move the
    ``percentile_approx`` sketches (their result depends on the
    partition layout). Column groups keep every aggregate's input rows
    where they were wherever the layout does not depend on the columns
    read: a file scan, a cached frame, a hash partitioning. (A round-robin
    ``repartition(n)`` sorts each row's bytes before dealing it out, so
    there the layout follows each job's columns.) On columnar sources
    each group's scan prunes to its own columns."""
    from concurrent.futures import ThreadPoolExecutor

    merged: dict = {}
    if not jobs:
        return merged
    workers = jobs[0][0].sparkSession.sparkContext.defaultParallelism
    with ThreadPoolExecutor(min(workers, len(jobs))) as pool:
        for r in pool.map(lambda j: j[0].agg(*j[1]).collect()[0], jobs):
            merged.update(r.asDict())
    return merged


def profile_table(
    df: DataFrame,
    nominal_std: float = NOMINAL_STD,
    nominal_abs_cap: int = 20,
    max_domain: int = 64,
    date_sample: int = 1000,
    cluster: bool = True,
) -> TableProfile:
    """Profile a table in two rounds of concurrent aggregate jobs
    (reference: per-column pandas loops over a 400-row frame).

    Nominal rule: distinct ≤ min(nominal_std·rows, nominal_abs_cap).
    The reference uses the pure percentage (config.py:2) on ≤400 rows;
    at scale 5% of the row count stops meaning "category-coded", so an
    absolute cap carries the intended semantics."""
    cols = [c for c, _ in df.dtypes if c != "__rid"]
    dtypes = dict(df.dtypes)

    workers = df.sparkSession.sparkContext.defaultParallelism

    # ---- date-format probe for string columns (bounded sample) ----
    # needs neither pass, so it runs as one more job of pass 1
    str_cols = [c for c in cols if _base_type(dtypes[c]) == "string"]
    probe: list[tuple[DataFrame, list]] = []
    if str_cols:
        # deterministic sample: a bare limit is partition-order-dependent
        # (format detection could flip run-to-run on a repartitioned
        # input), so anchor on __rid when the ingest added it (every
        # ingested table carries __rid; TakeOrdered, not a global sort).
        # Ad-hoc RID-less frames keep the plain bounded limit.
        if "__rid" in dtypes:
            sample = (
                df.select(F.col("__rid"), *[F.col(c) for c in str_cols])
                .orderBy("__rid")
                .limit(date_sample)
                .drop("__rid")
            )
        else:
            sample = df.select(*[F.col(c) for c in str_cols]).limit(date_sample)
        fmt_aggs = []
        for c in str_cols:
            fmt_aggs.append(F.count(F.col(c)).alias(f"{c}__nn"))
            for i, fmt in enumerate(DATE_FORMATS):
                if fmt == "yyyy":
                    ok = F.col(c).rlike(r"^(18|19|20)\d\d$")
                else:
                    ok = F.expr(f"try_to_date(`{c}`, '{fmt}')").isNotNull()
                fmt_aggs.append(F.sum(ok.cast("int")).alias(f"{c}__f{i}"))
        probe.append((sample, fmt_aggs))

    # ---- pass 1: count + approx distinct + min/max for all columns,
    # plus the quantile sketches the Wasserstein clustering consumes
    # (accuracy 100 ≡ the former relativeError=0.01), in column groups
    # run as concurrent jobs, one per core with the probe (more jobs
    # than cores only add per-job scan and planning work); the sketched
    # columns go first so the round-robin deal spreads them ----
    numeric_typed = [
        c for c in cols if _base_type(dtypes[c]) in (_NUMERIC | {"decimal"})
    ]
    sketch_cols = numeric_typed if cluster else []
    # plain floats: ``F.lit`` of a numpy scalar adds a cast and an alias
    # per element, three times the py4j round-trips for the same value
    probs = np.linspace(0.0, 1.0, _N_QUANTILES).tolist()
    # ONE probs-literal array Column shared by every sketch: building it
    # per column is _N_QUANTILES py4j round-trips each (~23 s of pure
    # driver-side expression construction on a 100-column table)
    probs_arr = F.array(*[F.lit(p) for p in probs])
    per_col: dict[str, list[F.Column]] = {}
    for c in cols:
        per_col[c] = [
            F.approx_count_distinct(F.col(c)).alias(f"{c}__ad"),
            F.min(F.col(c)).alias(f"{c}__min"),
            F.max(F.col(c)).alias(f"{c}__max"),
        ]
        if c in sketch_cols:
            per_col[c].append(
                F.percentile_approx(F.col(c), probs_arr, 100).alias(f"{c}__q")
            )
    dealt = sketch_cols + [c for c in cols if c not in sketch_cols]
    pass1 = [
        (df, [a for c in group for a in per_col[c]])
        for group in _column_groups(dealt, workers - len(probe))
    ] or [(df, [])]
    pass1[0][1].insert(0, F.count(F.lit(1)).alias("__n"))
    row = _collect_aggs(probe + pass1)
    n_rows = row["__n"]
    quantiles: dict[str, list] = {
        c: list(row[f"{c}__q"] or []) for c in sketch_cols
    }

    # ---- pass 2: exact distinct confirmation where key election needs it ----
    # approx_count_distinct error ≤ ~5%; near-key columns get an exact
    # countDistinct, small-cardinality candidates get a sorted collect_set
    # (their true distinct is bounded by the approx error, so the set is
    # tiny), which yields the exact count AND the domain. The two kinds
    # run as separate jobs: a distinct aggregate sharing one ``agg`` with
    # other aggregates makes Spark plan an Expand over every row.
    nominal_cap = min(nominal_std * n_rows, float(nominal_abs_cap))
    near_key = [c for c in cols if row[f"{c}__ad"] >= 0.9 * n_rows]
    small_side = [
        c for c in cols if c not in near_key and row[f"{c}__ad"] <= nominal_cap * 1.5
    ]
    erow = _collect_aggs(
        [
            (df, [F.countDistinct(F.col(c)).alias(f"{c}__cd") for c in group])
            for group in _column_groups(near_key, workers)
        ]
        + [
            (df, [F.sort_array(F.collect_set(F.col(c))).alias(f"{c}__dom") for c in group])
            for group in _column_groups(small_side, workers)
        ]
    )
    exact: dict[str, int] = {c: erow[f"{c}__cd"] for c in near_key}
    domains: dict[str, list] = {}
    for c in small_side:
        dom = list(erow[f"{c}__dom"])
        exact[c] = len(dom)
        domains[c] = dom

    date_fmt: dict[str, str] = {}
    for c in str_cols:
        nn = row[f"{c}__nn"] or 0
        if nn == 0:
            continue
        # dominance, not unanimity: the reference types a column
        # "date" off its FIRST value alone (spreadsheet.py:64-65),
        # tolerating stragglers in other separators (e.g. Netflix
        # "October 16. 2019" among "October 16, 2019"). Requiring
        # every sampled value to parse rejects such columns; ≥95%
        # keeps the lenient semantics without first-row fragility.
        need = max(1, _math.ceil(0.95 * nn))
        for i, fmt in enumerate(DATE_FORMATS):
            if (row[f"{c}__f{i}"] or 0) >= need:
                date_fmt[c] = fmt
                break

    # ---- semantic typing + key election (reference spreadsheet.py:60-177) --
    profiles: dict[str, ColumnProfile] = {}
    key: str | None = None
    key_kind: str | None = None  # 'str' beats 'int' beats none (ref :89-127)
    for c in cols:
        t = _base_type(dtypes[c])
        nd = exact.get(c, row[f"{c}__ad"])
        semantic: str
        if t == "string":
            semantic = "date" if c in date_fmt else "str"
            if semantic == "str" and nd <= nominal_cap:
                semantic = "nominal"
            if semantic == "str" and nd == n_rows and key_kind != "str":
                key, key_kind = c, "str"
        elif t in ("tinyint", "smallint", "int", "bigint"):
            semantic = "int"
            if nd == n_rows and key_kind is None:
                key, key_kind = c, "int"
            elif nd <= nominal_cap:
                semantic = "nominal"
        elif t in ("float", "double", "decimal"):
            semantic = "real"
            if nd <= nominal_cap:
                semantic = "nominal"
            elif FLOAT_CAN_BE_KEY and nd == n_rows and key_kind is None:
                key, key_kind = c, "float"
        elif t in ("timestamp", "timestamp_ntz", "date"):
            semantic = "date"
        else:
            semantic = "other"
        profiles[c] = ColumnProfile(
            name=c,
            spark_type=dtypes[c],
            semantic=semantic,
            n_distinct=int(nd),
            min_val=row[f"{c}__min"],
            max_val=row[f"{c}__max"],
            date_format=date_fmt.get(c),
        )
    if key:
        profiles[key].is_key = True

    # ---- small-domain materialization for nominal columns ----
    # domains were collected in the exact-confirmation agg above; any
    # nominal column not covered there (approx count between 1.5·cap and
    # max_domain never happens with cap ≤ 20 < 64, but guard anyway)
    # falls back to a distinct query.
    for c, p in profiles.items():
        if p.semantic != "nominal" or p.n_distinct > max_domain:
            continue
        if c in domains:
            p.domain = domains[c]
        else:
            p.domain = [r[0] for r in df.select(c).distinct().orderBy(c).collect()]

    num_cols = [
        c
        for c, p in profiles.items()
        if p.semantic in ("int", "real") and not p.is_key and c.lower() not in POTENTIAL_IDX
    ]

    tp = TableProfile(
        n_rows=int(n_rows),
        columns=profiles,
        key=key,
        num_col_names=num_cols,
        quantiles=quantiles,
    )
    if cluster and len(num_cols) >= 2:
        tp.dim_clusters, tp.col_dists = _dim_clusters(
            {c: quantiles.get(c, []) for c in num_cols}, num_cols
        )
    tp.name_clusters = _name_clusters(num_cols)
    # keep only clusters of ≥2 (reference clearclusters, spreadsheet.py:277-282)
    tp.dim_clusters = [g for g in tp.dim_clusters if len(g) >= 2]
    tp.name_clusters = [g for g in tp.name_clusters if len(g) >= 2]
    return tp


# ---------------------------------------------------------------------------
# profile cache: a TableProfile is a pure function of the backing files
# ---------------------------------------------------------------------------

_PROFILE_CACHE: dict[str, TableProfile] = {}
_PROFILE_CACHE_MAX = 64


def profile_table_cached(
    df: DataFrame, key_frame: DataFrame | None = None, **kwargs
) -> TableProfile:
    """File-signature-keyed memo around ``profile_table``: the profile
    is fully determined by (a) the files backing the scan — size+mtime,
    the same invalidation key the persisted IVF index uses, so an
    in-place rewrite invalidates — (b) the frame's logical plan shape
    (a FILTERED read of the same files must not hit the raw table's
    profile; expression ids are normalized out so two reads of the same
    table DO share a key), and (c) the profiling parameters. Serving
    calls re-profile an unchanged table on every request otherwise —
    at sf1 that is a multi-second full-scan aggregate pass per call.

    Frames that are not file-backed (no inputFiles, or unreadable file
    status) fall through to a direct, uncached profile. A rid-ingested
    table is materialized (localCheckpoint) and so carries NO file
    lineage — pass the raw scan as ``key_frame`` in that case; doing so
    asserts ``df`` is a deterministic ingest of ``key_frame`` (the
    frame's own column list still enters the key, so the rid-augmented
    and raw profiles of one table don't collide).

    The returned profile is SHARED across cache hits: callers that
    mutate it (e.g. the API's user-confirmed cluster overrides) must
    profile uncached or copy first."""
    import json as _json
    import re as _re

    from .sources.fs import input_file_signature

    src = key_frame if key_frame is not None else df
    sig = input_file_signature(src)
    if not sig or any(s[1] is None for s in sig):
        return profile_table(df, **kwargs)
    try:
        plan = src._jdf.queryExecution().logical().toString()
    except Exception:
        return profile_table(df, **kwargs)
    plan = _re.sub(r"#\d+L?", "#", plan)
    key = _json.dumps(
        [sig, plan, sorted(df.columns), sorted(kwargs.items())], default=str
    )
    hit = _PROFILE_CACHE.get(key)
    if hit is not None:
        return hit
    tp = profile_table(df, **kwargs)
    if len(_PROFILE_CACHE) >= _PROFILE_CACHE_MAX:
        _PROFILE_CACHE.pop(next(iter(_PROFILE_CACHE)))
    _PROFILE_CACHE[key] = tp
    return tp


# ---------------------------------------------------------------------------
# distribution clustering: quantile-sketch Wasserstein + mini DBSCAN
# ---------------------------------------------------------------------------


_N_QUANTILES = 33


def wasserstein_from_quantiles(
    quantiles: dict[str, list], cols: list[str]
) -> np.ndarray:
    """W1 matrix from precomputed per-column quantile grids."""
    mat = np.zeros((len(cols), len(cols)))
    norm_qs = []
    for c in cols:
        arr = np.array(quantiles.get(c) or [0.0], dtype=float)
        lo, hi = arr.min(), arr.max()
        norm_qs.append((arr - lo) / (hi - lo) if hi > lo else arr * 0.0)
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            a, b = norm_qs[i], norm_qs[j]
            if len(a) != len(b):
                d = 1.0  # incomparable sketch (empty column)
            else:
                d = float(np.mean(np.abs(a - b)))
            mat[i, j] = mat[j, i] = d
    return mat


def exact_quantile_grid(
    df: DataFrame,
    cols: list[str],
    probs: list[float],
    n_buckets: int = 128,
    bucket_row_cap: int = 1 << 22,
    max_refine: int = 10,
) -> dict[str, list[float]]:
    """EXACT interpolated quantiles ((n-1)*p linear interpolation — the
    quantile_cont / numpy-linear definition) for many columns at many
    probabilities, computed at scale: range-partition + rank-pick, never
    buffering a whole column anywhere.

    Spark's exact ``percentile`` aggregate buffers every value of a
    partition in one ArrayBuffer — a per-executor OOM at real scale.
    This instead runs a fixed number of narrow codegen'd passes:

    1. one wide aggregate gets per-column (count, min, max);
    2. one pass buckets every value with pure arithmetic
       (``floor((v - lo) * scale)`` — no sketch, no branching) and
       aggregates per-bucket (count, min, max);
    3. the driver converts the 2*|probs| target ranks per column into
       bucket addresses from the cumulative counts. A bucket whose
       min == max resolves its ranks immediately (tie-dominated buckets
       never need sorting — the heavy-hitter skew case). Oversized
       unresolved buckets are re-split over their ACTUAL [min, max]
       (bisection-style, one extra pass per refinement level, rarely
       taken — uniform splits already bound buckets by n/n_buckets
       unless the distribution is pathologically peaked);
    4. one bucket-partitioned ``row_number`` window (parallel per
       bucket — NOT a single-partition global sort) picks the few
       remaining order statistics.

    Interpolation happens driver-side in IEEE double with the same
    ``v_lo + (k-lo)*(v_hi-v_lo)`` formula both engines use, so results
    are bit-compatible with a quantile_cont oracle.
    """
    import math as _math

    from pyspark.sql import Window

    spark = df.sparkSession
    # NaN is non-null to Spark: left in place it would pass the null
    # filters and poison bucket min/max (NaN sorts above +inf). Null it
    # out up front for floating columns so "missing" means one thing
    # everywhere downstream; integral/decimal columns can't hold NaN.
    floating = {
        c for c, t in df.dtypes if t.split("(")[0] in ("float", "double")
    }
    for c in cols:
        if c in floating:
            df = df.withColumn(c, F.when(~F.isnan(F.col(c)), F.col(c)))
    aggs = []
    for c in cols:
        aggs += [
            F.count(c).alias(f"n::{c}"),
            F.min(c).alias(f"lo::{c}"),
            F.max(c).alias(f"hi::{c}"),
        ]
    head = df.agg(*aggs).collect()[0]
    n_by_cid = {c: int(head[f"n::{c}"] or 0) for c in cols}
    range_by_cid = {
        c: (head[f"lo::{c}"], head[f"hi::{c}"]) for c in cols if n_by_cid[c] > 0
    }

    # global 0-based target ranks per column: floor and ceil of (n-1)p
    ranks_by_cid: dict[str, set[int]] = {}
    for cid, n in n_by_cid.items():
        if n == 0:
            continue
        want: set[int] = set()
        for p in probs:
            k = (n - 1) * p
            want.add(int(_math.floor(k)))
            want.add(int(_math.ceil(k)))
        ranks_by_cid[cid] = want

    stack_args = ", ".join(f"'{c}', `{c}`" for c in cols)
    # bucket parameters travel as broadcast DATA (not plan literals):
    # every invocation then reuses the same physical plan shape and its
    # already-compiled codegen — data-dependent literals would force a
    # fresh janino compile per call, which dominates at interactive scale
    # float() on both params: DecimalType columns yield decimal.Decimal
    # min/max, and Decimal arithmetic into a 'double' schema raises
    params = small_df(
        spark,
        [
            (
                c,
                float(range_by_cid[c][0]),
                (
                    float(n_buckets / (range_by_cid[c][1] - range_by_cid[c][0]))
                    if range_by_cid[c][1] > range_by_cid[c][0]
                    else 0.0
                ),
            )
            for c in range_by_cid
        ],
        "cid string, plo double, pscale double",
    )
    bucket_col = F.least(
        F.greatest(
            F.floor((F.col("value") - F.col("plo")) * F.col("pscale")).cast("int"),
            F.lit(0),
        ),
        F.lit(n_buckets - 1),
    )
    long_df = (
        df.selectExpr(f"stack({len(cols)}, {stack_args}) as (cid, value)")
        .filter(F.col("value").isNotNull())
        .join(F.broadcast(params), "cid")
        .withColumn("b", bucket_col)
        .select("cid", "value", "b")
        .persist()
    )

    # (cid, grank) -> value, filled as ranks resolve
    val_at: dict[str, dict[int, float]] = {c: {} for c in cols}

    # segments awaiting resolution: key = (cid, path) where path is the
    # tuple of bucket ids chosen at each refinement level; value =
    # (start_rank, cnt, lo, hi, ranks_inside)
    counted = (
        long_df.groupBy("cid", "b")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("value").alias("blo"),
            F.max("value").alias("bhi"),
        )
        .collect()
    )

    def _address(cid, rows, parent_start, parent_key, ranks):
        """Turn one segment's per-bucket stats into resolved values /
        still-unresolved child segments. ``rows``: [(b, cnt, lo, hi)]
        for THIS segment only; ``ranks``: global ranks inside it."""
        unresolved = {}
        offset = parent_start
        spans = []
        for b, cnt, blo, bhi in sorted(rows):
            spans.append((b, offset, int(cnt), blo, bhi))
            offset += int(cnt)
        for r in ranks:
            for b, start, cnt, blo, bhi in spans:
                if start <= r < start + cnt:
                    if blo == bhi:
                        val_at[cid][r] = float(blo)
                    else:
                        key = parent_key + (b,)
                        unresolved.setdefault(
                            key, (start, cnt, float(blo), float(bhi), set())
                        )[4].add(r)
                    break
        return unresolved

    # pending: (cid, path) -> (start, cnt, lo, hi, ranks, parent_ordinal)
    # parent_ordinal identifies the parent segment row-set at level >= 2
    # (cid alone is ambiguous once two same-cid segments both refine)
    pending: dict[tuple, tuple] = {}
    by_cid: dict[str, list] = {}
    for r in counted:
        by_cid.setdefault(r["cid"], []).append(
            (r["b"], r["cnt"], r["blo"], r["bhi"])
        )
    for cid, rows in by_cid.items():
        for key, seg in _address(cid, rows, 0, (), ranks_by_cid[cid]).items():
            pending[(cid, key)] = seg + (None,)

    # refinement loop: re-split only oversized unresolved segments over
    # their actual value range; small ones go straight to the sort pass
    level = 1
    current = long_df
    sortable: dict[tuple, tuple] = {}
    while pending and level <= max_refine:
        oversized = {k: v for k, v in pending.items() if v[1] > bucket_row_cap}
        for k, v in pending.items():
            if k not in oversized:
                sortable[k] = v[:5]
        if not oversized:
            break
        ordered = sorted(oversized.items(), key=lambda kv: kv[0])
        seg_expr = F.lit(-1)
        sub_expr = F.lit(0)
        cond = None
        for i, ((cid, key), (start, cnt, lo, hi, ranks, pord)) in enumerate(ordered):
            if pord is None:
                is_seg = (F.col("cid") == cid) & (F.col("b") == key[-1])
            else:
                is_seg = (F.col("pseg") == pord) & (F.col("b") == key[-1])
            cond = is_seg if cond is None else (cond | is_seg)
            seg_expr = F.when(is_seg, i).otherwise(seg_expr)
            scale = n_buckets / (hi - lo)
            sub_expr = F.when(
                is_seg,
                F.least(
                    F.greatest(
                        F.floor((F.col("value") - lo) * scale).cast("int"),
                        F.lit(0),
                    ),
                    F.lit(n_buckets - 1),
                ),
            ).otherwise(sub_expr)
        # localCheckpoint: each level's seg/b2 WHEN-trees would otherwise
        # be INLINED into the next level's expressions by project
        # collapse — plan size grows multiplicatively per round (same
        # iterative-lineage failure mode as connected_components)
        sub = (
            current.filter(cond)
            .withColumn("seg", seg_expr)
            .withColumn("b2", sub_expr)
            .localCheckpoint(eager=True)
        )
        counted = (
            sub.groupBy("seg", "b2")
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.min("value").alias("blo"),
                F.max("value").alias("bhi"),
            )
            .collect()
        )
        by_seg: dict[int, list] = {}
        for r in counted:
            by_seg.setdefault(r["seg"], []).append(
                (r["b2"], r["cnt"], r["blo"], r["bhi"])
            )
        nxt: dict[tuple, tuple] = {}
        for i, ((cid, key), (start, cnt, lo, hi, ranks, pord)) in enumerate(ordered):
            for k2, seg in _address(
                cid, by_seg.get(i, []), start, key, ranks
            ).items():
                nxt[(cid, k2)] = seg + (i,)
        pending = nxt
        current = sub.select(
            "cid", "value", F.col("seg").alias("pseg"), F.col("b2").alias("b")
        )
        level += 1
    # anything still pending after max_refine: sort it anyway (bounded
    # only by the data's FP density — in practice unreachable)
    sortable.update({k: v[:5] for k, v in pending.items()})

    if sortable:
        # one windowed rank-pick over the union of small segments: tag
        # each row with its segment ordinal via a range condition, then
        # row_number within segment
        # depth-1 segments ARE level-0 buckets: address them with a
        # broadcast hash equi-join on (cid, b). Deeper segments (rare —
        # only after refinement) need a range join; keep the two paths
        # separate so the common case never pays a nested-loop join.
        eq_rows, eq_targets, rg_rows, rg_targets = [], [], [], []
        for i, ((cid, key), (start, cnt, lo, hi, ranks)) in enumerate(
            sorted(sortable.items())
        ):
            if len(key) == 1:
                eq_rows.append((cid, int(key[0]), i))
            else:
                rg_rows.append((cid, i, float(lo), float(hi)))
            dst = eq_targets if len(key) == 1 else rg_targets
            for r in sorted(ranks):
                dst.append((i, r - start + 1, r))
        w = Window.partitionBy("seg").orderBy("value")
        picked = []
        if eq_rows:
            segs = small_df(spark, eq_rows, "cid string, b int, seg int")
            tdf = small_df(spark, eq_targets, "seg int, rn int, grank long")
            picked += (
                long_df.join(F.broadcast(segs), ["cid", "b"])
                .select("cid", "seg", "value")
                .withColumn("rn", F.row_number().over(w))
                .join(F.broadcast(tdf), ["seg", "rn"])
                .select("cid", "grank", "value")
                .collect()
            )
        if rg_rows:
            segs = small_df(
                spark, rg_rows, "cid string, seg int, slo double, shi double"
            )
            tdf = small_df(spark, rg_targets, "seg int, rn int, grank long")
            picked += (
                long_df.join(
                    F.broadcast(segs),
                    (long_df["cid"] == segs["cid"])
                    & (F.col("value") >= F.col("slo"))
                    & (F.col("value") <= F.col("shi")),
                )
                .select(long_df["cid"], "seg", "value")
                .withColumn("rn", F.row_number().over(w))
                .join(F.broadcast(tdf), ["seg", "rn"])
                .select("cid", "grank", "value")
                .collect()
            )
        for r in picked:
            val_at[r["cid"]][int(r["grank"])] = float(r["value"])
    long_df.unpersist()

    out: dict[str, list[float]] = {}
    for c in cols:
        n = n_by_cid.get(c, 0)
        if n == 0:
            out[c] = []
            continue
        grid = []
        for p in probs:
            k = (n - 1) * p
            lo_i, hi_i = int(_math.floor(k)), int(_math.ceil(k))
            v_lo, v_hi = val_at[c][lo_i], val_at[c][hi_i]
            grid.append(v_lo + (k - lo_i) * (v_hi - v_lo))
        out[c] = grid
    return out


def dbscan_labels(dist: np.ndarray, eps: float, min_samples: int) -> np.ndarray:
    """Minimal DBSCAN over a precomputed distance matrix (sklearn-free;
    the matrix is #columns², i.e. metadata-sized)."""
    n = dist.shape[0]
    labels = np.full(n, -1)
    visited = np.zeros(n, dtype=bool)
    cluster = 0
    for p in range(n):
        if visited[p]:
            continue
        visited[p] = True
        neigh = list(np.where(dist[p] <= eps)[0])
        if len(neigh) < min_samples:
            continue
        labels[p] = cluster
        queue = [q for q in neigh if q != p]
        while queue:
            q = queue.pop()
            if not visited[q]:
                visited[q] = True
                q_neigh = list(np.where(dist[q] <= eps)[0])
                if len(q_neigh) >= min_samples:
                    queue.extend(x for x in q_neigh if labels[x] == -1)
            if labels[q] == -1:
                labels[q] = cluster
        cluster += 1
    return labels


def _dim_clusters(
    quantiles: dict[str, list], num_cols: list[str], eps: float = 0.05, min_samples: int = 2
) -> tuple[list[list[str]], dict[frozenset, float]]:
    """Distribution-matching groups (reference dim_match.clusters,
    spreadsheet.py:197-213): DBSCAN over columns with Wasserstein metric,
    plus the all-numeric group and unit-suffix groups. Also returns the
    pairwise distance dict (consumed by the Pareto cost model)."""
    clusters: list[list[str]] = []
    dists: dict[frozenset, float] = {}
    if len(num_cols) >= 2:
        mat = wasserstein_from_quantiles(quantiles, num_cols)
        for i, a in enumerate(num_cols):
            for j in range(i + 1, len(num_cols)):
                dists[frozenset((a, num_cols[j]))] = float(mat[i, j])
        labels = dbscan_labels(mat, eps=eps, min_samples=min_samples)
        for lab in sorted(set(labels) - {-1}):
            clusters.append([num_cols[i] for i in np.where(labels == lab)[0]])
    if len(num_cols) >= 2 and num_cols not in clusters:
        clusters.append(list(num_cols))  # all-numeric group (ref :212-213)
    clusters.extend(_unit_clusters(num_cols))
    return _dedup_groups(clusters), dists


def _unit_clusters(cols: list[str]) -> list[list[str]]:
    """Columns sharing a trailing "(unit)" in the header text
    (reference spreadsheet.py:217-228)."""
    by_unit: dict[str, list[str]] = {}
    for c in cols:
        m = re.search(r"\(([^)]*)\)\s*$", c)
        if m:
            by_unit.setdefault(m.group(1).strip().lower(), []).append(c)
    return [g for g in by_unit.values() if len(g) >= 2]


def _name_clusters(cols: list[str]) -> list[list[str]]:
    """Shared-substring header groups (reference spreadsheet.py:256-262):
    columns grouped by a common alphabetic substring of ≥3 chars
    (pairwise longest-common-substring, driver-side O(cols²·len²) over
    metadata), plus character-ngram-cosine DBSCAN groups — the
    model-free stand-in for the reference's word2vec name clustering
    (spreadsheet.py:239-253)."""
    from difflib import SequenceMatcher

    groups: dict[str, set[str]] = {}
    lowers = {c: re.sub(r"[^a-z]", " ", c.lower()) for c in cols}
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            m = SequenceMatcher(None, lowers[a], lowers[b]).find_longest_match()
            sub = lowers[a][m.a : m.a + m.size].strip()
            if len(sub) >= 3:
                groups.setdefault(sub, set()).update((a, b))
    merged = [sorted(g) for g in groups.values() if len(g) >= 2]
    merged.extend(semantic_name_clusters(cols))
    return _dedup_groups(merged)


def char_ngrams(name: str, n: int = 3) -> dict[str, int]:
    """Boundary-marked character n-gram counts of the alpha-normalized
    header name (digits dropped, like the reference's w2v preprocessing
    utils.py:165-174 strips numerics) — the header's morphology vector."""
    s = re.sub(r"[^a-z]+", " ", name.lower()).strip()
    counts: dict[str, int] = {}
    for tok in s.split():
        padded = f"^{tok}$"
        for i in range(max(1, len(padded) - n + 1)):
            g = padded[i : i + n]
            counts[g] = counts.get(g, 0) + 1
    return counts


def char_ngram_cosine(a: str, b: str, n: int = 3) -> float:
    """Cosine similarity of character-ngram count vectors in [0,1]."""
    ca, cb = char_ngrams(a, n), char_ngrams(b, n)
    if not ca or not cb:
        return 0.0
    dot = sum(v * cb.get(g, 0) for g, v in ca.items())
    na = sum(v * v for v in ca.values()) ** 0.5
    nb = sum(v * v for v in cb.values()) ** 0.5
    return dot / (na * nb) if na > 0 and nb > 0 else 0.0


# DBSCAN eps for the EMBEDDER path: euclidean distance between
# L2-normalized vectors is sqrt(2·(1−cos)), so eps=1.0 admits pairs
# with cosine similarity ≥ 0.5 — a moderate synonymy threshold.
# Reusing the reference's raw-vector eps=0.5 here would demand
# cos ≥ 0.875 (ADVICE r11), a far stricter gate than the reference's
# DBSCAN over UN-normalized GoogleNews vectors (whose norms are ~2-5,
# where eps=0.5 spans a much wider cosine band), systematically
# shrinking clusters. Expect granularity to differ from the
# reference's regardless: normalization changes the metric, and the
# vectors themselves are corpus-trained, not GoogleNews.
EMBED_CLUSTER_EPS = 1.0


def semantic_name_clusters(
    cols: list[str], eps: float | None = None, min_samples: int = 5
) -> list[list[str]]:
    """Header-semantics clusters: DBSCAN (same min_samples=5 as the
    reference's w2v clustering, spreadsheet.py:239-246). With a
    NameEmbedder installed (functions/embeddings) the distance matrix
    is euclidean between L2-NORMALIZED name embeddings — the
    reference's DBSCAN(metric='euclidean') over w2v vectors, up to the
    normalization that makes eps corpus-scale-free. Default: the
    character-ngram cosine distance stand-in, which recovers morphology
    families the substring pass can miss and keeps unrelated stems
    apart — e.g. ie19's exp0..exp9 vs imp0..imp9 land in two separate
    clusters (reference test corpus, FIXTURES.md).

    ``eps=None`` resolves per geometry: the reference's 0.5 for the
    char-ngram cosine stand-in (golden-pinned), EMBED_CLUSTER_EPS for
    the normalized-embedding path (see the constant's note on why 0.5
    verbatim would be systematically stricter than the reference)."""
    from .functions.embeddings import get_name_embedder

    named = [c for c in cols if char_ngrams(c)]
    if len(named) < min_samples:
        return []
    n = len(named)
    dist = np.zeros((n, n))
    emb = get_name_embedder()
    if eps is None:
        eps = EMBED_CLUSTER_EPS if emb is not None else 0.5
    if emb is not None:
        vs = np.vstack([emb.embed(c) for c in named])
        norms = np.linalg.norm(vs, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        vs = vs / norms
        for i in range(n):
            for j in range(i + 1, n):
                d = float(np.linalg.norm(vs[i] - vs[j]))
                dist[i, j] = dist[j, i] = d
    else:
        for i in range(n):
            for j in range(i + 1, n):
                d = 1.0 - char_ngram_cosine(named[i], named[j])
                dist[i, j] = dist[j, i] = d
    labels = dbscan_labels(dist, eps=eps, min_samples=min_samples)
    return [
        [named[i] for i in np.where(labels == lab)[0]]
        for lab in sorted(set(labels) - {-1})
    ]


def _dedup_groups(groups: list[list[str]]) -> list[list[str]]:
    seen: set[tuple[str, ...]] = set()
    out = []
    for g in groups:
        t = tuple(sorted(g))
        if t not in seen:
            seen.add(t)
            out.append(sorted(g))
    return out
