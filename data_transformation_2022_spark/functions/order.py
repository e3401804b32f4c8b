"""Scalable global ordering primitives.

A ``row_number()`` over an unpartitioned window moves EVERY row to one
reducer — fine at 400 rows (the reference's world, ``MAXSOURCEDATAROWS``
config.py:1), fatal at 100 TB. These helpers compute the same global
ranks with no single-reducer stage:

1. Freeze ~P boundaries of the leading order key as plan LITERALS:
   sampled once on the driver, or handed in by a caller that already
   has a quantile sketch of the column (``global_ranks_multi``'s
   ``boundaries``). (``repartitionByRange`` is not usable here: its
   RangePartitioner seeds sampling from the RDD id, so two evaluations
   of the same plan can disagree on boundaries — the offsets collected
   from pass one would silently corrupt pass two.)
2. ``bucket = Σ (key ≥ boundary_i)`` — a pure, deterministic, codegen'd
   expression of the row, identical in every pass, monotone in the key
   whatever the boundaries are (nulls → bucket 0).
3. Per-bucket counts (count, or distinct count for dense ranks —
   disjoint across buckets because equal keys share a bucket) →
   cumulative offsets, a P-entry driver map. Either a counting pass
   before the ranking, or ``max(local rank)`` per bucket read off a
   persisted bucket-local ranking (``materialize`` / ``persisted``).
4. A PARTITIONED window (partition = bucket) for the local rank, plus
   the broadcast offset.

Every stage is parallel; the only global objects are the boundary
literals and the offsets map (P entries each). Cost before the ranking
pass: a boundary job unless the boundaries are given, and a counting
job unless the counts come off the persisted ranking — so a persisted
ranking over given boundaries runs one job in all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BUCKET = "__gr_bucket"
_SAMPLE_TARGET = 20_000


_NUMERIC_BASES = {"tinyint", "smallint", "int", "bigint", "float", "double", "decimal"}


def _boundaries(df: DataFrame, key: str, num_buckets: int) -> list:
    """~num_buckets-1 quantile boundaries of ``key``, deterministic given
    the input. Numeric keys: ONE percentile_approx aggregate (no count
    job, no driver sample). Other orderable types: seeded-sample
    fallback. Either way the result is frozen into the plan as literals,
    so every later pass agrees on bucket assignment."""
    if num_buckets <= 1:
        return []
    base = dict(df.dtypes)[key].split("(")[0]
    if base in _NUMERIC_BASES:
        # boundaries are load-balancing hints, not semantics: 0.1% sketch
        # accuracy keeps buckets even and costs a fraction of a
        # high-accuracy summary
        probs = [i / num_buckets for i in range(1, num_buckets)]
        row = df.select(
            F.percentile_approx(key, probs, 1_000).alias("q")
        ).collect()[0]
        return sorted({v for v in (row["q"] or []) if v is not None})
    n = df.count()
    if n == 0:
        return []
    fraction = min(1.0, _SAMPLE_TARGET / n)
    vals = sorted(
        r[0]
        for r in df.select(key).filter(F.col(key).isNotNull()).sample(False, fraction, seed=42).collect()
    )
    if not vals:
        return []
    step = max(1, len(vals) // num_buckets)
    return sorted({vals[i] for i in range(step, len(vals), step)})


def _thin(grid: list, num_buckets: int) -> list:
    """At most ``num_buckets - 1`` evenly spaced points of a sorted grid
    (the quartiles of a k/32 grid for 4 buckets): a given grid makes as
    many buckets as computed boundaries would — more buckets only add
    window groups and bucket-expression terms per row."""
    m = len(grid)
    if m < num_buckets:
        return grid
    return list(dict.fromkeys(grid[round(i * (m - 1) / num_buckets)] for i in range(1, num_buckets)))


def _bucket_expr(key: str, bounds: list) -> Column:
    """bucket id = number of boundaries ≤ key (nulls → bucket 0, matching
    Spark's nulls-first default sort order). Built as ONE SQL expression
    string where literals allow it: a chain of ~32 F.when() calls costs
    hundreds of py4j round-trips per invocation, the parsed string costs
    one."""
    import math

    if not bounds:
        return F.lit(0)

    def _sql_lit(b) -> str | None:
        if isinstance(b, bool):
            return None
        if isinstance(b, int):
            return str(b)
        if isinstance(b, float):
            return repr(b) if math.isfinite(b) else None
        if isinstance(b, str):
            return "'" + b.replace("\\", "\\\\").replace("'", "\\'") + "'"
        return None

    lits = [_sql_lit(b) for b in bounds]
    if all(s is not None for s in lits):
        terms = " + ".join(
            f"(CASE WHEN `{key}` >= {s} THEN 1 ELSE 0 END)" for s in lits
        )
        return F.expr(terms)
    expr: Column = F.lit(0)
    for b in bounds:
        expr = expr + F.when(F.col(key) >= F.lit(b), 1).otherwise(0)
    return expr


def global_row_number(
    df: DataFrame,
    order_by: list[str],
    out_col: str,
    dense: bool = False,
    num_partitions: int | None = None,
    zero_based: bool = False,
    materialize: bool = False,
) -> DataFrame:
    """Append ``out_col`` = global rank of each row under ``order_by``.

    ``dense=False`` → ``row_number`` semantics (pass a unique tie-break
    column as the last order key for determinism). ``dense=True`` →
    ``dense_rank`` semantics (equal keys share a rank, consecutive codes).

    ``materialize=True`` persists the bucket-local ranking pass and reads
    the per-bucket offsets from it (``max(local rank)`` per bucket is the
    bucket's row count — or distinct count under dense ranks), saving a
    full counting pass over the input; the returned frame is a narrow
    projection over the persisted ranking. Use it when the result will be
    consumed repeatedly (e.g. the readers' rid tables).

    Buckets come from the leading key only, so heavy skew on one value
    concentrates in one bucket — same behavior as any range partitioner;
    refine ``order_by`` or raise ``num_partitions`` if that bites.
    """
    sc = df.sparkSession.sparkContext
    n = num_partitions or sc.defaultParallelism
    lead = order_by[0]
    bounds = _boundaries(df, lead, n)
    part = df.withColumn(_BUCKET, _bucket_expr(lead, bounds))

    w = Window.partitionBy(_BUCKET).orderBy(*[F.col(c) for c in order_by])
    local = F.dense_rank() if dense else F.row_number()
    base = -1 if zero_based else 0

    if materialize:
        local_col = "__gr_local"
        ranked = part.withColumn(local_col, local.over(w)).persist()
        per_part = ranked.groupBy(_BUCKET).agg(F.max(local_col).alias("__n")).collect()
        counts = {r[_BUCKET]: r["__n"] for r in per_part}
    else:
        if dense:
            # equal keys share a bucket → per-bucket distinct counts are
            # disjoint; the struct counts a key with nulls as a value, as
            # dense_rank ranks it
            per_part = part.groupBy(_BUCKET).agg(
                F.count_distinct(F.struct(*order_by)).alias("__n")
            ).collect()
        else:
            per_part = part.groupBy(_BUCKET).agg(F.count(F.lit(1)).alias("__n")).collect()
        counts = {r[_BUCKET]: r["__n"] for r in per_part}

    offsets: dict[int, int] = {}
    acc = 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]

    pairs: list = []
    for b, off in offsets.items():
        pairs.extend([F.lit(b), F.lit(off)])
    off_map = F.create_map(*pairs) if pairs else None
    off_col = off_map[F.col(_BUCKET)] if off_map is not None else F.lit(0)
    if materialize:
        return (
            ranked.withColumn(out_col, (F.col(local_col) + off_col + F.lit(base)).cast("bigint"))
            .drop(_BUCKET, local_col)
        )
    return (
        part.withColumn(out_col, (local.over(w) + off_col + F.lit(base)).cast("bigint"))
        .drop(_BUCKET)
    )


def global_ranks_multi(
    df: DataFrame,
    cols: list[str],
    out_cols: list[str],
    dense: bool = False,
    zero_based: bool = False,
    tie_col: str | None = None,
    num_partitions: int | None = None,
    boundaries: dict[str, list] | None = None,
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """Rank SEVERAL columns with shared small jobs, one bucket-partitioned
    window per column. Same values as N calls to global_row_number with
    N-1 fewer boundary jobs and N-1 fewer count jobs — the driver-job
    overhead, not the data pass, dominates multi-column rank steps.

    ``boundaries``: a quantile grid per column the caller already has
    (the engine passes the profiler's k/32 grid), thinned to as many
    buckets as computed boundaries give. Boundaries only balance the
    buckets, so any list gives the same ranks; columns not in it get
    theirs from ONE aggregate for all of them (numeric:
    percentile_approx per column; other: one shared seeded sample).

    ``persisted``: without it, ONE counting aggregate for all columns
    gives the per-bucket counts before the ranking pass. With it, the
    bucket-local ranking itself is persisted and appended to the list —
    the caller owns it and unpersists it — and the counts are read off
    it as ``max(local rank)`` per (column, bucket): one job that also
    materialises the ranking, and the returned frame is a narrow
    projection over it. Given boundaries for every column and a
    ``persisted`` list, the call runs that one job and no other."""
    sc = df.sparkSession.sparkContext
    n = num_partitions or sc.defaultParallelism
    dtypes = dict(df.dtypes)

    bounds: dict[str, list] = {
        c: _thin(sorted({v for v in boundaries[c] if v is not None}), n)
        for c in cols
        if boundaries and boundaries.get(c) is not None
    }
    todo = [c for c in cols if c not in bounds]
    numeric = [c for c in todo if dtypes[c].split("(")[0] in _NUMERIC_BASES]
    other = [c for c in todo if c not in numeric]
    if numeric:
        probs = [i / n for i in range(1, n)]
        row = df.select(
            *[F.percentile_approx(c, probs, 1_000).alias(c) for c in numeric]
        ).collect()[0]
        for c in numeric:
            bounds[c] = sorted({v for v in (row[c] or []) if v is not None})
    if other:
        total = df.count()
        fraction = min(1.0, _SAMPLE_TARGET / total) if total else 0.0
        sampled = (
            df.select(*other).sample(False, fraction, seed=42).collect() if total else []
        )
        for c in other:
            vals = sorted(r[c] for r in sampled if r[c] is not None)
            step = max(1, len(vals) // n) if vals else 1
            bounds[c] = sorted({vals[i] for i in range(step, len(vals), step)}) if vals else []

    bucket_cols = {c: f"__grm_{i}" for i, c in enumerate(cols)}

    def _local(c: str) -> Column:
        order = [F.col(c)] if dense else [F.col(c)] + (
            [F.col(tie_col)] if tie_col else []
        )
        w = Window.partitionBy(bucket_cols[c]).orderBy(*order)
        return (F.dense_rank() if dense else F.row_number()).over(w)

    def _offsets(ci: int, c: str, counts: dict) -> Column:
        """Column c's bucket → rows (or distinct keys) in lower buckets,
        as ONE parsed map literal: a create_map of F.lit pairs costs two
        py4j round trips per bucket."""
        acc, entries = 0, []
        for b in range(len(bounds[c]) + 1):
            entries.append(f"{b}, {acc}")
            acc += int(counts.get((ci, b), 0))
        return F.expr(f"map({', '.join(entries)})[`{bucket_cols[c]}`]")

    base = -1 if zero_based else 0
    if persisted is not None:
        # one select per stage: every DataFrame op re-analyses the window
        # plan, which on a busy driver costs more than the job itself
        local_cols = {c: f"__grl_{i}" for i, c in enumerate(cols)}
        ranked = (
            df.select("*", *[_bucket_expr(c, bounds[c]).alias(bucket_cols[c]) for c in cols])
            .select("*", *[_local(c).alias(local_cols[c]) for c in cols])
            .persist()
        )
        persisted.append(ranked)
        # max(local rank) per bucket is the bucket's row count, or its
        # distinct count (nulls included) under dense ranks
        pairs = ", ".join(
            f"named_struct('b', `{bucket_cols[c]}`, 'n', `{local_cols[c]}`)" for c in cols
        )
        counted = (
            ranked.selectExpr(f"posexplode(array({pairs})) AS (ci, s)")
            .groupBy("ci", F.col("s.b").alias("b"))
            .agg(F.max("s.n").alias("n"))
            .collect()
        )
        counts = {(r["ci"], r["b"]): r["n"] for r in counted}
        return ranked.select(
            "*",
            *[
                (F.col(local_cols[c]) + _offsets(ci, c, counts) + F.lit(base))
                .cast("bigint")
                .alias(out_col)
                for ci, (c, out_col) in enumerate(zip(cols, out_cols))
            ],
        ).drop(*bucket_cols.values(), *local_cols.values())

    part = df
    for c in cols:
        part = part.withColumn(bucket_cols[c], _bucket_expr(c, bounds[c]))
    counted = _bucket_counts(part, cols, bucket_cols, dense, dtypes)
    counts = {(r["ci"], r["b"]): r["n"] for r in counted}
    out = part
    for ci, (c, out_col) in enumerate(zip(cols, out_cols)):
        out = out.withColumn(
            out_col, (_local(c) + _offsets(ci, c, counts) + F.lit(base)).cast("bigint")
        )
    return out.drop(*bucket_cols.values())


def _bucket_counts(
    part: DataFrame,
    cols: list[str],
    bucket_cols: dict[str, str],
    dense: bool,
    dtypes: dict[str, str],
) -> list:
    """ONE counting job for all columns: rows of (column index ``ci``,
    bucket ``b``, count ``n``) — the row count per bucket, or under dense
    ranks the distinct count, nulls counted as one value because the
    window ranks them too. Stacked (column-index, bucket) pairs in one
    hash aggregate are cheaper than N groupBys (N-1 fewer jobs) and far
    cheaper than buckets×columns conditional CASE aggregates."""
    if len(cols) == 1:
        c, bc = cols[0], bucket_cols[cols[0]]
        agg = (
            F.count_distinct(F.struct(F.col(c))).alias("n")
            if dense
            else F.count(F.lit(1)).alias("n")
        )
        counted1 = part.groupBy(F.col(bc).alias("b")).agg(agg).collect()
        return [{"ci": 0, "b": r["b"], "n": r["n"]} for r in counted1]
    if dense:
        # per-bucket DISTINCT counts, disjoint across buckets because
        # equal keys share a bucket. The stacked array needs one common
        # type, so values go through a string cast — but the count must
        # agree with the window's NATIVE ordering equality, and floats
        # break that: -0.0 and 0.0 are one value to dense_rank yet two
        # strings. Normalize with +0.0 (-0.0+0.0 == 0.0; NaN unchanged)
        # before casting; within one column every other type formats
        # equal-iff-native-equal. The struct wrapper makes a null value
        # count as one distinct value, as dense_rank ranks it.
        def _v(c: str) -> Column:
            base = dtypes[c].split("(")[0]
            col = F.col(c) + F.lit(0.0) if base in ("float", "double") else F.col(c)
            return col.cast("string")

        pairs_df = part.select(
            F.posexplode(F.array(*[F.struct(F.col(bucket_cols[c]).alias("b"), _v(c).alias("v")) for c in cols])).alias("ci", "s")
        ).select("ci", F.col("s.b").alias("b"), F.col("s.v").alias("v"))
        return (
            pairs_df.groupBy("ci", "b")
            .agg(F.count_distinct(F.struct("v")).alias("n"))
            .collect()
        )
    pairs_df = part.select(
        F.posexplode(F.array(*[F.col(bucket_cols[c]) for c in cols])).alias("ci", "b")
    )
    return pairs_df.groupBy("ci", "b").agg(F.count(F.lit(1)).alias("n")).collect()


def global_running_sum(
    df: DataFrame,
    order_by: list[str],
    value_col: str,
    out_col: str,
    num_partitions: int | None = None,
) -> DataFrame:
    """Append ``out_col`` = inclusive running sum of ``value_col`` under
    the global ``order_by`` — the prefix-sum primitive (sequence
    packing, offset assignment) with NO single-reducer window.

    Same three-stage shape as ``global_row_number``: frozen quantile
    boundaries of the leading key → one per-bucket SUM pass (map-side
    combinable, P rows collected) → a bucket-PARTITIONED cumulative
    window plus the broadcast bucket-offset. Ties across the remaining
    keys stay inside one bucket, so the local window sees the full tie
    group and, for INTEGRAL value columns, the result is exactly the
    single-window answer. For floating-point values the per-bucket sum +
    offset accumulation changes IEEE addition order versus a row-ordered
    running sum, so results can differ in the last ulps — callers
    needing bit-identity to a sequential scan must pass integers
    (current callers — sequence packing offsets — do)."""
    sc = df.sparkSession.sparkContext
    n = num_partitions or sc.defaultParallelism
    lead = order_by[0]
    bounds = _boundaries(df, lead, n)
    part = df.withColumn(_BUCKET, _bucket_expr(lead, bounds))

    per_part = part.groupBy(_BUCKET).agg(F.sum(value_col).alias("__s")).collect()
    sums = {r[_BUCKET]: r["__s"] for r in per_part}
    offsets: dict[int, float] = {}
    acc = 0
    for b in sorted(sums):
        offsets[b] = acc
        acc += sums[b] or 0

    # offsets travel as broadcast DATA, not a create_map of literals:
    # literal offsets change per input, forcing a fresh codegen compile
    # on every call — the join keeps one reusable plan shape
    spark = df.sparkSession
    int_like = dict(df.dtypes).get(value_col, "").split("(")[0] in (
        "tinyint", "smallint", "int", "bigint",
    )
    from ..session import small_df

    off_df = small_df(
        spark,
        [
            (int(b), int(off) if int_like else float(off))
            for b, off in offsets.items()
        ]
        or [(0, 0 if int_like else 0.0)],
        f"{_BUCKET} int, __off " + ("bigint" if int_like else "double"),
    )
    w = (
        Window.partitionBy(_BUCKET)
        .orderBy(*[F.col(c) for c in order_by])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        part.join(F.broadcast(off_df), _BUCKET)
        .withColumn(out_col, F.sum(value_col).over(w) + F.col("__off"))
        .drop(_BUCKET, "__off")
    )
