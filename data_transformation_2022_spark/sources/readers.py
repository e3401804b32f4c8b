"""Table readers with stable row-id discipline.

The reference engine's data model is one pandas DataFrame whose *row
position* is semantically meaningful: column concatenation is positional
(``pd.concat(axis=1)`` — reference ``Tengine.py:114,131,134``), tooltips
address rows by position (``search.py:885``), and ``rank(method="first")``
ties break by row order. Spark DataFrames have no stable row order, so
every positional semantic is re-expressed against an explicit ``__rid``
column: a deterministic dense row id derived from a canonical sort of the
table's own columns (by default its primary-key-ish first column).

At cluster scale a ``row_number`` over a global window is a single-reducer
bottleneck, so ``with_rid`` uses ``zipWithIndex``-free, shuffle-light
strategies: for key-ordered rids it uses a window over the key (sort-based
but fully parallel via range partitioning); for arbitrary order it uses
``monotonically_increasing_id`` (sparse but stable within a plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

RID = "__rid"

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Canonical total-order keys per test table: rid == row_number over these.
# Deterministic across engines (the driver's parquet is written sorted by key).
_CANONICAL_KEYS: dict[str, list[str]] = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": ["l_orderkey", "l_linenumber"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    infer_schema: bool = True,
    **options: str,
) -> DataFrame:
    """CSV reader matching the reference's ``pd.read_csv`` ingestion
    (reference ``spreadsheet.py:25``, ``main.py:49``): header row, type
    inference, empty strings kept as-is (``keep_default_na=False``)."""
    reader = (
        spark.read.option("header", str(header).lower())
        .option("inferSchema", str(infer_schema).lower())
        .option("nullValue", None)
        .option("emptyValue", "")
    )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_json(spark: SparkSession, path: str, multiline: bool = True) -> DataFrame:
    """JSON reader matching ``pd.read_json`` ingestion (reference
    ``spreadsheet.py:23-24``)."""
    return spark.read.option("multiLine", str(multiline).lower()).json(path)


def with_rid(df: DataFrame, order_by: list[str] | None = None) -> DataFrame:
    """Attach a stable ``__rid`` row-id column.

    With ``order_by``: dense 0-based ids by that total order
    (deterministic, engine-independent), computed scalably — range
    repartition + per-partition offsets (functions.order), never a
    single-reducer global window. The bucket-local ranking behind the
    ids is persisted and lives until ``unpersist`` or ``clearCache``;
    ``load_table`` pins its one frame per table in ``_RID_CACHE``.

    Without ``order_by``: ``monotonically_increasing_id`` — stable within
    a plan, cheap at any scale, but not dense and not engine-portable.
    """
    from ..functions.order import global_row_number

    if RID in df.columns:
        return df
    if order_by:
        return global_row_number(
            df, order_by, RID, zero_based=True, materialize=True
        )
    return df.withColumn(RID, F.monotonically_increasing_id())


def fan_out(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition a narrow input so downstream row-multiplying work
    (shingle explode, pair joins, per-row hashing) uses every core.

    Single-file parquet with one row group scans as ONE partition no
    matter how many executors exist — file-split knobs can't split
    inside a row group. On a real cluster inputs arrive in thousands of
    partitions and this is a no-op (gated on the scan's file count —
    NOT ``df.rdd.getNumPartitions()``, which re-runs physical planning
    and builds a Python-serialized RDD lineage per call); on small scans
    it costs one tiny round-robin shuffle and buys full parallelism for
    the expensive stage above it."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files:
        # file-sourced plan: file count bounds the scan's parallelism
        # without touching df.rdd (which re-runs physical planning)
        if n_files >= target:
            return df
        return df.repartition(target)
    # non-file plan (in-memory relation, shuffle output): no scan
    # relation exists, so the RDD probe is cheap here
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


# Session-level cache of persisted rid'd tables. Purely a performance
# device: rid values are deterministic (functions.order freezes bucket
# boundaries as literals), so eviction/recompute can never change
# results — the cache just stops every query from re-running the rid
# assignment jobs over the same hot table, exactly like a warehouse
# keeping its working set pinned.
_RID_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, rid: bool = False
) -> DataFrame:
    """Load one test table. Handles TIMESTAMP(NANOS) parquet columns
    (rejected by Spark's reader): reads nanos as long and rebuilds a
    microsecond timestamp with integer division — a double would lose
    precision on ns-epoch values (~1.7e18 > 2^53)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if rid and key in _RID_CACHE:
        return _RID_CACHE[key]
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if rid:
        # with_rid(materialize=True) already persists the heavy ranking
        # pass; the cached frame is a narrow projection over it, so no
        # second persist here.
        df = _RID_CACHE[key] = with_rid(df, _CANONICAL_KEYS.get(name))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES, rid: bool = False) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name, rid=rid) for name in names}
