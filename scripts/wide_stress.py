"""Candidate-scale stress for recommend()'s driver submission loop
(r8 verdict item 4).

The reference's widest real workload ("data training m1.csv",
reference search.py test set) is 102 columns whose dim clusters span
~100 numeric columns. This script synthesizes that shape at bench-SF
row counts and measures how the planner + thread-pooled prefetch loop
scale as the submitted-candidate count grows ~10x past the standard
case — the watch item being the driver-side job submission serializing
(each bar group / frame job is a tiny Spark job whose cost is mostly
scheduler latency).

Run: python scripts/wide_stress.py [n_rows]
Prints one line per scenario:
  cols=<c> cap=<cap> cands=<frame+bar jobs> charts=<n> profile=<s>
  enumerate=<s> recommend=<s>
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from data_transformation_2022_spark.engine import recommend  # noqa: E402
from data_transformation_2022_spark.plans.search import (  # noqa: E402
    enumerate_tpaths,
)
from data_transformation_2022_spark.profiler import profile_table  # noqa: E402
from data_transformation_2022_spark.session import get_spark  # noqa: E402


def wide_df(spark, n_rows: int, n_num: int):
    """Deterministic wide numeric table: n_num float columns with
    varied scales/offsets (so the profiler sees distinct distributions)
    plus two nominal grouping columns."""
    base = spark.range(n_rows)
    cols = [
        (
            ((F.col("id") * (2654435761 + 97 * i) + i * i) % 10_000).cast("double")
            / F.lit(float(7 + (i % 13)))
        ).alias(f"m{i:03d}")
        for i in range(n_num)
    ]
    return base.select(
        (F.col("id") % 7).cast("string").alias("g1"),
        (F.col("id") % 13).cast("string").alias("g2"),
        *cols,
    )


def one(spark, n_rows: int, n_num: int, cap: int) -> None:
    df = wide_df(spark, n_rows, n_num)
    t0 = time.time()
    prof = profile_table(df)
    t_prof = time.time() - t0
    t0 = time.time()
    pools = enumerate_tpaths(prof, max_depth=2)
    t_enum = time.time() - t0
    n_pool = {k: len(v) for k, v in pools.items()}
    t0 = time.time()
    res = recommend(
        df,
        profile=prof,
        dm_ts=["pca", "kmeans"],
        sample_cap=500,
        max_channel_candidates=cap,
    )
    t_rec = time.time() - t0
    print(
        f"cols={n_num + 2} cap={cap} pools={n_pool} charts={len(res.charts)} "
        f"profile={t_prof:.2f}s enumerate={t_enum:.2f}s recommend={t_rec:.2f}s",
        flush=True,
    )


def rank_chain_phase(spark, n_rows: int, n_num: int) -> None:
    """Isolated 102-column rank-chain materialization phase (r10
    verdict item 6: pin the keep_fn pruning win against future engine
    edits). A NARROW consumer (2 ranked columns) over the wide table:
    keep_fn must reduce both the rank computation and the persisted
    projection to consumed width, so `persisted_width` staying small
    (vs 2x-table-width unpruned) and `prefetch` scaling with consumed
    width are the regression signals — per-phase numbers, because suite
    wall-clock totals on this VM swing 3-5x with the stall bands
    (BENCH_NOTES r10)."""
    from data_transformation_2022_spark.engine import Executor
    from data_transformation_2022_spark.operators.steps import Step
    from data_transformation_2022_spark.plans.search import Candidate

    df = wide_df(spark, n_rows, n_num)
    cols = [f"m{i:03d}" for i in range(n_num)]
    rank = Step(
        t="rank", i_type="==", i=cols, o_type="append",
        index=[f"rank {c}" for c in cols],
    )
    cand = Candidate(
        family="sum_bar", steps=[rank],
        out_cols=["rank m001", "rank m004"],
        derived=["rank m001", "rank m004"],
    )
    ex = Executor(df, sample_cap=500)
    t0 = time.time()
    ex.prefetch(frame_jobs=[], bar_jobs=[("g1", cand, "sum")])
    t_pref = time.time() - t0
    key = next(iter(ex._persisted))
    base = ex._derived_bases[key]
    ranked = [c for c in base.columns if c.startswith("rank ")]
    print(
        f"rank_chain: cols={n_num + 2} rows={n_rows} "
        f"persisted_width={len(base.columns)} ranked={len(ranked)} "
        f"prefetch={t_pref:.2f}s",
        flush=True,
    )
    ex.release()


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 60_000
    spark = get_spark(app_name="wide_stress")
    # warm the session (JVM/codegen) on the smallest case, untimed
    one(spark, 1_000, 8, 12)
    print("--- timed scenarios ---", flush=True)
    one(spark, n_rows, 8, 12)      # standard-ish shape (~20 candidates)
    one(spark, n_rows, 100, 12)    # reference m1.csv width, default caps
    one(spark, n_rows, 100, 60)    # ~5x candidate count
    one(spark, n_rows, 100, 120)   # ~10x candidate count
    rank_chain_phase(spark, n_rows, 100)  # keep_fn pruning pin (r10)
    spark.stop()


if __name__ == "__main__":
    main()
