"""sf1 regression net for the driver-side evaluator paths (r13 VERDICT
"Next round" #9): prove the step/core-T local evaluators' equivalence
and the exact row-count stream drain at a NON-TOY scale factor, not
just sf0.001-0.1.

Runs only when the sf1 working set exists (scripts/make_sf1.py →
/tmp/spark_graft_sf1); skipped otherwise, so CI stays fast on hosts
that never generated it. When present, adds ~1-2 min.
"""

from __future__ import annotations

import json
import os

import pytest

SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF1_DIR),
    reason="sf1 working set absent (generate with scripts/make_sf1.py)",
)


def test_recommend_sf1_identical_with_evaluators_disabled(spark, monkeypatch):
    """recommend() payload at sf1 must be byte-identical with the
    driver-side step evaluator disabled, when the core-T frames run on
    the Spark-derived sample — the continuous proof that the local
    paths stay equivalent beyond toy SFs."""
    from data_transformation_2022_spark import engine
    from data_transformation_2022_spark.engine import recommend
    from data_transformation_2022_spark.queries import _t

    def payload() -> str:
        li = _t(spark, SF1_DIR, "lineitem", rid=True)
        res = recommend(li, dm_ts=["pca", "kmeans"], sample_cap=500)
        return json.dumps(
            json.loads(res.to_json()), sort_keys=True, default=str
        )

    on = payload()
    monkeypatch.setattr(engine, "eval_steps_local", lambda *a: None)
    off = payload()
    assert on == off


def test_stream_running_totals_sf1_matches_batch(spark):
    """The exact row-count drain at sf1: the drained stateful stream's
    final per-user totals must equal the batch aggregate (count + a
    double sum compared exactly — both sides sum the same values in
    some order; equality of the rounded decimal form is the
    engine-portable check the batch twin tests use)."""
    from pyspark.sql import functions as F

    from data_transformation_2022_spark.streaming.pipelines import (
        stream_running_totals,
    )

    got = (
        stream_running_totals(spark, SF1_DIR, query_name="sf1_net_totals")
        .select(
            "user_id",
            "n_events",
            F.round(F.col("sum_value"), 6).alias("sum_value"),
        )
        .orderBy("user_id")
        .collect()
    )
    events = spark.read.parquet(f"{SF1_DIR}/events.parquet")
    want = (
        events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double"), 6
            ).alias("sum_value"),
        )
        .orderBy("user_id")
        .collect()
    )
    assert len(got) == len(want) > 0
    for g, w in zip(got, want):
        assert g["user_id"] == w["user_id"]
        assert g["n_events"] == w["n_events"]
        assert abs(g["sum_value"] - w["sum_value"]) < 1e-6, (
            g["user_id"], g["sum_value"], w["sum_value"]
        )
