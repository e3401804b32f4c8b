"""Profiler tests: semantic typing, key election, clustering — the
reference's parsedata semantics (SURVEY §1.2-1.3) on known inputs."""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pandas as pd
import pytest

from data_transformation_2022_spark.profiler import (
    dbscan_labels,
    profile_table,
)
from data_transformation_2022_spark.sources.readers import load_table, read_csv, with_rid


def test_semantic_types_and_key(spark):
    pdf = pd.DataFrame(
        {
            "id": [f"row{i}" for i in range(100)],  # str key (distinct == rows)
            "cat": ["a", "b"] * 50,  # nominal (2 ≤ 5% of 100... no, 2 > 5 → nominal via ≤5)
            "x": [float(i) for i in range(100)],  # real
            "n": list(range(100)),  # int, distinct==rows but str key wins
            "d": ["01/02/2020"] * 100,  # date (M/d/yyyy family)
        }
    )
    tp = profile_table(spark.createDataFrame(pdf), cluster=False)
    assert tp.columns["id"].semantic == "str" and tp.columns["id"].is_key
    assert tp.key == "id"
    assert tp.columns["cat"].semantic == "nominal"
    assert tp.columns["cat"].domain == ["a", "b"]
    assert tp.columns["x"].semantic == "real"
    assert tp.columns["n"].semantic == "int" and not tp.columns["n"].is_key
    assert tp.columns["d"].semantic == "date"
    assert tp.columns["d"].date_format == "M/d/yyyy"


def test_int_key_when_no_str_key(spark):
    pdf = pd.DataFrame({"k": list(range(50)), "v": [1.5] * 50})
    tp = profile_table(spark.createDataFrame(pdf), cluster=False)
    assert tp.key == "k" and tp.columns["k"].is_key
    # key and index-ish columns are excluded from numeric inputs
    assert "k" not in tp.num_col_names


def test_profile_tpch_lineitem(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    tp = profile_table(li)
    assert tp.n_rows == li.count()
    assert tp.columns["l_returnflag"].semantic == "nominal"
    assert sorted(tp.columns["l_returnflag"].domain) == ["A", "N", "R"]
    assert tp.columns["l_quantity"].semantic == "real"
    assert tp.columns["l_shipdate"].semantic == "date"
    # quantity/extendedprice are numeric inputs; discount/tax have ~10
    # distinct values → float-coded nominals (reference spreadsheet.py:159-161)
    assert set(["l_quantity", "l_extendedprice"]) <= set(tp.num_col_names)
    assert tp.columns["l_discount"].semantic == "nominal"
    assert tp.columns["l_tax"].semantic == "nominal"
    # all-numeric dim cluster exists
    assert any(set(g) >= {"l_quantity", "l_extendedprice"} for g in tp.dim_clusters)


def test_name_clusters_prefix_families(spark):
    pdf = pd.DataFrame({f"exp{i}": [float(i), i + 1.0] for i in range(3)}
                       | {f"imp{i}": [float(i), i + 2.0] for i in range(3)}
                       | {"id": ["a", "b"]})
    tp = profile_table(spark.createDataFrame(pdf), cluster=False)
    assert ["exp0", "exp1", "exp2"] in tp.name_clusters
    assert ["imp0", "imp1", "imp2"] in tp.name_clusters


def test_semantic_name_clusters_ie19(spark):
    # the reference ie19.csv header set: exp0..exp9 vs imp0..imp9
    # (FIXTURES.md; reference recovers the two families via w2v DBSCAN,
    # spreadsheet.py:239-253). The char-ngram cosine DBSCAN must find
    # exactly the two morphology families, never a merged exp+imp blob.
    from data_transformation_2022_spark.profiler import (
        char_ngram_cosine,
        semantic_name_clusters,
    )

    cols = [f"exp{i}" for i in range(10)] + [f"imp{i}" for i in range(10)]
    clusters = semantic_name_clusters(cols)
    assert [f"exp{i}" for i in range(10)] in clusters
    assert [f"imp{i}" for i in range(10)] in clusters
    assert len(clusters) == 2
    # the pairwise signal behind it: same stem ≈ 1, different stems far
    assert char_ngram_cosine("exp0", "exp9") > 0.99
    assert char_ngram_cosine("exp0", "imp0") < 0.5


def test_name_distance_blends_morphology(spark):
    from data_transformation_2022_spark.plans.search import name_distance

    # token-Jaccard alone sees exp0/exp9 as disjoint token sets;
    # the char-ngram signal closes that gap
    assert name_distance("exp0", "exp9") < 0.1
    assert name_distance("exp0", "imp0") > 0.5
    # shared-word headers still near via token overlap
    assert name_distance("total price", "unit price") < 0.75


def test_unit_clusters(spark):
    pdf = pd.DataFrame(
        {
            "speed (km/h)": [1.0, 2.0, 3.0],
            "limit (km/h)": [2.0, 3.0, 4.0],
            "mass (kg)": [5.0, 6.0, 7.0],
        }
    )
    sdf = spark.createDataFrame(pdf)
    tp = profile_table(sdf, cluster=True)
    assert ["limit (km/h)", "speed (km/h)"] in tp.dim_clusters


def test_mini_dbscan_two_blobs():
    # two tight groups + one outlier, distance matrix hand-built
    pts = np.array([0.0, 0.01, 0.02, 1.0, 1.01, 5.0])
    dist = np.abs(pts[:, None] - pts[None, :])
    labels = dbscan_labels(dist, eps=0.05, min_samples=2)
    assert labels[0] == labels[1] == labels[2] != -1
    assert labels[3] == labels[4] != -1 and labels[3] != labels[0]
    assert labels[5] == -1


def test_profile_degenerate_tables(spark):
    # empty and single-row tables must profile without crashing, with
    # reference key-election semantics (str key precedence) on the
    # single-row case
    from data_transformation_2022_spark.profiler import profile_table

    empty = spark.createDataFrame([], "a bigint, b string, c double")
    tp0 = profile_table(empty)
    assert tp0.n_rows == 0 and set(tp0.columns) == {"a", "b", "c"}

    one = spark.createDataFrame([(1, "x", 1.5)], "a bigint, b string, c double")
    tp1 = profile_table(one)
    assert tp1.n_rows == 1
    assert tp1.columns["b"].semantic == "str" and tp1.key == "b"
    assert tp1.columns["c"].semantic == "real"


def test_exact_quantile_grid_matches_numpy(spark):
    """exact_quantile_grid == numpy linear quantiles on adversarial
    shapes: 90%-tied heavy hitter (min==max shortcut), lognormal skew
    (forces the refinement loop at a tiny bucket cap), uniform, and a
    7-value column padded with nulls."""
    import pandas as pd

    from data_transformation_2022_spark.profiler import exact_quantile_grid

    rng = np.random.RandomState(7)
    n = 20_000
    a = np.where(rng.rand(n) < 0.9, 42.0, rng.rand(n) * 100)
    b = np.exp(rng.randn(n) * 3)
    c = rng.rand(n)
    d = np.concatenate([rng.randn(7), np.full(n - 7, np.nan)])
    df = spark.createDataFrame(pd.DataFrame({"a": a, "b": b, "c": c, "d": d}))
    probs = [i / 16 for i in range(17)]

    # tiny cap: forces multi-level refinement on the skewed columns
    grid = exact_quantile_grid(
        df, ["a", "b", "c", "d"], probs, n_buckets=16, bucket_row_cap=1000
    )
    for name, arr in (("a", a), ("b", b), ("c", c), ("d", d[:7])):
        want = np.quantile(arr[~np.isnan(arr)], probs, method="linear")
        assert np.allclose(grid[name], want, rtol=0, atol=1e-9), name

    # default parameters: no refinement path
    grid2 = exact_quantile_grid(df, ["a", "b"], probs)
    for name, arr in (("a", a), ("b", b)):
        want = np.quantile(arr, probs, method="linear")
        assert np.allclose(grid2[name], want, rtol=0, atol=1e-9), name


def test_exact_quantile_grid_empty_and_constant(spark):
    import pandas as pd

    from data_transformation_2022_spark.profiler import exact_quantile_grid

    df = spark.createDataFrame(
        pd.DataFrame({"e": np.full(10, np.nan), "k": np.full(10, 3.5)})
    )
    probs = [0.0, 0.5, 1.0]
    grid = exact_quantile_grid(df, ["e", "k"], probs)
    assert grid["e"] == []
    assert grid["k"] == [3.5, 3.5, 3.5]


def test_profile_cache_keyed_on_files_and_plan(spark, tmp_path):
    """profile_table_cached: two reads of the same files share one
    profile; a filtered read of the same files must NOT hit the raw
    table's entry; rewriting the files invalidates."""
    from data_transformation_2022_spark.profiler import profile_table_cached

    path = str(tmp_path / "t.parquet")
    spark.range(100).selectExpr("id", "id % 5 AS g").write.parquet(path)
    a = profile_table_cached(spark.read.parquet(path), cluster=False)
    b = profile_table_cached(spark.read.parquet(path), cluster=False)
    assert a is b
    assert a.n_rows == 100
    filt = profile_table_cached(
        spark.read.parquet(path).filter("g = 1"), cluster=False
    )
    assert filt is not a and filt.n_rows == 20
    spark.range(50).selectExpr("id", "id % 5 AS g").write.mode("overwrite").parquet(path)
    c = profile_table_cached(spark.read.parquet(path), cluster=False)
    assert c is not a and c.n_rows == 50


# ---- the concurrent column-group jobs never change the profile ----


def _one_agg_per_frame(jobs):
    """The plan before the split: every aggregate over one frame in ONE
    ``agg`` (all of pass 1; all of pass 2, countDistinct and collect_set
    side by side), run one after another."""
    by_frame: dict[int, tuple] = {}
    for frame, aggs in jobs:
        by_frame.setdefault(id(frame), (frame, []))[1].extend(aggs)
    merged: dict = {}
    for frame, aggs in by_frame.values():
        merged.update(frame.agg(*aggs).collect()[0].asDict())
    return merged


def _wide_frame(spark, sf_dir):
    rng = np.random.RandomState(3)
    n = 240
    cols = {f"x{i}": rng.normal(size=n).tolist() for i in range(16)}  # near-key reals
    cols |= {f"k{i}": rng.randint(0, 4, n).tolist() for i in range(12)}  # small ints
    cols |= {f"s{i}": [f"v{v}" for v in rng.randint(0, 3, n)] for i in range(8)}
    cols |= {"id": [f"row{i}" for i in range(n)], "big": rng.randint(0, 80, n).tolist()}
    return spark.createDataFrame(pd.DataFrame(cols))


def _nulls_and_dates(spark, sf_dir):
    rows = [
        (
            i,
            None if i % 7 == 0 else float(i % 13) * 1.5,
            None if i % 5 == 0 else f"2021-{1 + i % 12}-{1 + i % 28}",
            None if i % 3 == 0 else ["a", "b", "c"][i % 3],
            None if i % 11 == 0 else float(i) ** 1.5,
        )
        for i in range(300)
    ]
    return spark.createDataFrame(rows, "n bigint, q double, d string, cat string, r double")


# "repartitioned" is hash-partitioned on purpose. A round-robin
# ``repartition(3)`` sorts the rows' bytes before dealing them out
# (spark.sql.execution.sortBeforeRepartition), and column pruning puts
# each job's projection below that exchange, so which row lands in which
# partition follows the columns a job reads. The percentile sketches
# depend on that layout: any column split of such a frame moves them.
_SPLIT_INPUTS = {
    "lineitem": lambda spark, sf_dir: load_table(spark, sf_dir, "lineitem", rid=True),
    "collide_temp": lambda spark, sf_dir: with_rid(
        read_csv(spark, os.path.join(os.path.dirname(__file__), "fixtures", "collide_temp.csv"))
    ),
    "wider_than_32": _wide_frame,
    "nulls_and_dates": _nulls_and_dates,
    "repartitioned": lambda spark, sf_dir: _nulls_and_dates(spark, sf_dir).repartition(3, "n"),
}


@pytest.mark.parametrize("name", list(_SPLIT_INPUTS))
def test_column_group_jobs_equal_single_aggregates(spark, sf_dir, monkeypatch, name):
    """``profile_table`` over concurrent column-group jobs equals, field
    by field, the profile built from one aggregate per pass; and no job
    mixes a distinct aggregate with other aggregates."""
    from data_transformation_2022_spark import profiler

    df = _SPLIT_INPUTS[name](spark, sf_dir)
    rounds = []
    real = profiler._collect_aggs

    def spy(jobs):
        rounds.append(jobs)
        return real(jobs)

    monkeypatch.setattr(profiler, "_collect_aggs", spy)
    got = profile_table(df)
    monkeypatch.setattr(profiler, "_collect_aggs", _one_agg_per_frame)
    want = profile_table(df)

    assert list(got.columns) == list(want.columns)
    for c, cp in want.columns.items():
        g = got.columns[c]
        assert (g.n_distinct, g.domain, g.min_val, g.max_val) == (
            cp.n_distinct, cp.domain, cp.min_val, cp.max_val
        ), c
        assert g == cp, c
    assert got.quantiles == want.quantiles
    for f in dataclasses.fields(profiler.TableProfile):
        assert getattr(got, f.name) == getattr(want, f.name), f.name

    # the split really happened: one job per core in the first round
    # (more only when a group would pass 32 columns), groups ≤ 32 columns
    n_cols = len([c for c in df.columns if c != "__rid"])
    workers = spark.sparkContext.defaultParallelism
    pass1 = [aggs for frame, aggs in rounds[0] if frame is df]
    assert len(rounds[0]) <= max(workers, -(-n_cols // 32) + 1)
    assert len(pass1) > 1 or workers <= 2
    assert all(sum("__ad" in str(a) for a in aggs) <= 32 for aggs in pass1)
    for jobs in rounds:
        for _, aggs in jobs:
            distinct = [str(a).endswith("__cd'>") for a in aggs]  # countDistinct
            assert all(distinct) or not any(distinct)
