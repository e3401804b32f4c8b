"""End-to-end engine tests: enumerate → execute → score → rank on real
testdata, plus planner unit checks (Pareto pruning, signature matching)."""

from __future__ import annotations

import json

import pytest

from data_transformation_2022_spark.engine import MAX_PER_TYPE, recommend
from data_transformation_2022_spark.plans.catalog import channel_candidates
from data_transformation_2022_spark.plans.load import Load, prune_dominated
from data_transformation_2022_spark.plans.search import enumerate_tpaths
from data_transformation_2022_spark.profiler import profile_table
from data_transformation_2022_spark.sources.readers import load_table


def test_load_partial_order():
    a, b = Load(1, 1, 1), Load(2, 2, 2)
    c = Load(0.5, 3, 1)
    assert a.dominates(b) and not b.dominates(a)
    assert not a.dominates(c) and not c.dominates(a)  # incomparable
    kept = prune_dominated([(a, "a"), (b, "b"), (c, "c")])
    assert {p for _, p in kept} == {"a", "c"}  # no dominated survivor


def test_channel_signature_matching():
    cands = channel_candidates("num_scatter")
    assert set(cands["xy"]) >= {"pca", "tsne", "mds", "umap"}
    assert "kmeans" not in cands["xy"]
    assert cands["color"] == ["null_num1"] or "null_num1" in cands["color"]
    bar = channel_candidates("sum_bar")
    assert "null_nom1" in bar["x"] and "kmeans" in bar["x"]


def test_enumeration_pools(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    tp = profile_table(li)
    pools = enumerate_tpaths(tp, max_depth=2)
    assert pools["null_nom1"], "nominal columns must enumerate"
    assert pools["null_num"], "numeric select must enumerate"
    assert pools["dm"], "dm cluster selects must enumerate"
    # no dominated survivor within a dm depth layer is enforced by
    # construction; check candidates are unique
    sigs = [c.signature() for c in pools["dm"]]
    assert len(sigs) == len(set(sigs))


def test_recommend_end_to_end(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem", rid=True)
    res = recommend(li, dm_ts=["pca", "kmeans"], sample_cap=500)
    assert res.charts, "must produce recommendations"
    # caps respected
    by_type: dict[str, int] = {}
    for c in res.charts:
        by_type[c.chart_type] = by_type.get(c.chart_type, 0) + 1
    for t, n in by_type.items():
        assert n <= MAX_PER_TYPE[t]
    # scores are finite and sorted desc
    scores = [c.score for c in res.charts]
    assert scores == sorted(scores, reverse=True)
    # no duplicate signatures
    sigs = [c.signature() for c in res.charts]
    assert len(sigs) == len(set(sigs))
    # provenance serializes to JSON and references every chart
    payload = json.loads(res.to_json())
    assert len(payload["provenance"]["vis_list"]) == len(res.charts)
    assert any(n["node_type"] == "D" for n in payload["provenance"]["nodes"])


def test_recommend_empty_numeric_table(spark):
    import pandas as pd

    df = spark.createDataFrame(pd.DataFrame({"c": ["a", "b", "a", "b"]}))
    res = recommend(df, dm_ts=["pca"], sample_cap=100)
    # count_bar on the nominal column is still producible; no crash
    assert all(ch.chart_type in MAX_PER_TYPE for ch in res.charts)


def test_decorate_presentation_reorder():
    from data_transformation_2022_spark.engine import decorate

    vl = [{"id": f"V{i}"} for i in range(6)]
    out = decorate({"vis_list": vl, "nodes": []})
    # reference order for <13 charts: [3, 2, 0, 4, 8, 7] then the rest
    assert [v["id"] for v in out["vis_list"]] == ["V3", "V2", "V0", "V4", "V1", "V5"]
    assert out["nodes"] == []  # provenance untouched
    big = [{"id": f"V{i}"} for i in range(14)]
    out2 = decorate({"vis_list": big})
    assert [v["id"] for v in out2["vis_list"]][:5] == ["V0", "V2", "V3", "V6", "V12"]
    assert len(out2["vis_list"]) == 14  # permutation, nothing dropped


def test_rank_step_reduced_to_consumed_outputs(spark):
    """Per-consumer rank reduction (r9 verdict item 5): a shared rank
    step over many columns is REDUCED to the outputs some bar consumer
    actually touches — the persisted base ranks (and keeps) only those,
    with identical values, so wide-table rank-chain materialization
    scales with consumed width, not table width. A consumer whose
    LATER step reads more ranked columns widens the reduction via the
    suffix-input union (second scenario)."""
    from data_transformation_2022_spark.engine import Executor
    from data_transformation_2022_spark.operators.steps import Step
    from data_transformation_2022_spark.plans.search import Candidate

    cols = [f"m{i}" for i in range(6)]
    df = spark.createDataFrame(
        [tuple(float(i * 7 + j) for j in range(6)) + (f"g{i % 2}",)
         for i in range(30)],
        ", ".join(f"{c} double" for c in cols) + ", g string",
    )
    rank = Step(
        t="rank", i_type="==", i=list(cols), o_type="append",
        index=[f"rank {c}" for c in cols],
    )
    ex = Executor(df, sample_cap=10)
    cand = Candidate(
        family="sum_bar", steps=[rank],
        out_cols=["rank m1", "rank m4"], derived=["rank m1", "rank m4"],
    )
    ex.prefetch(frame_jobs=[], bar_jobs=[("g", cand, "sum")])
    key = next(iter(ex._persisted))
    base = ex._derived_bases[key]
    ranked = sorted(c for c in base.columns if c.startswith("rank "))
    assert ranked == ["rank m1", "rank m4"], ranked
    assert "m0" not in base.columns  # un-consumed sources pruned too
    out = ex.bar_aggregate("g", cand, "sum")
    # values identical to an unreduced rank over the same data
    ex2 = Executor(df, sample_cap=10)
    want = ex2.bar_aggregate("g", cand, "sum")
    got = {r["g"]: (r["SUM(rank m1)"], r["SUM(rank m4)"]) for _, r in out.iterrows()}
    exp = {r["g"]: (r["SUM(rank m1)"], r["SUM(rank m4)"]) for _, r in want.iterrows()}
    assert got == exp
    ex.release()
    ex2.release()

    # scenario 2: a sibling chain's arithmetic step consumes MORE ranked
    # columns — the suffix-input union widens the shared rank prefix
    sub = Step(
        t="sub", i_type="==", i=["rank m2", "rank m3"], o_type="append",
        index=["d"],
    )
    cand2 = Candidate(
        family="sum_bar", steps=[rank, sub], out_cols=["d"], derived=["d"],
    )
    ex3 = Executor(df, sample_cap=10)
    ex3.prefetch(
        frame_jobs=[], bar_jobs=[("g", cand, "sum"), ("g", cand2, "sum")]
    )
    rank_key = min(ex3._persisted, key=len)
    ranked3 = sorted(
        c for c in ex3._derived_bases[rank_key].columns
        if c.startswith("rank ")
    )
    assert ranked3 == ["rank m1", "rank m2", "rank m3", "rank m4"], ranked3
    ex3.release()


def test_bar_aggregate_beside_pruned_base(spark):
    """A public-API bar_aggregate on a chain whose persisted base was
    column-pruned by an earlier prefetch registration (for a DIFFERENT
    consumer set) gets a base of its own, unpruned, and returns real
    sums — not the except-to-None path (r8 advice); the pruned base stays
    as it was. Base keys say what the base holds: per level, the step and
    the keep set it was pruned to (None unpruned)."""
    from data_transformation_2022_spark.engine import Executor
    from data_transformation_2022_spark.operators.steps import Step, steps_key
    from data_transformation_2022_spark.plans.search import Candidate

    df = spark.createDataFrame(
        [(float(i), float(2 * i), f"g{i % 2}") for i in range(40)],
        "a double, b double, g string",
    )
    ex = Executor(df, sample_cap=10)
    rank = Step(t="rank", i_type="==", i=["a"], o_type="append", index=["rank a"])
    unpruned = ((steps_key([rank])[0], None),)
    cand_a = Candidate(
        family="sum_bar", steps=[rank], out_cols=["rank a"], derived=["rank a"]
    )
    ex.prefetch(frame_jobs=[], bar_jobs=[("g", cand_a, "sum")])
    key = next(iter(ex._persisted))
    assert key[0][0] == steps_key([rank])[0] and key[0][1] is not None
    # per-level pruning: neither the un-consumed column b NOR the rank
    # input a itself survives (no bar job and no later step reads them)
    assert "b" not in ex._derived_bases[key].columns
    assert "a" not in ex._derived_bases[key].columns
    # scenario 1: public-API bar_aggregate summing the pruned column b
    cand_b = Candidate(family="sum_bar", steps=[rank], out_cols=["b"])
    out = ex.bar_aggregate("g", cand_b, "sum")
    assert out is not None, "pruning miss must build a base, not return None"
    got = dict(zip(out["g"], out["SUM(b)"]))
    assert got == {"g0": 760.0, "g1": 800.0}
    assert "b" in ex._derived_bases[unpruned].columns
    assert "b" not in ex._derived_bases[key].columns  # pruned base untouched
    assert key in ex._persisted
    ex.release()

    # scenario 2: extending the chain through _derived_base with a step
    # whose input was pruned away — the extension reads the unpruned
    # prefix, and the child computes real values over it
    ex2 = Executor(df, sample_cap=10)
    ex2.prefetch(frame_jobs=[], bar_jobs=[("g", cand_a, "sum")])
    assert "a" not in ex2._derived_bases[key].columns
    sub = Step(
        t="sub", i_type="==", i=["rank a", "a"], o_type="append", index=["d"]
    )
    _sib_key, sib = ex2._derived_base([rank, sub])
    assert "d" in sib.columns and "a" in ex2._derived_bases[unpruned].columns
    assert "a" not in ex2._derived_bases[key].columns
    row = sib.orderBy("a").limit(1).collect()[0]
    assert row["d"] == row["rank a"] - row["a"]
    ex2.release()


def test_dynamic_selector_reads_unpruned_prefix(spark):
    """ADVICE r10: a public-API chain extension whose step uses a
    DYNAMIC input selector (num/all/like) resolves its inputs from the
    parent's columns, so a keep_fn-pruned parent would silently change
    the computation (no missing-column error). The step reads the
    unpruned prefix instead — the horizontal sum over 'num' must cover
    ALL ranked columns, identical to a never-pruned executor — and the
    pruned base stays persisted."""
    from data_transformation_2022_spark.engine import Executor
    from data_transformation_2022_spark.operators.steps import Step
    from data_transformation_2022_spark.plans.search import Candidate

    cols = [f"m{i}" for i in range(6)]
    df = spark.createDataFrame(
        [tuple(float(i * 7 + j) for j in range(6)) + (f"g{i % 2}",)
         for i in range(30)],
        ", ".join(f"{c} double" for c in cols) + ", g string",
    )
    rank = Step(
        t="rank", i_type="==", i=list(cols), o_type="append",
        index=[f"rank {c}" for c in cols],
    )
    ex = Executor(df, sample_cap=10)
    narrow = Candidate(
        family="sum_bar", steps=[rank],
        out_cols=["rank m1"], derived=["rank m1"],
    )
    # registration prunes the rank base to the narrow consumer's width
    ex.prefetch(frame_jobs=[], bar_jobs=[("g", narrow, "sum")])
    key = next(iter(ex._persisted))
    assert key[0][1] is not None  # the key holds the keep set
    assert len([c for c in ex._derived_bases[key].columns
                if c.startswith("rank ")]) == 1
    # now extend the SAME chain with a dynamic-selector horizontal sum
    hsum = Step(t="sum", i_type="num", i=[], o_type="append",
                index=["SUM over num"])
    wide = Candidate(
        family="sum_bar", steps=[rank, hsum],
        out_cols=["SUM over num"], derived=["SUM over num"],
    )
    got = ex.bar_aggregate("g", wide, "sum")
    ex2 = Executor(df, sample_cap=10)
    want = ex2.bar_aggregate("g", wide, "sum")
    g = {r["g"]: r["SUM(SUM over num)"] for _, r in got.iterrows()}
    w = {r["g"]: r["SUM(SUM over num)"] for _, r in want.iterrows()}
    assert g == w, (g, w)
    assert key in ex._persisted
    assert len([c for c in ex._derived_bases[key].columns
                if c.startswith("rank ")]) == 1
    ex.release()
    ex2.release()


def test_second_registration_builds_its_own_pruned_base(spark, monkeypatch):
    """A second prefetch whose consumers read ranked columns the first
    registration pruned away builds a base ranking only those columns:
    no batched job fails over to the one-aggregate path, nothing is
    rebuilt at full width, the first base stays persisted, and the sums
    equal a fresh executor's."""
    from data_transformation_2022_spark.engine import Executor
    from data_transformation_2022_spark.operators.steps import Step
    from data_transformation_2022_spark.plans.search import Candidate

    cols = [f"m{i}" for i in range(6)]
    df = spark.createDataFrame(
        [tuple(float((i * 7 + j) % 13) for j in range(6)) + (f"g{i % 3}",)
         for i in range(30)],
        ", ".join(f"{c} double" for c in cols) + ", g string",
    )
    rank = Step(
        t="rank", i_type="==", i=list(cols), o_type="append",
        index=[f"rank {c}" for c in cols],
    )

    def summing(*names: str) -> Candidate:
        return Candidate(
            family="sum_bar", steps=[rank], out_cols=list(names), derived=list(names)
        )

    first, second = summing("rank m1"), summing("rank m2", "rank m3")
    ex = Executor(df, sample_cap=10)
    ex.prefetch([], [("g", first, "sum")])
    (first_key,) = ex._persisted
    first_frames = ex._persisted[first_key]

    fallbacks = []
    one_agg = Executor._bar_aggregate

    def spy(self, *args):
        fallbacks.append(args)
        return one_agg(self, *args)

    monkeypatch.setattr(Executor, "_bar_aggregate", spy)
    ex.prefetch([], [("g", second, "sum")])
    monkeypatch.undo()
    truth = Executor(df, sample_cap=10)
    try:
        assert fallbacks == []
        (new_key,) = [k for k in ex._persisted if k != first_key]
        ranked = sorted(
            c for c in ex._derived_bases[new_key].columns if c.startswith("rank ")
        )
        assert ranked == ["rank m2", "rank m3"]
        assert ex._persisted[first_key] is first_frames
        assert all(f.is_cached for f in first_frames)
        for cand in (first, second):
            got = ex.bar_aggregate("g", cand, "sum").sort_values("g").reset_index(drop=True)
            want = truth.bar_aggregate("g", cand, "sum").sort_values("g").reset_index(drop=True)
            assert got.equals(want), cand.out_cols
    finally:
        ex.release()
        truth.release()


def test_bar_prefetch_name_collision_split(spark):
    """r12 verdict "What's wrong" #1 regression (live-repro template):
    two DISTINCT clusters whose derived columns collide in name —
    {temp_min,temp_max} and {temp_avg,temp_std} both emit
    "sub: (temp)" via common_suffix_name — land in one merged bar
    group, and the pre-fix graft (output-name presence) silently
    aggregated candidate A's expression for candidate B. The prefetch
    memo must equal per-candidate bar_aggregate ground truth for BOTH
    candidates, at level 0 (no persisted prefix) and at level 1
    (colliding tails over a shared persisted rank prefix)."""
    from data_transformation_2022_spark.engine import Executor
    from data_transformation_2022_spark.operators.steps import Step
    from data_transformation_2022_spark.plans.search import (
        Candidate,
        common_suffix_name,
    )

    name = common_suffix_name("sub", ["temp_min", "temp_max"])
    assert name == common_suffix_name("sub", ["temp_avg", "temp_std"])
    assert name == "sub: (temp)"

    df = spark.createDataFrame(
        [
            (float(i), float(i) + 1.0, 100.0 * i, 100.0 * i + 27.0, f"g{i % 3}")
            for i in range(60)
        ],
        "temp_min double, temp_max double, temp_avg double, "
        "temp_std double, g string",
    )

    def _vals(frame, col):
        return {r["g"]: r[col] for _, r in frame.iterrows()}

    # --- level 0: arithmetic-only chains, merged with the count group
    sub_a = Step(t="sub", i_type="==", i=["temp_min", "temp_max"],
                 o_type="append", index=[name])
    sub_b = Step(t="sub", i_type="==", i=["temp_avg", "temp_std"],
                 o_type="append", index=[name])
    cand_a = Candidate(family="sum_bar", steps=[sub_a],
                       out_cols=[name], derived=[name])
    cand_b = Candidate(family="sum_bar", steps=[sub_b],
                       out_cols=[name], derived=[name])
    ex = Executor(df, sample_cap=10)
    ex.prefetch(
        frame_jobs=[],
        bar_jobs=[("g", cand_a, "sum"), ("g", cand_b, "sum"),
                  ("g", None, "count")],
    )
    # both entries must have been filled by prefetch (memo, not lazy)
    assert ("g", cand_a.signature(), "sum") in ex._bar_frames
    assert ("g", cand_b.signature(), "sum") in ex._bar_frames
    got_a = ex.bar_aggregate("g", cand_a, "sum")
    got_b = ex.bar_aggregate("g", cand_b, "sum")
    truth = Executor(df, sample_cap=10)
    want_a = truth.bar_aggregate("g", cand_a, "sum")
    want_b = truth.bar_aggregate("g", cand_b, "sum")
    col = f"SUM({name})"
    assert _vals(got_a, col) == _vals(want_a, col)
    assert _vals(got_b, col) == _vals(want_b, col)
    # the two candidates genuinely differ — the r12 bug returned A for B
    assert _vals(want_a, col) != _vals(want_b, col)
    ex.release()
    truth.release()

    # --- level 1: colliding tails over a SHARED persisted rank prefix
    rank = Step(
        t="rank", i_type="==",
        i=["temp_min", "temp_max", "temp_avg", "temp_std"],
        o_type="append",
        index=["rank temp_min", "rank temp_max",
               "rank temp_avg", "rank temp_std"],
    )
    rname = common_suffix_name("sub", ["rank temp_min", "rank temp_max"])
    assert rname == common_suffix_name("sub", ["rank temp_avg", "rank temp_std"])
    rsub_a = Step(t="sub", i_type="==", i=["rank temp_min", "rank temp_max"],
                  o_type="append", index=[rname])
    rsub_b = Step(t="sub", i_type="==", i=["rank temp_avg", "rank temp_std"],
                  o_type="append", index=[rname])
    rcand_a = Candidate(family="sum_bar", steps=[rank, rsub_a],
                        out_cols=[rname], derived=[rname])
    rcand_b = Candidate(family="sum_bar", steps=[rank, rsub_b],
                        out_cols=[rname], derived=[rname])
    ex3 = Executor(df, sample_cap=10)
    ex3.prefetch(
        frame_jobs=[],
        bar_jobs=[("g", rcand_a, "sum"), ("g", rcand_b, "sum")],
    )
    assert ("g", rcand_a.signature(), "sum") in ex3._bar_frames
    assert ("g", rcand_b.signature(), "sum") in ex3._bar_frames
    rgot_a = ex3.bar_aggregate("g", rcand_a, "sum")
    rgot_b = ex3.bar_aggregate("g", rcand_b, "sum")
    truth2 = Executor(df, sample_cap=10)
    rwant_a = truth2.bar_aggregate("g", rcand_a, "sum")
    rwant_b = truth2.bar_aggregate("g", rcand_b, "sum")
    rcol = f"SUM({rname})"
    assert _vals(rgot_a, rcol) == _vals(rwant_a, rcol)
    assert _vals(rgot_b, rcol) == _vals(rwant_b, rcol)
    ex3.release()
    truth2.release()


def test_split_name_conflicts_unit():
    """Pure-python contract of the r13 merged-group splitter: colliding
    derived names split; distinct non-colliding chains stay merged (the
    r12 single-job batching); a derived name shadowing an ORIGINAL
    column another entry reads splits; dynamic-selector chains isolate
    to their identical chain only."""
    from data_transformation_2022_spark.engine import _split_name_conflicts
    from data_transformation_2022_spark.operators.steps import Step
    from data_transformation_2022_spark.plans.search import Candidate

    def cand(steps, out_cols):
        return Candidate(family="sum_bar", steps=steps, out_cols=out_cols,
                         derived=out_cols)

    def entry(x, c, agg="sum"):
        key = (x, c.signature() if c is not None else None, agg)
        return (key, x, c, agg)

    sub_a = Step(t="sub", i_type="==", i=["temp_min", "temp_max"],
                 o_type="append", index=["sub: (temp)"])
    sub_b = Step(t="sub", i_type="==", i=["temp_avg", "temp_std"],
                 o_type="append", index=["sub: (temp)"])
    a = cand([sub_a], ["sub: (temp)"])
    b = cand([sub_b], ["sub: (temp)"])

    # colliding name, different content → 2 parts
    parts = _split_name_conflicts({"g": [entry("g", a), entry("g", b)]})
    assert len(parts) == 2

    # same chain twice (different x) → 1 part
    parts = _split_name_conflicts(
        {"g": [entry("g", a)], "h": [entry("h", a)]}
    )
    assert len(parts) == 1

    # distinct chains, distinct names → 1 part (batching preserved)
    sub_c = Step(t="sub", i_type="==", i=["p_one", "p_two"],
                 o_type="append", index=["sub: (p)"])
    c = cand([sub_c], ["sub: (p)"])
    parts = _split_name_conflicts(
        {"g": [entry("g", a), entry("g", c), entry("g", None, "count")]}
    )
    assert len(parts) == 1

    # derived name shadowing an original column another entry sums → split
    shadow = Step(t="sub", i_type="==", i=["p_one", "p_two"],
                  o_type="append", index=["temp_min"])
    d = cand([shadow], ["temp_min"])
    plain = cand([], ["temp_min"])  # sums the ORIGINAL temp_min
    parts = _split_name_conflicts({"g": [entry("g", d), entry("g", plain)]})
    assert len(parts) == 2

    # dynamic-selector chains merge only with their identical chain
    hsum = Step(t="sum", i_type="num", i=[], o_type="append",
                index=["SUM over num"])
    dyn = cand([hsum], ["SUM over num"])
    parts = _split_name_conflicts(
        {"g": [entry("g", dyn), entry("g", c)]}
    )
    assert len(parts) == 2
    parts = _split_name_conflicts(
        {"g": [entry("g", dyn)], "h": [entry("h", dyn)]}
    )
    assert len(parts) == 1


def test_release_joined_before_next_executor(spark):
    """ADVICE r12: CacheManager uncaches by analyzed-plan equality, so a
    delayed async release() could evict a NEW executor's plan-identical
    fresh persist. A new Executor must join pending release threads
    before persisting anything."""
    import data_transformation_2022_spark.engine as eng

    df = spark.createDataFrame(
        [(float(i), f"g{i % 2}") for i in range(20)], "a double, g string"
    )
    ex = eng.Executor(df, sample_cap=10)
    ex.release()
    assert len(eng._PENDING_RELEASES) == 1
    pending = eng._PENDING_RELEASES[0]
    ex2 = eng.Executor(df, sample_cap=10)  # same df → plan-identical sample
    assert eng._PENDING_RELEASES == [] and not pending.is_alive()
    ex2.release()
    # drain so this test leaves no cross-test state
    while eng._PENDING_RELEASES:
        eng._PENDING_RELEASES.pop().join(timeout=60)


def test_release_reclaims_spark_storage(spark):
    """r13 VERDICT watch-list #2: release() trades the explicit
    localCheckpoint unpersists for ContextCleaner (reference-tracked,
    GC-driven) reclamation. A serving loop must therefore return the
    Spark-side storage to its pre-loop level once references drop and a
    GC cycle runs — this pins that the memo-clear really releases the
    last references (a kept reference would float blocks forever)."""
    import gc
    import time

    import data_transformation_2022_spark.engine as eng

    def cached_rdds() -> int:
        return sum(
            1
            for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
            if info.numCachedPartitions() > 0
        )

    df = spark.createDataFrame(
        [(float(i), float(i * 2), float(i % 7), f"g{i % 3}") for i in range(40)],
        "a double, b double, c double, g string",
    )
    base = cached_rdds()
    for _ in range(2):
        res = recommend(df, dm_ts=["pca", "kmeans"], sample_cap=20)
        assert res.charts is not None
    while eng._PENDING_RELEASES:
        eng._PENDING_RELEASES.pop().join(timeout=60)
    deadline = time.time() + 60
    while time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        if cached_rdds() <= base:
            break
        time.sleep(1.0)
    assert cached_rdds() <= base, (
        f"serving loop leaked cached RDDs: {cached_rdds()} > baseline {base}"
    )


def test_small_df_value_identity(spark):
    """small_df (r13): Arrow-batched literal frames must be
    value-identical to the python-list createDataFrame path — same
    schema, same rows — for the metadata shapes the package ships
    (offsets, centroids/arrays, string keys), including empty input and
    StructType schemas; un-representable rows fall back to the list
    path rather than failing."""
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    from data_transformation_2022_spark.session import small_df

    cases = [
        ([(0, 10), (1, 20)], "b int, off bigint"),
        ([(1, [1.0, 2.0]), (2, [3.0, 4.0])], "id int, v array<double>"),
        ([("a", 0.5), ("b", -1.5)], "k string, x double"),
        ([], "b int, off bigint"),
        (
            [("s", 1)],
            StructType(
                [StructField("k", StringType()), StructField("n", IntegerType())]
            ),
        ),
    ]
    for rows, schema in cases:
        got = small_df(spark, rows, schema)
        want = spark.createDataFrame(rows, schema)
        assert got.schema == want.schema, (rows, schema)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), (rows, schema)


def test_small_df_generator_safe(spark, monkeypatch):
    """A generator input must survive a failed Arrow attempt intact:
    rows are materialized BEFORE the try, so the fallback path sees the
    full data, never an exhausted iterator."""
    import pandas as pd

    from data_transformation_2022_spark.session import small_df

    out = small_df(spark, ((i, float(i)) for i in range(5)), "a int, b double")
    assert out.count() == 5
    # force the Arrow attempt to fail mid-conversion; the generator's
    # rows must still all reach the fallback list path
    class Boom:  # a real type: pyspark's isinstance checks must not break
        def __init__(self, *a, **k):
            raise RuntimeError("forced arrow failure")

    monkeypatch.setattr(pd, "DataFrame", Boom)
    got = small_df(spark, ((i, float(i)) for i in range(4)), "a int, b double")
    assert got.count() == 4


def test_merge_rid_rejects_duplicate_column_names():
    """_merge_rid's positional fast path builds a dict of columns, which
    would keep one of two equally named columns: a repeated name in
    either frame raises instead; distinct names still merge."""
    import pandas as pd

    from data_transformation_2022_spark.engine import _merge_rid
    from data_transformation_2022_spark.operators.steps import RID

    left = pd.DataFrame({RID: [0, 1], "x": [1.0, 2.0]})
    right = pd.DataFrame({RID: [0, 1], "y": [3.0, 4.0]})
    merged = _merge_rid(left, right)
    assert list(merged.columns) == [RID, "x", "y"]
    assert merged["y"].tolist() == [3.0, 4.0]
    dup = pd.DataFrame([[0, 5.0, 6.0], [1, 7.0, 8.0]], columns=[RID, "y", "y"])
    for a, b in ((left, dup), (dup, left)):
        with pytest.raises(ValueError, match="duplicate column names \\['y'\\]"):
            _merge_rid(a, b)


def test_level0_bars_register_while_rank_levels_register(spark):
    """prefetch queues the bar groups with no persisted base first: their
    threads register their arithmetic chains while the table side
    registers (and materialises) the rank levels. Under a tiny GIL
    switch interval and more bar threads than cores, every registered
    chain is still memoised and every bar equals a fresh executor's."""
    import sys

    from data_transformation_2022_spark.engine import Executor
    from data_transformation_2022_spark.operators.steps import Step, steps_key
    from data_transformation_2022_spark.plans.search import Candidate

    cols = [f"m{i}" for i in range(6)]
    df = spark.createDataFrame(
        [tuple(float((i * 7 + j) % 11) for j in range(6)) + (f"g{i % 3}", f"h{i % 2}")
         for i in range(40)],
        ", ".join(f"{c} double" for c in cols) + ", g string, h string",
    )
    rank = Step(t="rank", i_type="==", i=["m0", "m1"], o_type="append",
                index=["rank m0", "rank m1"])
    cands = [
        Candidate(family="sum_bar", steps=[step], out_cols=[f"d{k}"], derived=[f"d{k}"])
        for k, step in enumerate(
            Step(t=t, i_type="==", i=[a, b], o_type="append", index=[f"d{k}"])
            for k, (t, a, b) in enumerate(
                [("sub", "m2", "m3"), ("div", "m4", "m5"), ("mul", "m2", "m5"), ("sub", "m4", "m3")]
            )
        )
    ]
    cands.append(Candidate(family="sum_bar", steps=[rank], out_cols=["rank m0"], derived=["rank m0"]))
    cands.append(Candidate(
        family="sum_bar",
        steps=[rank, Step(t="sub", i_type="==", i=["rank m1", "rank m0"], o_type="append", index=["rd"])],
        out_cols=["rd"], derived=["rd"],
    ))
    jobs = [(x, c, "sum") for x in ("g", "h") for c in cands] + [("g", None, "count")]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        ex = Executor(df, sample_cap=10)
        ex.prefetch(frame_jobs=[], bar_jobs=jobs, workers=16)
    finally:
        sys.setswitchinterval(old)
    truth = Executor(df, sample_cap=10)
    try:
        for x, c, agg in jobs:
            assert (x, c.signature() if c else None, agg) in ex._bar_frames
            got = ex.bar_aggregate(x, c, agg).sort_values(x).reset_index(drop=True)
            want = truth.bar_aggregate(x, c, agg).sort_values(x).reset_index(drop=True)
            assert got.equals(want), (x, c, agg)
        chains = {tuple(st for st, _keep in k) for k in ex._derived_bases}
        for c in cands[-2:]:
            assert steps_key(c.steps) in chains
    finally:
        ex.release()
        truth.release()
