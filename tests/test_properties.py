"""Property-based tests (SURVEY §5d): the invariants the reference never
checked — Pareto-pruner soundness, profiler type inference and key
election, scalable-rank/rid equivalence with the naive global window.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from data_transformation_2022_spark.plans.load import Load, cal_load, prune_dominated

loads = st.builds(
    Load,
    st.floats(0, 100, allow_nan=False),
    st.floats(0, 10, allow_nan=False),
    st.floats(0, 10, allow_nan=False),
)


@given(st.lists(loads, min_size=1, max_size=30))
def test_prune_keeps_no_dominated_survivor(ls):
    items = [(l, i) for i, l in enumerate(ls)]
    kept = prune_dominated(items)
    # soundness: no survivor is dominated by any original candidate
    for load, _ in kept:
        assert not any(o.dominates(load) for o, _ in items)
    # non-triviality: at least one minimal element always survives
    assert kept


@given(loads, loads)
def test_dominates_is_strict_partial_order(a, b):
    assert not a.dominates(a)  # irreflexive
    assert not (a.dominates(b) and b.dominates(a))  # asymmetric


@given(loads, loads)
def test_load_addition_monotone(a, b):
    s = a + b
    assert s.compute >= a.compute and s.dim_dist >= a.dim_dist and s.sem_dist >= a.sem_dist


def test_cal_load_matches_reference_table():
    # reference L.py:1-12 unit costs, scaled by column count
    assert cal_load("sum", 3) == 30.0
    assert cal_load("mul", 2) == 100.0
    assert cal_load("aggr") == 100.0
    assert cal_load("unknown_op", 5) == 5.0


# ---- profiler properties (Spark-backed: few, fat examples) ----


@pytest.mark.usefixtures("spark")
class TestProfilerProperties:
    @settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        n=st.integers(30, 80),
        dup=st.booleans(),
    )
    def test_key_election_iff_all_distinct(self, spark, n, dup):
        from data_transformation_2022_spark.profiler import profile_table

        ids = list(range(n))
        if dup:
            ids[1] = ids[0]  # one duplicate kills keyness
        pdf = pd.DataFrame({"id": ids, "val": [float(i) * 0.5 for i in range(n)]})
        prof = profile_table(spark.createDataFrame(pdf), cluster=False)
        assert prof.columns["id"].is_key == (not dup)
        # a key must never be nominal-ized away
        if not dup:
            assert prof.key == "id"

    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(n_cat=st.integers(2, 4))
    def test_nominal_iff_small_domain(self, spark, n_cat):
        from data_transformation_2022_spark.profiler import profile_table

        n = 200
        pdf = pd.DataFrame(
            {
                "cat": [f"c{i % n_cat}" for i in range(n)],
                "num": [float(i) for i in range(n)],
            }
        )
        prof = profile_table(spark.createDataFrame(pdf), cluster=False)
        assert prof.columns["cat"].semantic == "nominal"  # n_cat ≤ 5% of 200 … ≤ cap
        assert prof.columns["num"].semantic == "real"


# ---- scalable rank ≡ naive global window ----


@pytest.mark.usefixtures("spark")
class TestScalableRankEquivalence:
    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        vals=st.lists(
            st.integers(-50, 50), min_size=5, max_size=60
        )
    )
    def test_global_row_number_matches_sorted_enumeration(self, spark, vals):
        from pyspark.sql import functions as F

        from data_transformation_2022_spark.functions.order import global_row_number

        pdf = pd.DataFrame({"rid": range(len(vals)), "v": vals})
        df = spark.createDataFrame(pdf)
        out = (
            global_row_number(df, ["v", "rid"], "rk", num_partitions=4)
            .orderBy("rid")
            .toPandas()
        )
        expected = pdf["v"].rank(method="first").astype(int)  # pandas oracle
        assert list(out.sort_values("rid")["rk"]) == list(expected)

    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(vals=st.lists(st.integers(0, 9), min_size=5, max_size=60))
    def test_dense_codes_match_np_unique(self, spark, vals):
        import numpy as np

        from data_transformation_2022_spark.functions.order import global_row_number

        pdf = pd.DataFrame({"rid": range(len(vals)), "v": vals})
        df = spark.createDataFrame(pdf)
        out = (
            global_row_number(df, ["v"], "code", dense=True, zero_based=True, num_partitions=4)
            .orderBy("rid")
            .toPandas()
        )
        uniq = {v: i for i, v in enumerate(np.unique(vals))}
        assert list(out.sort_values("rid")["code"]) == [uniq[v] for v in vals]


# a pool with every ordering corner: nulls (first), NaN (last), -0.0 and
# 0.0 (one value to a sort), and ties
_RANK_POOL = [None, float("nan"), -0.0, 0.0, 1.0, 2.0, 2.5, -3.0]


@pytest.mark.usefixtures("spark")
class TestGlobalRanksMatchWindow:
    """functions.order's bucketed ranks equal Spark's own global-window
    ``row_number`` (ties by rid) and ``dense_rank``, whatever the bucket
    boundaries: computed by the boundary job, given empty (one bucket),
    or given badly unbalanced (nearly every row in one bucket) — with
    the per-bucket counts from the counting job or read off the
    persisted ranking."""

    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        a=st.lists(st.sampled_from(_RANK_POOL), min_size=1, max_size=40),
        bounds=st.sampled_from(["computed", "empty", "unbalanced"]),
        persist=st.booleans(),
    )
    @example(a=[None, 1.0, 2.0, 3.0, None, 4.0, 5.0, 6.0, 7.0, 8.0], bounds="computed", persist=False)
    def test_ranks_equal_global_window(self, spark, a, bounds, persist):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from data_transformation_2022_spark.functions.order import (
            global_ranks_multi,
            global_row_number,
        )

        # b: integer ties and nulls on another bucket layout than a's
        rows = [(i, v, None if i % 4 == 3 else i % 3) for i, v in enumerate(a)]
        df = spark.createDataFrame(rows, "rid bigint, a double, b bigint")
        given_bounds = {
            "computed": None,
            "empty": {"a": [], "b": []},
            "unbalanced": {"a": [100.0, 200.0], "b": [-5]},
        }[bounds]

        def window(c: str, dense: bool):
            if dense:
                return F.dense_rank().over(Window.orderBy(c)) - 1
            return F.row_number().over(Window.orderBy(c, "rid"))

        def by_rid(frame, cols: list[str]) -> dict:
            return {r["rid"]: tuple(r[c] for c in cols) for r in frame.select("rid", *cols).collect()}

        held: list = []
        try:
            for dense in (False, True):
                want = by_rid(
                    df.select("rid", window("a", dense).alias("ra"), window("b", dense).alias("rb")),
                    ["ra", "rb"],
                )
                got = global_ranks_multi(
                    df, ["a", "b"], ["ra", "rb"], dense=dense, zero_based=dense,
                    tie_col=None if dense else "rid", num_partitions=4,
                    boundaries=given_bounds, persisted=held if persist else None,
                )
                assert by_rid(got, ["ra", "rb"]) == want, (dense, bounds, persist)
                one = global_ranks_multi(
                    df, ["a"], ["ra"], dense=dense, zero_based=dense,
                    tie_col=None if dense else "rid", num_partitions=4,
                    boundaries=given_bounds, persisted=held if persist else None,
                )
                assert by_rid(one, ["ra"]) == {k: v[:1] for k, v in want.items()}
                rn = global_row_number(
                    df, ["a"] if dense else ["a", "rid"], "ra", dense=dense,
                    zero_based=dense, num_partitions=4, materialize=persist,
                )
                assert by_rid(rn, ["ra"]) == {k: v[:1] for k, v in want.items()}
        finally:
            for frame in held:
                frame.unpersist()


class TestExtensionProperties:
    @settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
    @given(rate=st.sampled_from([0.05, 0.25, 0.5, 0.9]))
    def test_hash_sample_nested(self, spark, rate):
        # a hash sample at rate r is a SUBSET of the same-salt sample at
        # any higher rate (thresholding one shared uniform bucket), and
        # rates compose monotonically — the property that makes
        # incremental corpus scaling (5% -> 25% -> 100%) re-use work
        from data_transformation_2022_spark.operators.sampling import hash_sample

        pdf = pd.DataFrame({"k": range(400)})
        df = spark.createDataFrame(pdf)
        small = {r["k"] for r in hash_sample(df, ["k"], rate).collect()}
        big = {r["k"] for r in hash_sample(df, ["k"], min(1.0, rate + 0.1)).collect()}
        assert small <= big

    @settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
    @given(seed=st.integers(0, 3))
    def test_quantize_int8_roundtrip_error_bounded(self, spark, seed):
        # |dequantized - original| <= scale/2 for every element: the
        # defining guarantee of symmetric scalar quantization
        import numpy as np

        from pyspark.sql import functions as F

        from data_transformation_2022_spark.functions.vectors import (
            quantize_int8_value,
            quantize_scale_int8,
        )

        rng = np.random.RandomState(seed)
        vecs = [(i, [float(x) for x in rng.normal(size=16)]) for i in range(20)]
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        out = (
            df.select(
                "vec_id",
                quantize_scale_int8(F.col("embedding")).alias("scale"),
                F.posexplode("embedding").alias("dim", "val"),
            )
            .select(
                "val",
                "scale",
                quantize_int8_value(F.col("val"), F.col("scale")).alias("q"),
            )
            .collect()
        )
        for r in out:
            assert abs(r["q"] * r["scale"] - r["val"]) <= r["scale"] / 2 + 1e-12

    def test_ngram_cap_pairs_subset_of_uncapped(self, spark):
        # stop-shingle capping can only REMOVE pairs (never invent
        # overlap): capped candidate-pair set is a subset of uncapped
        from data_transformation_2022_spark.operators.dedup import ngram_jaccard_pairs

        docs = spark.createDataFrame(
            [(i, f"shared phrase here tail{i} word{i} extra{i % 3}") for i in range(12)],
            "doc_id long, text string",
        )
        capped = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", threshold=0.0, max_df=4
            ).collect()
        }
        uncapped = {
            (r["id_a"], r["id_b"])
            for r in ngram_jaccard_pairs(
                docs, "doc_id", "text", threshold=0.0, max_df=None, max_rows=None
            ).collect()
        }
        assert capped <= uncapped


@pytest.mark.usefixtures("spark")
class TestConnectedComponentsEquivalence:
    @settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        edges=st.lists(
            st.tuples(st.integers(0, 25), st.integers(0, 25)),
            min_size=1,
            max_size=40,
        )
    )
    def test_star_and_propagation_match_union_find(self, spark, edges):
        """Both distributed engines must agree with a driver union-find
        oracle on arbitrary graphs (self-loops and duplicates included)."""
        from data_transformation_2022_spark.operators.dedup import (
            connected_components,
        )

        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            return
        # union-find oracle
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        expected = {n: find(n) for n in parent}

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        for algo in ("propagation", "star", "driver"):
            got = {
                r["id"]: r["component"]
                for r in connected_components(pairs, algorithm=algo).collect()
            }
            assert got == expected, algo


@pytest.mark.usefixtures("spark")
class TestTextPrimitiveEquivalence:
    """The oracle story rests on a handful of primitives being
    bit-identical to their portable definitions; pin them against pure
    Python over arbitrary inputs."""

    @settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        texts=st.lists(
            st.text(
                alphabet=st.sampled_from("ab c\tD0!.\n"),
                max_size=40,
            ),
            min_size=1,
            max_size=8,
        )
    )
    def test_tokens_and_shingles_match_python(self, spark, texts):
        from pyspark.sql import functions as F

        from data_transformation_2022_spark.functions.text import tokens_ws
        from data_transformation_2022_spark.operators.dedup import (
            shingles_of_tokens,
        )

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "id long, text string"
        )
        toked = df.select(
            "id", tokens_ws(F.lower(F.col("text"))).alias("toks")
        )
        out = {
            r["id"]: (r["toks"], r["sh"])
            for r in toked.select(
                "id", "toks", shingles_of_tokens(F.col("toks")).alias("sh")
            ).collect()
        }
        for i, t in enumerate(texts):
            ptoks = [w for w in t.lower().split() if w]
            psh = []
            for j in range(len(ptoks) - 2):
                s = " ".join(ptoks[j : j + 3])
                if s not in psh:
                    psh.append(s)
            assert out[i][0] == ptoks, t
            assert out[i][1] == psh, t

    @settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        keys=st.lists(
            st.text(alphabet=st.sampled_from("abc019_-"), min_size=1, max_size=20),
            min_size=1,
            max_size=10,
            unique=True,
        ),
        salt=st.sampled_from(["", "bench", "split"]),
    )
    def test_hash_bucket_matches_python_md5(self, spark, keys, salt):
        import hashlib

        from pyspark.sql import functions as F

        from data_transformation_2022_spark.operators.sampling import (
            _BUCKETS,
            hash_bucket,
        )

        df = spark.createDataFrame([(k,) for k in keys], "k string")
        got = {
            r["k"]: r["b"]
            for r in df.select("k", hash_bucket(F.col("k"), salt).alias("b")).collect()
        }
        for k in keys:
            key = f"{k}|{salt}"
            expect = int(hashlib.md5(key.encode()).hexdigest()[:15], 16) % _BUCKETS
            assert got[k] == expect, (k, salt)


class TestRound4Properties:
    """Property gates for the round-4 operators: exact quantiles vs
    numpy on arbitrary distributions, chunk coverage reconstruction,
    packing offset arithmetic."""

    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        seed=st.integers(0, 2**31 - 1),
        dist=st.sampled_from(["uniform", "lognormal", "tied", "tiny"]),
    )
    def test_exact_quantile_grid_equals_numpy(self, spark, seed, dist):
        import numpy as np
        import pandas as pd

        from data_transformation_2022_spark.profiler import exact_quantile_grid

        rng = np.random.RandomState(seed)
        n = {"uniform": 3000, "lognormal": 3000, "tied": 3000, "tiny": 5}[dist]
        if dist == "uniform":
            x = rng.rand(n)
        elif dist == "lognormal":
            x = np.exp(rng.randn(n) * 2)
        elif dist == "tied":
            x = rng.randint(0, 4, n).astype(float)
        else:
            x = rng.randn(n)
        df = spark.createDataFrame(pd.DataFrame({"v": x}))
        probs = [0.0, 0.1, 0.25, 0.5, 0.77, 0.9, 1.0]
        got = exact_quantile_grid(df, ["v"], probs, n_buckets=16, bucket_row_cap=500)
        want = np.quantile(x, probs, method="linear")
        assert np.allclose(got["v"], want, rtol=0, atol=1e-9), (dist, seed)

    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(
        seed=st.integers(0, 2**31 - 1),
        size=st.integers(20, 300),
        overlap=st.integers(0, 19),
    )
    def test_chunks_reconstruct_document(self, spark, seed, size, overlap):
        """Concatenating chunk[0] with the non-overlapping tail of every
        later chunk must reproduce the document exactly — the coverage
        property that makes the chunking usable for RAG indexing."""
        import random

        from data_transformation_2022_spark.functions.text import chunk_documents

        rnd = random.Random(seed)
        texts = [
            (i, "".join(rnd.choice("abcdef ") for _ in range(rnd.randint(1, 700))))
            for i in range(4)
        ]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        step = size - overlap
        rows = chunk_documents(df, "doc_id", "text", chunk_chars=size, overlap=overlap)
        # reconstruct via substring positions (chunk_md5 pins content):
        # verify counts and lengths against direct computation
        got = {}
        for r in rows.collect():
            got.setdefault(r["doc_id"], []).append((r["chunk_id"], r["chunk_len"]))
        import math

        for doc_id, text in texts:
            n = len(text)
            expect_chunks = max(math.ceil((n - overlap) / step), 1)
            chunks = sorted(got[doc_id])
            assert len(chunks) == expect_chunks, (doc_id, n)
            for cid, clen in chunks:
                assert clen == len(text[cid * step : cid * step + size])
            # full coverage: last chunk reaches the end of the document
            last_id, last_len = chunks[-1]
            assert last_id * step + last_len == n

    @settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
    @given(seed=st.integers(0, 2**31 - 1), budget=st.integers(5, 200))
    def test_packing_matches_prefix_sum_rule(self, spark, seed, budget):
        import random

        from data_transformation_2022_spark.operators.packing import pack_sequences

        rnd = random.Random(seed)
        texts = [
            (i, " ".join(["w"] * rnd.randint(1, 50))) for i in range(60)
        ]
        df = spark.createDataFrame(texts, "doc_id long, text string")
        packed = {
            r["doc_id"]: (r["n_tokens"], r["pack_id"])
            for r in pack_sequences(df, "doc_id", "text", budget=budget).collect()
        }
        cum = 0
        for i, t in texts:
            n = len(t.split(" "))
            assert packed[i][0] == n
            assert packed[i][1] == cum // budget, (i, budget)
            cum += n


# ---------------------------------------------------------------------------
# r13: merged-bar-group splitter (engine._split_name_conflicts)
# ---------------------------------------------------------------------------

_name_pool = st.sampled_from(["sub: (t)", "div: (t)", "d1", "d2", "m1", "m2"])
_col_pool = st.sampled_from(["a", "b", "c", "d"])


def _mk_entry(x, in_cols, out_name, agg):
    """Bar-prefetch entry shaped like prefetch's uniq_bars values."""
    from data_transformation_2022_spark.operators.steps import Step
    from data_transformation_2022_spark.plans.search import Candidate

    if agg == "count":
        return ((x, None, "count"), x, None, "count")
    steps = [
        Step(t="sub", i_type="==", i=list(in_cols), o_type="append",
             index=[out_name])
    ]
    cand = Candidate(family="sum_bar", steps=steps, out_cols=[out_name],
                     derived=[out_name])
    return ((x, cand.signature(), agg), x, cand, agg)


_entries = st.lists(
    st.tuples(
        st.sampled_from(["g", "h"]),
        st.lists(_col_pool, min_size=2, max_size=2, unique=True),
        _name_pool,
        st.sampled_from(["sum", "sum", "sum", "count"]),
    ),
    min_size=1,
    max_size=12,
)


@given(_entries)
@settings(max_examples=60, deadline=None)
def test_split_name_conflicts_properties(specs):
    """Partition property: every input entry lands in exactly one part;
    within a part every derived output name maps to exactly one step
    content; and when the input has no colliding names at all, the
    split preserves the single-job batching (one part)."""
    from data_transformation_2022_spark.engine import (
        _entry_name_contents,
        _split_name_conflicts,
    )

    by_x: dict[str, list] = {}
    for x, in_cols, out_name, agg in specs:
        by_x.setdefault(x, []).append(_mk_entry(x, in_cols, out_name, agg))
    parts = _split_name_conflicts(by_x)

    # exhaustive, disjoint: same multiset of entry keys in and out
    flat = [e[0] for p in parts for es in p.values() for e in es]
    orig = [e[0] for es in by_x.values() for e in es]
    assert sorted(map(repr, flat)) == sorted(map(repr, orig))

    # each part internally content-consistent
    for p in parts:
        seen: dict = {}
        for x_col, es in p.items():
            for _k, _x, cand, agg in es:
                named = _entry_name_contents(x_col, cand, agg)
                for n, v in named.items():
                    assert seen.setdefault(n, v) == v, (n, v, seen[n])

    # no-collision inputs stay one part (the r12 batching preserved)
    global_map: dict = {}
    collision = False
    for x_col, es in by_x.items():
        for _k, _x, cand, agg in es:
            for n, v in _entry_name_contents(x_col, cand, agg).items():
                if global_map.setdefault(n, v) != v:
                    collision = True
    if not collision:
        assert len(parts) == 1
