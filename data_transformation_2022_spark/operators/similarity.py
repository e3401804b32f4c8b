"""Similarity search over an embedding column (``array<float>``).

Three paths:

* **Brute-force cosine top-k (exact, oracle-checkable)** — query-set ×
  corpus join with a DECIMAL-accumulator cosine: bit-identical across
  engines and evaluation orders. Per-vector norms are computed once and
  joined in (same values as per-pair computation, 3× less fold work).
* **Brute-force top-k (fast path)** — Arrow-batched ``mapInPandas``
  with numpy/BLAS matmul against a broadcast query matrix: the
  throughput path; ~100× the HOF fold. Distributed: each partition
  scores its own corpus slice, then a global top-k per query.
* **Random-hyperplane LSH buckets (scale path)** — Pandas-UDF signature
  over seeded hyperplanes; candidates only within equal buckets, so the
  all-pairs blowup disappears. Recall < 1 by design.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import dot_exact, norm_exact
from ..session import small_df
from ..sources.fs import (
    fs_exists as _fs_exists,
    fs_read_text as _fs_read_text,
    fs_write_text as _fs_write_text,
    input_file_signature as _input_file_signature,
)
from ..sources.readers import fan_out


def _with_norm(df: DataFrame, id_col: str, vec_col: str, out: str) -> DataFrame:
    return df.select(F.col(id_col), F.col(vec_col), norm_exact(F.col(vec_col)).alias(out))


def _query_probe_plan(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    cents: np.ndarray,
    n_probe: int,
):
    """The IVF probe stage shared by ivf_topk / ivf_query_index /
    ivf_pq_topk: collect the query set (small by contract — the same
    bounded-driver-work contract as ann_topk_fast), L2-normalize on the
    driver, rank centroids per query, and return
    ``(q_ids, q_mat, probes, bq, probed)`` where ``probes`` is the
    broadcastable (query_id, list_id) relation, ``bq`` broadcasts the
    unit query vectors to executors, and ``probed`` is the sorted
    distinct list-id set (the static partition filter for a persisted
    index read)."""
    spark = queries.sparkSession
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = [int(r[id_col]) for r in q_rows]
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_mat /= np.maximum(np.linalg.norm(q_mat, axis=1, keepdims=True), 1e-12)
    order = np.argsort(-(q_mat @ cents.T), axis=1)[:, :n_probe]
    probes = small_df(
        spark,
        [(qid, int(l)) for qid, row in zip(q_ids, order) for l in row],
        "query_id long, list_id int",
    )
    bq = spark.sparkContext.broadcast({qid: q_mat[i] for i, qid in enumerate(q_ids)})
    probed = sorted({int(l) for row in order for l in row})
    return q_ids, q_mat, probes, bq, probed


def _cos_vs_query_udf(bq, normalize: bool):
    """Arrow-batched cosine of each candidate vector against its
    query's broadcast unit vector. ``normalize=False`` is valid ONLY
    when the candidate vectors are already unit-length (ivf_pq_topk
    normalizes the corpus up front); every other caller must pass
    ``normalize=True``."""

    @F.pandas_udf("double")
    def cos(qids: pd.Series, vecs: pd.Series) -> pd.Series:
        qv = bq.value
        mat = np.array(vecs.tolist(), dtype=np.float64)
        if normalize:
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        qm = np.vstack([qv[q] for q in qids])
        return pd.Series(np.einsum("ij,ij->i", mat, qm))

    return cos


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Deterministic per-query top-k: rounded cosine desc, id tie-break."""
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Exact top-k neighbors per query vector by cosine similarity.

    Rounded before ranking (with id tie-break) so the top-k set is
    deterministic under float noise. Query side broadcasts; the corpus
    never shuffles before the final (tiny) top-k exchange."""
    q = _with_norm(queries, id_col, vec_col, "qn").withColumnsRenamed(
        {id_col: "query_id", vec_col: "qv"}
    )
    c = _with_norm(fan_out(corpus), id_col, vec_col, "cn").withColumnsRenamed(
        {id_col: "cand_id", vec_col: "cv"}
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(
                dot_exact(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), round_digits
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    round_digits: int = 6,
    max_rows: int | None = 50_000,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine ≥ threshold — the exact
    all-pairs (crossJoin) form. It exists as the oracle anchor for the
    LSH path and is **quadratic by construction**, so it refuses inputs
    beyond ``max_rows`` documents (count check) rather than silently
    launching an n² job: at scale use ``lsh_neardup_pairs`` (bucketed,
    near-linear) and reserve this form for verifying a bounded sample.
    Pass ``max_rows=None`` to override explicitly."""
    if max_rows is not None:
        n = df.count()
        if n > max_rows:
            raise ValueError(
                f"cosine_neardup_pairs is the exact all-pairs form: "
                f"{n} rows > max_rows={max_rows} means an O(n²) crossJoin. "
                f"Use lsh_neardup_pairs for large corpora, or pass "
                f"max_rows=None to force."
            )
    a = _with_norm(fan_out(df), id_col, vec_col, "na").withColumnsRenamed({id_col: "id_a", vec_col: "va"})
    b = _with_norm(df, id_col, vec_col, "nb").withColumnsRenamed({id_col: "id_b", vec_col: "vb"})
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    sims = pairs.select(
        "id_a",
        "id_b",
        F.round(dot_exact(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), round_digits).alias(
            "cosine"
        ),
    )
    return sims.filter(F.col("cosine") >= threshold)


def ann_topk_fast(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
) -> DataFrame:
    """Throughput-path brute-force top-k: numpy matmul per Arrow batch
    against a driver-broadcast query matrix, then a global per-query
    top-k. Exact same neighbors as the decimal path up to float noise
    (rows-only checked; the decimal path is the cross-engine oracle)."""
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in q_rows])
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, q_mat))

    def score(batches):
        ids, mat = bq.value
        for pdf in batches:
            c_mat = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            c_mat /= np.linalg.norm(c_mat, axis=1, keepdims=True)
            sims = c_mat @ mat.T  # (batch, nq)
            for qi, qid in enumerate(ids):
                col = sims[:, qi]
                n = min(k + 1, len(col))
                top = np.argpartition(-col, n - 1)[:n]
                out = pd.DataFrame(
                    {
                        "query_id": int(qid),
                        "cand_id": pdf[id_col].iloc[top].to_numpy(),
                        "cosine": col[top],
                    }
                )
                yield out[out.cand_id != qid]

    # no fan_out here: the numpy matmul is ~free per row, so extra
    # partitions just multiply Arrow/worker overhead on small corpora;
    # big corpora arrive pre-partitioned and parallelize naturally
    partial = corpus.select(id_col, vec_col).mapInPandas(
        score, schema="query_id long, cand_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("cand_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "cand_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def ivf_assign_lists(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int = 16,
    seed: int = 9,
    fit_cap: int = 10_000,
) -> tuple[DataFrame, np.ndarray]:
    """IVF coarse quantizer: seeded Lloyd's on a bounded sample trains
    ``n_lists`` centroids (driver numpy — centroids are metadata-sized);
    one distributed pandas-UDF pass assigns every corpus vector to its
    nearest list. At cluster scale the assignment column is the bucketing
    key the corpus would be written partitioned by."""
    from ..ml.coret import _lloyd

    # orderBy(id) before limit: a bare limit is partition-order-dependent,
    # so the centroid fit (hence every downstream list assignment) would
    # change with input partitioning. TakeOrdered, not a global sort.
    sample = df.select(id_col, vec_col).orderBy(id_col).limit(fit_cap).collect()
    x = np.array([r[vec_col] for r in sample], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    # _lloyd returns CENTERS (k, d), not labels — derive the sample's
    # label vector from them before averaging per cluster. (Treating
    # the centers array as labels made `labels == i` an all-False float
    # comparison, so every centroid silently fell back to x[0] and the
    # whole corpus landed in ONE list: no test failed because full-probe
    # is exact regardless and recall is trivially 1.0 with a single hot
    # list — test_ivf_lists_populated now pins real spread.)
    centers = _lloyd(x, n_lists, seed)
    labels = np.argmin(((x[:, None, :] - centers[None]) ** 2).sum(-1), axis=1)
    cents = np.vstack(
        [
            x[labels == i].mean(axis=0) if np.any(labels == i) else centers[i]
            for i in range(n_lists)
        ]
    )
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)
    bc = df.sparkSession.sparkContext.broadcast(cents)

    @F.pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        mat = np.array(vecs.tolist(), dtype=np.float64)
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(mat @ bc.value.T, axis=1).astype("int32"))

    assigned = df.select(
        F.col(id_col), F.col(vec_col), assign(F.col(vec_col)).alias("list_id")
    )
    return assigned, cents


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 9,
    exact_scoring: bool = False,
) -> DataFrame:
    """IVF approximate top-k: score each query only against the
    ``n_probe`` inverted lists whose centroids are nearest to it — the
    scan shrinks to ~n_probe/n_lists of the corpus (and to a partition-
    pruned read when the corpus is stored bucketed by list_id). With
    ``n_probe == n_lists`` this is exactly brute force (tested).

    Queries are collected to the driver (the query set is small by
    contract, as in ann_topk_fast); candidates get exact normalized-dot
    cosine; one tiny per-query top-k exchange finishes."""
    assigned, cents = ivf_assign_lists(corpus, id_col, vec_col, n_lists, seed)
    _, _, probes, bq, _ = _query_probe_plan(queries, id_col, vec_col, cents, n_probe)

    cand = assigned.join(F.broadcast(probes), "list_id").filter(
        F.col(id_col) != F.col("query_id")
    )

    if exact_scoring:
        # decimal-exact cosine over the probed candidate set: with
        # n_probe == n_lists the result must reproduce the brute-force
        # oracle BIT-exactly — attesting the assignment + probe-join
        # mechanics, not just float-level agreement
        # norms once per SIDE, not per pair: the same bit-exact values
        # (norm_exact is a per-row fold), 3x less decimal work across
        # the candidate set, operand order qn*cn preserved
        qdf = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            norm_exact(F.col(vec_col)).alias("qn"),
        )
        joined = cand.withColumn("cn", norm_exact(F.col(vec_col))).join(
            F.broadcast(qdf), "query_id"
        )
        scored = joined.select(
            "query_id",
            F.col(id_col).alias("cand_id"),
            F.round(
                dot_exact(F.col("qv"), F.col(vec_col))
                / (F.col("qn") * F.col("cn")),
                6,
            ).alias("cosine"),
        )
    else:
        cos = _cos_vs_query_udf(bq, normalize=True)
        scored = cand.select(
            "query_id",
            F.col(id_col).alias("cand_id"),
            F.round(cos(F.col("query_id"), F.col(vec_col)), 6).alias("cosine"),
        )
    return _rank_topk(scored, k)


def ivf_build_index(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    path: str,
    n_lists: int = 16,
    seed: int = 9,
    force_rebuild: bool = False,
    shards_per_list: int = 1,
) -> None:
    """Persist an IVF index: the inverted lists land as parquet
    PARTITIONED BY list_id — the layout that turns probing into
    partition-pruned reads (a query touching n_probe of n_lists lists
    reads only those directories, never the whole corpus) — plus the
    centroid table as metadata. Build once, query many: at 100 TB the
    index build is the one full pass; every query afterwards is a
    fraction-of-corpus scan.

    If the index already exists (parquet _SUCCESS marker under
    ``path/lists``) AND its recorded source signature still matches, the
    build is SKIPPED — the serving contract is build-once/query-many
    with automatic invalidation when the corpus files or the index
    parameters change. The signature covers each input file's size and
    modification time (Hadoop FS listing), not just its name, so an
    in-place rewrite of a corpus file invalidates the index; meta.json
    travels through the same Hadoop FileSystem as the parquet writes, so
    non-local paths (s3a://, hdfs://) behave identically to local ones.
    ``force_rebuild=True`` overwrites unconditionally.

    ``shards_per_list`` bounds the OUTPUT FILE COUNT: a bare
    ``partitionBy`` write fans every input task out across every list
    directory (tasks × lists small files — measured 512 files and 2.7×
    the write time at sf0.1), so the data is first repartitioned on
    (list_id, shard) with shard = hash(id) mod shards_per_list, giving
    ≤ n_lists × shards_per_list files written by as many tasks. The
    default 1 is right when a list fits one task's output comfortably;
    at 100 TB set shards_per_list ≈ expected list bytes / target file
    size (e.g. 256 MB) so each list is written in parallel by several
    tasks while the file count stays bounded and skewed lists can't
    serialize the write behind one task."""
    import json as _json

    spark = corpus.sparkSession
    sig = {
        "files": _input_file_signature(corpus),
        "n_lists": n_lists,
        "seed": seed,
        "vec_col": vec_col,
        # bump when the FIT ALGORITHM changes: the signature must cover
        # code semantics, not just data + params, or a persisted index
        # built by an older quantizer silently serves stale lists
        # (exactly what the round-6 centers-as-labels fix would have
        # left behind without this field)
        "fit_version": 2,
    }
    meta_path = f"{path}/meta.json"
    if not force_rebuild and _fs_exists(spark, f"{path}/lists/_SUCCESS"):
        try:
            if _json.loads(_fs_read_text(spark, meta_path)) == sig:
                return
        except Exception:
            pass  # unreadable/missing meta: rebuild
    assigned, cents = ivf_assign_lists(corpus, id_col, vec_col, n_lists, seed)
    shards = max(1, shards_per_list)
    (
        assigned.repartition(
            n_lists * shards,
            F.col("list_id"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(shards)),
        )
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(f"{path}/lists")
    )
    cents_df = small_df(
        spark,
        [(i, [float(v) for v in row]) for i, row in enumerate(cents)],
        "list_id int, centroid array<double>",
    )
    # repartition(1), NOT coalesce(1): coalesce keeps the narrow
    # dependency, so the single write task drains all ~defaultParallelism
    # python-list slices through sequential Python-worker round-trips
    # (measured 5-7 s for these 16 rows at local[32]); the shuffle runs
    # the slices in parallel and the one reducer reads JVM-side bytes
    # (~0.6 s)
    cents_df.repartition(1).write.mode("overwrite").parquet(f"{path}/centroids")
    _fs_write_text(spark, meta_path, _json.dumps(sig))


def ivf_query_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Query a persisted IVF index: rank centroids per query (driver
    numpy over the metadata-sized centroid table), STATICALLY filter the
    lists scan to the probed list_ids — a compile-time partition filter,
    so the read provably touches only n_probe directories per query
    set — then exact cosine over candidates and a per-query top-k."""
    cent_rows = spark.read.parquet(f"{path}/centroids").collect()
    cents = np.vstack(
        [r["centroid"] for r in sorted(cent_rows, key=lambda r: r["list_id"])]
    )

    _, _, probes, bq, probed = _query_probe_plan(queries, id_col, vec_col, cents, n_probe)

    lists = spark.read.parquet(f"{path}/lists").filter(F.col("list_id").isin(probed))
    cand = lists.join(F.broadcast(probes), "list_id").filter(
        F.col(id_col) != F.col("query_id")
    )
    cos = _cos_vs_query_udf(bq, normalize=True)
    scored = cand.select(
        "query_id",
        F.col(id_col).alias("cand_id"),
        F.round(cos(F.col("query_id"), F.col(vec_col)), 6).alias("cosine"),
    )
    return _rank_topk(scored, k)


def pq_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 4,
    k: int = 16,
    seed: int = 9,
    fit_cap: int = 2_000,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: split each vector into ``m``
    contiguous subvectors and fit ``k`` centroids per subvector with
    seeded Lloyd's on a deterministic rid-ordered sample (driver numpy;
    codebooks are metadata-sized: m·k·(d/m) floats). PQ is the standard
    embedding compression at corpus scale — d·4 bytes/vector become m
    code bytes — and the codebooks are plain literals, so assignment is
    a pure codegen'd expression an SQL oracle replays bit-for-bit."""
    from ..ml.coret import _lloyd

    sample = df.select(id_col, vec_col).orderBy(id_col).limit(fit_cap).collect()
    x = np.array([r[vec_col] for r in sample], dtype=np.float64)
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    books: list[list[list[float]]] = []
    for j in range(m):
        xs = np.ascontiguousarray(x[:, j * sub : (j + 1) * sub])
        centers = _lloyd(xs, k, seed + j)  # returns CENTERS (k, sub)
        labels = np.argmin(((xs[:, None, :] - centers[None]) ** 2).sum(-1), axis=1)
        cents = np.vstack(
            [
                xs[labels == c].mean(axis=0) if np.any(labels == c) else centers[c]
                for c in range(k)
            ]
        )
        books.append([[float(v) for v in row] for row in cents])
    return books


def pq_dist_sql(
    books: list[list[list[float]]],
    elem_fmt: str,
    flit,
) -> list[list[str]]:
    """Per-(subvector, centroid) squared-distance formulas as SQL
    strings — the SAME left-folded ``0.0 + (x−c)·(x−c) + …`` structure
    on both engines so every double is bit-identical. ``elem_fmt`` is
    the dialect's 1-based element access (e.g. ``element_at(embedding,
    {i})`` / ``embedding[{i}]``); ``flit`` renders a double literal
    that round-trips exactly."""
    sub = len(books[0][0])
    out: list[list[str]] = []
    for j, book in enumerate(books):
        dists = []
        for cent in book:
            terms = ["0.0"]
            for i, cv in enumerate(cent):
                a = f"CAST({elem_fmt.format(i=j * sub + i + 1)} AS DOUBLE)"
                terms.append(f"({a} - {flit(cv)}) * ({a} - {flit(cv)})")
            dists.append(" + ".join(terms))
        out.append(dists)
    return out


def pq_assign(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[list[float]]],
    flit,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Assign each vector its ``m`` PQ codes: argmin over the literal
    codebook distances, ties to the earlier centroid (first-minimum
    ``array_position``). Pure codegen expressions — no UDF, no shuffle;
    at 100 TB this is a map-only pass the optimizer can pipeline into
    the scan.

    Each group's codebook enters the plan as ONE nested-array literal
    and the k distances come from a single ``transform(codebook, c ->
    aggregate(zip_with(subvec, c, (x,cᵢ) -> (x−cᵢ)²), 0.0, +))`` — a
    loop nest in generated code. An unrolled per-centroid expression
    tree (k·d literal nodes) is numerically identical but made Catalyst
    analysis O(seconds) per query at k≳100 and tripped janino's 64 KB
    method limit into interpreted fallback; the literal form keeps the
    plan node count O(m). The inner left fold runs the exact same IEEE
    addition sequence ``((0.0+t₁)+t₂)+…`` as the oracle's unrolled
    ``pq_dist_sql`` string, so the doubles stay bit-identical."""
    sub = len(books[0][0])

    def _dists_for(seg):
        # real closure: a default-arg "lambda c, _seg=seg" would make
        # pyspark bind _seg as a second lambda variable
        return lambda c: F.aggregate(
            F.zip_with(
                seg, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )

    # Pre-project each subvector as a plain column: a slice expression
    # INSIDE the transform lambda would re-evaluate (copy the array)
    # once per centroid per row; a bound column reference is free.
    m = len(books)
    seg_of = {0: F.col(vec_col)} if m == 1 else {
        j: F.col(f"__seg_{j}") for j in range(m)
    }
    base = df if m == 1 else df.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        *[
            F.slice(F.col(vec_col), j * sub + 1, sub).alias(f"__seg_{j}")
            for j in range(m)
        ],
    )
    sel = [F.col(id_col), *[F.col(c) for c in extra_cols]]
    for j, book in enumerate(books):
        cb = F.lit([[float(v) for v in cent] for cent in book])
        sel.append(F.transform(cb, _dists_for(seg_of[j])).alias(f"__dists_{j}"))
    d = base.select(*sel)
    return d.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        *[
            F.expr(
                f"CAST(array_position(__dists_{j}, array_min(__dists_{j})) - 1 AS INT)"
            ).alias(f"code_{j}")
            for j in range(len(books))
        ],
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    m: int = 4,
    n_cent: int = 16,
    shortlist: int = 50,
    seed: int = 9,
) -> DataFrame:
    """IVF + PQ + exact rerank — the three-stage ANN serving pipeline
    the pieces (ivf_topk, pq_fit/pq_assign) compose into at corpus
    scale:

    1. **coarse probe** (IVF): score each query against ``n_probe`` of
       ``n_lists`` inverted lists → the scan shrinks to ~n_probe/n_lists
       of the corpus (partition-pruned when stored bucketed by list);
    2. **ADC shortlist** (PQ): per query, a ``m × n_cent`` lookup table
       of subvector distances turns each candidate's m code bytes into
       an approximate distance — PURE CODEGEN ``element_at`` arithmetic,
       no vector math per pair, which is the point: at 100 TB the
       probed lists are still billions of vectors, and ADC touches m
       bytes instead of d floats per candidate;
    3. **exact rerank**: only the per-query ``shortlist`` ADC survivors
       get true cosine (Arrow-batched), restoring exact top-k precision
       over the shortlist.

    Everything is fit on the repo's deterministic rid-ordered samples:
    same corpus → same centroids/codebooks/result, any partitioning.
    Corpus vectors are L2-normalized up front so PQ's squared-L2 ADC is
    monotone with cosine (‖a−b‖² = 2 − 2·cos when ‖a‖=‖b‖=1) — the
    shortlist ranking and the rerank ranking agree on metric."""
    spark = corpus.sparkSession
    # normalize once, codegen-only: every stage downstream assumes unit
    # vectors (IVF re-normalizes internally; PQ fits the normalized set).
    # The division is a zip_with against array_repeat(norm, d): BOTH
    # lambda operands are lambda VARIABLES, so the O(d) norm fold is
    # evaluated exactly once per row (while building the repeated
    # array). Referencing the fold from inside a transform lambda —
    # directly or via a projected column — does NOT work: Catalyst's
    # CollapseProject re-inlines the aggregate into the lambda body and
    # the map-only pass goes O(d²) per row (verified on the optimized
    # plan; the zip_with form measured 2.5x faster at d=128 and the gap
    # grows with d).
    nrm = F.sqrt(
        F.aggregate(
            F.col(vec_col),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    unit = corpus.select(
        F.col(id_col),
        F.zip_with(
            F.col(vec_col),
            F.array_repeat(F.greatest(nrm, F.lit(1e-12)), F.size(F.col(vec_col))),
            lambda x, n: x.cast("double") / n,
        ).alias(vec_col),
    )
    assigned, cents = ivf_assign_lists(unit, id_col, vec_col, n_lists, seed)
    books = pq_fit(unit, id_col, vec_col, m=m, k=n_cent, seed=seed)
    coded = pq_assign(
        assigned, id_col, vec_col, books, None, extra_cols=("list_id", vec_col)
    )

    q_ids, q_mat, probes, bq, _ = _query_probe_plan(
        queries, id_col, vec_col, cents, n_probe
    )
    # per-query ADC lookup tables: lut[j][c] = ‖q_j − book_j[c]‖²
    sub = len(books[0][0])
    bk = np.array(books, dtype=np.float64)  # (m, n_cent, sub)
    luts = []
    for i, qid in enumerate(q_ids):
        qs = q_mat[i].reshape(m, sub)
        lut = ((qs[:, None, :] - bk) ** 2).sum(axis=2)  # (m, n_cent)
        luts.append((qid, [[float(v) for v in row] for row in lut]))
    lut_df = small_df(
        spark, luts, "query_id long, __lut array<array<double>>"
    )

    cand = (
        coded.join(F.broadcast(probes), "list_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .join(F.broadcast(lut_df), "query_id")
    )
    adc = None
    for j in range(m):
        term = F.expr(f"element_at(element_at(__lut, {j + 1}), code_{j} + 1)")
        adc = term if adc is None else adc + term
    short_w = Window.partitionBy("query_id").orderBy(
        F.col("__adc").asc(), F.col(id_col).asc()
    )
    shortlisted = (
        cand.withColumn("__adc", adc)
        .withColumn("__srn", F.row_number().over(short_w))
        .filter(F.col("__srn") <= shortlist)
    )

    # normalize=False is sound HERE ONLY: `unit` L2-normalized the
    # corpus up front, so candidate vectors are already unit-length
    cos = _cos_vs_query_udf(bq, normalize=False)
    scored = shortlisted.select(
        "query_id",
        F.col(id_col).alias("cand_id"),
        F.round(cos(F.col("query_id"), F.col(vec_col)), 6).alias("cosine"),
    )
    return _rank_topk(scored, k)


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    books: list[list[list[float]]],
    flit,
    threshold: float = 0.35,
    round_digits: int = 6,
    max_cluster: int | None = 10_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): coarse
    k-means clusters over the embedding space, exact cosine only WITHIN
    each cluster, drop every vector that has a lower-id neighbor at
    cosine ≥ ``threshold`` in its cluster. Returns the KEPT (id,
    cluster) rows.

    ``books`` is a single-group PQ codebook (``pq_fit(m=1, k=…)``), so
    cluster assignment is the same literal-centroid argmin codegen
    expression as PQ coding — no UDF, map-only, and an SQL oracle
    replays it bit-for-bit. Candidate pairs come from ONE
    applyInPandas pass per cluster (blocked numpy gram matrix — each
    member crosses Arrow once, pair work stays O(cᵢ²) flops but in
    BLAS, never as pair ROWS); the double-precision prefilter is
    conservative by the 1e-6 margin and the DECIMAL-exact fold the
    oracle replays still decides every boundary survivor JVM-side.
    Overall work is kept linear by scaling k with corpus size (cluster
    population ≈ n/k). The ``max_cluster`` guard bounds the degenerate
    case (every vector identical → one cluster): only each cluster's
    first ``max_cluster`` members BY ID take part in pairing (sort +
    truncate inside the group, mirrored in the oracle as QUALIFY), so
    a pathological cluster degrades to partial dedup instead of an
    O(n²) job — same policy as the banded-LSH hot-bucket caps in
    operators/dedup.py."""
    if len(books) != 1:
        raise ValueError("semantic_dedup expects a single-group codebook (m=1)")
    assigned = pq_assign(
        df, id_col, vec_col, books, flit, extra_cols=(vec_col,)
    ).withColumnRenamed("code_0", "cluster")
    # Materialize the assignment once: the self-join below would
    # otherwise re-derive the k×d literal-centroid expression trees on
    # BOTH sides (2× the distance work, and Catalyst chokes optimizing
    # a join over two copies of those trees). At corpus scale the
    # cluster assignment is a real pipeline stage you'd persist anyway
    # — same policy as the connected-components rounds in
    # operators/dedup.py. Routed through iter_checkpoint so the
    # $SPARK_GRAFT_CHECKPOINT_DIR knob upgrades it to a reliable
    # checkpoint on a fleet (executor loss after localCheckpoint
    # truncation is unrecoverable — see session.iter_checkpoint).
    from ..session import iter_checkpoint

    assigned = iter_checkpoint(assigned)
    # Candidate stage: per-cluster blocked gram matrix in ONE
    # applyInPandas pass. The r9 form was a within-cluster self-join
    # (O(cᵢ²) pair ROWS carrying both vectors) scored by interpreted
    # zip_with/aggregate dots — at sf0.1 that is 125k 64-dim boxed
    # folds plus the pair exchange. Here each cluster's members cross
    # Arrow ONCE (cᵢ rows, not cᵢ² pairs), numpy does U·Uᵀ in blocked
    # BLAS (block rows of 2048 bound the S slab to blk×cap, so a
    # capped 10k-member cluster peaks at ~160 MB, never cᵢ² at once),
    # and only the boundary survivors come back — the same
    # double-precision prefilter as before (|err| ~1e-13 ≪ the 1e-6
    # margin, so no pair whose EXACT rounded cosine reaches the
    # threshold is lost; summation order is immaterial inside that
    # margin). The DECIMAL-exact fold the oracle replays still decides
    # every survivor JVM-side, so the result set is bit-identical to
    # the self-join form (pytest-pinned). The occurrence cap keeps its
    # spec: only each cluster's first ``max_cluster`` members BY ID
    # take part in pairing (numpy sort + truncate replaces the
    # windowed row_number).
    tau_lo = threshold - 1e-6
    id_type = df.schema[id_col].dataType.simpleString()

    def find_candidates(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values(id_col)
        if max_cluster is not None:
            # cap BEFORE validity filtering: degenerate rows occupy cap
            # slots exactly as under the r9 windowed row_number
            pdf = pdf.head(max_cluster)
        # NULL/empty vectors can't pair, and neither can two vectors of
        # DIFFERENT lengths (the r9 zip_with fold gave both a null
        # cosine — excluded from pairing, kept in output). Same-length
        # vectors pair regardless of which length the cluster's first
        # vector had, so a ragged cluster is processed per LENGTH CLASS
        # — exactly the r9 pairing domain, and np.vstack stays
        # rectangular within each class.
        vecs = list(pdf[vec_col])
        all_ids = pdf[id_col].to_numpy()
        lens = np.fromiter(
            (-1 if x is None else len(x) for x in vecs),
            dtype=np.int64,
            count=len(vecs),
        )
        out_a: list = [all_ids[:0]]
        out_b: list = [all_ids[:0]]
        blk = 2048
        for dim in np.unique(lens):
            if dim <= 0:
                continue
            valid = lens == dim
            ids = all_ids[valid]
            if len(ids) < 2:
                continue
            v = np.vstack(
                [np.asarray(x, dtype=np.float64) for x, ok in zip(vecs, valid) if ok]
            )
            with np.errstate(divide="ignore", invalid="ignore"):
                u = v / np.linalg.norm(v, axis=1)[:, None]
            for i0 in range(0, len(ids), blk):
                s = u[i0:i0 + blk] @ u.T  # (blk, c) slab
                ia, ib = np.nonzero(s >= tau_lo)
                ia = ia + i0
                # id_a < id_b by VALUE (the oracle's a.id < b.id): with
                # ids sorted this is the upper triangle, but duplicate
                # ids must NOT self-pair (a positional i < j would emit
                # (X, X) and spuriously drop X)
                keep = ids[ia] < ids[ib]
                out_a.append(ids[ia[keep]])
                out_b.append(ids[ib[keep]])
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    cands = (
        assigned.select("cluster", id_col, vec_col)
        .groupBy("cluster")
        .applyInPandas(find_candidates, schema=f"id_a {id_type}, id_b {id_type}")
    )
    a = assigned.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        norm_exact(F.col(vec_col)).alias("na"),
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        norm_exact(F.col(vec_col)).alias("nb"),
    )
    dropped = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_b",
            F.round(
                dot_exact(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                round_digits,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_b")
        .distinct()
    )
    return assigned.join(
        dropped, assigned[id_col] == dropped["id_b"], "left_anti"
    ).select(F.col(id_col), F.col("cluster"))


def lsh_band_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bands: int = 4,
    n_planes: int | str = 8,
    seed: int = 42,
) -> DataFrame:
    """Banded random-hyperplane signatures: (id, vec, band, bucket) rows.

    All ``bands × n_planes`` hyperplanes are drawn at once (seeded →
    reproducible) and applied in ONE matmul per Arrow batch; band b's
    bucket is the integer formed by its ``n_planes`` sign bits. This is
    the hyperplane twin of the MinHash banding in
    ``dedup.lsh_candidate_pairs`` (operators/dedup.py:143): a pair is a
    candidate iff it collides in ANY band, so ``bands`` controls recall
    while ``n_planes`` (rows per band) controls bucket size / precision.

    ``n_planes="auto"`` scales rows-per-band with the corpus size (one
    count job): r = clamp(ceil(log2 n) - 4, 8, 24), keeping the
    EXPECTED bucket population n / 2^r bounded (~16) as the corpus
    grows — the fixed-8-plane form has only 256 buckets per band, which
    at corpus scale means every bucket holds n/256 vectors and the
    within-bucket join degenerates quadratic."""
    if n_planes == "auto":
        import math

        n = df.count()
        n_planes = min(24, max(8, math.ceil(math.log2(max(n, 2))) - 4))
    r = int(n_planes)
    dim_row = df.select(F.size(F.col(vec_col)).alias("d")).limit(1).collect()
    dim = int(dim_row[0]["d"]) if dim_row else 0
    planes = np.random.RandomState(seed).normal(size=(dim, bands * r))
    sc = df.sparkSession.sparkContext
    bp = sc.broadcast(planes)
    powers = np.power(2.0, np.arange(r))

    @F.pandas_udf("array<bigint>")
    def buckets(vecs: pd.Series) -> pd.Series:
        mat = np.array(vecs.tolist(), dtype=np.float64)
        bits = (mat @ bp.value) > 0  # (batch, bands*r)
        per_band = np.stack(
            [(bits[:, b * r : (b + 1) * r] @ powers).astype("int64") for b in range(bands)],
            axis=1,
        )
        return pd.Series(list(per_band))

    return df.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(buckets(F.col(vec_col))).alias("band", "bucket"),
    )


def lsh_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    n_planes: int | str = 8,
    bands: int = 4,
    seed: int = 42,
    max_bucket: int | None = None,
) -> DataFrame:
    """Approximate near-dup pairs: banded hyperplane buckets, then exact
    cosine only within buckets — the 100 TB path (the bucket join
    replaces the all-pairs cross join; collisions in ANY band make a
    candidate, so recall is 1-(1-p^r)^bands instead of one band's p^r).

    ``max_bucket`` (default ``dedup.MAX_BAND_BUCKET``) bounds the worst
    case exactly as in the text LSH: a (band, bucket) group larger than
    the cap is dropped before the self-join — via a windowed count over
    the same keys the join shuffles on, so the cap rides the join's own
    exchange. A degenerate embedding set (many identical vectors — the
    case exact dedup exists for) therefore costs O(n) to count and emits
    nothing, instead of collapsing into one bucket's O(n²) self-join.
    ``max_bucket=None`` keeps the cap at the shared default; pass a
    large int to loosen it explicitly."""
    from .dedup import MAX_BAND_BUCKET, _cap_buckets

    if max_bucket is None:
        max_bucket = MAX_BAND_BUCKET
    # norms are per-ROW quantities: compute once before the bucket join
    # (inside the join they would fold the 128-element decimal sum once
    # per PAIR per side — bucket_size× redundant work)
    sigs = lsh_band_signatures(df, id_col, vec_col, bands, n_planes, seed).withColumn(
        "nrm", norm_exact(F.col(vec_col))
    )
    sigs = _cap_buckets(sigs, ["band", "bucket"], max_bucket)
    a = sigs.withColumnsRenamed({id_col: "id_a", vec_col: "va", "nrm": "na"})
    b = sigs.withColumnsRenamed({id_col: "id_b", vec_col: "vb", "nrm": "nb"})
    # dedupe band collisions BEFORE the cosine: vectors ride the pair row
    # (functionally determined by the ids), so one exchange on the id
    # pair replaces up to `bands`× redundant 128-element decimal folds
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "va", "vb", "na", "nb")
        .dropDuplicates(["id_a", "id_b"])
    )
    sims = pairs.select(
        "id_a",
        "id_b",
        F.round(dot_exact(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6).alias("cosine"),
    )
    return sims.filter(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")
