"""Deduplication operators for large-scale corpus pipelines.

Five strategies, all shuffle-conscious:

* **exact** — group by normalized-content fingerprint; one shuffle on a
  64-bit key (never on the full text), keep the min-id representative.
* **MinHash + LSH** — word-shingle → k MinHash values → banded signature
  → bucket-join candidates. Candidate generation touches only
  (bands × docs) rows; no all-pairs comparison ever materializes, which
  is the property that survives 100 TB.
* **SimHash** — frequency-weighted 32-bit fingerprint; near-dups share
  close fingerprints (bucket by prefix at scale).
* **n-gram Jaccard** — exact set overlap via a shingle equi-join
  (output-bounded: only pairs sharing ≥1 shingle are generated).
* **embedding cosine** — see similarity.py; near-dup = cosine ≥ τ.

Hashes are MD5-based (stable across engines/runs); signatures are plain
columns so every stage is checkable against a SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import small_df

from ..functions.text import fingerprint64, md5_prefix_long, tokens_ws
from ..sources.readers import fan_out

DEFAULT_SHINGLE = 3
DEFAULT_K = 16  # minhash functions
DEFAULT_BANDS = 4  # LSH bands (rows per band = K / BANDS)

# Hot-bucket bound for the banded self-joins (LSH + SimHash): a bucket
# holding d documents emits d² candidate rows, so one degenerate band
# value (e.g. every near-empty document hashing identically) turns the
# join quadratic. Buckets above this cap are dropped before the
# self-join — the stop-key construction ngram_jaccard_pairs uses for
# shingles, applied to band buckets. Recall effect: pairs whose ONLY
# shared bucket was oversized are missed; a genuine near-dup pair
# collides in several of the `bands` buckets, so the loss concentrates
# on degenerate content (which exact_dedup catches anyway). The SQL
# oracles apply the identical cap (QUALIFY over a per-bucket count).
MAX_BAND_BUCKET = 1_000

# Universal-hash family for MinHash: sig_i = min((A_i*h + B_i) mod P) with
# h = 32-bit md5 prefix of the shingle. One md5 per shingle total (the k
# derived hashes are pure int64 arithmetic, whole-stage-codegen'd) instead
# of k md5s; 31-bit A/B × 32-bit h stays exact in int64 for any engine.
MERSENNE_P = (1 << 61) - 1


def _uh_constants(k: int, seed: int = 42) -> tuple[list[int], list[int]]:
    import numpy as np

    rs = np.random.RandomState(seed)
    return (
        [int(a) for a in rs.randint(1, 1 << 30, size=k)],
        [int(b) for b in rs.randint(0, 1 << 30, size=k)],
    )


def shingles_of_tokens(toks: F.Column, n: int = DEFAULT_SHINGLE) -> F.Column:
    """Distinct n-word shingles of a BOUND token-array column.

    ``toks`` must be an attribute reference (a real column from a prior
    projection), NOT an inline tokenizer expression: Catalyst performs no
    subexpression elimination inside higher-order functions, so an inline
    ``split(...)`` would re-tokenize the document for every
    ``element_at`` — O(tokens²) per document (measured 15× slower on the
    documents table)."""
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    sh = F.transform(idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]))
    return F.array_distinct(F.when(F.size(toks) >= n, sh).otherwise(F.array()))


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, shingle-string) rows via the two-step tokenize→shingle
    projection that keeps tokenization O(tokens) per document."""
    toked = fan_out(df).select(
        F.col(id_col), tokens_ws(F.lower(F.col(text_col))).alias("__toks")
    )
    return toked.select(
        F.col(id_col), F.explode(shingles_of_tokens(F.col("__toks"), n)).alias("sh")
    )


def _cap_buckets(df: DataFrame, keys: list[str], max_bucket: int | None) -> DataFrame:
    """Drop rows whose bucket (the ``keys`` group) exceeds ``max_bucket``
    members — as a windowed count over the same keys the downstream
    self-join shuffles on, so the cap rides the exchange the join needs
    anyway instead of running the pipeline an extra time for a count."""
    if max_bucket is None:
        return df
    from pyspark.sql import Window

    w = Window.partitionBy(*keys)
    return (
        df.withColumn("__bc", F.count(F.lit(1)).over(w))
        .filter(F.col("__bc") <= max_bucket)
        .drop("__bc")
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup on normalized content: fingerprint → groupBy(hash).
    Shuffles 8-byte keys, not documents. Returns one row per distinct
    content with the minimum id as representative and the duplicate count.
    """
    # no fan_out: one md5 per row is cheaper than round-robin-shuffling
    # the document text; multi-partition inputs parallelize naturally
    fp = df.select(F.col(id_col), fingerprint64(F.col(text_col)).alias("fp"))
    return fp.groupBy("fp").agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = DEFAULT_K, shingle: int = DEFAULT_SHINGLE
) -> DataFrame:
    """Per-document MinHash signature via a universal hash family:
    h = md5-prefix32(shingle) once, then sig_i = min((A_i*h+B_i) mod P).
    Explode + single groupBy — one shuffle keyed by doc id; the k hash
    derivations are codegen'd integer arithmetic, not k md5 passes."""
    A, B = _uh_constants(k)
    sh = _shingle_rows(df, id_col, text_col, shingle).withColumn(
        "h", md5_prefix_long(F.col("sh"), 8)
    )
    aggs = [
        F.min((F.lit(A[i]) * F.col("h") + F.lit(B[i])) % F.lit(MERSENNE_P)).alias(f"sig_{i}")
        for i in range(k)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def _band_rows(sigs: DataFrame, id_col: str, k: int, bands: int) -> DataFrame:
    """(id, band, bh) rows: the k signature columns split into ``bands``
    groups of k/bands, each group md5-condensed into one bucket hash —
    shared by the self-join (lsh_candidate_pairs) and cross-corpus
    (lsh_incremental_pairs) forms so both sides of any join band
    identically."""
    r = k // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"sig_{b * r + j}").cast("string") for j in range(r)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("_", *parts)).alias("bh"))
        )
    return sigs.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("b")).select(
        id_col, F.col("b.band").alias("band"), F.col("b.bh").alias("bh")
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    max_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Band the signature (bands × (k/bands) rows), bucket by band hash,
    self-join within buckets → distinct candidate pairs (id_a < id_b).
    The join key is (band index, band hash): collisions are rare, so the
    join output is near-linear in true near-duplicates.

    ``max_bucket`` bounds the worst case: buckets holding more than that
    many documents are dropped before the self-join (see MAX_BAND_BUCKET
    for the recall contract), so per-bucket output is ≤ max_bucket² and
    total work stays linear in corpus size even when every document is
    identical. ``None`` disables the cap (exact unbounded form).

    The cap is a windowed count over the SAME (band, bh) partitioning
    the self-join shuffles on (the oracle's QUALIFY, verbatim): no
    extra pipeline execution, no driver count, no broadcast decision —
    the window's exchange satisfies the join's distribution
    requirement, and a degenerate bucket costs O(bucket) to count, not
    O(bucket²) to join."""
    banded = _cap_buckets(_band_rows(sigs, id_col, k, bands), ["band", "bh"], max_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    return pairs


def lsh_incremental_pairs(
    corpus_sigs: DataFrame,
    new_sigs: DataFrame,
    id_col: str,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    max_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Cross-corpus LSH candidate pairs: each NEW document against the
    EXISTING corpus only — the incremental crawl-ingestion shape. Both
    signature sets band identically (shared ``_band_rows``), then the
    new slice's bands join the corpus's bands on (band, bh).

    Why a dedicated form instead of unioning and self-joining: an
    already-deduped 100 TB corpus re-pairs against itself O(n²/buckets)
    every time a crawl slice arrives. Here corpus×corpus pairs are never
    generated — join output is linear in the NEW slice's collisions, and
    the corpus side arrives pre-banded (band rows are a persistable
    byproduct of the corpus's own dedup pass, so steady-state ingestion
    re-bands only the slice).

    The hot-bucket cap applies to EACH side independently (the corpus
    side's boilerplate buckets are the blow-up risk; a degenerate
    all-identical slice is the same risk mirrored), exactly as the
    oracle's per-side QUALIFY. Returns distinct (new_id, corpus_id)."""
    cb = _cap_buckets(_band_rows(corpus_sigs, id_col, k, bands), ["band", "bh"], max_bucket)
    nb = _cap_buckets(_band_rows(new_sigs, id_col, k, bands), ["band", "bh"], max_bucket)
    return (
        nb.withColumnRenamed(id_col, "new_id")
        .join(cb.withColumnRenamed(id_col, "corpus_id"), ["band", "bh"])
        .filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .distinct()
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """Frequency-weighted SimHash: per token hash h = md5 first 8 hex;
    bit j of the fingerprint is 1 iff Σ_tokens (2·bit_j(h) − 1) > 0.
    Explode + one groupBy with ``bits`` integer sums — exact integer
    arithmetic, engine-portable."""
    toks = fan_out(df).select(
        F.col(id_col), F.explode(tokens_ws(F.lower(F.col(text_col)))).alias("tok")
    ).withColumn("h", md5_prefix_long(F.col("tok"), 8))
    aggs = [
        F.sum(
            (F.floor(F.col("h") / F.lit(2**j)) % 2) * 2 - 1
        ).alias(f"w{j}")
        for j in range(bits)
    ]
    weights = toks.groupBy(id_col).agg(*aggs)
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"w{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return weights.select(F.col(id_col), fp.cast("bigint").alias("simhash"))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    algorithm: str = "auto",
    star_threshold: int = 1_000_000,
    driver_threshold: int = 100_000,
    pairs_distinct: bool = False,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over candidate-pair edges — the dedup
    completion step: near-dup pairs → duplicate CLUSTERS, each labeled
    by its minimum member id (the canonical representative).

    Three interchangeable engines (identical output):

    * ``driver`` — bounded collect + union-find. The DEDUPED edge list
      after LSH banding/capping is a tiny fraction of the corpus (it is
      the *output* of candidate pruning, not the data); when one count
      job proves it metadata-sized (≤ ``driver_threshold`` rows — a few
      MB), the transitive closure is O(E·α(E)) driver arithmetic and the
      labels re-enter the plan as a literal table. A distributed
      fixpoint on a graph this small is pure scheduler latency — every
      round costs jobs, not data movement.
    * ``propagation`` — min-label propagation: join labels across the
      symmetrized edges each round, take the min. O(diameter) rounds;
      the cheap distributed path for the shallow clusters LSH emits.
    * ``star`` — alternating large-star/small-star contraction
      (Kiveris et al., "Connected Components in MapReduce and Beyond"):
      O(log n) rounds even on adversarially long chains, with
      ``localCheckpoint`` per round to keep lineage flat. The 100 TB
      path.

    ``auto`` counts the (distinct, non-self) edges once: ≤
    ``driver_threshold`` → ``driver``; then ``propagation`` up to
    ``star_threshold`` edges (shallow-cluster band — the defaults keep
    it non-empty: 100k < edges ≤ 1M), and ``star`` beyond, where
    O(log n) contraction beats O(diameter) joins. The collect in the
    driver path is gated by that count — it can never pull an unbounded
    edge set. Either distributed engine raises if the graph has not
    converged after ``max_iters`` instead of returning a silently wrong
    labeling (the oracle computes the full transitive closure — a
    truncated result is data corruption, not an approximation).

    Self-pairs (``id_a == id_b``) are dropped as edges but their node
    is still emitted as a singleton component, so every id appearing
    anywhere in ``pairs`` appears exactly once in the output.

    ``pairs_distinct=True`` attests the input carries no duplicate
    (src, dst) rows — true for every LSH/SimHash candidate generator
    in this package, which all end in ``.distinct()`` — and skips the
    redundant dedup exchange here (at 1M pairs that is a full extra
    shuffle) plus the second checkpoint (a narrow filter over the
    already-checkpointed pair leaf re-evaluates for free). The flag is
    performance-only: every engine tolerates duplicate edges (min
    aggregations and union-find are idempotent), so a wrong attestation
    cannot change the labeling, only the engine-choice count."""
    from ..session import iter_checkpoint

    # lineage truncation (not persist): iterative algorithms that only
    # cache keep the FULL logical plan under every round — each round's
    # plan embeds the previous round's, so Catalyst analysis grows
    # exponentially and round wall-time is dominated by re-planning the
    # upstream LSH pipeline, not by the (tiny) data. Checkpointing
    # truncates the lineage so every round plans against a leaf.
    # ``checkpoint_dir`` (or $SPARK_GRAFT_CHECKPOINT_DIR) switches from
    # executor-local localCheckpoint (fast; unrecoverable on executor
    # loss) to reliable checkpoint() — the fault-tolerance a multi-hour
    # 100 TB fixpoint needs. Identical labels either way (pytest-pinned).
    # materialize the raw candidate pairs ONCE — both the edge set and
    # the node universe derive from it, and `pairs` is typically the
    # whole upstream LSH pipeline (re-planning it per consumer would
    # triple the dominant cost)
    def _ck(d: DataFrame) -> DataFrame:
        return iter_checkpoint(d, checkpoint_dir)

    raw = _ck(pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")))
    edges0 = raw.filter(F.col("src") != F.col("dst"))
    if not pairs_distinct:
        edges0 = _ck(edges0.distinct())
    n_edges = edges0.count()
    algo = algorithm
    if algo == "auto":
        if n_edges <= driver_threshold:
            algo = "driver"
        else:
            algo = "star" if n_edges > star_threshold else "propagation"

    def _with_isolated(labeled: DataFrame) -> DataFrame:
        # nodes whose only pairs were reflexive never reach the edge set;
        # re-attach them as singleton roots via one left-anti over the
        # (tiny, checkpointed) label table
        nodes = (
            raw.select(F.col("src").alias("id"))
            .union(raw.select(F.col("dst").alias("id")))
            .distinct()
        )
        singles = nodes.join(labeled.select("id"), "id", "left_anti").select(
            F.col("id"), F.col("id").alias("component")
        )
        return labeled.union(singles)

    if algo == "driver":
        if algorithm == "driver":
            # explicit request still honors the bound — refusing beats
            # an unbounded driver collect
            if n_edges > driver_threshold:
                raise ValueError(
                    f"connected_components(driver): {n_edges} edges exceed "
                    f"driver_threshold={driver_threshold}; use the star engine."
                )
        parent: dict = {}

        def _find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        # merges always point the LARGER root at the smaller, so each
        # final root is its component's minimum id — bit-identical to
        # the distributed engines' min-label contract
        for row in edges0.collect():
            ra, rb = _find(row["src"]), _find(row["dst"])
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        from pyspark.sql import types as T

        node_t = raw.schema["src"].dataType
        schema = T.StructType(
            [T.StructField("id", node_t), T.StructField("component", node_t)]
        )
        labeled = small_df(
            raw.sparkSession, [(n, _find(n)) for n in parent], schema
        )
        return _with_isolated(labeled)
    if algo == "star":
        return _with_isolated(_cc_star(edges0, max_iters, _ck))
    edges = _ck(
        edges0.union(
            edges0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    )
    labels = _ck(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("comp", F.col("id"))
    )
    converged = False
    for _ in range(max_iters):
        msgs = (
            edges.join(labels, edges.src == labels.id)
            .select(F.col("dst").alias("id"), F.col("comp"))
        )
        new_labels = _ck(
            labels.select("id", "comp")
            .union(msgs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        if algorithm == "auto":
            # auto must never fail where another engine would succeed: a
            # component with diameter > max_iters (one long transitive
            # chain) exhausts min-label propagation's round budget, but
            # star contraction finishes it in O(log n) rounds. Escalate
            # instead of raising — the raise is reserved for an EXPLICIT
            # algorithm='propagation' request, where silently switching
            # engines would hide the caller's mis-sizing.
            return _with_isolated(_cc_star(edges0, max_iters, _ck))
        raise RuntimeError(
            f"connected_components(propagation) did not converge within "
            f"{max_iters} rounds — component diameter exceeds the budget; "
            f"use algorithm='star' (O(log n) rounds) or raise max_iters."
        )
    return _with_isolated(labels.select(F.col("id"), F.col("comp").alias("component")))


def _cc_large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node connects its strictly larger
    neighbors to the minimum of its closed neighborhood."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least(F.col("mv"), F.col("u")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _cc_small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient edges toward the smaller endpoint,
    then connect every smaller neighbor (and the center) to the min."""
    oriented = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).distinct()
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    joined = oriented.join(mins, "u")
    out = joined.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
        mins.select(F.col("u"), F.col("m").alias("v"))
    )
    return out.filter(F.col("u") != F.col("v")).distinct()


def _cc_star(edges0: DataFrame, max_iters: int, _ck=None) -> DataFrame:
    """Alternating large-star/small-star contraction to a fixpoint of
    disjoint min-rooted stars; O(log n) rounds on any graph. Each round
    is lineage-truncated via ``_ck`` (session.iter_checkpoint — local or
    reliable per the checkpoint_dir knob): iterative self-referencing
    lineage otherwise grows exponentially and re-plans every round."""
    if _ck is None:
        from ..session import iter_checkpoint as _ck
    nodes = (
        edges0.select(F.col("src").alias("id"))
        .union(edges0.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    edges = edges0.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    edges = _ck(edges)
    prev_count = edges.count()
    converged = False
    for _ in range(max_iters):
        new_edges = _ck(_cc_small_star(_cc_large_star(edges)))
        n = new_edges.count()
        # star fixpoint test: same edge set (sets are distinct by
        # construction, so equal count + empty difference ⇔ equality)
        if n == prev_count and new_edges.exceptAll(edges).isEmpty():
            edges = new_edges
            converged = True
            break
        edges, prev_count = new_edges, n
    if not converged:
        nodes.unpersist()
        raise RuntimeError(
            f"connected_components(star) did not converge within {max_iters} "
            f"rounds (theoretical bound is O(log n) ≈ 2·log2(n) star rounds)."
        )
    # fixpoint edges are (child → component-min root) stars
    labels = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = nodes.join(
        labels.select(F.col("id")), "id", "left_anti"
    ).select(F.col("id"), F.col("id").alias("component"))
    out = labels.union(roots)
    nodes.unpersist()
    return out


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Near-duplicate pairs from SimHash fingerprints: band the ``bits``
    fingerprint into ``bands`` equal slices, bucket-join on (band index,
    band value) — by pigeonhole, any pair within ``max_hamming`` <
    ``bands`` bit flips shares at least one identical band — then keep
    candidates whose exact Hamming distance (bit_count of xor) is within
    the bound. Candidate generation is a bucket equi-join (bands × docs
    rows), never all-pairs; the Hamming check is one integer expression
    per candidate. 100 TB-shaped like the MinHash LSH path, but over a
    single 8-byte fingerprint per document.

    ``max_bucket`` drops oversized (band, value) buckets before the
    self-join — the same worst-case bound, recall contract, and
    windowed-count mechanism as lsh_candidate_pairs (MAX_BAND_BUCKET /
    ``_cap_buckets``)."""
    width = bits // bands
    fp = simhash(df, id_col, text_col, bits)
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            (F.floor(F.col("simhash") / F.lit(2 ** (b * width))) % F.lit(2**width))
            .cast("bigint")
            .alias("bv"),
        )
        for b in range(bands)
    ]
    banded = fp.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*band_cols)).alias("b")
    ).select(id_col, "simhash", F.col("b.band").alias("band"), F.col("b.bv").alias("bv"))
    banded = _cap_buckets(banded, ["band", "bv"], max_bucket)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bv") == F.col("b.bv")))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("fp_a"),
            F.col("b.simhash").alias("fp_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cand.filter(ham <= max_hamming).select(
        "id_a", "id_b", ham.cast("bigint").alias("hamming")
    )


def keep_best_per_cluster(
    docs: DataFrame,
    components: DataFrame,
    id_col: str,
    quality_col: str,
) -> DataFrame:
    """Quality-aware canonical selection: per duplicate cluster keep the
    document with the HIGHEST ``quality_col`` (ties broken by minimum
    id) — the production form of the keep-list, where dedup should
    retain the longest/cleanest copy, not the accidental minimum id.

    ``components`` is (id, component) from ``connected_components``;
    documents absent from it are singletons (their own component).
    Returns (id_col, component, keep).

    The canonical pick is a ``max_by(id, struct(quality, -id))``
    aggregation, NOT a per-component row_number window: the aggregate
    is map-side combinable (each task reduces its slice of a component
    to one candidate before the shuffle), so a pathological mega-cluster
    — transitive chaining can weld many capped band buckets into one
    component — costs O(rows) streaming work instead of a single-reducer
    sort of the whole component. The winner rejoins on the component key
    (one row per component on the build side; AQE's skew-join split
    handles a hot component on the probe side)."""
    comp = components.select(
        F.col("id").alias(id_col), F.col("component")
    )
    joined = docs.select(id_col, quality_col).join(comp, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("component"), F.col(id_col)).alias("component"),
        F.col(quality_col),
    )
    best = joined.groupBy("component").agg(
        F.max_by(
            F.col(id_col),
            F.struct(F.col(quality_col), (-F.col(id_col)).alias("__neg_id")),
        ).alias("__best_id")
    )
    return joined.join(best, "component").select(
        F.col(id_col),
        F.col("component"),
        (F.col(id_col) == F.col("__best_id")).alias("keep"),
    )


def contamination_flags(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_hits: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing at least
    ``min_hits`` distinct word n-grams with ANY benchmark document — the
    train/test-overlap scrub every pretraining pipeline runs before
    training (long n-grams, n≈8-13, are near-unique outside true
    overlap).

    Shape for 100 TB: both sides reduce to (id, 60-bit md5 shingle hash)
    rows; the benchmark side collapses to a DISTINCT hash set that is
    tiny relative to the corpus (benchmarks are small by definition), so
    the equi-join broadcasts and the corpus is never shuffled; one
    output-bounded groupBy counts hits per document. The hash is
    md5-based so a SQL oracle reproduces the decision bit-for-bit."""
    c_sh = _shingle_rows(corpus, id_col, text_col, n).select(
        F.col(id_col), md5_prefix_long(F.col("sh"), 15).alias("sh")
    )
    b_sh = (
        _shingle_rows(bench, id_col, text_col, n)
        .select(md5_prefix_long(F.col("sh"), 15).alias("sh"))
        .distinct()
    )
    hits = (
        c_sh.join(F.broadcast(b_sh), "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))  # shingles are distinct per doc
    )
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0).cast("bigint"))
    return (
        corpus.select(id_col)
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            n_hits.alias("n_hits"),
            (n_hits >= min_hits).alias("contaminated"),
        )
    )


def contamination_containment(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
    round_digits: int = 6,
) -> DataFrame:
    """Graded train/test-overlap report: per corpus document, the
    CONTAINMENT of its distinct word-n-gram set in the benchmark's
    union shingle set — |A ∩ B| / |A| in [0, 1]. The binary
    ``contamination_flags`` answers "scrub or keep"; this is the
    threshold-free score a contamination AUDIT publishes (the GPT-3
    appendix-C / PaLM-style overlap reports), asymmetric on purpose:
    a short benchmark prompt fully contained in a long document scores
    that document
    by the document's own shingle mass, not the pair union.

    Same 100 TB shape as ``contamination_flags``: both sides reduce to
    (id, 60-bit md5 shingle hash) rows, the benchmark side collapses
    to a tiny DISTINCT broadcast set, and the two per-document counts
    are output-bounded groupBys over the same corpus-side shingle
    frame — the corpus is never shuffled by the join. Documents with
    fewer than ``n`` tokens have no shingles (containment undefined)
    and are excluded. The score is ONE IEEE double quotient of two
    exact BIGINTs, rounded — a SQL oracle replays it bit-for-bit."""
    c_sh = _shingle_rows(corpus, id_col, text_col, n).select(
        F.col(id_col), md5_prefix_long(F.col("sh"), 15).alias("sh")
    )
    b_sh = (
        _shingle_rows(bench, id_col, text_col, n)
        .select(md5_prefix_long(F.col("sh"), 15).alias("sh"))
        .distinct()
    )
    totals = c_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    hits = (
        c_sh.join(F.broadcast(b_sh), "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))  # shingles are distinct per doc
    )
    n_hits = F.coalesce(F.col("n_hits"), F.lit(0).cast("bigint"))
    return (
        totals.join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_shingles"),
            n_hits.alias("n_hits"),
            F.round(
                n_hits.cast("double") / F.col("n_shingles").cast("double"),
                round_digits,
            ).alias("containment"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = DEFAULT_SHINGLE,
    threshold: float = 0.05,
    max_df: int | None = None,
    max_rows: int | None = 100_000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair sharing ≥1 shingle.

    shingle equi-join → per-pair intersection count → Jaccard via
    |A∩B| / (|A| + |B| − |A∩B|). Output-bounded: pairs with zero overlap
    never exist. The join keys are 64-bit shingle hashes, not strings —
    an 8-byte shuffle/compare instead of ~25-byte text (collision odds
    ~n²/2⁶⁴).

    **Hot-shingle bound** (``max_df``): a shingle shared by d documents
    emits d² join rows, so one viral phrase turns the equi-join
    quadratic. With ``max_df`` set, shingles whose document frequency
    exceeds the cap are dropped *before* the self-join (one extra
    8-byte groupBy + a broadcast anti-join against the tiny hot set) and
    both |A∩B| and |A|,|B| are computed over the surviving shingles —
    the standard stop-shingle construction: Jaccard over the reduced
    shingle universe, identical on both engines when the oracle applies
    the same cap. Per-shingle output is then ≤ max_df², i.e. total work
    is linear in corpus size — the 100 TB shape.

    Without ``max_df`` this is the exact unbounded form, refused beyond
    ``max_rows`` documents (count check) — use ``max_df`` or run after
    ``lsh_candidate_pairs`` instead.
    """
    if max_df is None and max_rows is not None:
        n_docs = df.count()
        if n_docs > max_rows:
            raise ValueError(
                f"ngram_jaccard_pairs without max_df is the unbounded "
                f"all-shared-shingle form ({n_docs} docs > max_rows="
                f"{max_rows}): a hot shingle shared by d docs emits d² "
                f"join rows. Pass max_df=<cap> for the stop-shingle "
                f"bounded form, or gate on lsh_candidate_pairs first."
            )
    sh = _shingle_rows(df, id_col, text_col, n).select(
        F.col(id_col), F.xxhash64("sh").alias("sh")
    )
    if max_df is not None:
        # document frequency per shingle (shingles are distinct per doc);
        # hot set broadcast only while it fits the session threshold,
        # else shuffle anti-join on the 8-byte hash (see functions/joins)
        from ..functions.joins import anti_join_hot

        hot = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_df)
            .select("sh")
        )
        sh = anti_join_hot(sh, hot, ["sh"], label="ngram-stop-shingles")
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, F.col("a.sh") == F.col("b.sh"))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    jac = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
    )
    return jac.filter(F.col("jaccard") >= threshold).select("id_a", "id_b", "jaccard")


def dup_stats_by(df: DataFrame, group_col: str, text_col: str) -> DataFrame:
    """Per-group duplication accounting — the report a dedup pass is
    judged by: documents, distinct contents, and duplicate ratio per
    ``group_col`` (source, crawl snapshot, language, ...).

    Contents are compared by ``fingerprint64`` (whitespace-normalized
    60-bit md5 prefix) so the distinct-count shuffle moves 8-byte keys,
    never documents; two-level aggregation ((group, fp) then group)
    keeps both shuffles partially aggregated — no COUNT DISTINCT expand.
    The ratio is one double division of exact integers + ROUND, so it is
    bit-stable cross-engine.

    Returns (group_col, n_docs, n_unique, dup_ratio)."""
    per_fp = (
        fan_out(df)
        .select(F.col(group_col), fingerprint64(F.col(text_col)).alias("__fp"))
        .groupBy(group_col, "__fp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return per_fp.groupBy(group_col).agg(
        F.sum("n").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        F.round(
            (F.sum("n") - F.count(F.lit(1))).cast("double") / F.sum("n"), 6
        ).alias("dup_ratio"),
    )


def fuzzy_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = DEFAULT_SHINGLE,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    threshold_pct: int = 50,
    max_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Fuzzy benchmark decontamination — the near-duplicate complement
    of the exact n-gram scrub (contamination_flags): flag every corpus
    document whose shingle-set Jaccard with ANY benchmark document
    reaches ``threshold_pct``/100, with candidates from the cross-only
    banded MinHash LSH (the GPT-3/Llama-style fuzzy dedup-vs-eval
    step — paraphrased or lightly edited benchmark leaks that exact
    13-gram matching misses).

    Scale shape: candidate generation is ``lsh_incremental_pairs`` with
    the benchmark as the (small) new side — bench×corpus bands only,
    never corpus×corpus, per-side hot-bucket caps; verification is
    EXACT Jaccard computed only over candidate pairs (cand → bench
    shingles → (corpus_id, shingle-hash) equi-join — work is linear in
    Σ_pairs |bench shingles|, never all-pairs). The threshold test is
    one integer cross-multiplication (100·|A∩B| ≥ pct·|A∪B|) — no
    float divide, engine-exact. Returns (id, n_bench_matches) for
    flagged corpus docs."""
    corpus_sigs = minhash_signatures(corpus, id_col, text_col, k=k, shingle=n)
    bench_sigs = minhash_signatures(bench, id_col, text_col, k=k, shingle=n)
    cand = lsh_incremental_pairs(
        corpus_sigs, bench_sigs, id_col, k=k, bands=bands, max_bucket=max_bucket
    )  # (new_id = bench doc, corpus_id)
    shc = _shingle_rows(corpus, id_col, text_col, n).select(
        F.col(id_col).alias("corpus_id"), md5_prefix_long(F.col("sh"), 15).alias("shh")
    )
    shb = _shingle_rows(bench, id_col, text_col, n).select(
        F.col(id_col).alias("new_id"), md5_prefix_long(F.col("sh"), 15).alias("shh")
    )
    szc = shc.groupBy("corpus_id").agg(F.count(F.lit(1)).alias("sz_c"))
    szb = shb.groupBy("new_id").agg(F.count(F.lit(1)).alias("sz_b"))
    inter = (
        cand.join(shb, "new_id")
        .join(shc, ["corpus_id", "shh"])
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    flagged = (
        inter.join(szb, "new_id")
        .join(szc, "corpus_id")
        .filter(
            F.lit(100) * F.col("inter")
            >= F.lit(threshold_pct)
            * (F.col("sz_b") + F.col("sz_c") - F.col("inter"))
        )
    )
    return (
        flagged.groupBy("corpus_id")
        .agg(F.count(F.lit(1)).alias("n_bench_matches"))
        .select(F.col("corpus_id").alias(id_col), "n_bench_matches")
    )


# --- Karp–Rabin anchor hashing for exact_substring_spans -------------------
#
# Two independent 31-bit polynomial-hash families combined into one
# 62-bit value. The window hash is the pure mathematical function
#
#   H_f(p) = fold_{j=p}^{p+k-1} h := (h*B_f + tv_f[j]) mod M_f,  h0 = 0
#   tv_f[j] = md5_60(token_j) mod M_f          (md5_60 = 60-bit md5 prefix)
#   H(p)    = H_1(p) * 2^31 + H_2(p)
#
# with M_f < 2^31 and B_f ~ 10^6, so every intermediate product stays
# under 2^62 — exact in int64 on ANY engine (the z-order/KMV portable-
# integer-arithmetic convention). Because modular arithmetic is
# evaluation-order-exact (unlike IEEE float addition), the DuckDB
# oracle may evaluate H(p) by the DIRECT per-window fold while the
# engine uses the blocked one-pass strategy below: the results are
# bit-identical by algebra, not by replaying the same plan.
_KR_M1, _KR_B1 = 2_147_483_647, 1_000_003  # 2^31 - 1 (Mersenne prime)
_KR_M2, _KR_B2 = 2_147_483_629, 999_983  # largest prime < 2^31 - 17
_KR_SHIFT = 1 << 31


def _kr_pow(b: int, m: int, k: int) -> list[int]:
    return [pow(b, x, m) for x in range(k + 1)]


def _kr_block_prefix(tv60, k: int, b: int, m: int):
    """array<array<bigint>>: per k-block running prefix-hash arrays of
    the 60-bit token-value array ``tv60`` under family (B, M).

    PH[q][r] = fold h := (h*B + tv mod M) mod M over the first r tokens
    of block q (blocks of k tokens, last one possibly partial). ONE
    aggregate() fold per block: k modular multiply-adds and <= k array
    appends => O(n) multiplies and O(n*k/2) element copies total over
    the document — NOT O(n*k) md5 bytes (the legacy content hash) and
    NOT O(n^2) appends (a single whole-document fold) for long
    documents."""
    kL, bL, mL = F.lit(k), F.lit(b), F.lit(m)
    nblocks = F.ceil(F.size(tv60) / kL).cast("int")
    return F.transform(
        F.sequence(F.lit(0), nblocks - 1),
        lambda q: F.aggregate(
            F.slice(tv60, q * kL + 1, kL),
            F.struct(
                F.array().cast("array<bigint>").alias("hs"),
                F.lit(0).cast("bigint").alias("h"),
            ),
            lambda acc, x: F.struct(
                F.concat(
                    acc["hs"],
                    F.array(F.pmod(acc["h"] * bL + F.pmod(x, mL), mL)),
                ).alias("hs"),
                F.pmod(acc["h"] * bL + F.pmod(x, mL), mL).alias("h"),
            ),
            lambda acc: acc["hs"],
        ),
    )


def _kr_window_expr(ph, n, k: int, b: int, m: int):
    """array<bigint> of H_f(p) for p = 1..n-k+1 from the staged block
    prefix-hash COLUMN ``ph`` (caller guards n >= k — and must pass
    ``ph``/``n`` as plain column references, never inline expression
    trees: every position's lambda re-evaluates whatever subtree it
    references, so an inlined fold turns O(n) into O(n²)).

    Window [p, p+k) spans blocks b = (p-1) div k and b+1 with split
    r = (p-1) mod k:

      SUF  = (PH[b][k] - PH[b][r] * B^(k-r)) mod M  (last k-r of block b)
      H(p) = (SUF * B^r + PH[b+1][r]) mod M         (PH[.][0] := 0)

    B^x constants for x in [0, k] are Python-precomputed literals."""
    kL, mL = F.lit(k), F.lit(m)
    pw = F.lit(_kr_pow(b, m, k))  # pw[x+1] = B^x mod M (1-based element_at)

    def win(p):
        i = p - 1
        blk = F.floor(i / kL).cast("int")
        r = (i % kL).cast("int")
        phb = F.element_at(ph, blk + 1)
        # window end p+k-1 <= n guarantees block `blk` is complete and,
        # when r > 0, block blk+1 holds >= r values — both element_at
        # calls are in range by construction; the r = 0 branch never
        # touches block blk+1 (element_at(..., 0) would raise, hence
        # the lazily-evaluated when/otherwise split).
        suf = F.pmod(
            F.element_at(phb, k)
            - F.when(r == 0, F.lit(0)).otherwise(
                F.element_at(phb, F.greatest(r, F.lit(1)))
                * F.element_at(pw, kL - r + 1)
            ),
            mL,
        )
        tail = F.when(r == 0, F.lit(0)).otherwise(
            F.element_at(
                F.element_at(ph, blk + 2), F.greatest(r, F.lit(1))
            )
        )
        return F.pmod(suf * F.element_at(pw, r + 1) + tail, mL)

    return F.transform(F.sequence(F.lit(1), n - kL + 1), win)


def with_kr_window_hashes(
    df: DataFrame, tokens_col: str, k: int, out_col: str
) -> DataFrame:
    """Replace ``tokens_col`` (array<string>) with ``out_col``: the
    combined 62-bit Karp–Rabin hash ``H1 * 2^31 + H2`` of every k-token
    window (1-based positions; empty array when the document holds
    fewer than ``k`` tokens). One md5 per TOKEN (not per window) — the
    per-window work is pure int64 modular arithmetic.

    The three stages are SEPARATE projections on purpose, each alias
    referenced more than once downstream so CollapseProject cannot
    inline a non-cheap producer into a higher-order lambda (an inlined
    subtree is re-evaluated per array ELEMENT: measured 30 ms/window —
    400+ s for 500 tiny documents — in the single-expression form of
    this computation, vs ~1 µs/window staged)."""
    keep = [c for c in df.columns if c != tokens_col]
    s1 = df.select(
        *keep,
        F.transform(
            F.col(tokens_col),
            lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast(
                "bigint"
            ),
        ).alias("__kr_tv"),
    )
    s2 = s1.select(
        *keep,
        F.size("__kr_tv").alias("__kr_n"),
        _kr_block_prefix(F.col("__kr_tv"), k, _KR_B1, _KR_M1).alias("__kr_ph1"),
        _kr_block_prefix(F.col("__kr_tv"), k, _KR_B2, _KR_M2).alias("__kr_ph2"),
    )
    n = F.col("__kr_n")
    hw = F.when(
        n >= k,
        F.zip_with(
            _kr_window_expr(F.col("__kr_ph1"), n, k, _KR_B1, _KR_M1),
            _kr_window_expr(F.col("__kr_ph2"), n, k, _KR_B2, _KR_M2),
            lambda a, b: a * F.lit(_KR_SHIFT) + b,
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return s2.select(*keep, hw.alias(out_col))


def _kr_anchor_gen(k: int):
    """mapInPandas generator: (id, token-array) batches -> (id, pos,
    __h) anchor rows under the double Karp–Rabin window-hash spec.

    The per-token 60-bit md5 prefix is computed HERE (hashlib over the
    token's UTF-8 bytes — bit-identical to Spark's ``md5(string)`` and
    DuckDB's ``md5``) rather than as a JVM ``transform`` lambda:
    higher-order functions evaluate interpreted/boxed, and the measured
    A/B has the Python loop ~25% faster on the anchor stage at sf1
    with one fewer plan stage. The rolling scan itself is a vectorized
    O(total_tokens) numpy pass per Arrow batch — the sequential prefix
    recurrence Catalyst cannot codegen (the pure-expression blocked
    form measures ~6x SLOWER than even the legacy O(len*k) md5 path at
    sf1, see with_kr_window_hashes). Per family:

      u[j]    = (tv[j] mod M) * invB^j mod M       (j = 0-based in-doc)
      Q       = running sum of u (plain int64 cumsum, exact: the batch
                token count stays far below 2^32 so Q < 2^63)
      H(p0)   = (Q[p0+k-1] - Q[p0-1]) mod M * B^(p0+k-1) mod M

    invB = B^(M-2) mod M (M prime). Every product is (<2^31)*(<2^31)
    < 2^62 — exact in int64 on any engine, identical to the direct
    fold the SQL oracle evaluates."""
    import numpy as np

    def family_tables(b: int, m: int, maxlen: int):
        inv = pow(b, m - 2, m)
        bp = np.empty(maxlen, dtype=np.int64)
        ip = np.empty(maxlen, dtype=np.int64)
        x = y = 1
        for j in range(maxlen):
            bp[j], ip[j] = x, y
            x = (x * b) % m
            y = (y * inv) % m
        return bp, ip

    def gen(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            ids = pdf["__id"].to_numpy()
            lists = pdf["__tv"]
            # NULL text tokenizes to a NULL array — treat as empty
            lens = np.fromiter(
                (0 if v is None else len(v) for v in lists),
                dtype=np.int64,
                count=len(lists),
            )
            n_out = np.maximum(lens - k + 1, 0)
            total = int(lens.sum())
            # The plain int64 cumsum of u (each < m < 2^31) is exact only
            # while the per-batch token total stays below 2^32 (Q < 2^63).
            # Enforce rather than assume: a pathological batch (billions
            # of tokens) must fail loudly, not hash wrong.
            if total >= 1 << 32:
                raise ValueError(
                    f"_kr_anchor_gen: Arrow batch holds {total} tokens "
                    f"(>= 2^32); the unreduced cumsum would overflow — "
                    "lower spark.sql.execution.arrow.maxRecordsPerBatch"
                )
            if total == 0 or int(n_out.sum()) == 0:
                continue
            flat = np.fromiter(
                (
                    int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
                    for v in lists
                    if v is not None
                    for t in v
                ),
                dtype=np.int64,
                count=total,
            )
            maxlen = int(lens.max())
            starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
            # within-doc 0-based token index for every flat position
            posw = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
            # anchor windows: global start index of each window
            doc_of = np.repeat(np.arange(len(lens)), n_out)
            gs = np.concatenate(
                [np.arange(s, s + c) for s, c in zip(starts, n_out) if c]
            ) if n_out.any() else np.empty(0, dtype=np.int64)
            p0 = gs - starts[doc_of]  # 0-based in-doc window start
            h = np.zeros(len(gs), dtype=np.int64)
            for b, m, shift in (
                (_KR_B1, _KR_M1, _KR_SHIFT),
                (_KR_B2, _KR_M2, 1),
            ):
                bp, ip = family_tables(b, m, maxlen)
                u = (flat % m) * ip[posw] % m
                q = np.concatenate([[0], np.cumsum(u)])
                qd = (q[gs + k] - q[gs]) % m
                hf = qd * bp[p0 + k - 1] % m
                h += hf * shift
            yield pd.DataFrame(
                {"__id": np.repeat(ids, n_out), "pos": p0 + 1, "__h": h}
            )

    return gen


def exact_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 50,
    max_anchor_occ: int = 64,
    anchor_hash: str = "rolling",
) -> DataFrame:
    """Cross-document exact-substring duplication (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"
    suffix-array shape, re-expressed as a bounded distributed plan):
    every MAXIMAL run of >= ``k`` tokens shared verbatim between two
    distinct documents, reported as
    ``(id_a, id_b, a_start, b_start, n_tokens)`` with 1-based token
    positions and ``id_a < id_b``.

    Plan (one anchor shuffle + one join; the default ``"rolling"``
    anchor stage is a vectorized Arrow ``mapInPandas`` scan, while the
    ``"rolling-catalyst"`` and ``"md5"`` variants are pure built-in
    expressions):

    1. **anchors** — at every token position ``p`` of a document, the
       62-bit double Karp–Rabin polynomial hash of the ``k``-token
       window starting at ``p`` (:func:`kr_window_hashes`): ONE md5
       per token plus O(1) int64 modular multiply-adds per window —
       O(len) map CPU instead of the O(len·k) per-offset
       ``concat_ws``+md5 of the first cut. The arithmetic is portable
       62-bit integer math, so the SQL oracle replays the identical
       values from the direct per-window definition while the engine
       evaluates blocked-one-pass (``anchor_hash="md5"`` keeps the
       legacy content-hash spec for A/B benchmarking).
    2. **hot-anchor cap** — only the first ``max_anchor_occ``
       occurrences of an anchor (by ``(id, pos)``) take part in
       pairing, bounding a degenerate corpus ("ha ha ha ..." x 1M
       docs) to cap² pairs per anchor instead of occurrences² — the
       banded-LSH hot-bucket policy applied to substring anchors. A
       capped-out anchor inside a long duplication can split one
       maximal span into two; the cap is part of the spec and the
       oracle replays it.
    3. **diagonal merge** — matching anchor occurrences ``(pa, pb)``
       of a document pair lie on the diagonal ``pa − pb``; consecutive
       ``pa`` runs on one diagonal (islands via ``pa − row_number``)
       merge into a maximal span of ``k + run_len − 1`` tokens.

    Scale shape: anchors shuffle once on the 62-bit hash (payload is
    ``(id, pos)``, never text); the self-join output is bounded by the
    cap; the island window partitions by ``(id_a, id_b, diag)`` —
    pair-local, no global ordering anywhere. Unlike the fixed-8-word
    SEGMENT dedup in functions/text.py (the CCNet/RefinedWeb shape,
    which misses duplications straddling segment boundaries), anchors
    start at EVERY token offset, so any shared run of >= k tokens is
    found regardless of alignment."""
    from pyspark.sql import Window

    toks = fan_out(df).select(
        F.col(id_col), tokens_ws(F.lower(F.col(text_col))).alias("__w")
    )
    n = F.size("__w")
    if anchor_hash == "rolling":
        # Tokenization stays JVM-side (tokens_ws — its \s+ semantics
        # are part of the spec); the per-token md5 AND the O(len)
        # rolling scan run in ONE vectorized Arrow batch (the
        # sequential prefix recurrence is the piece Catalyst cannot
        # express efficiently — see _kr_anchor_gen). Token strings
        # leave the plan here: anchors carry only (id, pos, 62-bit
        # hash) into the shuffle.
        id_type = df.schema[id_col].dataType.simpleString()
        tv_frame = toks.select(
            F.col(id_col).alias("__id"), F.col("__w").alias("__tv")
        )
        anchors = tv_frame.mapInPandas(
            _kr_anchor_gen(k),
            schema=f"__id {id_type}, pos bigint, __h bigint",
        ).select(F.col("__id").alias(id_col), "pos", "__h")
    elif anchor_hash == "rolling-catalyst":
        # Same spec, pure built-in expressions (the no-Python path):
        # blocked one-pass fold staged as columns. posexplode_OUTER on
        # purpose: plain posexplode triggers InferFiltersFromGenerate,
        # whose inferred size(__hw)>0 filter is pushed below the
        # Generate and INLINES the whole staged hash chain into one
        # Filter expression — re-evaluated per row with the block folds
        # nested inside the per-window lambdas (measured: 98 s for the
        # sf0.01 anchor stage vs ~1 s). The rule skips outer generates;
        # short documents emit one NULL row dropped right after.
        # Trade-off vs "rolling": interpreted higher-order evaluation
        # (boxed) — measured ~6x slower than even the md5 path at sf1.
        staged = with_kr_window_hashes(toks, "__w", k, "__hw")
        anchors = (
            staged.select(F.col(id_col), F.posexplode_outer("__hw"))
            .filter(F.col("pos").isNotNull())
            .select(
                F.col(id_col),
                (F.col("pos") + 1).cast("bigint").alias("pos"),
                F.col("col").alias("__h"),
            )
        )
    elif anchor_hash == "md5":
        # legacy per-offset content hash (pre-round-10 spec), kept for
        # A/B benchmarking: O(len·k) concat_ws+md5 map CPU.
        # sequence(a, b) counts DOWN when b < a — guard short docs to
        # an empty position list instead
        positions = F.when(
            n >= k, F.sequence(F.lit(1), n - F.lit(k) + 1)
        ).otherwise(F.array().cast("array<int>"))
        anchors = (
            toks.select(
                F.col(id_col), F.explode(positions).alias("pos"), F.col("__w")
            )
            .select(
                F.col(id_col),
                F.col("pos").cast("bigint").alias("pos"),
                md5_prefix_long(
                    F.concat_ws(" ", F.slice("__w", F.col("pos").cast("int"), k))
                ).alias("__h"),
            )
        )
    else:  # pragma: no cover - guarded API misuse
        raise ValueError(
            "anchor_hash must be 'rolling', 'rolling-catalyst', or "
            f"'md5': {anchor_hash!r}"
        )
    # The cap window's rank<=N compiles to WindowGroupLimit — Spark
    # prunes past-cap rows MAP-SIDE before the __h exchange, so a
    # degenerate anchor never funnels its full occurrence list through
    # one reducer.
    wcap = Window.partitionBy("__h").orderBy(F.col(id_col), "pos")
    capped = (
        anchors.withColumn("__rn", F.row_number().over(wcap))
        .filter(F.col("__rn") <= max_anchor_occ)
        .drop("__rn")
    )
    # Pair expansion WITHOUT a self-join: a self-join would rebuild the
    # whole tokenize→anchor→cap chain once per side (two corpus scans,
    # two __h shuffles). Instead collect each anchor's (bounded) capped
    # occurrence list in a groupBy that REUSES the cap window's hash
    # partitioning (no new exchange — one corpus scan, one shuffle
    # total) and expand ordered pairs with a double explode; the
    # intermediate is |occ|^2 <= max_anchor_occ^2 rows per anchor,
    # exactly the join's output bound.
    occ = capped.groupBy("__h").agg(
        F.collect_list(F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p")))
        .alias("__occ")
    )
    matches = (
        occ.select(F.explode("__occ").alias("a"), "__occ")
        .select("a", F.explode("__occ").alias("b"))
        .filter(F.col("a.i") < F.col("b.i"))
        .select(
            F.col("a.i").alias("id_a"),
            F.col("b.i").alias("id_b"),
            F.col("a.p").alias("pa"),
            F.col("b.p").alias("pb"),
            (F.col("a.p") - F.col("b.p")).alias("__diag"),
        )
    )
    wisl = Window.partitionBy("id_a", "id_b", "__diag").orderBy("pa")
    islands = matches.withColumn(
        "__isl", F.col("pa") - F.row_number().over(wisl)
    )
    return (
        islands.groupBy("id_a", "id_b", "__diag", "__isl")
        .agg(
            F.min("pa").alias("a_start"),
            F.min("pb").alias("b_start"),
            (F.count(F.lit(1)) + F.lit(k) - 1).cast("bigint").alias("n_tokens"),
        )
        .select("id_a", "id_b", "a_start", "b_start", "n_tokens")
    )


def scrub_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Removal half of Lee et al. 2022 exact-substring dedup: given the
    maximal shared spans from :func:`exact_substring_spans`, delete
    each duplicated run from its HIGHER-id document (keep-first by id —
    the dedup_exact_text convention; the ``id_a`` occurrence survives)
    and reassemble the remaining tokens in order.

    Returns one row per input document: ``(id, n_tokens, n_removed,
    clean_md5)`` where ``clean_md5`` is the md5 of the surviving tokens
    joined by single spaces (empty string when everything was removed
    or the document had no tokens).

    Scale shape: the removed-position set expands each b-side span to
    its covered token positions (Σ n_tokens rows over spans — output-
    bounded, never corpus²); tokens explode once; the subtraction is a
    broadcast-friendly anti-join on (id, pos); reassembly is one
    groupBy with an in-group array sort (per-doc sized). No windows, no
    SinglePartition."""
    removed = (
        spans.select(
            F.col("id_b").alias(id_col),
            F.explode(
                F.sequence(
                    F.col("b_start"),
                    F.col("b_start") + F.col("n_tokens") - 1,
                )
            ).alias("__pos"),
        )
        .distinct()
    )
    toks = fan_out(df).select(
        F.col(id_col), tokens_ws(F.lower(F.col(text_col))).alias("__w")
    )
    pos_tok = toks.select(
        F.col(id_col),
        F.posexplode("__w").alias("__p0", "__tok"),
    ).select(
        F.col(id_col),
        (F.col("__p0") + 1).cast("bigint").alias("__pos"),
        "__tok",
    )
    kept = pos_tok.join(removed, [id_col, "__pos"], "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__tok"))
                    ),
                    lambda x: x["__tok"],
                ),
                " ",
            )
        ).alias("clean_md5"),
    )
    base = toks.select(
        F.col(id_col), F.size("__w").cast("bigint").alias("n_tokens")
    )
    return base.join(reassembled, id_col, "left").select(
        F.col(id_col),
        F.col("n_tokens"),
        (F.col("n_tokens") - F.coalesce(F.col("__n_kept"), F.lit(0)))
        .cast("bigint")
        .alias("n_removed"),
        # a fully-scrubbed (or empty) document hashes the empty string
        F.coalesce(F.col("clean_md5"), F.md5(F.lit(""))).alias("clean_md5"),
    )
