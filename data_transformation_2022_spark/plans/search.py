"""Transformation-path enumerator with Pareto (dominance) pruning.

Re-expresses the reference's ``tpaththreadfunction`` family of
enumerators (searchthread.py:19-468) over a ``TableProfile`` — the
search runs entirely on metadata (column profiles + clusters), never on
data, which is exactly where the reference keeps it too (SURVEY §4.1).
The produced candidates are JSON-serializable Step lists executed later
by the Step algebra + core-T layer.

Families (SURVEY §2.5):
  * ``null_nom1`` — one single-column select per non-key nominal column.
  * ``null_nom``  — one select of all non-key nominal columns.
  * ``null_num1`` — per-column selects, plus one derived arithmetic
    column per matched cluster (sub/div/mul for 2-column clusters,
    sum for larger ones).
  * ``null_num``  — select-all-numeric, plus variants appending one
    derived column per cluster.
  * ``dm``        — shared pool for the core transforms (pca/tsne/mds/
    umap/dbscan/kmeans/lda — reference threadsharing T.py:192-199):
    depth-0 cluster selects, then Pareto-pruned chains of cluster
    arithmetic appends up to ``max_depth``, each chain closed by a
    narrowing select of touched+derived columns.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from ..operators.steps import Step, steps_key
from ..profiler import TableProfile
from .catalog import CLUSTER_OPS_2COL, CLUSTER_OPS_NCOL
from .load import Load, cal_load, prune_dominated

MAX_TPATH_DEPTH = 5  # reference MAXTPATHDEPTH (config.py:8)
PRUNING_DEPTH = 1  # reference PRUNINGDEPTH (config.py:9)
ONLY_PROCESS_CLUSTER_MORE_THAN_2 = True  # reference config.py:20


@dataclass
class Candidate:
    """One enumerated transformation path feeding a T family."""

    family: str
    steps: list[Step]
    out_cols: list[str]  # columns the T / channel consumes
    derived: list[str] = field(default_factory=list)
    load: Load = field(default_factory=lambda: Load(0.0, 0.0, 0.0))

    def signature(self) -> tuple:
        """Canonical identity for dedup/memoization."""
        return (self.family, steps_key(self.steps), tuple(self.out_cols))


# ---------------------------------------------------------------------------
# name semantics helpers
# ---------------------------------------------------------------------------


def common_suffix_name(op: str, cols: list[str]) -> str:
    """Derived-column display name "{op}: (common tokens)" (reference
    T.py:201-217 name-suffix util)."""
    token_sets = [set(re.findall(r"[a-zA-Z]+\d*", c.lower())) for c in cols]
    common = {t for t in set.intersection(*token_sets) if len(t) >= 2} if token_sets else set()
    label = " ".join(sorted(common)) if common else ", ".join(c.strip() for c in cols)
    return f"{op}: ({label})"


def name_distance(a: str, b: str) -> float:
    """Header-name distance in [0,1]. The reference uses word2vec
    cosine (utils.py:176-213); with a NameEmbedder installed
    (functions/embeddings.set_name_embedder — corpus-trained PPMI-SVD
    vectors, or a real model if the env gains one) this IS an embedding
    cosine distance, reference-shaped including the shared-UNK
    treatment of out-of-vocabulary names. Default (no embedder): the
    model-free stand-in 1 − max(token-Jaccard, char-ngram cosine) —
    token overlap catches shared words, the character-ngram cosine
    (profiler.char_ngram_cosine) catches shared morphology the token
    set misses (exp0/exp9) while keeping different stems apart
    (exp0/imp0). Opt-in keeps goldens corpus-independent."""
    from ..functions.embeddings import get_name_embedder
    from ..profiler import char_ngram_cosine

    emb = get_name_embedder()
    if emb is not None:
        return emb.distance(a, b)
    ta = set(re.findall(r"[a-zA-Z]{2,}|\d+", a.lower()))
    tb = set(re.findall(r"[a-zA-Z]{2,}|\d+", b.lower()))
    jac = len(ta & tb) / len(ta | tb) if ta and tb else 0.0
    return 1.0 - max(jac, char_ngram_cosine(a, b))


def _mean_pairwise(cols: list[str], dist: dict[frozenset, float]) -> float:
    pairs = [
        dist.get(frozenset((a, b)), 0.0)
        for i, a in enumerate(cols)
        for b in cols[i + 1 :]
    ]
    return sum(pairs) / len(pairs) if pairs else 0.0


def _mean_pairwise_names(cols: list[str]) -> float:
    pairs = [name_distance(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    return sum(pairs) / len(pairs) if pairs else 0.0


def _node_load(steps_cost: float, touched: list[str], col_dists: dict[frozenset, float]) -> Load:
    return Load(
        compute=steps_cost,
        dim_dist=_mean_pairwise(touched, col_dists),
        sem_dist=_mean_pairwise_names(touched),
    )


# ---------------------------------------------------------------------------
# family enumerators
# ---------------------------------------------------------------------------


def _clusters(profile: TableProfile) -> list[list[str]]:
    seen: set[tuple] = set()
    out: list[list[str]] = []
    for g in list(profile.dim_clusters) + list(profile.name_clusters):
        cols = [c for c in g if c in profile.num_col_names]
        t = tuple(sorted(cols))
        if len(cols) >= 2 and t not in seen:
            seen.add(t)
            out.append(sorted(cols))
    return out


def _cluster_ops(cols: list[str]) -> list[str]:
    """Applicable arithmetic ops for a cluster (searchthread.py:146-178):
    2-column clusters get sub/div/mul; larger clusters get sum (sum on
    exactly-2 clusters skipped per ONLYPROCESSCLUSTERMORETHAN2)."""
    ops: list[str] = []
    if len(cols) == 2:
        ops.extend(CLUSTER_OPS_2COL)
        if not ONLY_PROCESS_CLUSTER_MORE_THAN_2:
            ops.extend(CLUSTER_OPS_NCOL)
    else:
        ops.extend(CLUSTER_OPS_NCOL)
    return ops


def _derive_step(op: str, cols: list[str]) -> tuple[Step, str]:
    name = common_suffix_name(op, cols)
    return Step(t=op, i_type="==", i=list(cols), index=[name], o_type="append"), name


def enumerate_null_nom1(profile: TableProfile) -> list[Candidate]:
    out = []
    for c in profile.nominal_cols():
        if profile.columns[c].is_key:
            continue
        out.append(
            Candidate(
                family="null_nom1",
                steps=[Step(t="select", i_type="==", i=[c])],
                out_cols=[c],
                load=Load(cal_load("select"), 0.0, 0.0),
            )
        )
    return out


def enumerate_null_nom(profile: TableProfile) -> list[Candidate]:
    cols = [c for c in profile.nominal_cols() if not profile.columns[c].is_key]
    if not cols:
        return []
    return [
        Candidate(
            family="null_nom",
            steps=[Step(t="select", i_type="==", i=cols)],
            out_cols=cols,
            load=Load(cal_load("select", len(cols)), 0.0, 0.0),
        )
    ]


def enumerate_null_num1(profile: TableProfile) -> list[Candidate]:
    out = []
    for c in profile.num_col_names:
        out.append(
            Candidate(
                family="null_num1",
                steps=[Step(t="select", i_type="==", i=[c])],
                out_cols=[c],
                load=Load(cal_load("select"), 0.0, 0.0),
            )
        )
    for cluster in _clusters(profile):
        for op in _cluster_ops(cluster):
            step, name = _derive_step(op, cluster)
            out.append(
                Candidate(
                    family="null_num1",
                    steps=[step, Step(t="select", i_type="==", i=[name])],
                    out_cols=[name],
                    derived=[name],
                    load=_node_load(cal_load(op, len(cluster)), cluster, profile.col_dists),
                )
            )
    return out


def enumerate_null_num(profile: TableProfile) -> list[Candidate]:
    cols = list(profile.num_col_names)
    if not cols:
        return []
    out = [
        Candidate(
            family="null_num",
            steps=[Step(t="select", i_type="==", i=cols)],
            out_cols=cols,
            load=Load(cal_load("select", len(cols)), 0.0, 0.0),
        )
    ]
    for cluster in _clusters(profile):
        for op in _cluster_ops(cluster):
            step, name = _derive_step(op, cluster)
            out.append(
                Candidate(
                    family="null_num",
                    steps=[step, Step(t="select", i_type="==", i=cols + [name])],
                    out_cols=cols + [name],
                    derived=[name],
                    load=_node_load(cal_load(op, len(cluster)), cluster, profile.col_dists),
                )
            )
    return out


def enumerate_dm(profile: TableProfile, max_depth: int = MAX_TPATH_DEPTH) -> list[Candidate]:
    """Shared pool for the core transforms: depth-0 cluster selects, then
    dominance-pruned chains of cluster-arithmetic appends (reference
    searchthread.py:251-459)."""
    clusters = _clusters(profile)
    out: list[Candidate] = []

    # depth 0: plain cluster selects (searchthread.py:251-298)
    for cluster in clusters:
        out.append(
            Candidate(
                family="dm",
                steps=[Step(t="select", i_type="==", i=cluster)],
                out_cols=cluster,
                load=_node_load(cal_load("select", len(cluster)), cluster, profile.col_dists),
            )
        )

    # depth ≥ 1: chains of (op, cluster) with strictly increasing
    # (op order, cluster index) — no permuted duplicates
    # (searchthread.py:300-421); Pareto prune each layer.
    ops_by_cluster = [( ci, op) for ci, cl in enumerate(clusters) for op in _cluster_ops(cl)]
    Frontier = list[tuple[Load, tuple[list[Step], list[str], list[str], int]]]
    frontier: Frontier = []
    for idx, (ci, op) in enumerate(ops_by_cluster):
        cluster = clusters[ci]
        step, name = _derive_step(op, cluster)
        load = _node_load(cal_load(op, len(cluster)), cluster, profile.col_dists)
        frontier.append((load, ([step], list(cluster), [name], idx)))

    depth = 1
    while frontier and depth <= max_depth:
        if depth >= PRUNING_DEPTH:
            frontier = prune_dominated(frontier)
        for load, (steps, touched, derived, _) in frontier:
            cols = sorted(set(touched)) + derived
            out.append(
                Candidate(
                    family="dm",
                    steps=steps + [Step(t="select", i_type="==", i=cols)],
                    out_cols=cols,
                    derived=list(derived),
                    load=load,
                )
            )
        nxt: Frontier = []
        for load, (steps, touched, derived, last_idx) in frontier:
            for idx in range(last_idx + 1, len(ops_by_cluster)):
                ci, op = ops_by_cluster[idx]
                cluster = clusters[ci]
                step, name = _derive_step(op, cluster)
                new_touched = touched + [c for c in cluster if c not in touched]
                add = _node_load(cal_load(op, len(cluster)), new_touched, profile.col_dists)
                new_load = Load(load.compute + add.compute, add.dim_dist, add.sem_dist)
                nxt.append((new_load, (steps + [step], new_touched, derived + [name], idx)))
        frontier = nxt
        depth += 1
    return _dedup(out)


def _dedup(cands: list[Candidate]) -> list[Candidate]:
    seen: set[tuple] = set()
    out = []
    for c in cands:
        sig = c.signature()
        if sig not in seen:
            seen.add(sig)
            out.append(c)
    return out


RANK_PREFIX = "rank "
RANKING_ON = True  # reference RANKINGON (config.py:16) — default on


def _ranked_profile(profile: TableProfile) -> tuple[TableProfile, Step] | None:
    """Global-ranking preprocessing (reference ``ranking()``,
    searchthread.py:470-522): a profile whose numeric columns are the
    ``rank <col>`` counterparts of every real column, with dim/name
    clusters mirrored onto them, plus the single shared rank step that
    materializes them (appended once at the head of every ranked path)."""
    from ..profiler import ColumnProfile

    real = [c for c in profile.num_col_names if profile.columns[c].semantic == "real"]
    if not real:
        return None
    names = {c: RANK_PREFIX + c for c in real}
    rank_step = Step(
        t="rank", i_type="==", i=list(real), index=[names[c] for c in real], o_type="append"
    )
    cols = {
        names[c]: ColumnProfile(
            name=names[c],
            spark_type="bigint",
            semantic="int",
            n_distinct=profile.n_rows,
        )
        for c in real
    }
    mirrored = TableProfile(
        n_rows=profile.n_rows,
        columns=cols,
        key=None,
        num_col_names=[names[c] for c in real],
        dim_clusters=[
            [names[c] for c in g if c in names]
            for g in profile.dim_clusters
            if len([c for c in g if c in names]) >= 2
        ],
        name_clusters=[
            [names[c] for c in g if c in names]
            for g in profile.name_clusters
            if len([c for c in g if c in names]) >= 2
        ],
        col_dists={
            frozenset((names[a], names[b])): d
            for pair, d in profile.col_dists.items()
            for a, b in [tuple(pair)]
            if a in names and b in names
        },
    )
    return mirrored, rank_step


def _with_rank_prefix(cands: list[Candidate], rank_step: Step) -> list[Candidate]:
    rank_load = Load(cal_load("rank", len(rank_step.i)), 0.0, 0.0)
    out = []
    for c in cands:
        out.append(
            Candidate(
                family=c.family,
                steps=[rank_step] + c.steps,
                out_cols=c.out_cols,
                derived=sorted(set(c.derived) | set(c.out_cols)),  # ranked cols are derived
                load=c.load + rank_load,
            )
        )
    return out


def enumerate_tpaths(
    profile: TableProfile, max_depth: int = MAX_TPATH_DEPTH, ranking: bool = RANKING_ON
) -> dict[str, list[Candidate]]:
    """All candidate pools keyed by family; core-T families share the
    ``dm`` pool (reference representative-T sharing, search.py:47-61).
    With ``ranking`` (reference RANKINGON default), every numeric family
    also enumerates over globally-ranked counterparts of the real
    columns, each path opening with the shared rank step."""
    pools = {
        "null_nom1": enumerate_null_nom1(profile),
        "null_nom": enumerate_null_nom(profile),
        "null_num1": enumerate_null_num1(profile),
        "null_num": enumerate_null_num(profile),
        "dm": enumerate_dm(profile, max_depth=max_depth),
    }
    if ranking:
        ranked = _ranked_profile(profile)
        if ranked is not None:
            rp, rank_step = ranked
            pools["null_num1"] += _with_rank_prefix(enumerate_null_num1(rp), rank_step)
            pools["null_num"] += _with_rank_prefix(enumerate_null_num(rp), rank_step)
            pools["dm"] += _with_rank_prefix(
                enumerate_dm(rp, max_depth=max_depth), rank_step
            )
    return {k: _dedup(v) for k, v in pools.items()}
