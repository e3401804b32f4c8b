"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
gives byte-identical tables and scripts, so the program under test sees
only generated inputs and two runs with one seed do the same work.
Tables come back as pandas frames; ``write_parquet`` stores them with
microsecond timestamps, the precision Spark reads without legacy flags.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd


def rng(seed: int, name: str) -> np.random.Generator:
    """Independent stream per (seed, table): adding a table does not
    shift the values of the others."""
    digest = hashlib.sha256(f"{seed}:{name}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def write_parquet(df: pd.DataFrame, path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, coerce_timestamps="us", allow_truncated_timestamps=True)
    return path


def frame_digest(df: pd.DataFrame) -> str:
    """Content hash of a generated frame (determinism checks)."""
    h = hashlib.sha256(json.dumps(list(df.columns)).encode())
    h.update(pd.util.hash_pandas_object(df.astype(str), index=False).to_numpy().tobytes())
    return h.hexdigest()


def _dates(r: np.random.Generator, n: int, start: str, days: int) -> pd.Series:
    base = np.datetime64(start, "D")
    return pd.Series(base + r.integers(0, days, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


_WORDS = (
    "the a fast slow big small key value row column table data query scan "
    "filter join merge sort group agg window batch stream spark vector line "
    "order part customer hash index"
).split()


# ---- session_tall: the TPC-H lineitem file's 11 columns, many rows ----


def tall_table(seed: int, rows: int) -> pd.DataFrame:
    r = rng(seed, "tall")
    qty = r.integers(1, 51, rows).astype(float)
    return pd.DataFrame(
        {
            "l_orderkey": np.sort(r.integers(1, rows // 4 + 2, rows)),
            "l_partkey": r.integers(1, 20001, rows),
            "l_suppkey": r.integers(1, 1001, rows),
            "l_linenumber": r.integers(1, 8, rows).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, rows), 2),
            "l_discount": np.round(r.integers(0, 11, rows) / 100.0, 2),
            "l_tax": np.round(r.integers(0, 9, rows) / 100.0, 2),
            "l_returnflag": r.choice(["A", "N", "R"], rows),
            "l_linestatus": r.choice(["F", "O"], rows),
            "l_shipdate": _dates(r, rows, "1992-01-02", 2400),
        }
    )


# ---- session_wide: a training log, numeric columns in unit/name clusters ----

# (name stem, unit, low, high) — the metric families of a model-training
# log; each family is one name cluster, the unit suffix one unit cluster
_FAMILIES = [
    ("train_loss", "nats", 0.05, 4.0),
    ("val_loss", "nats", 0.08, 4.5),
    ("train_acc", "pct", 10.0, 99.0),
    ("val_acc", "pct", 8.0, 97.0),
    ("grad_norm", "l2", 0.1, 30.0),
    ("step_time", "ms", 80.0, 400.0),
    ("gpu_mem", "gb", 2.0, 40.0),
    ("lr", "x1e4", 0.1, 10.0),
]


def wide_table(seed: int, rows: int, per_family: int) -> pd.DataFrame:
    """``rows`` × (3 + 8·per_family) columns: an epoch index, two
    nominal columns and eight metric families of ``per_family`` columns
    each, named ``<family>_<k>(<unit>)``."""
    r = rng(seed, "wide")
    t = np.linspace(0.0, 1.0, rows)
    cols: dict[str, object] = {"epoch": np.arange(rows, dtype=np.int64)}
    cols["optimizer"] = r.choice(["adam", "sgd", "lamb"], rows)
    cols["dataset"] = r.choice(["cifar", "imagenet", "svhn", "mnist"], rows)
    for stem, unit, lo, hi in _FAMILIES:
        for k in range(per_family):
            decay = r.uniform(1.0, 6.0)
            trend = np.exp(-decay * t) if "loss" in stem or "norm" in stem else 1 - np.exp(-decay * t)
            noise = r.normal(0.0, r.uniform(0.01, 0.08), rows)
            vals = lo + (hi - lo) * np.clip(trend + noise, 0.0, 1.0)
            cols[f"{stem}_{k}({unit})"] = np.round(vals, 4)
    return pd.DataFrame(cols)


# ---- session script: the user's refinements after the search ----


def refine_script(seed: int, numeric_cols: list[str], n_add_t: int) -> list[dict]:
    """Seeded ``add_t`` requests in pairs: a horizontal ``sum`` of two
    numeric columns on the root, then a ``rank`` of one column that
    extends it (the user drilling down one level). The seed picks the
    columns; the shape of the script is the same for every seed, so
    every seed asks for the same amount of work."""
    r = rng(seed, "refine")
    script: list[dict] = []
    for k in range(n_add_t):
        if k % 2 == 0:
            pick = [str(c) for c in r.choice(numeric_cols, 2, replace=False)]
            script.append({"t": "sum", "i": pick, "index": [f"s{k}"], "extend": False})
        else:
            script.append({"t": "rank", "i": [str(r.choice(numeric_cols))], "index": [], "extend": True})
    return script


def pick(seed: int, name: str, n_items: int, n: int) -> list[int]:
    """``n`` distinct seeded indices out of ``n_items`` (all if fewer)."""
    return [int(i) for i in rng(seed, name).permutation(n_items)[:n]]


# ---- operator_batch: the registry's tables (TPC-H subset + corpus) ----


def batch_tables(seed: int, scale: float) -> dict[str, pd.DataFrame]:
    """The ten tables the registry queries read, shaped like the
    registry's own test data; ``scale`` 0.001 gives 6,000 lineitem rows."""
    n_li = int(6_000_000 * scale)
    n_ord = n_li // 4
    n_cust = max(50, int(150_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_docs = max(200, int(500_000 * scale))
    n_vec = max(200, int(500_000 * scale))
    n_ev = max(500, int(1_000_000 * scale))
    out: dict[str, pd.DataFrame] = {}

    r = rng(seed, "tpch")
    out["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    out["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(r.uniform(-999.0, 9999.0, n_supp), 2),
        }
    )
    out["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(r.uniform(-999.0, 9999.0, n_cust), 2),
            "c_mktsegment": r.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ),
        }
    )
    adj = ["cold", "small", "large", "green", "red", "blue", "shiny", "matte"]
    noun = ["widget", "bolt", "gear", "spring", "valve", "panel", "pipe", "screw"]
    out["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(r.choice(adj, n_part), r.choice(noun, n_part))],
            "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
            "p_type": r.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
            ),
            "p_size": r.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1 % 1100, 2),
        }
    )
    out["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_ord),
            "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(r.uniform(1000.0, 450000.0, n_ord), 2),
            "o_orderdate": _dates(r, n_ord, "1992-01-01", 3650),
            "o_orderpriority": r.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ),
        }
    )
    qty = r.integers(1, 51, n_li).astype(float)
    out["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": r.integers(0, n_ord, n_li),
            "l_partkey": r.integers(0, n_part, n_li),
            "l_suppkey": r.integers(0, n_supp, n_li),
            "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": r.choice(["A", "N", "R"], n_li),
            "l_linestatus": r.choice(["F", "O"], n_li),
            "l_shipdate": _dates(r, n_li, "1992-01-02", 3650),
        }
    )

    r = rng(seed, "documents")
    texts = []
    for _ in range(n_docs):
        if texts and r.random() < 0.08:  # near-duplicate of an earlier doc
            words = texts[int(r.integers(0, len(texts)))].split()
            words[int(r.integers(0, len(words)))] = str(r.choice(_WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(r.choice(_WORDS, int(r.integers(10, 100)))))
    out["documents"] = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": r.choice(["en", "fr", "es", "zh", "de"], n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    r = rng(seed, "embeddings")
    centers = r.normal(0.0, 1.0, (10, 64))
    labels = r.integers(0, 10, n_vec)
    vecs = centers[labels] + r.normal(0.0, 0.6, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": [v for v in vecs.astype(np.float32)],
            "label": labels.astype(np.int32),
        }
    )

    r = rng(seed, "events")
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = start + np.sort(r.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    out["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pd.Series(ts).astype("datetime64[us]"),
            "user_id": r.integers(0, max(20, n_ev // 50), n_ev),
            "event_type": r.choice(["click", "error", "purchase", "signup", "view"], n_ev),
            "value": np.round(r.uniform(0.0, 200.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in r.integers(0, 100, n_ev)],
        }
    )
    return out
