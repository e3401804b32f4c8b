"""The basic-transformation Step algebra.

Re-expresses the reference's ``Tbasic`` interpreter (reference
``Tengine.py:78-144``) as a JSON-serializable Step dataclass compiled to
Spark DataFrame expressions. Each step has four parts, all semantically
load-bearing in the reference and all reproduced here:

  * input selector ``i_type`` ∈ {like, ==, all, num}  (``Tengine.py:82-92``)
  * op ``t`` ∈ {astype, sum, mul, sub, div, select, rank, nominalize}
    (``Tengine.py:95-117``) — note ``sum``/``mul`` are *horizontal*
    (per-row across columns, the reference passes ``axis=1``), NOT
    group-by aggregates.
  * rename ``index``: output column names (``Tengine.py:120-125``)
  * output mode ``o_type`` ∈ {new_table, append, replace}
    (``Tengine.py:128-137``) — ``replace`` implements the *intended*
    drop+append (the reference calls ``drop`` without reassigning,
    ``Tengine.py:133``, a latent bug we do not copy).

Design notes (Spark-first):
  * Every op is a narrow column expression — no shuffle except ``rank``
    and ``nominalize`` (each one exchange, unavoidable: they are global
    orderings). Chains of arithmetic steps stay in one whole-stage
    codegen span.
  * ``rank`` reproduces pandas ``rank(method="first")`` =
    ``row_number`` ordered by (value, __rid) — tie-break by stable row
    id, the pandas row-order semantics made explicit (SURVEY §2.1).
  * ``nominalize`` reproduces ``np.unique``-sorted dense codes
    (``Tengine.py:109-114``) = ``dense_rank() - 1`` over the value order.
  * ``div`` keeps the reference's NaN→0 policy (``Tengine.py:103-104``):
    x/0 and 0/0 both yield 0.
"""

from __future__ import annotations

import contextvars
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import reduce
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

RID = "__rid"

# When True, rank/nominalize compile to plain global-window expressions
# instead of the scalable bucket machinery: on bounded samples (the
# engine's channel frames, the API's interactive replay) the extra
# boundary/count jobs cost far more than a 500-row single-reducer sort.
_SMALL_INPUT = contextvars.ContextVar("steps_small_input", default=False)


@contextmanager
def small_input_mode():
    """Execute steps knowing the input is driver-bounded (≤ a few
    thousand rows): single-window ranks, no scalability scaffolding."""
    token = _SMALL_INPUT.set(True)
    try:
        yield
    finally:
        _SMALL_INPUT.reset(token)

_NUMERIC_SPARK_TYPES = {"int", "bigint", "smallint", "tinyint", "float", "double", "decimal"}

# pandas dtype names (the reference's selector vocabulary) → Spark type names
_DTYPE_ALIASES = {
    "int": {"int", "bigint", "smallint", "tinyint"},
    "int64": {"int", "bigint", "smallint", "tinyint"},
    "float": {"float", "double"},
    "float64": {"float", "double"},
    "object": {"string"},
    "str": {"string"},
}

_CAST_ALIASES = {
    "int": "bigint",
    "int64": "bigint",
    "float": "double",
    "float64": "double",
    "str": "string",
    "object": "string",
}


@dataclass
class Step:
    """One basic transformation step (JSON-serializable plan node).

    Replaces the reference's ``str(dict)``/``eval`` path serialization
    (``utils.py:245-246``) with a structured, injection-free encoding.
    """

    t: str  # op name
    i_type: str = "all"  # input selector mode
    i: list[str] = field(default_factory=list)  # selector argument (cols / dtypes)
    o_type: str = "new_table"  # output mode
    index: list[str] = field(default_factory=list)  # output column renames
    args: list[Any] = field(default_factory=list)  # op arguments (e.g. cast target)

    def to_dict(self) -> dict[str, Any]:
        return {
            "t": self.t,
            "i_type": self.i_type,
            "i": list(self.i),
            "o_type": self.o_type,
            "index": list(self.index),
            "args": list(self.args),
        }


def steps_key(steps) -> tuple:
    """Canonical memo key of a step chain — the ONE place the per-step
    tuple shape lives (candidate signatures, the engine's sample-prefix,
    derived-base and full-frame memos all key with it). Args are keyed
    by (type, str): distinct values with equal str() — 1 vs '1', True vs
    'True' — must not share a memo slot."""
    return tuple(
        (
            s.t,
            s.i_type,
            tuple(s.i),
            s.o_type,
            tuple(s.index),
            tuple((type(a).__name__, str(a)) for a in s.args),
        )
        for s in steps
    )


def step_from_dict(d: dict[str, Any]) -> Step:
    return Step(
        t=d["t"],
        i_type=d.get("i_type", "all"),
        i=list(d.get("i", [])),
        o_type=d.get("o_type", "new_table"),
        index=list(d.get("index", [])),
        args=list(d.get("args", [])),
    )


def _base_type(spark_type: str) -> str:
    return spark_type.split("(")[0]


def numeric_columns(df: DataFrame) -> list[str]:
    return [c for c, t in df.dtypes if _base_type(t) in _NUMERIC_SPARK_TYPES and c != RID]


def select_input(df: DataFrame, step: Step) -> list[str]:
    """Resolve the step's input selector to a column list
    (reference ``Tengine.py:82-92``)."""
    if step.i_type == "==":
        return list(step.i)
    if step.i_type in ("like", "num"):
        if step.i_type == "num":
            wanted = _NUMERIC_SPARK_TYPES
        else:
            wanted: set[str] = set()
            for dt in step.i:
                wanted |= _DTYPE_ALIASES.get(dt, {dt})
        return [c for c, t in df.dtypes if _base_type(t) in wanted and c != RID]
    if step.i_type == "all":
        return [c for c in df.columns if c != RID]
    raise ValueError(f"unknown input selector i_type={step.i_type!r}")


def _out_names(step: Step, default: list[str]) -> list[str]:
    if step.index:
        if len(step.index) != len(default):
            raise ValueError(
                f"step {step.t}: {len(default)} output columns but {len(step.index)} names"
            )
        return list(step.index)
    return default


def _op_exprs(df: DataFrame, step: Step, cols: list[str]) -> tuple[list[Any], list[str]]:
    """Compile the op to (column expressions, default output names)."""
    t = step.t
    if t == "select":
        return [F.col(c) for c in cols], list(cols)
    if t == "astype":
        target = _CAST_ALIASES.get(str(step.args[0]), str(step.args[0]))
        return [F.col(c).cast(target) for c in cols], list(cols)
    if t in ("sum", "mul"):  # horizontal, per-row, left-to-right
        # Overflow policy (chosen, not inherited): the reference's
        # numpy int64 silently WRAPS on wide-integer folds; Spark under
        # ANSI THROWS mid-plan. Neither is right, so all-integral folds
        # widen to DECIMAL(38,0) — sums of int64 columns cannot
        # overflow 38 digits; a product that does exceed them fails
        # visibly in EVERY session config — under ANSI (Spark 4's
        # default, this repo's sessions) the decimal mul itself throws,
        # and for non-ANSI sessions (where decimal overflow silently
        # yields NULL) the fold is wrapped in an explicit
        # null-after-fold check (all inputs non-null but result null ⇔
        # overflow) that raises. Float inputs keep IEEE
        # left-to-right arithmetic (bit-reproducible, oracle-exact).
        ints = {"tinyint", "smallint", "int", "bigint"}
        all_integral = all(
            df.schema[c].dataType.simpleString() in ints for c in cols
        )
        terms = [
            F.col(c).cast("decimal(38,0)") if all_integral else F.col(c)
            for c in cols
        ]
        op = (lambda a, b: a + b) if t == "sum" else (lambda a, b: a * b)
        folded = reduce(op, terms)
        if all_integral and t == "mul" and len(cols) > 1:
            inputs_nonnull = reduce(
                lambda a, b: a & b, [F.col(c).isNotNull() for c in cols]
            )
            folded = F.when(
                folded.isNull() & inputs_nonnull,
                F.raise_error(
                    F.lit(
                        f"mul({', '.join(cols)}): DECIMAL(38,0) overflow "
                        "(product exceeds 38 digits)"
                    )
                ).cast("decimal(38,0)"),
            ).otherwise(folded)
        return [folded], [f"{t}({', '.join(cols)})"]
    if t == "sub":
        if len(cols) != 2:
            raise ValueError("sub requires exactly 2 input columns")
        return [F.col(cols[0]) - F.col(cols[1])], [f"sub({cols[0]}, {cols[1]})"]
    if t == "div":
        if len(cols) != 2:
            raise ValueError("div requires exactly 2 input columns")
        a, b = F.col(cols[0]), F.col(cols[1])
        # reference fillna(0) after a/b: 0/0 and x/0 → 0 (Tengine.py:104)
        expr = F.when(b != 0, a / b).otherwise(F.lit(0.0))
        return [expr], [f"div({cols[0]}, {cols[1]})"]
    if t == "rank":
        # pandas rank(method="first", ascending=True) → row_number by
        # (value, __rid); requires __rid for pandas-faithful tie order.
        tie = [F.col(RID)] if RID in df.columns else []
        exprs = [
            F.row_number().over(Window.orderBy(F.col(c), *tie)).cast("bigint") for c in cols
        ]
        return exprs, [f"rank {c}" for c in cols]
    if t == "nominalize":
        # np.unique-sorted dense integer codes (Tengine.py:109-114)
        exprs = [(F.dense_rank().over(Window.orderBy(F.col(c))) - 1).cast("bigint") for c in cols]
        return exprs, [f"nominal({c})" for c in cols]
    raise ValueError(f"unknown basic op t={step.t!r}")


# Per-column window ranks put every column's (distinct) WindowSpec in
# its own Window operator: ranking k columns stacks k operators, and
# Catalyst analysis + codegen of that tower is what dominates wide
# chart-frame pipelines (measured ~5 s per 100-column rank plan on a
# 120-row sample — pure planning). Above this width the rank compiles
# to a CONSTANT-size plan instead: melt to (rid, cid, value) via stack,
# ONE window partitioned by cid, pivot back with k conditional
# aggregates (cheap flat expressions, not operators).
_STACKED_RANK_MIN_COLS = 8


def _apply_rank_stacked(df: DataFrame, step: Step, cols: list[str]) -> DataFrame:
    """Wide multi-column rank/nominalize as one melt → one window →
    one pivot-back — identical values to the per-column window form
    (row_number ties by __rid / dense np.unique codes), O(1) plan
    operators in the column count."""
    dense = step.t == "nominalize"
    defaults = [f"nominal({c})" if dense else f"rank {c}" for c in cols]
    names = _out_names(step, defaults)
    dtypes = dict(df.dtypes)
    bases = {dtypes[c].split("(")[0] for c in cols}
    if len(bases) == 1:
        vals = [F.col(c) for c in cols]
    elif bases <= _NUMERIC_SPARK_TYPES and not (bases & {"bigint", "decimal"}):
        # a heterogeneous mix is unified through double — but bigints
        # above 2^53 and high-precision decimals can collapse to equal
        # doubles, changing rank/nominalize vs the native-type per-column
        # paths; those mixes fall back instead
        vals = [F.col(c).cast("double") for c in cols]
    else:
        return None  # heterogeneous non-double-safe mix: caller falls back
    long = df.select(
        F.col(RID),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("cid"), v.alias("value"))
                    for i, v in enumerate(vals)
                ]
            )
        ).alias("s"),
    ).select(RID, F.col("s.cid").alias("cid"), F.col("s.value").alias("value"))
    if dense:
        w = Window.partitionBy("cid").orderBy("value")
        r = (F.dense_rank().over(w) - 1).cast("bigint")
    else:
        w = Window.partitionBy("cid").orderBy("value", RID)
        r = F.row_number().over(w).cast("bigint")
    wide = (
        long.select(F.col(RID), F.col("cid"), r.alias("r"))
        .groupBy(RID)
        .agg(
            *[
                F.max(F.when(F.col("cid") == i, F.col("r"))).alias(names[i])
                for i in range(len(cols))
            ]
        )
    )
    if step.o_type == "new_table":
        return wide.select(RID, *names)
    joined = df.join(wide, RID)
    if step.o_type == "append":
        return joined.select(*df.columns, *names)
    if step.o_type == "replace":
        remaining = [c for c in df.columns if c not in cols]
        return joined.select(*remaining, *names)
    raise ValueError(f"unknown output mode o_type={step.o_type!r}")


def _apply_rank_join(
    df: DataFrame,
    step: Step,
    cols: list[str],
    boundaries: dict[str, list] | None,
    persisted: list[DataFrame] | None,
) -> DataFrame:
    """Scalable rank/nominalize: per column, a bucket-partitioned global
    rank appended in place (functions.order) — one parallel exchange per
    column, no single-reducer window and no join-back. Same values as
    the window form (tie-break by __rid / dense np.unique codes)."""
    from ..functions.order import global_ranks_multi

    dense = step.t == "nominalize"
    defaults = [f"nominal({c})" if dense else f"rank {c}" for c in cols]
    names = _out_names(step, defaults)
    joined = global_ranks_multi(
        df,
        cols,
        names,
        dense=dense,
        zero_based=dense,
        tie_col=RID if (not dense and RID in df.columns) else None,
        boundaries=boundaries,
        persisted=persisted,
    )
    if step.o_type == "new_table":
        return joined.select(RID, *names)
    if step.o_type == "append":
        return joined.select(*df.columns, *names)
    if step.o_type == "replace":
        remaining = [c for c in df.columns if c not in cols]
        return joined.select(*remaining, *names)
    raise ValueError(f"unknown output mode o_type={step.o_type!r}")


def apply_step(
    df: DataFrame,
    step: Step,
    boundaries: dict[str, list] | None = None,
    persisted: list[DataFrame] | None = None,
) -> DataFrame:
    """Apply one Step: selector → op → rename → output mode.

    ``boundaries`` and ``persisted`` reach the scalable bucketed rank
    (``functions.order.global_ranks_multi``): known bucket boundaries
    per column, and a list that receives the persisted bucket-local
    ranking the per-bucket offsets were read from. Other ops, sample
    (small-input) ranks and the wide stacked rank ignore them — so a
    caller tells from an empty ``persisted`` that nothing was persisted."""
    cols = select_input(df, step)
    if step.t in ("rank", "nominalize") and RID in df.columns and cols:
        # wide multi-rank: constant-size stacked plan in EITHER mode —
        # k per-column window/bucket operators stop planning long before
        # they stop executing (see _STACKED_RANK_MIN_COLS). Parallelism
        # of the stacked form is one reducer per (column), which is the
        # right trade for wide feature tables; narrow ranks keep the
        # per-column bucketed path whose single column scales further.
        if len(cols) >= _STACKED_RANK_MIN_COLS:
            stacked = _apply_rank_stacked(df, step, cols)
            if stacked is not None:
                return stacked
        if not _SMALL_INPUT.get():
            return _apply_rank_join(df, step, cols, boundaries, persisted)
    exprs, default_names = _op_exprs(df, step, cols)
    names = _out_names(step, default_names)
    named = [e.alias(n) for e, n in zip(exprs, names)]

    if step.o_type == "new_table":
        keep = [F.col(RID)] if RID in df.columns else []
        return df.select(*keep, *named)
    if step.o_type == "append":
        # widen in place: derived from the same lineage, no join needed
        return df.select("*", *named)
    if step.o_type == "replace":
        remaining = [c for c in df.columns if c not in cols]
        return df.select(*[F.col(c) for c in remaining], *named)
    raise ValueError(f"unknown output mode o_type={step.o_type!r}")


def apply_tpath(df: DataFrame, steps: list[Step | dict[str, Any]]) -> DataFrame:
    """Fold a transformation path over a DataFrame (the reference's
    ``transform`` pipeline runner, ``Tengine.py:19-75``, minus core-T)."""
    out = df
    for s in steps:
        out = apply_step(out, s if isinstance(s, Step) else step_from_dict(s))
    return out
