"""Two-stage t-digest / KLL aggregation over DataFrames.

Same partial/merge shape as the DDSketch UDAF path (operators.sketch_agg):
``mapInPandas`` builds one sketch per (partition x group) with vectorized
batch inserts, the shuffle carries only KB-sized state rows, and a
canonical ``merge_many`` per group runs in ``applyInPandas``. Quantile
evaluation happens on the merged state rows.

In the compacting regime these sketches have no SQL-expressible oracle
(compaction is partition-order dependent within the rank bound), so those
queries are rows-only in the driver contract with pytest accuracy gates
(tests/test_quantile_sketches.py). Both do have a provable EXACT regime --
KLL below level-0 capacity, t-digest while every greedy step crosses the
k-limit -- and the exactness-tier queries in plans.approx_suite exercise
this whole pipeline against value-level SQL oracles there.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ddsketch_spark.core import kll as kll_core
from ddsketch_spark.core import tdigest as td_core
from ddsketch_spark.core.kll import KLLConfig
from ddsketch_spark.core.tdigest import TDigestConfig
from ddsketch_spark.operators.ddsketch_agg import _group_schema_prefix

_GLOBAL = "__global_group"

TDIGEST_STATE_FIELDS = (
    "delta double, n long, min double, max double, "
    "means array<double>, weights array<long>"
)
KLL_STATE_FIELDS = (
    "k int, n long, parity long, level_of array<long>, items array<double>"
)


class _Ops:
    """Adapter giving t-digest and KLL one build/merge surface."""

    def __init__(self, core, cfg, state_fields: str):
        self.core, self.cfg, self.state_fields = core, cfg, state_fields

    def empty(self):
        return self.core.empty(self.cfg)

    def add(self, sk, vals: np.ndarray):
        return self.core.add(sk, vals)

    def merge_many(self, sks):
        return self.core.merge_many(sks)

    def to_row(self, sk) -> dict:
        return self.core.to_dict(sk)

    def from_row(self, row):
        return self.core.from_dict(
            {k: row[k] for k in [f.split(" ")[0] for f in self.state_fields.split(", ")]}
        )


def tdigest_ops(cfg: TDigestConfig | None = None) -> _Ops:
    return _Ops(td_core, cfg or TDigestConfig(), TDIGEST_STATE_FIELDS)


def kll_ops(cfg: KLLConfig | None = None) -> _Ops:
    return _Ops(kll_core, cfg or KLLConfig(), KLL_STATE_FIELDS)


def build_partials(
    df: DataFrame,
    value: str,
    ops: _Ops,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    group_cols = list(group_cols)
    src = df.select(*group_cols, value)
    out_schema = _group_schema_prefix(df, group_cols) + ops.state_fields

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sketches: dict[tuple, object] = {}
        for pdf in batches:
            vals_all = pdf[value].to_numpy(dtype=np.float64, na_value=np.nan)
            if not group_cols:
                sk = sketches.setdefault((), ops.empty())
                ops.add(sk, vals_all)
                continue
            codes, uniques = pd.factorize(
                pdf[group_cols[0]] if len(group_cols) == 1
                else pd.Series(list(zip(*[pdf[g] for g in group_cols]))),
                use_na_sentinel=False,
            )
            for gi, u in enumerate(uniques):
                gkey = (u,) if len(group_cols) == 1 else tuple(u)
                sk = sketches.setdefault(gkey, ops.empty())
                ops.add(sk, vals_all[codes == gi])
        rows = []
        for gkey, sk in sketches.items():
            row = ops.to_row(sk)
            for g, gv in zip(group_cols, gkey):
                row[g] = gv
            rows.append(row)
        if rows:
            yield pd.DataFrame(rows)

    return src.mapInPandas(build, schema=out_schema)


def _merge_by_group(parts: DataFrame, ops: _Ops, group_cols: Sequence[str], fields: str, finish):
    """One grouped pandas pass over partial state rows: each group's
    partials are merged and ``finish(merged)`` makes its output frame.
    No group columns means one global group."""
    group_cols = list(group_cols)
    if not group_cols:
        parts = parts.withColumn(_GLOBAL, F.lit(1))
    out_schema = _group_schema_prefix(parts, group_cols) + fields

    def merge_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        out = finish(ops.merge_many([ops.from_row(r) for _, r in pdf.iterrows()]))
        for g in group_cols:
            out[g] = pdf[g].iloc[0]
        return out

    return parts.groupBy(*(group_cols or [_GLOBAL])).applyInPandas(merge_fn, schema=out_schema)


def sketch_agg(
    df: DataFrame,
    value: str,
    ops: _Ops,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """values -> per-group merged sketch state rows."""
    parts = build_partials(df, value, ops, group_cols)
    return _merge_by_group(
        parts, ops, group_cols, ops.state_fields, lambda sk: pd.DataFrame([ops.to_row(sk)])
    )


def _quantile_rows(ops: _Ops, sk, qs: list[float]) -> pd.DataFrame:
    return pd.DataFrame({"q": qs, "estimate": ops.core.quantiles(sk, qs), "n": sk.n})


def quantiles_from_states(
    states: DataFrame,
    ops: _Ops,
    qs: Sequence[float],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Quantile rows of stored (already merged) state rows."""
    qs = [float(q) for q in qs]
    out_schema = (
        _group_schema_prefix(states, group_cols) + "q double, estimate double, n long"
    )

    def evaluate(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            outs = []
            for _, r in pdf.iterrows():
                out = _quantile_rows(ops, ops.from_row(r), qs)
                for g in group_cols:
                    out[g] = r[g]
                outs.append(out)
            if outs:
                yield pd.concat(outs)

    return states.mapInPandas(evaluate, schema=out_schema)


def quantiles(
    df: DataFrame,
    value: str,
    ops: _Ops,
    qs: Sequence[float],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """(group_cols..., q, estimate, n): the same rows as
    ``quantiles_from_states(sketch_agg(...))``, but each group's partials
    are merged and evaluated in one pandas pass (two Python stages, not
    three)."""
    qs = [float(q) for q in qs]
    parts = build_partials(df, value, ops, group_cols)
    return _merge_by_group(
        parts, ops, group_cols, "q double, estimate double, n long",
        lambda sk: _quantile_rows(ops, sk, qs),
    )
