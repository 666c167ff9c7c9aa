"""Extension-sketch tests: HLL / count-min / Bloom.

Three layers per sketch (mirrors the DDSketch test strategy, SURVEY.md §5):
  1. numpy-core accuracy vs exact oracles (published error bounds);
  2. merge algebra: canonical state identical under merge reordering;
  3. Spark JVM path == numpy core bit-for-bit (hash/register/cell/bit
     parity between the codegen'd columns and the vectorized core).
"""

from __future__ import annotations

import math
import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from ddsketch_spark.core import bloom as bloom_core
from ddsketch_spark.core import cms as cms_core
from ddsketch_spark.core import hll as hll_core
from ddsketch_spark.core.bloom import BloomConfig
from ddsketch_spark.core.cms import CMSConfig
from ddsketch_spark.core.hll import HLLConfig
from ddsketch_spark.operators import approx_agg as ops


def _values(n: int, distinct: int, seed: int = 7) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.integers(0, distinct, size=n).astype(np.int64)


# ---------------------------------------------------------------------------
# HLL core
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("true_d", [100, 5_000, 200_000])
def test_hll_accuracy(true_d):
    cfg = HLLConfig(p=12)
    sk = hll_core.add(hll_core.empty(cfg), np.arange(true_d, dtype=np.int64))
    est = hll_core.estimate(sk)
    # 1.04/sqrt(m) ~= 1.6% rse at p=12; allow 5 sigma
    assert abs(est - true_d) / true_d < 5 * 1.04 / math.sqrt(cfg.m)


def test_hll_merge_reordering_byte_identical():
    cfg = HLLConfig()
    parts = [
        hll_core.add(hll_core.empty(cfg), _values(5000, 3000, seed=i))
        for i in range(8)
    ]
    orders = [list(range(8)), list(range(7, -1, -1))]
    random.Random(1).shuffle(order3 := list(range(8)))
    orders.append(order3)
    states = []
    for order in orders:
        acc = hll_core.empty(cfg)
        for i in order:
            acc = hll_core.merge(acc, parts[i])
        states.append(acc)
    for s in states[1:]:
        assert np.array_equal(s.idxs, states[0].idxs)
        assert np.array_equal(s.rhos, states[0].rhos)


def test_hll_merge_equals_single_build():
    cfg = HLLConfig()
    a, b = _values(10_000, 8_000, seed=1), _values(10_000, 8_000, seed=2)
    merged = hll_core.merge(
        hll_core.add(hll_core.empty(cfg), a), hll_core.add(hll_core.empty(cfg), b)
    )
    single = hll_core.add(hll_core.empty(cfg), np.concatenate([a, b]))
    assert np.array_equal(merged.idxs, single.idxs)
    assert np.array_equal(merged.rhos, single.rhos)


def test_hll_spark_matches_core(spark):
    cfg = HLLConfig()
    vals = _values(20_000, 9_000)
    df = spark.createDataFrame([(int(v),) for v in vals], "x long").repartition(6)
    rows = ops.hll_estimate(df, "x", cfg).collect()
    assert len(rows) == 1
    sk = hll_core.add(hll_core.empty(cfg), vals)
    assert rows[0]["estimate"] == pytest.approx(hll_core.estimate(sk), abs=0.0)
    assert rows[0]["v_zero"] == cfg.m - len(sk.idxs)
    assert rows[0]["checksum"] == hll_core.register_checksum(sk)


def test_hll_spark_state_grouped(spark, sf_correct):
    cfg = HLLConfig(p=10)
    ev = spark.read.parquet(f"{sf_correct}/events.parquet")
    states = {
        r["event_type"]: r
        for r in ops.hll_sketch(ev, "user_id", cfg, group_cols=("event_type",)).collect()
    }
    pdf = ev.select("event_type", "user_id").toPandas()
    for et, grp in pdf.groupby("event_type"):
        sk = hll_core.add(
            hll_core.empty(cfg), grp["user_id"].to_numpy().astype(np.int64)
        )
        assert list(states[et]["idxs"]) == sk.idxs.tolist()
        assert list(states[et]["rhos"]) == sk.rhos.tolist()


def _core_finish(cfg: HLLConfig, vals) -> tuple[float, int, int]:
    sk = hll_core.add(hll_core.empty(cfg), np.asarray(vals, np.int64))
    return hll_core.estimate(sk), cfg.m - len(sk.idxs), hll_core.register_checksum(sk)


@pytest.mark.parametrize("p", [4, 12])
def test_hll_catalyst_finish_equals_core(spark, sf_correct, p):
    """The Catalyst finish (v_zero, checksum, harmonic sum, estimate) equals
    core.hll: v_zero and checksum exactly, estimate bit for bit -- grouped,
    global, and over empty input (one global row: v_zero = m, estimate 0)."""
    cfg = HLLConfig(p=p)
    ev = spark.read.parquet(f"{sf_correct}/events.parquet")
    pdf = ev.select("event_type", "user_id").toPandas()

    grouped = ops.hll_estimate(ev, "user_id", cfg, group_cols=("event_type",)).collect()
    assert {r["event_type"] for r in grouped} == set(pdf["event_type"])
    for r in grouped:
        vals = pdf.loc[pdf["event_type"] == r["event_type"], "user_id"]
        assert (r["estimate"], r["v_zero"], r["checksum"]) == _core_finish(cfg, vals)

    (glob,) = ops.hll_estimate(ev, "user_id", cfg).collect()
    assert (glob["estimate"], glob["v_zero"], glob["checksum"]) == _core_finish(
        cfg, pdf["user_id"]
    )

    empty = ev.where(F.lit(False))
    (row,) = ops.hll_estimate(empty, "user_id", cfg).collect()
    assert (row["estimate"], row["v_zero"], row["checksum"]) == _core_finish(cfg, [])
    assert ops.hll_estimate(empty, "user_id", cfg, group_cols=("event_type",)).count() == 0
    (state,) = ops.hll_sketch(empty, "user_id", cfg).collect()
    assert state.asDict() == hll_core.to_dict(hll_core.empty(cfg))


def test_hll_output_schema_nullable(spark):
    """The Catalyst finish keeps the schema the pandas finalizers had (every
    column nullable), so stored results keep their exact bytes."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], "x long, g string")
    est = ops.hll_estimate(df, "x", group_cols=("g",))
    assert est.schema.simpleString() == (
        "struct<g:string,estimate:double,v_zero:bigint,checksum:bigint>"
    )
    assert all(f.nullable for f in est.schema.fields)
    sk = ops.hll_sketch(df, "x", group_cols=("g",))
    assert sk.schema.simpleString() == (
        "struct<g:string,p:int,seed:bigint,idxs:array<bigint>,rhos:array<bigint>>"
    )
    assert all(f.nullable for f in sk.schema.fields)


def test_hll_rollup_group_named_all_label_keeps_own_row(spark):
    """A real group whose value equals all_label is not merged into the
    global row: both rows come back under the label, each with its own
    registers."""
    cfg = HLLConfig(p=8)
    rows = [(int(v), "__ALL__") for v in range(0, 300)]
    rows += [(int(v), "b") for v in range(1000, 1700)]
    df = spark.createDataFrame(rows, "x long, g string")
    out = ops.hll_estimate_rollup(df, "x", "g", cfg).collect()
    got = sorted((r["g"], r["estimate"], r["v_zero"], r["checksum"]) for r in out)
    xs = np.array([v for v, _ in rows])
    want = sorted(
        [
            ("__ALL__", *_core_finish(cfg, xs[:300])),
            ("b", *_core_finish(cfg, xs[300:])),
            ("__ALL__", *_core_finish(cfg, xs)),
        ]
    )
    assert got == want


# ---------------------------------------------------------------------------
# count-min core
# ---------------------------------------------------------------------------

def test_cms_never_undercounts_and_bounds():
    cfg = CMSConfig(depth=4, width=2048)
    vals = _values(50_000, 500)  # heavy collisions impossible: 500 << 2048
    sk = cms_core.add(cms_core.empty(cfg), vals)
    items, true_counts = np.unique(vals, return_counts=True)
    est = cms_core.point_query(sk, items)
    assert np.all(est >= true_counts)  # structural guarantee
    # eps = e/width; overshoot > eps*N for a given item w.p. <= e^-depth
    eps_n = math.e / cfg.width * sk.n
    assert np.mean(est - true_counts > eps_n) < 0.05


def test_cms_merge_reordering():
    cfg = CMSConfig()
    parts = [cms_core.add(cms_core.empty(cfg), _values(5000, 100, seed=i)) for i in range(6)]
    acc1 = cms_core.empty(cfg)
    for p in parts:
        acc1 = cms_core.merge(acc1, p)
    acc2 = cms_core.empty(cfg)
    for p in reversed(parts):
        acc2 = cms_core.merge(acc2, p)
    assert np.array_equal(acc1.counters, acc2.counters)
    assert acc1.n == acc2.n == 30_000


def test_cms_spark_matches_core(spark):
    cfg = CMSConfig(depth=3, width=512)
    vals = _values(30_000, 400)
    df = spark.createDataFrame([(int(v),) for v in vals], "x long").repartition(5)
    probes = spark.createDataFrame([(int(v),) for v in np.unique(vals)], "item long")
    got = {
        r["probe"]: r["est"]
        for r in ops.cms_point_query(df, "x", probes, "item", cfg).collect()
    }
    sk = cms_core.add(cms_core.empty(cfg), vals)
    items = np.unique(vals)
    want = cms_core.point_query(sk, items)
    assert got == {int(i): int(w) for i, w in zip(items, want)}


def test_cms_heavy_hitters_spark(spark):
    # zipf-ish: item 0 is 30% of the stream
    rng = np.random.default_rng(3)
    vals = np.concatenate([np.zeros(3000, np.int64), rng.integers(1, 500, 7000)])
    df = spark.createDataFrame([(int(v),) for v in vals], "x long")
    hh = {r["item"]: r["est"] for r in ops.cms_heavy_hitters(df, "x", 0.1).collect()}
    assert 0 in hh and hh[0] >= 3000  # no false negative, never undercounts


# ---------------------------------------------------------------------------
# Bloom core
# ---------------------------------------------------------------------------

def test_bloom_no_false_negatives_and_fpr():
    cfg = BloomConfig(m_bits=1 << 14, k=5)
    inserted = np.arange(1000, dtype=np.int64)
    sk = bloom_core.add(bloom_core.empty(cfg), inserted)
    assert bool(np.all(bloom_core.might_contain(sk, inserted)))
    absent = np.arange(10_000, 30_000, dtype=np.int64)
    fpr = float(np.mean(bloom_core.might_contain(sk, absent)))
    # theory: (1 - e^{-kn/m})^k ~= 0.17% here; allow generous headroom
    k, n, m = cfg.k, len(inserted), cfg.m_bits
    assert fpr < 3 * (1 - math.exp(-k * n / m)) ** k + 0.002


def test_bloom_merge_reordering():
    cfg = BloomConfig()
    parts = [bloom_core.add(bloom_core.empty(cfg), _values(2000, 10_000, seed=i)) for i in range(5)]
    acc1, acc2 = bloom_core.empty(cfg), bloom_core.empty(cfg)
    for p in parts:
        acc1 = bloom_core.merge(acc1, p)
    for p in reversed(parts):
        acc2 = bloom_core.merge(acc2, p)
    assert np.array_equal(acc1.words, acc2.words)


def test_bloom_spark_matches_core(spark):
    cfg = BloomConfig(m_bits=1 << 13, k=4)
    vals = _values(5000, 3000)
    df = spark.createDataFrame([(int(v),) for v in vals], "x long").repartition(4)
    probe_vals = np.arange(0, 6000, dtype=np.int64)
    probes = spark.createDataFrame([(int(v),) for v in probe_vals], "p long")
    got = {
        r["probe"]: r["might_contain"]
        for r in ops.bloom_might_contain(df, "x", probes, "p", cfg).collect()
    }
    sk = bloom_core.add(bloom_core.empty(cfg), vals)
    want = bloom_core.might_contain(sk, probe_vals)
    assert got == {int(p): bool(w) for p, w in zip(probe_vals, want)}
    # every inserted value answers True through the Spark path
    assert all(got[int(v)] for v in np.unique(vals))


def test_bloom_spark_state_roundtrip(spark):
    cfg = BloomConfig(m_bits=1 << 12, k=3)
    vals = _values(2000, 1500)
    df = spark.createDataFrame([(int(v),) for v in vals], "x long")
    rows = ops.bloom_sketch(df, "x", cfg).collect()
    assert len(rows) == 1
    got = bloom_core.from_dict(rows[0].asDict())
    want = bloom_core.add(bloom_core.empty(cfg), vals)
    assert np.array_equal(got.words, want.words)
    assert got.n == want.n == 2000


# ---------------------------------------------------------------------------
# local_topk_candidates Misra-Gries core (ADVICE r4: quantified guarantee)
# ---------------------------------------------------------------------------

def _mg_batches(spec):
    """spec: list of dicts {key: count}; yields one pandas batch each."""
    import pandas as pd

    for d in spec:
        items = []
        for k, c in d.items():
            items.extend([k] * c)
        yield pd.DataFrame({"item": items})


def test_local_topk_no_prune_is_exact_topk():
    from ddsketch_spark.operators.approx_agg import local_topk_pandas

    spec = [{1: 5, 2: 3}, {3: 4, 2: 2}, {4: 1}]
    got = set(local_topk_pandas(_mg_batches(spec), k_local=2, prune_factor=8))
    assert got == {1, 2}  # true counts 5, 5, 4, 1 -> top-2 = {1, 2}


def test_local_topk_mg_guarantee_under_adversarial_churn():
    """The Misra-Gries bound: any key with true within-partition count >=
    N/(cap+1) + max-other-count must be emitted no matter how its
    occurrences interleave with churning one-off keys. Key 0 arrives 10 per
    batch amid 12 fresh one-off keys per batch (dozens of prunes at
    cap=4); true(0)=500 >= N/5 + 1 = 221, so it must survive."""
    from ddsketch_spark.operators.approx_agg import local_topk_pandas

    spec = []
    uid = 10_000
    for _ in range(50):
        d = {0: 10}
        for j in range(12):
            d[uid + j] = 1
        uid += 12
        spec.append(d)
    got = local_topk_pandas(_mg_batches(spec), k_local=2, prune_factor=2)
    assert 0 in set(got)
    assert len(got) <= 2 * 2 * 2  # bounded by 2*cap even with floor widening


def test_local_topk_output_bounded_by_capacity():
    from ddsketch_spark.operators.approx_agg import local_topk_pandas

    # pure churn: every key is a one-off; emission must stay within the
    # prune capacity no matter how large the floor grows
    spec = [{i * 100 + j: 1 for j in range(20)} for i in range(40)]
    got = local_topk_pandas(_mg_batches(spec), k_local=2, prune_factor=2)
    assert len(got) <= 2 * 2 * 2
