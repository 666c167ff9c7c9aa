"""Cross-engine hash-family tests (VERDICT r1 items 2 / ADVICE).

The multilinear limb hash must (a) agree bit-for-bit across Spark SQL
text, numpy, and DuckDB SQL on the FULL int64 domain (negatives included), and
(b) distinguish keys that are congruent mod 2^31-1 -- the round-1 fold
made every such pair collide under the entire family, breaking HLL /
Bloom / CMS / MinHash guarantees for 64-bit ids.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from ddsketch_spark.functions.hashing import (
    FOLD31,
    SPARK,
    bitlen_np,
    bitlen_sql,
    hash_np,
    hash_params,
    hash_sql,
    mix_sql,
    mixed_hash_np,
    mixed_hash_sql,
    with_hashes,
)

# full-domain exercise: 0, small, fold-aliases, 31/32-bit edges, 62-bit
# range, negatives (two's-complement limbs)
PROBE_KEYS = [
    0,
    1,
    7,
    7 + FOLD31,
    7 + 2 * FOLD31,
    FOLD31 - 1,
    FOLD31,
    FOLD31 + 1,
    1 << 31,
    (1 << 31) + 5,
    (1 << 62) + 12345,
    (1 << 63) - 1,
    -1,
    -5,
    -FOLD31,
    -(1 << 62),
    -(1 << 63),
    123456789012345,
    -123456789012345,
]


@pytest.mark.parametrize("which", [0, 1, 2])
def test_three_engine_agreement(spark, which):
    """numpy == Spark SQL text (at top level, nested inside
    array(named_struct(...)), and staged through with_hashes) == DuckDB."""
    a, b = hash_params(3)[which]
    np_lin = hash_np(np.array(PROBE_KEYS, np.int64), a, b).tolist()
    np_mix = mixed_hash_np(np.array(PROBE_KEYS, np.int64), a, b).tolist()

    df = spark.createDataFrame([(i, int(k)) for i, k in enumerate(PROBE_KEYS)], "i int, x long")
    lin, mix = hash_sql("x", a, b, SPARK), mixed_hash_sql("x", a, b, SPARK)
    got = df.selectExpr(
        "i",
        f"{lin} AS h",
        f"{mix} AS hm",
        f"array(named_struct('h', {lin}, 'hm', {mix})) AS nested",
    ).orderBy("i").collect()
    assert [r["h"] for r in got] == np_lin
    assert [r["hm"] for r in got] == np_mix
    assert [r["nested"][0]["h"] for r in got] == np_lin
    assert [r["nested"][0]["hm"] for r in got] == np_mix

    staged = with_hashes(df, "x", [(a, b)]).orderBy("i").collect()
    assert [r["__h0"] for r in staged] == np_lin
    assert [r["__m0"] for r in staged] == np_mix
    lin_only = with_hashes(df, F.col("x"), [(a, b)], mix=False)
    assert "__m0" not in lin_only.columns
    assert [r["__h0"] for r in lin_only.orderBy("i").collect()] == np_lin

    con = duckdb.connect()
    for k, hl, hm in zip(PROBE_KEYS, np_lin, np_mix):
        row = con.execute(
            f"SELECT {hash_sql(str(k), a, b)}, {mixed_hash_sql(str(k), a, b)}"
        ).fetchone()
        assert row == (int(hl), int(hm)), f"duckdb mismatch at {k}"


def test_dialects_differ_only_in_spelling():
    """Spark text is the DuckDB text with shifts and modulo respelled."""
    a, b = hash_params(1)[0]
    for duck, spark_text in [
        (hash_sql("x", a, b), hash_sql("x", a, b, SPARK)),
        (mix_sql("h"), mix_sql("h", SPARK)),
    ]:
        assert ">>" not in spark_text and "<<" not in spark_text and "%" not in spark_text
        assert "shiftright" not in duck and "pmod" not in duck
        assert duck.count(">>") == spark_text.count("shiftright")
        assert duck.count("%") == spark_text.count("pmod")


def test_fold_aliases_distinguished():
    """x and x + (2^31-1) must hash differently under (essentially) every
    member -- with the old pre-fold they collided under ALL members."""
    a_b = hash_params(8)
    for base in (7, 1 << 40, -(1 << 45)):
        xs = np.array([base, base + FOLD31], np.int64)
        distinct = sum(
            hash_np(xs, a, b)[0] != hash_np(xs, a, b)[1] for a, b in a_b
        )
        assert distinct == len(a_b), f"alias collision for base {base}"


def test_bitlen_exact_all_widths():
    xs = []
    for k in range(63):
        for d in (-1, 0, 1):
            v = (1 << k) + d
            if 0 <= v < (1 << 63):
                xs.append(v)
    got = bitlen_np(np.array(xs, np.int64))
    want = [int(v).bit_length() for v in xs]
    assert got.tolist() == want


def test_bitlen_sql_matches_np(spark):
    xs = [0, 1, 2, 3, (1 << 52) - 1, 1 << 52, (1 << 53) - 1, 1 << 53, (1 << 61) - 1]
    want = bitlen_np(np.array(xs, np.int64)).tolist()
    df = spark.createDataFrame([(i, int(x)) for i, x in enumerate(xs)], "i int, x long")
    got = df.selectExpr("i", f"{bitlen_sql('x')} AS bl").orderBy("i").collect()
    assert [r["bl"] for r in got] == want
    con = duckdb.connect()
    assert [con.execute(f"SELECT {bitlen_sql(str(x))}").fetchone()[0] for x in xs] == want


def test_hll_64bit_ids_within_sigma():
    """HLL over ids spread across the full 64-bit range (including exact
    2^31-1 alias pairs) stays within 3 sigma -- the round-1 fold collapsed
    aliases and undercounted."""
    from ddsketch_spark.core import hll

    cfg = hll.HLLConfig(p=12)
    rng = np.random.default_rng(7)
    n = 20000
    base = rng.integers(0, 1 << 62, n, dtype=np.int64)
    # plant alias pairs: base and base+FOLD31 are distinct ids
    ids = np.concatenate([base, base + FOLD31])
    sk = hll.add(hll.empty(cfg), ids)
    est = hll.estimate(sk)
    true = len(np.unique(ids))
    sigma = 1.04 / np.sqrt(cfg.m)
    assert abs(est - true) / true < 3 * sigma, (est, true)
