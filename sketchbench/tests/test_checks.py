"""Each check family passes a correct answer and catches a corrupted one.

Spark-free: the outputs are built with the numpy cores and then corrupted by
hand, the way a regression in an operator would corrupt them.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from ddsketch_spark.config import Q_GRID, DDSketchConfig
from ddsketch_spark.core import hll as hll_core
from ddsketch_spark.core import kll as kll_core
from ddsketch_spark.core.hll import HLLConfig
from ddsketch_spark.core.kll import KLLConfig
from sketchbench import oracles

CFG = DDSketchConfig()


@pytest.fixture(scope="module")
def groups():
    rng = np.random.default_rng(0)
    gid = rng.integers(0, 4, 20_000)
    return oracles.Groups(rng.lognormal(0.0, 1.5, gid.size), gid)


def _states(groups):
    return {g: oracles.core_build(groups.slice(i), CFG) for i, g in enumerate(groups.keys.tolist())}


def _misses(fill) -> dict:
    c = oracles.Checks()
    fill(c)
    return {k: f["misses"] for k, f in c.families.items()}


def test_groups_order_stats_match_sort(groups):
    for i in range(len(groups.keys)):
        s = np.sort(groups.slice(i))
        want = s[np.floor(np.asarray(Q_GRID) * (len(s) - 1)).astype(int)]
        assert np.array_equal(groups.order_stats(Q_GRID)[i], want)


def test_ddsketch_bound_catches_perturbed_estimate(groups):
    states = _states(groups)
    assert not any(_misses(lambda c: oracles.check_dds_states(c, states, groups, Q_GRID, CFG)).values())
    est, alpha = zip(*(oracles.state_quantiles(states[g], Q_GRID) for g in groups.keys.tolist()))
    est, alpha = np.array(est), np.array(alpha)
    exact = groups.order_stats(Q_GRID)
    est[2, 5] = exact[2, 5] * (1 + 1.5 * alpha[2])
    m = _misses(lambda c: oracles.check_dds_bound(c, est, exact, alpha))
    assert m["ddsketch.alpha_bound"] == 1


def test_ddsketch_canonical_catches_moved_count(groups):
    states = _states(groups)
    bad = dict(states)
    d = dict(bad[1])
    d["counts"] = d["counts"].copy()
    d["counts"][0] += 1
    d["counts"][-1] -= 1
    bad[1] = d
    m = _misses(lambda c: oracles.check_dds_states(c, bad, groups, Q_GRID, CFG, states,
                                                     family="ddsketch.update_equals_rebuild"))
    assert m["ddsketch.update_equals_rebuild"] == 1
    dropped = {g: v for g, v in states.items() if g != 3}
    m = _misses(lambda c: oracles.check_dds_states(c, dropped, groups, Q_GRID, CFG))
    assert m["ddsketch.groups_present"] == 2


def test_arrow_vs_native_catches_difference(groups):
    table = oracles.state_table(_states(groups), "source", pa.int32())
    assert _misses(lambda c: oracles.check_tables_identical(c, table, table, "source")) == {
        "ddsketch.arrow_equals_native": 0}
    n = table.column("n").to_numpy().copy()
    n[0] += 1
    other = table.set_column(table.schema.get_field_index("n"), "n", pa.array(n))
    m = _misses(lambda c: oracles.check_tables_identical(c, table, other, "source"))
    assert m["ddsketch.arrow_equals_native"] == 1


def test_kll_catches_perturbed_estimate(groups):
    k = KLLConfig().k
    est = np.array([kll_core.quantiles(kll_core.add(kll_core.empty(KLLConfig()), groups.slice(i)), Q_GRID)
                    for i in range(len(groups.keys))])
    assert _misses(lambda c: oracles.check_kll(c, est, groups, Q_GRID, k)) == {"kll.rank_bound": 0}
    est[0, 5] = groups.slice(0)[-1]  # the maximum in place of the median
    assert _misses(lambda c: oracles.check_kll(c, est, groups, Q_GRID, k)) == {"kll.rank_bound": 1}


def test_hll_catches_perturbed_estimate():
    cfg = HLLConfig()
    vals = np.arange(50_000, dtype=np.int64)
    est = np.array([hll_core.estimate(hll_core.add(hll_core.empty(cfg), vals))])
    exact = np.array([50_000.0])
    assert _misses(lambda c: oracles.check_hll(c, est, exact, cfg.m)) == {"hll.error_bound": 0}
    assert _misses(lambda c: oracles.check_hll(c, est * 1.2, exact, cfg.m)) == {"hll.error_bound": 1}


def test_cms_catches_undercount_and_dropped_heavy_hitter():
    values = np.array([1, 2, 3, 4, 5])
    counts = np.array([500, 300, 10, 5, 1])
    items, est = np.array([1, 2]), np.array([503, 300])
    ok = _misses(lambda c: oracles.check_cms(c, items, est, values, counts, 0.1))
    assert ok == {"cms.no_undercount": 0, "cms.no_missed_heavy_hitter": 0}
    m = _misses(lambda c: oracles.check_cms(c, items, np.array([499, 300]), values, counts, 0.1))
    assert m["cms.no_undercount"] == 1
    m = _misses(lambda c: oracles.check_cms(c, items[:1], est[:1], values, counts, 0.1))
    assert m["cms.no_missed_heavy_hitter"] == 1


def test_bloom_catches_false_negative():
    probes = np.array([1, 2, 3])
    present = np.array([True, True, False])
    ok = _misses(lambda c: oracles.check_bloom(c, probes, np.array([True, True, True]), present))
    assert ok["bloom.no_false_negative"] == 0
    m = _misses(lambda c: oracles.check_bloom(c, probes, np.array([True, False, False]), present))
    assert m["bloom.no_false_negative"] == 1


def test_topk_catches_swapped_neighbour():
    rng = np.random.default_rng(1)
    emb = rng.normal(size=(200, 8)).astype(np.float32)
    probes = np.array([3, 17, 90])
    cos = oracles.exact_cosines(emb, probes)
    k = 5
    order = np.argsort(-cos, axis=1)[:, :k]
    table = pa.table({"probe_id": np.repeat(probes, k), "rank": np.tile(np.arange(1, k + 1), len(probes)),
                      "neighbor": order.ravel(), "cosine": np.take_along_axis(cos, order, 1).ravel()})
    ok = _misses(lambda c: oracles.check_topk(c, "t", table, cos, probes, k))
    assert ok == {"t.neighbour_in_topk": 0, "t.k_per_probe": 0}
    nb = order.ravel().copy()
    nb[0] = np.argsort(cos[0])[1]  # a far neighbour (index 0 of the sort is the probe itself)
    bad = table.set_column(2, "neighbor", pa.array(nb))
    assert _misses(lambda c: oracles.check_topk(c, "t", bad, cos, probes, k))["t.neighbour_in_topk"] == 1
    short = table.slice(1)
    assert _misses(lambda c: oracles.check_topk(c, "t", short, cos, probes, k))["t.k_per_probe"] == 1


def _jaccard_table(pairs, inter, sets):
    a, b = zip(*pairs)
    return pa.table({"doc_a": list(a), "doc_b": list(b), "inter": inter,
                     "size_a": [len(sets[x]) for x in a], "size_b": [len(sets[x]) for x in b]})


def test_exact_pairs_match_brute_force():
    rng = np.random.default_rng(2)
    docs = [rng.integers(1, 30, rng.integers(5, 40)) for _ in range(60)]
    docs += [np.where(rng.random(d.size) < 0.1, 31, d) for d in docs[:20]]
    sets = oracles.doc_shingle_sets(docs, 2, 50)
    want = set()
    for a in range(len(sets)):
        for b in range(a + 1, len(sets)):
            inter = len(np.intersect1d(sets[a], sets[b]))
            union = len(sets[a]) + len(sets[b]) - inter
            if union and inter / union >= 0.5:
                want.add((a, b))
    assert oracles.exact_pairs_above(sets, 0.5) == want
    assert want


def test_jaccard_catches_low_pair_and_inflated_intersection():
    sets = [np.array([1, 2, 3, 4]), np.array([1, 2, 3, 5]), np.array([7, 8, 9, 10])]
    good = _jaccard_table([(0, 1)], [3], sets)
    ok = _misses(lambda c: oracles.check_jaccard(c, good, sets, 0.5))
    assert not any(ok.values())
    low = _jaccard_table([(0, 1), (0, 2)], [3, 0], sets)
    assert _misses(lambda c: oracles.check_jaccard(c, low, sets, 0.5))["jaccard.above_threshold"] == 1
    over = _jaccard_table([(0, 1)], [4], sets)
    assert _misses(lambda c: oracles.check_jaccard(c, over, sets, 0.5))["jaccard.inter_not_over"] == 1
    under = _jaccard_table([(0, 1)], [2], sets)  # the documented hot-shingle undercount
    assert not any(_misses(lambda c: oracles.check_jaccard(c, under, sets, 0.5)).values())
