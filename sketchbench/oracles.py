"""Exact answers in numpy, and checks of each function's documented contract.

Every check records, per check family, how many estimates it looked at, how
many missed the contract and, where the contract is an error bound, the worst
observed error divided by that bound. Nothing here imports Spark, so the
checks can be tested against deliberately corrupted outputs.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from ddsketch_spark.config import DDSketchConfig, alpha_at_level
from ddsketch_spark.core import ddsketch as dds

# float slack on ratio checks: a value on a bucket boundary has relative
# error exactly alpha, which rounding may push past 1 in the last ulp
RATIO_SLACK = 1e-9
COSINE_SLACK = 1e-9
KLL_EPS_PER_K = 2 * 2.9  # eps = 2 * 2.9 / k, the margin tests/test_quantile_sketches.py uses
HLL_SIGMAS = 5.0

STATE_SCALARS = ("alpha0", "level", "offset", "bin_limit", "collapse", "n", "min_key", "max_key")


class Checks:
    """Per-family tallies of one job's checks."""

    def __init__(self):
        self.families: dict[str, dict] = {}

    def record(self, family: str, ok, ratios=None) -> None:
        ok = np.atleast_1d(np.asarray(ok, dtype=bool))
        f = self.families.setdefault(family, {"checked": 0, "misses": 0, "worst_ratio": None})
        f["checked"] += int(ok.size)
        f["misses"] += int((~ok).sum())
        if ratios is not None and np.size(ratios):
            worst = float(np.max(ratios))
            f["worst_ratio"] = worst if f["worst_ratio"] is None else max(f["worst_ratio"], worst)

    @property
    def misses(self) -> int:
        return sum(f["misses"] for f in self.families.values())

    @property
    def max_err_ratio(self) -> float | None:
        worst = [f["worst_ratio"] for f in self.families.values() if f["worst_ratio"] is not None]
        return max(worst) if worst else None


# ---------------------------------------------------------------------------
# grouped exact order statistics
# ---------------------------------------------------------------------------

class Groups:
    """Values sorted within each group; the exact side of every quantile
    check."""

    def __init__(self, values: np.ndarray, gids: np.ndarray):
        order = np.lexsort((values, gids))
        self.values = np.asarray(values, dtype=np.float64)[order]
        g = np.asarray(gids)[order]
        self.keys, self.starts, self.counts = np.unique(g, return_index=True, return_counts=True)

    def slice(self, i: int) -> np.ndarray:
        return self.values[self.starts[i]: self.starts[i] + self.counts[i]]

    def order_stats(self, qs) -> np.ndarray:
        """[group, q] -> value at 0-based rank floor(q (n-1))."""
        qs = np.asarray(qs, dtype=np.float64)
        ranks = np.floor(qs[None, :] * (self.counts[:, None] - 1)).astype(np.int64)
        return self.values[self.starts[:, None] + ranks]

    def rank_interval(self, est: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """[group, q] -> (#values < est, #values <= est) within the group."""
        lo = np.empty(est.shape, np.int64)
        hi = np.empty(est.shape, np.int64)
        for i in range(len(self.keys)):
            s = self.slice(i)
            lo[i] = np.searchsorted(s, est[i], side="left")
            hi[i] = np.searchsorted(s, est[i], side="right")
        return lo, hi


# ---------------------------------------------------------------------------
# DDSketch
# ---------------------------------------------------------------------------

def states_by_group(table: pa.Table, group: str | None) -> dict:
    """Arrow state rows -> {group value: state dict with numpy keys/counts}."""
    cols = {c: table.column(c).to_pylist() for c in STATE_SCALARS}
    keys = table.column("keys").combine_chunks()
    counts = table.column("counts").combine_chunks()
    koff = keys.offsets.to_numpy()
    kval = keys.values.to_numpy()
    cval = counts.values.to_numpy()
    gvals = table.column(group).to_pylist() if group else [None] * table.num_rows
    out = {}
    for i, g in enumerate(gvals):
        d = {c: cols[c][i] for c in STATE_SCALARS}
        d["keys"] = kval[koff[i]:koff[i + 1]]
        d["counts"] = cval[koff[i]:koff[i + 1]]
        out[g] = d
    return out


def state_table(states: dict, group: str, group_type: pa.DataType) -> pa.Table:
    """Per-group state dicts -> a table with the library's state-row schema
    (ddsketch_agg.SKETCH_STATE_FIELDS)."""
    keys = sorted(states)
    col = lambda c: [states[k][c] for k in keys]  # noqa: E731
    return pa.table({
        group: pa.array(keys, group_type),
        "alpha0": pa.array(col("alpha0"), pa.float64()),
        "level": pa.array(col("level"), pa.int32()),
        "offset": pa.array(col("offset"), pa.int64()),
        "bin_limit": pa.array(col("bin_limit"), pa.int32()),
        "collapse": pa.array(col("collapse"), pa.string()),
        "n": pa.array(col("n"), pa.int64()),
        "min_key": pa.array(col("min_key"), pa.int64()),
        "max_key": pa.array(col("max_key"), pa.int64()),
        "keys": pa.array([states[k]["keys"] for k in keys], pa.list_(pa.int64())),
        "counts": pa.array([states[k]["counts"] for k in keys], pa.list_(pa.int64())),
    })


def core_build(values: np.ndarray, cfg: DDSketchConfig) -> dict:
    """Reference state: one core build over all of a group's values."""
    sk = dds.add(dds.empty(cfg), np.asarray(values, dtype=np.float64))
    d = dds.to_dict(sk)
    d["keys"] = sk.keys
    d["counts"] = sk.counts
    return d


def same_state(a: dict, b: dict) -> bool:
    return (all(a[c] == b[c] for c in STATE_SCALARS)
            and np.array_equal(a["keys"], b["keys"])
            and np.array_equal(a["counts"], b["counts"]))


def state_quantiles(d: dict, qs) -> tuple[np.ndarray, float]:
    """(estimates, alpha bound) of one state, through the core's quantile
    walk."""
    sk = dds.from_dict(d)
    return dds.quantiles(sk, qs), alpha_at_level(d["alpha0"], d["level"])


def check_dds_bound(checks: Checks, est: np.ndarray, exact: np.ndarray, alpha) -> None:
    """|estimate - x| <= alpha_at_level * |x|, x the order statistic at rank
    floor(q (n-1))."""
    alpha = np.asarray(alpha, dtype=np.float64)
    if alpha.ndim == 1:
        alpha = alpha[:, None]
    err = np.abs(est - exact)
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = np.where(exact == 0, np.where(err == 0, 0.0, np.inf),
                         err / (alpha * np.abs(exact)))
    checks.record("ddsketch.alpha_bound", ratio <= 1 + RATIO_SLACK, ratio)


def check_dds_states(checks: Checks, states: dict, groups: Groups, qs, cfg: DDSketchConfig,
                     expected: dict | None = None, family: str = "ddsketch.canonical") -> None:
    """Bound check of every group's quantiles, plus state equality against
    ``expected`` (default: a single core build over the group's values)."""
    want = groups.order_stats(qs)
    present = [g in states for g in groups.keys.tolist()]
    checks.record("ddsketch.groups_present", present + [len(states) == len(groups.keys)])
    est = np.zeros(want.shape)
    alpha = np.zeros(len(groups.keys))
    same = []
    for i, g in enumerate(groups.keys.tolist()):
        d = states.get(g)
        if d is None:
            est[i] = np.inf
            alpha[i] = 1.0
            continue
        est[i], alpha[i] = state_quantiles(d, qs)
        ref = expected[g] if expected is not None else core_build(groups.slice(i), cfg)
        same.append(same_state(d, ref))
    check_dds_bound(checks, est, want, alpha)
    checks.record(family, same)


def check_tables_identical(checks: Checks, a: pa.Table, b: pa.Table, sort_by: str) -> None:
    """Arrow-path and native-path states are byte-identical."""
    a = a.sort_by(sort_by)
    b = b.select(a.column_names).sort_by(sort_by)
    checks.record("ddsketch.arrow_equals_native", a.equals(b))


def quantile_rows_matrix(table: pa.Table, group: str, keys: np.ndarray, qs) -> np.ndarray:
    """(group, q, estimate) rows -> [group, q] estimates, inf where absent."""
    out = np.full((len(keys), len(qs)), np.inf)
    g = table.column(group).to_numpy()
    q = table.column("q").to_numpy()
    e = table.column("estimate").to_numpy()
    gi = np.searchsorted(keys, g)
    qi = np.searchsorted(np.asarray(qs), q)
    ok = (gi < len(keys)) & (qi < len(qs))
    ok[ok] &= (keys[gi[ok]] == g[ok]) & (np.asarray(qs)[qi[ok]] == q[ok])
    out[gi[ok], qi[ok]] = e[ok]
    return out


# ---------------------------------------------------------------------------
# KLL
# ---------------------------------------------------------------------------

def check_kll(checks: Checks, est: np.ndarray, groups: Groups, qs, k: int) -> None:
    """The tie interval [#<est, #<=est] comes within eps*n of q(n-1)."""
    n = groups.counts[:, None].astype(np.float64)
    target = np.asarray(qs)[None, :] * (n - 1)
    lo, hi = groups.rank_interval(est)
    dist = np.maximum(0.0, np.maximum(lo - target, target - hi))
    ratio = dist / (KLL_EPS_PER_K / k * n)
    ratio[~np.isfinite(est)] = np.inf
    checks.record("kll.rank_bound", ratio <= 1 + RATIO_SLACK, ratio)


# ---------------------------------------------------------------------------
# HLL / CMS / Bloom
# ---------------------------------------------------------------------------

def check_hll(checks: Checks, est: np.ndarray, exact: np.ndarray, m: int) -> None:
    """Relative error < 5 * 1.04 / sqrt(m)."""
    ratio = np.abs(est - exact) / exact / (HLL_SIGMAS * 1.04 / np.sqrt(m))
    checks.record("hll.error_bound", ratio < 1, ratio)


def check_cms(checks: Checks, items: np.ndarray, est: np.ndarray,
              values: np.ndarray, counts: np.ndarray, phi: float) -> None:
    """Never undercounts; misses no item with true count >= phi * N.
    ``values``/``counts``: exact distinct values (sorted) and their counts."""
    pos = np.clip(np.searchsorted(values, items), 0, len(values) - 1)
    true = np.where(values[pos] == items, counts[pos], 0)
    checks.record("cms.no_undercount", est >= true)
    heavy = values[counts >= phi * counts.sum()]
    checks.record("cms.no_missed_heavy_hitter", np.isin(heavy, items))


def check_bloom(checks: Checks, probes: np.ndarray, might: np.ndarray, present: np.ndarray) -> None:
    """No false negatives; every probe answered."""
    checks.record("bloom.answered", len(probes) == len(present))
    checks.record("bloom.no_false_negative", might | ~present)


# ---------------------------------------------------------------------------
# cosine top-k
# ---------------------------------------------------------------------------

def exact_cosines(emb: np.ndarray, probe_ids: np.ndarray) -> np.ndarray:
    """[probe, corpus] exact cosine, -inf on the probe itself."""
    x = emb.astype(np.float64)
    norms = np.sqrt((x * x).sum(axis=1))
    cos = (x[probe_ids] @ x.T) / (norms[probe_ids, None] * norms[None, :])
    cos[np.arange(len(probe_ids)), probe_ids] = -np.inf
    return cos


def check_topk(checks: Checks, family: str, table: pa.Table, cos: np.ndarray,
               probe_ids: np.ndarray, k: int, probe_col: str = "probe_id") -> None:
    """Each returned neighbour's exact cosine >= the exact k-th score - 1e-9,
    k distinct neighbours per probe."""
    kth = -np.sort(-cos, axis=1)[:, k - 1]
    pid = table.column(probe_col).to_numpy()
    nb = table.column("neighbor").to_numpy()
    pi = np.searchsorted(probe_ids, pid)
    known = (pi < len(probe_ids))
    known[known] &= probe_ids[pi[known]] == pid[known]
    ok = known.copy()
    ok[known] &= (nb[known] >= 0) & (nb[known] < cos.shape[1])
    score = np.full(len(nb), -np.inf)
    score[ok] = cos[pi[ok], nb[ok]]
    ok &= score >= kth[np.where(ok, pi, 0)] - COSINE_SLACK
    checks.record(f"{family}.neighbour_in_topk", ok)
    per_probe = [len(np.unique(nb[pid == p])) == k and (pid == p).sum() == k for p in probe_ids]
    checks.record(f"{family}.k_per_probe", per_probe)


# ---------------------------------------------------------------------------
# shingles and Jaccard
# ---------------------------------------------------------------------------

def doc_shingle_sets(tokens: list[np.ndarray], n: int, vocab_size: int) -> list[np.ndarray]:
    """Sorted distinct n-gram codes per document (same integer coding as
    dedup.shingle_col; Jaccard only needs it to be injective)."""
    base = vocab_size + 1
    out = []
    for t in tokens:
        t = t.astype(np.int64)
        if t.size < n:
            out.append(np.empty(0, np.int64))
            continue
        code = np.zeros(t.size - n + 1, np.int64)
        for i in range(n):
            code = code * base + t[i: t.size - n + 1 + i]
        out.append(np.unique(code))
    return out


def exact_pairs_above(sets: list[np.ndarray], threshold: float) -> set[tuple[int, int]]:
    """All (a, b), a < b, with Jaccard >= threshold, by prefix filtering:
    such a pair shares a shingle among the first |A| - ceil(t|A|) + 1
    shingles of A in a global rarest-first order."""
    sizes = np.array([len(s) for s in sets])
    allsh = np.concatenate([s for s in sets if len(s)])
    uniq, df = np.unique(allsh, return_counts=True)
    rank = np.empty(len(uniq), np.int64)
    rank[np.lexsort((uniq, df))] = np.arange(len(uniq))
    pref_r, pref_d = [], []
    for d, s in enumerate(sets):
        if not len(s):
            continue
        r = np.sort(rank[np.searchsorted(uniq, s)])
        p = len(s) - int(np.ceil(threshold * len(s))) + 1
        pref_r.append(r[:p])
        pref_d.append(np.full(min(p, len(r)), d))
    pref_r = np.concatenate(pref_r)
    pref_d = np.concatenate(pref_d)
    order = np.argsort(pref_r, kind="stable")
    pref_r, pref_d = pref_r[order], pref_d[order]
    bounds = np.flatnonzero(np.diff(pref_r)) + 1
    cands = set()
    for grp in np.split(pref_d, bounds):
        if len(grp) > 1:
            grp = np.unique(grp)
            a, b = np.triu_indices(len(grp), 1)
            cands.update(zip(grp[a].tolist(), grp[b].tolist()))
    out = set()
    for a, b in cands:
        inter = len(np.intersect1d(sets[a], sets[b], assume_unique=True))
        if inter / (sizes[a] + sizes[b] - inter) >= threshold:
            out.add((a, b))
    return out


def check_jaccard(checks: Checks, table: pa.Table, sets: list[np.ndarray], threshold: float) -> None:
    """Every emitted pair has exact Jaccard >= threshold, inter <= the exact
    intersection (the hot-shingle cap may undercount), exact set sizes."""
    a = table.column("doc_a").to_numpy()
    b = table.column("doc_b").to_numpy()
    inter = table.column("inter").to_numpy()
    sa = table.column("size_a").to_numpy()
    sb = table.column("size_b").to_numpy()
    ok_j, ok_i, ok_s = [], [], []
    for i in range(len(a)):
        A, B = sets[a[i]], sets[b[i]]
        ex = len(np.intersect1d(A, B, assume_unique=True))
        ok_j.append(ex / (len(A) + len(B) - ex) >= threshold - 1e-12)
        ok_i.append(inter[i] <= ex)
        ok_s.append(sa[i] == len(A) and sb[i] == len(B))
    checks.record("jaccard.above_threshold", ok_j)
    checks.record("jaccard.inter_not_over", ok_i)
    checks.record("jaccard.exact_sizes", ok_s)
