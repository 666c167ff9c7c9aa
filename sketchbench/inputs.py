"""Seeded input generators, cached on disk by (workload, size, seed).

The same seed always gives the same files; the library only ever sees these
files. Every table is written with several row groups so Spark splits it
into one input partition per core.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ddsketch_spark.sources.fixtures import VOCAB, generate_tokens_table

# Per-workload sizes. "full" is what the benchmark measures; "tiny" keeps the
# benchmark's own tests fast.
SIZES = {
    "token_pass": {
        "full": {"tokens": 750_000, "probes": 256},
        "tiny": {"tokens": 100_000, "probes": 32},
    },
    "many_groups": {
        "full": {"rows": 16_000, "groups": 128, "delta_rows": 1_000, "slices": 4,
                 "docs": 240, "copies": 48, "vectors": 480, "clusters": 12, "probes": 12, "k": 10},
        "tiny": {"rows": 6_000, "groups": 64, "delta_rows": 600, "slices": 2,
                 "docs": 150, "copies": 30, "vectors": 300, "clusters": 6, "probes": 6, "k": 5},
    },
}

ROW_GROUPS = 8
EMB_DIM = 64


def _write(table: pa.Table, path: str) -> None:
    rows = max(1, -(-table.num_rows // ROW_GROUPS))
    pq.write_table(table, path, row_group_size=rows)


def _cached(root: str, name: str, marker: str, build) -> str:
    """Directory ``root/name`` holding ``build(tmpdir)``'s files; rebuilt
    unless its marker matches. Built in a side directory and renamed into
    place, so a killed run never leaves a half-written input behind."""
    out = os.path.join(root, name)
    meta = os.path.join(out, "_META")
    if os.path.exists(meta):
        with open(meta) as f:
            if f.read() == marker:
                return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    with open(os.path.join(tmp, "_META"), "w") as f:
        f.write(marker)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def _zipf_groups(rng, n: int, groups: int) -> np.ndarray:
    """Skewed group ids: P(rank r) ~ 1/r over ``groups`` ids, shuffled so
    that group id order says nothing about size."""
    p = 1.0 / np.arange(1, groups + 1)
    ids = rng.permutation(groups)
    return ids[rng.choice(groups, size=n, p=p / p.sum())].astype(np.int32)


def token_pass(root: str, size: str, seed: int) -> dict:
    """The F1 tokens table cut to a fixed token count: the seed changes the
    documents, not the amount of work (a whole table's token count swings by
    about 5% from seed to seed)."""
    cfg = SIZES["token_pass"][size]

    def build(d):
        # ~650 tokens a document: 60% more documents than the cut needs
        gen = generate_tokens_table(-(-cfg["tokens"] // 400), seed=seed, out_dir=os.path.join(d, "gen"))
        t = pq.read_table(gen)
        shutil.rmtree(gen)
        total = np.cumsum(t.column("n_tok").to_numpy())
        if total[-1] < cfg["tokens"]:
            raise RuntimeError(f"seed {seed} gave {total[-1]} tokens, fewer than {cfg['tokens']}")
        keep = int(np.searchsorted(total, cfg["tokens"], side="right"))
        _write(t.slice(0, keep), os.path.join(d, "part-0.parquet"))

    tokens = _cached(root, f"token_pass-{size}-s{seed}", f"{cfg} v2", build)
    rng = np.random.default_rng([seed, 1])
    # half the probes fall in the vocabulary, half outside it
    probes = rng.integers(0, 2 * VOCAB, size=cfg["probes"]).astype(np.int64)
    return {"tokens": tokens, "probes": probes}


def _near_dup_files(d: str, rng, cfg: dict) -> None:
    """Token documents with planted near-duplicate copies, and clustered
    embeddings with a probe set."""
    nd = cfg["docs"]
    lens = np.clip(np.rint(rng.lognormal(4.5, 0.5, nd)), 8, 1024).astype(np.int64)
    flat = np.minimum(rng.zipf(1.1, int(lens.sum())), VOCAB - 1)
    docs = np.split(flat, np.cumsum(lens)[:-1])
    for src in rng.choice(nd, size=cfg["copies"], replace=False):
        copy = docs[src].copy()
        hit = rng.random(copy.size) < rng.uniform(0.01, 0.08)
        copy[hit] = rng.integers(1, VOCAB, hit.sum())
        docs.append(copy)
    docs = [docs[i] for i in rng.permutation(len(docs))]
    offsets = np.concatenate([[0], np.cumsum([len(x) for x in docs])]).astype(np.int32)
    _write(pa.table({
        "doc_id": np.arange(len(docs), dtype=np.int64),
        "tokens": pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(np.concatenate(docs).astype(np.int32))),
    }), os.path.join(d, "docs.parquet"))
    nv, nc = cfg["vectors"], cfg["clusters"]
    centers = rng.normal(0.0, 1.0, (nc, EMB_DIM))
    emb = (centers[rng.integers(0, nc, nv)] + rng.normal(0.0, 0.35, (nv, EMB_DIM))).astype(np.float32)
    _write(pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel()), EMB_DIM).cast(pa.list_(pa.float32())),
    }), os.path.join(d, "emb.parquet"))
    np.save(os.path.join(d, "probes.npy"),
            np.sort(rng.choice(nv, size=cfg["probes"], replace=False)).astype(np.int64))


def many_groups(root: str, size: str, seed: int) -> dict:
    cfg = SIZES["many_groups"][size]

    def build(d):
        rng = np.random.default_rng([seed, 2])
        n, g = cfg["rows"], cfg["groups"]
        _write(pa.table({
            "gid": _zipf_groups(rng, n, g),
            "score": rng.lognormal(0.0, 1.5, n),
            "n_tok": np.clip(np.rint(rng.lognormal(6.0, 1.0, n)), 1, 4096).astype(np.int32),
        }), os.path.join(d, "rows.parquet"))
        # delta slices folded into the stored states; later slices drift
        # upward, so a fold widens the stored key range
        nd, ns = cfg["delta_rows"], cfg["slices"]
        _write(pa.table({
            "slice": np.repeat(np.arange(ns, dtype=np.int32), nd),
            "gid": _zipf_groups(rng, nd * ns, g),
            "score": rng.lognormal(0.0, 1.5, nd * ns) * np.repeat(1.0 + 0.5 * np.arange(ns), nd),
        }), os.path.join(d, "delta.parquet"))
        _near_dup_files(d, rng, cfg)

    d = _cached(root, f"many_groups-{size}-s{seed}", f"{cfg} v2", build)
    return {"rows": os.path.join(d, "rows.parquet"),
            "delta": os.path.join(d, "delta.parquet"),
            "slices": cfg["slices"],
            "docs": os.path.join(d, "docs.parquet"),
            "emb": os.path.join(d, "emb.parquet"),
            "probes": np.load(os.path.join(d, "probes.npy")),
            "k": cfg["k"]}


GENERATORS = {
    "token_pass": token_pass,
    "many_groups": many_groups,
}
