"""The workloads: inputs, exact answers, one job, its checks and the
Spark-free core probe.

A job is a list of operations. Untraced, each operation calls the public
function a user would call (``sketch_udaf``) and materialises its result once.
Traced, the same operation runs as its stages (``build_partials`` then
``merge_partials``); every stage but the last is persisted and counted inside
its own span, so each stage's time and plan metrics stand alone.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ddsketch_spark.config import Q_GRID, DDSketchConfig, alpha_at_level
from ddsketch_spark.core import ddsketch as dds
from ddsketch_spark.core import kll as kll_core
from ddsketch_spark.core.bloom import BloomConfig
from ddsketch_spark.core.cms import CMSConfig
from ddsketch_spark.core.hll import HLLConfig
from ddsketch_spark.core.kll import KLLConfig
from ddsketch_spark.operators import approx_agg as aa
from ddsketch_spark.operators import ddsketch_agg as da
from ddsketch_spark.operators import dedup as dd
from ddsketch_spark.operators import quantile_agg as qa
from ddsketch_spark.operators import similarity as sim
from ddsketch_spark.operators import sketch_agg as sa
from ddsketch_spark.sources.fixtures import VOCAB

from sketchbench import inputs, oracles
from sketchbench.probes import group_tasks, plan_summary

DDS = DDSketchConfig()
KLL = KLLConfig()
HLL = HLLConfig()
CMS = CMSConfig()
BLOOM = BloomConfig()
CMS_PHI = 0.005
SHINGLE_N = 3
JACCARD_T = 0.5


def ipc_bytes(table: pa.Table) -> int:
    """Arrow IPC stream size of a result: what a user would store."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().size


class Runner:
    """Materialises a job's operations, untraced or stage by stage."""

    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.tracer = tracer
        self.results: dict[str, pa.Table | str] = {}
        self.stages: list[dict] = []
        self._n = 0

    def op(self, name, whole, stages, keep=False, write_to=None):
        """Run one operation; returns its final DataFrame when ``keep`` (it
        is then persisted, for a later operation to read)."""
        if self.tracer is None:
            df = whole()
            if keep:
                df = df.persist()
            if write_to:
                df.write.mode("overwrite").parquet(write_to)
                self.results[name] = write_to
            else:
                self.results[name] = df.toArrow()
            return df
        done: dict = {}
        for i, (stage, fn) in enumerate(stages):
            last = i == len(stages) - 1
            df = fn(done)
            persist = not last or keep or bool(write_to)
            if persist:
                df = df.persist()
            self._n += 1
            group = f"{stage}#{self._n}"
            self.spark.sparkContext.setJobGroup(group, stage)
            with self.tracer.span(stage) as span:
                if last and not write_to:
                    out = df.toArrow()
                    rows = out.num_rows
                    self.results[name] = out
                else:
                    rows = df.count()
            self.stages.append({"stage": stage, "df": df, "persist": persist,
                                "group": group, "rows": rows,
                                "s": span["end"] - span["start"]})
            done[stage] = df
        if write_to:
            with self.tracer.span("io.write_parquet"):
                df.write.mode("overwrite").parquet(write_to)
            self.results[name] = write_to
        return df

    def stage_metrics(self) -> list[dict]:
        """Plan metrics of every traced stage; read after the job ended."""
        sc = self.spark.sparkContext
        out = []
        for st in self.stages:
            m = plan_summary(st["df"], into_cache=st["persist"])
            m["spark_jobs"], m["tasks"] = group_tasks(sc, st["group"])
            out.append({"stage": st["stage"], "s": st["s"], "rows": st["rows"], **m})
        return out


class Workload:
    name = ""
    values_unit = ""

    def __init__(self, spark, work: str, size: str, seed: int):
        self.spark, self.work, self.size, self.seed = spark, work, size, seed
        self.inp = inputs.GENERATORS[self.name](os.path.join(work, "inputs"), size, seed)
        self.jobs_run = 0

    def run(self, runner: Runner) -> dict:
        self.job(runner)
        self.jobs_run += 1
        return runner.results

    def load(self, results: dict) -> dict[str, pa.Table]:
        """Written results are read back for checking, outside the timing."""
        return {k: pq.read_table(v) if isinstance(v, str) else v for k, v in results.items()}

    def layer_extras(self, results: dict[str, pa.Table], stages: list[dict]) -> dict:
        return {}


def _stage(stages: list[dict], name: str, key: str = "s") -> float:
    return float(sum(s[key] for s in stages if s["stage"] == name))


def _max_level(*tables: pa.Table) -> int:
    return max(max(t.column("level").to_pylist() or [0]) for t in tables)


class TokenPass(Workload):
    """The north-star pass over the F1 tokens table."""

    name = "token_pass"
    values_unit = "tokens"

    def register(self):
        self.df = self.spark.read.parquet(self.inp["tokens"])
        self.stream = self.df.select("source", F.explode("tokens").alias("token"))
        self.probes = self.spark.createDataFrame(
            [(int(p),) for p in self.inp["probes"]], "probe long")

    def exact(self):
        t = pq.read_table(self.inp["tokens"], columns=["tokens", "n_tok", "source"])
        self.tokens = t.column("tokens").combine_chunks().flatten().to_numpy().astype(np.int64)
        self.n_tok = t.column("n_tok").to_numpy()
        self.doc_src = np.asarray(t.column("source").to_pylist())
        self.tok_src = np.repeat(self.doc_src, self.n_tok)
        self.values = int(self.n_tok.sum())
        self.g_src = oracles.Groups(self.tokens, self.tok_src)
        self.g_all = oracles.Groups(self.tokens, np.zeros(len(self.tokens), np.int8))
        self.g_ntok = oracles.Groups(self.n_tok, self.doc_src)
        self.want_src = {g: oracles.core_build(self.g_src.slice(i), DDS)
                         for i, g in enumerate(self.g_src.keys.tolist())}
        self.want_all = {0: oracles.core_build(self.g_all.slice(0), DDS)}
        self.distinct = {g: len(np.unique(self.g_src.slice(i)))
                         for i, g in enumerate(self.g_src.keys.tolist())}
        self.tok_values, self.tok_counts = np.unique(self.tokens, return_counts=True)
        self.present = np.isin(self.inp["probes"], self.tok_values)

    def job(self, r: Runner):
        df, src = self.df, ("source",)
        r.op("dds_global",
             lambda: sa.sketch_udaf(df, "tokens", DDS, array_col=True),
             [("sketch_agg.build_partials", lambda s: sa.build_partials(df, "tokens", DDS, array_col=True)),
              ("sketch_agg.merge_partials", lambda s: sa.merge_partials(s["sketch_agg.build_partials"]))])
        r.op("dds_by_source",
             lambda: sa.sketch_udaf(df, "tokens", DDS, src, array_col=True),
             [("sketch_agg.build_partials", lambda s: sa.build_partials(df, "tokens", DDS, src, array_col=True)),
              ("sketch_agg.merge_partials", lambda s: sa.merge_partials(s["sketch_agg.build_partials"], src))])
        r.op("dds_native_by_source",
             lambda: da.sketch(df, "tokens", DDS, src, explode_array=True),
             [("ddsketch_agg.histogram", lambda s: da.histogram(df, "tokens", DDS, src, explode_array=True)),
              ("ddsketch_agg.sketch_from_histogram",
               lambda s: da.sketch_from_histogram(s["ddsketch_agg.histogram"], DDS, src))])
        _kll_op(r, "kll_by_source", df, "n_tok", src)
        r.op("hll_by_source",
             lambda: aa.hll_estimate(self.stream, "token", HLL, src),
             [("approx_agg.hll_estimate", lambda s: aa.hll_estimate(self.stream, "token", HLL, src))])
        tok = self.stream.select("token")
        r.op("cms_heavy",
             lambda: aa.cms_heavy_hitters(tok, "token", CMS_PHI, CMS),
             [("approx_agg.cms_heavy_hitters", lambda s: aa.cms_heavy_hitters(tok, "token", CMS_PHI, CMS))])
        r.op("bloom",
             lambda: aa.bloom_might_contain(tok, "token", self.probes, "probe", BLOOM),
             [("approx_agg.bloom_might_contain",
               lambda s: aa.bloom_might_contain(tok, "token", self.probes, "probe", BLOOM))])

    def check(self, res: dict) -> oracles.Checks:
        c = oracles.Checks()
        glob = oracles.states_by_group(res["dds_global"], None)
        oracles.check_dds_states(c, {0: v for v in glob.values()}, self.g_all, Q_GRID, DDS, self.want_all)
        oracles.check_dds_states(c, oracles.states_by_group(res["dds_by_source"], "source"),
                                 self.g_src, Q_GRID, DDS, self.want_src)
        oracles.check_tables_identical(c, res["dds_by_source"], res["dds_native_by_source"], "source")
        est = oracles.quantile_rows_matrix(res["kll_by_source"], "source", self.g_ntok.keys, Q_GRID)
        oracles.check_kll(c, est, self.g_ntok, Q_GRID, KLL.k)
        hll = dict(zip(res["hll_by_source"].column("source").to_pylist(),
                       res["hll_by_source"].column("estimate").to_pylist()))
        keys = list(self.distinct)
        c.record("hll.groups_present", [g in hll for g in keys])
        oracles.check_hll(c, np.array([hll.get(g, 0.0) for g in keys]),
                          np.array([self.distinct[g] for g in keys]), HLL.m)
        oracles.check_cms(c, res["cms_heavy"].column("item").to_numpy(),
                          res["cms_heavy"].column("est").to_numpy(),
                          self.tok_values, self.tok_counts, CMS_PHI)
        bl = dict(zip(res["bloom"].column("probe").to_pylist(),
                      res["bloom"].column("might_contain").to_pylist()))
        probes = self.inp["probes"]
        oracles.check_bloom(c, probes, np.array([bool(bl.get(int(p), False)) for p in probes]),
                            self.present)
        return c

    def core_streams(self):
        return {"int": (self.tokens, self.tok_src), "float": (self.n_tok.astype(np.float64), self.doc_src)}

    def dds_tables(self, res):
        return [res["dds_global"], res["dds_by_source"], res["dds_native_by_source"]]


def _kll_op(r: Runner, name, df, value, groups):
    ops = qa.kll_ops(KLL)
    r.op(name,
         lambda: qa.quantiles(df, value, ops, Q_GRID, groups),
         [("quantile_agg.build_partials", lambda s: qa.build_partials(df, value, ops, groups)),
          ("quantile_agg.sketch_agg", lambda s: qa.sketch_agg(df, value, ops, groups)),
          ("quantile_agg.quantiles_from_states",
           lambda s: qa.quantiles_from_states(s["quantile_agg.sketch_agg"], ops, Q_GRID, groups))])


class NearDup:
    """Cosine top-k and MinHash/LSH near-duplicate pairs: the similarity and
    dedup layers, which use no sketch core. Runs inside many_groups."""

    def __init__(self, spark, inp: dict):
        self.spark, self.inp = spark, inp

    def register(self):
        self.docs = self.spark.read.parquet(self.inp["docs"])
        self.emb = self.spark.read.parquet(self.inp["emb"])
        ids = [int(p) for p in self.inp["probes"]]
        self.probes = self.emb.where(F.col("vec_id").isin(ids)).select(
            F.col("vec_id").alias("probe_id"), "embedding")

    def exact(self):
        docs = pq.read_table(self.inp["docs"])
        tok = docs.column("tokens").combine_chunks()
        off = tok.offsets.to_numpy()
        flat = tok.values.to_numpy()
        self.doc_tokens = [flat[off[i]:off[i + 1]] for i in range(len(off) - 1)]
        emb = pq.read_table(self.inp["emb"]).column("embedding").combine_chunks()
        self.emb_np = emb.values.to_numpy().reshape(len(emb), -1)
        self.cos = oracles.exact_cosines(self.emb_np, self.inp["probes"])
        self.sets = oracles.doc_shingle_sets(self.doc_tokens, SHINGLE_N, VOCAB)
        self.exact_pairs = oracles.exact_pairs_above(self.sets, JACCARD_T)
        self.values = int(len(flat) + len(emb))

    def job(self, r: Runner):
        k, docs = self.inp["k"], self.docs
        r.op("topk", lambda: sim.cosine_topk(self.emb, self.probes, k),
             [("similarity.cosine_topk", lambda s: sim.cosine_topk(self.emb, self.probes, k))])
        r.op("topk_fast", lambda: sim.cosine_topk_fast(self.emb, self.probes, k),
             [("similarity.cosine_topk_fast", lambda s: sim.cosine_topk_fast(self.emb, self.probes, k))])

        def pipeline():
            sh = dd.doc_shingles(docs, "tokens", SHINGLE_N, VOCAB)
            cand = dd.lsh_candidate_pairs(dd.lsh_buckets(dd.minhash_signatures(sh)))
            return dd.jaccard_pairs(sh, cand, threshold=JACCARD_T)

        r.op("jaccard", pipeline, [
            ("dedup.doc_shingles", lambda s: dd.doc_shingles(docs, "tokens", SHINGLE_N, VOCAB)),
            ("dedup.minhash_signatures", lambda s: dd.minhash_signatures(s["dedup.doc_shingles"])),
            ("dedup.lsh_candidate_pairs",
             lambda s: dd.lsh_candidate_pairs(dd.lsh_buckets(s["dedup.minhash_signatures"]))),
            ("dedup.jaccard_pairs",
             lambda s: dd.jaccard_pairs(s["dedup.doc_shingles"], s["dedup.lsh_candidate_pairs"],
                                        threshold=JACCARD_T)),
        ])

    def check(self, c: oracles.Checks, res: dict) -> None:
        k = self.inp["k"]
        oracles.check_topk(c, "cosine_topk", res["topk"], self.cos, self.inp["probes"], k)
        oracles.check_topk(c, "cosine_topk_fast", res["topk_fast"], self.cos, self.inp["probes"], k)
        oracles.check_jaccard(c, res["jaccard"], self.sets, JACCARD_T)

    def layer_extras(self, res, stages):
        found = set(zip(res["jaccard"].column("doc_a").to_pylist(), res["jaccard"].column("doc_b").to_pylist()))
        cands = _stage(stages, "dedup.lsh_candidate_pairs", "rows")
        n_probes, n_vec = len(self.inp["probes"]), self.emb_np.shape[0]
        return {
            "similarity.pairs_scored": float(2 * n_probes * (n_vec - 1)),
            "dedup.verified_ratio": res["jaccard"].num_rows / cands if cands else 0.0,
            "dedup.pair_recall": (len(found & self.exact_pairs) / len(self.exact_pairs)
                                  if self.exact_pairs else 1.0),
        }


class ManyGroups(Workload):
    """~128 skewed groups: the merge and evaluate layers do the sketch work.
    Each job also folds a fresh delta slice into a stored per-group state
    table (one large state plus a few small partials per group, and a parquet
    write), and runs the near-duplicate search of :class:`NearDup`."""

    name = "many_groups"
    values_unit = "values (score + n_tok + delta score) + document tokens + vectors"

    def __init__(self, spark, work: str, size: str, seed: int):
        super().__init__(spark, work, size, seed)
        self.near = NearDup(spark, self.inp)

    def exact(self):
        t = pq.read_table(self.inp["rows"])
        self.gid = t.column("gid").to_numpy()
        self.score = t.column("score").to_numpy()
        self.n_tok = t.column("n_tok").to_numpy()
        self.g_score = oracles.Groups(self.score, self.gid)
        self.g_ntok = oracles.Groups(self.n_tok, self.gid)
        self.want = {g: oracles.core_build(self.g_score.slice(i), DDS)
                     for i, g in enumerate(self.g_score.keys.tolist())}
        delta = pq.read_table(self.inp["delta"])
        sl = delta.column("slice").to_numpy()
        self.values = 2 * t.num_rows + int((sl == 0).sum())
        self.g_upd, self.want_upd = [], []
        for s in range(self.inp["slices"]):
            g = oracles.Groups(np.concatenate([self.score, delta.column("score").to_numpy()[sl == s]]),
                               np.concatenate([self.gid, delta.column("gid").to_numpy()[sl == s]]))
            self.g_upd.append(g)
            self.want_upd.append({k: oracles.core_build(g.slice(i), DDS) for i, k in enumerate(g.keys.tolist())})
        self.near.exact()
        self.values += self.near.values

    def register(self):
        self.df = self.spark.read.parquet(self.inp["rows"])
        self.delta = self.spark.read.parquet(self.inp["delta"])
        d = os.path.join(self.work, "many_groups", f"{self.size}-s{self.seed}")
        os.makedirs(d, exist_ok=True)
        stored = os.path.join(d, "stored_states.parquet")
        self.out_path = os.path.join(d, "updated_states.parquet")
        pq.write_table(oracles.state_table(self.want, "gid", pa.int32()), stored)
        self.stored = self.spark.read.parquet(stored)
        self.near.register()

    def job(self, r: Runner):
        df, g = self.df, ("gid",)
        states = r.op(
            "dds_states",
            lambda: sa.sketch_udaf(df, "score", DDS, g),
            [("sketch_agg.build_partials", lambda s: sa.build_partials(df, "score", DDS, g)),
             ("sketch_agg.merge_partials", lambda s: sa.merge_partials(s["sketch_agg.build_partials"], g))],
            keep=True)
        r.op("dds_quantiles",
             lambda: da.quantiles_from_sketch(states, Q_GRID, g),
             [("ddsketch_agg.quantiles_from_sketch", lambda s: da.quantiles_from_sketch(states, Q_GRID, g))])
        _kll_op(r, "kll_quantiles", df, "n_tok", g)
        self.last_slice = self.jobs_run % self.inp["slices"]
        new = self.delta.where(F.col("slice") == self.last_slice)
        fold = lambda s: sa.update_sketch_states(self.stored, new, "score", DDS, g)  # noqa: E731
        r.op("updated", lambda: fold(None), [("sketch_agg.update_sketch_states", fold)],
             write_to=self.out_path)
        self.near.job(r)

    def check(self, res: dict) -> oracles.Checks:
        c = oracles.Checks()
        oracles.check_dds_states(c, oracles.states_by_group(res["dds_states"], "gid"),
                                 self.g_score, Q_GRID, DDS, self.want)
        est = oracles.quantile_rows_matrix(res["dds_quantiles"], "gid", self.g_score.keys, Q_GRID)
        alpha = [alpha_at_level(DDS.alpha, self.want[g]["level"]) for g in self.g_score.keys.tolist()]
        oracles.check_dds_bound(c, est, self.g_score.order_stats(Q_GRID), np.array(alpha))
        est = oracles.quantile_rows_matrix(res["kll_quantiles"], "gid", self.g_ntok.keys, Q_GRID)
        oracles.check_kll(c, est, self.g_ntok, Q_GRID, KLL.k)
        s = self.last_slice
        oracles.check_dds_states(c, oracles.states_by_group(res["updated"], "gid"), self.g_upd[s],
                                 Q_GRID, DDS, self.want_upd[s], family="ddsketch.update_equals_rebuild")
        self.near.check(c, res)
        return c

    def core_streams(self):
        return {"int": (self.n_tok, self.gid), "float": (self.score, self.gid)}

    def dds_tables(self, res):
        return [res["dds_states"], res["updated"]]

    def layer_extras(self, res, stages):
        upd = [s for s in stages if s["stage"] == "sketch_agg.update_sketch_states"]
        return {"sketch_agg.update_sketch_states.rows_in":
                float(len(self.want) + sum(s["map_rows_out"] for s in upd)),
                **self.near.layer_extras(res, stages)}


WORKLOADS = {w.name: w for w in (TokenPass, ManyGroups)}


# ---------------------------------------------------------------------------
# per-layer metrics of a traced job
# ---------------------------------------------------------------------------

def layer_metrics(w: Workload, res: dict, stages: list[dict]) -> dict[str, float]:
    """Stage spans and plan metrics folded into the per-layer names."""
    st = lambda name, key="s": _stage(stages, name, key)  # noqa: E731
    m = {
        "sketch_agg.build_partials.s": st("sketch_agg.build_partials"),
        "sketch_agg.build_partials.python_s": st("sketch_agg.build_partials", "python_s"),
        "sketch_agg.build_partials.bytes_to_python": st("sketch_agg.build_partials", "bytes_to_python"),
        "sketch_agg.build_partials.partial_rows": st("sketch_agg.build_partials", "rows"),
        "sketch_agg.merge_partials.s": st("sketch_agg.merge_partials"),
        "sketch_agg.merge_partials.python_s": st("sketch_agg.merge_partials", "python_s"),
        "sketch_agg.merge_partials.rows_in": st("sketch_agg.build_partials", "rows"),
        "sketch_agg.merge_partials.tasks": st("sketch_agg.merge_partials", "tasks"),
        "sketch_agg.update_sketch_states.s": st("sketch_agg.update_sketch_states"),
        "sketch_agg.update_sketch_states.rows_in": 0.0,
        "sketch_agg.max_level": float(_max_level(*w.dds_tables(res))),
        "ddsketch_agg.histogram.s": st("ddsketch_agg.histogram"),
        "ddsketch_agg.histogram.agg_time_s": st("ddsketch_agg.histogram", "agg_time_s"),
        "ddsketch_agg.histogram.exploded_rows": st("ddsketch_agg.histogram", "exploded_rows"),
        "ddsketch_agg.histogram.shuffle_bytes": st("ddsketch_agg.histogram", "shuffle_bytes"),
        "ddsketch_agg.sketch_from_histogram.s": st("ddsketch_agg.sketch_from_histogram"),
        "ddsketch_agg.quantiles_from_sketch.s": st("ddsketch_agg.quantiles_from_sketch"),
        "ddsketch_agg.quantiles_from_sketch.python_s": st("ddsketch_agg.quantiles_from_sketch", "python_s"),
        "quantile_agg.build_partials.s": st("quantile_agg.build_partials"),
        "quantile_agg.build_partials.python_s": st("quantile_agg.build_partials", "python_s"),
        "quantile_agg.sketch_agg.s": st("quantile_agg.sketch_agg"),
        "quantile_agg.quantiles_from_states.s": st("quantile_agg.quantiles_from_states"),
        "approx_agg.hll_estimate.s": st("approx_agg.hll_estimate"),
        "approx_agg.hll_estimate.shuffle_bytes": st("approx_agg.hll_estimate", "shuffle_bytes"),
        "approx_agg.cms_heavy_hitters.s": st("approx_agg.cms_heavy_hitters"),
        "approx_agg.cms_heavy_hitters.spark_jobs": st("approx_agg.cms_heavy_hitters", "spark_jobs"),
        "approx_agg.bloom_might_contain.s": st("approx_agg.bloom_might_contain"),
        "similarity.cosine_topk.s": st("similarity.cosine_topk"),
        "similarity.cosine_topk_fast.s": st("similarity.cosine_topk_fast"),
        "similarity.cosine_topk_fast.python_s": st("similarity.cosine_topk_fast", "python_s"),
        "similarity.pairs_scored": 0.0,
        "dedup.doc_shingles.s": st("dedup.doc_shingles"),
        "dedup.minhash_signatures.s": st("dedup.minhash_signatures"),
        "dedup.lsh_candidate_pairs.s": st("dedup.lsh_candidate_pairs"),
        "dedup.lsh_candidate_pairs.rows": st("dedup.lsh_candidate_pairs", "rows"),
        "dedup.jaccard_pairs.s": st("dedup.jaccard_pairs"),
        "dedup.verified_ratio": 0.0,
        "dedup.pair_recall": 0.0,
    }
    for key in ("scan_s", "shuffle_bytes", "shuffle_records", "python_s",
                "bytes_to_python", "tasks", "peak_memory_bytes"):
        m[f"spark.{key}"] = float(sum(s[key] for s in stages))
    m.update(w.layer_extras(res, stages))
    return m


# ---------------------------------------------------------------------------
# core probe: the numpy cores on the same inputs, split as Spark splits them
# ---------------------------------------------------------------------------

def _parts(values: np.ndarray, gids: np.ndarray, n_parts: int):
    """[(part, group) -> values] in input order: contiguous slices per
    partition, then one slice per group inside each."""
    out = []
    for v, g in zip(np.array_split(values, n_parts), np.array_split(gids, n_parts)):
        order = np.argsort(g, kind="stable")
        v, g = v[order], g[order]
        keys, starts = np.unique(g, return_index=True)
        for key, chunk in zip(keys.tolist(), np.split(v, starts[1:])):
            out.append((key, chunk))
    return out


def core_probe(w: Workload, n_parts: int) -> dict[str, float]:
    streams = w.core_streams()
    m = {}
    ints = _parts(*streams["int"], n_parts)
    n = sum(len(v) for _, v in ints)
    t0 = time.perf_counter()
    for _, v in ints:
        # the bincount path sketch_agg takes for non-negative integers
        counts = np.bincount(v.astype(np.int64), minlength=int(v.max()) + 1)
        nz = np.nonzero(counts)[0]
        dds.add_weighted(dds.empty(DDS), nz.astype(np.float64), counts[nz])
    m["core.ddsketch.add_weighted.values_per_s"] = n / (time.perf_counter() - t0)

    floats = _parts(*streams["float"], n_parts)
    n = sum(len(v) for _, v in floats)
    t0 = time.perf_counter()
    sketches = [(g, dds.add(dds.empty(DDS), v)) for g, v in floats]
    m["core.ddsketch.add.values_per_s"] = n / (time.perf_counter() - t0)
    by_group: dict = {}
    for g, sk in sketches:
        by_group.setdefault(g, []).append(sk)
    t0 = time.perf_counter()
    merged = [dds.merge_many(p) for p in by_group.values()]
    m["core.ddsketch.merge_many.s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    for sk in merged:
        dds.quantiles(sk, Q_GRID)
    m["core.ddsketch.quantiles.s"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    kll_parts = [(g, kll_core.add(kll_core.empty(KLL), v)) for g, v in floats]
    m["core.kll.add.values_per_s"] = n / (time.perf_counter() - t0)
    by_group = {}
    for g, sk in kll_parts:
        by_group.setdefault(g, []).append(sk)
    t0 = time.perf_counter()
    for p in by_group.values():
        kll_core.merge_many(p)
    m["core.kll.merge_many.s"] = time.perf_counter() - t0
    return m
