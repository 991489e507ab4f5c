"""The three workloads.  Each is a closed loop with one caller: the harness
calls ``op(i)`` (timed), then ``after(i)`` (untimed: release, checks), and
starts the next operation only when both returned.

Every workload makes its inputs from the seed in ``setup_inputs`` and hands
the program only the generated parquet.  Outputs are consumed in full: the
document workloads write every output column to parquet, the distinct-count
queries collect every column; the gates then read those outputs back.
"""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from set_sketch_paper_spark.config import (
    GHLLConfig,
    LSHConfig,
    MinHashConfig,
    PipelineConfig,
    SetSketchConfig,
    ShingleConfig,
)
from set_sketch_paper_spark.operators.kmv import kmv_distinct, with_kmv_estimate
from set_sketch_paper_spark.operators.sketch_agg import sketch_distinct
from set_sketch_paper_spark.plans.pipeline import NearDupPipeline
from set_sketch_paper_spark.sources.synthetic import (
    KIND_EXACT,
    KIND_NEAR,
    files_table,
    prototype_of,
    row_kind,
)
from set_sketch_paper_spark.streaming.stream_dedup import foreach_batch_near_dup

from harness import UnionFind, frame_digest, median

# the flagship document configuration: k=3 shingles, OPH-128, 32x4 bands,
# hot-band cap 500, Jaccard threshold 0.5
PCFG = PipelineConfig(
    shingle=ShingleConfig(k=3),
    minhash=MinHashConfig(num_registers=128, algo="oph"),
    lsh=LSHConfig(num_bands=32, rows_per_band=4, band_cap=500),
    jaccard_threshold=0.5,
)


class GateError(Exception):
    """A correctness gate failed."""


def persistent_rdd_ids(sc) -> set[int]:
    return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}


def unpersist_except(sc, keep: set[int]) -> int:
    """Unpersist every persistent RDD not in ``keep``; returns how many."""
    jmap = sc._jsc.getPersistentRDDs()
    n = 0
    for k in jmap.keySet().toArray():
        if int(k) not in keep:
            jmap.get(k).unpersist(True)
            n += 1
    return n


def planted_pairs(n_rows: int):
    """(row, prototype) pairs the gates require together: every exact
    duplicate, and every near duplicate with token-edit fraction eps <= 0.05
    (k=3 Jaccard >= ~0.86, far above the 0.5 threshold)."""
    exact, near = [], []
    for row in range(n_rows):
        kind = row_kind(row)
        if kind == KIND_EXACT:
            exact.append((row, prototype_of(row, n_rows)))
        elif kind == KIND_NEAR and ((row // 100) * 15 + row % 100 - 60) % 4 < 2:
            near.append((row, prototype_of(row, n_rows)))
    return (np.array(exact, dtype=np.int64).reshape(-1, 2),
            np.array(near, dtype=np.int64).reshape(-1, 2))


def recall_gate(same, exact: np.ndarray, near: np.ndarray) -> float:
    """Raises unless every exact pair and >= 99% of near pairs satisfy
    ``same(a, b)``; returns the near-pair recall."""
    missed = [tuple(p) for p in exact if not same(*p)]
    if missed:
        raise GateError(f"{len(missed)} planted exact-duplicate pairs split, e.g. {missed[:3]}")
    if len(near) == 0:
        return 1.0
    recall = sum(bool(same(*p)) for p in near) / len(near)
    if recall < 0.99:
        raise GateError(f"near-duplicate recall {recall:.4f} < 0.99 over {len(near)} pairs")
    return recall


class Workload:
    name = ""
    ROUND = 1  # a run stops only after a whole number of rounds of operations

    def __init__(self, spark, tracer, work: str, seed: int, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.cores = cores
        self.digests: dict[str, str] = {}

    def setup_inputs(self, rep: int) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def op(self, i: int) -> int:
        """One timed operation; returns the items it completed."""
        raise NotImplementedError

    def after(self, i: int) -> None:
        """Untimed: release what the operation held, check its outputs."""
        raise NotImplementedError

    def summary(self, times: list[float], items: list[int]) -> dict:
        """Workload-specific figures printed next to the generic metrics."""
        return {}


class BatchDedup(Workload):
    """NearDupPipeline.run over the whole planted corpus: shingling, the UDF
    boundary, LSH, verification and connected components."""

    name = "batch_dedup"
    N_DOCS = 4000

    def setup_inputs(self, rep: int) -> None:
        self.corpus = os.path.join(self.work, f"inputs{rep}", "corpus")
        files_table(self.spark, self.N_DOCS, seed=self.seed, partitions=self.cores) \
            .write.mode("overwrite").parquet(self.corpus)
        ids = (
            self.spark.read.parquet(self.corpus)
            .select("row_id", F.xxhash64("repo", "path", "commit").alias("file_id"))
            .toPandas().sort_values("row_id")
        )
        self.file_id = ids["file_id"].to_numpy()
        self.exact, self.near = planted_pairs(self.N_DOCS)
        self.keep = persistent_rdd_ids(self.sc)
        self.stage_s: dict[str, list[float]] = {}
        self.blocks_held: list[int] = []
        self.blocks_released: list[int] = []

    def _run(self, out: str):
        df = self.spark.read.parquet(self.corpus)
        with self.tracer.span("plans.NearDupPipeline.run"):
            res = NearDupPipeline(PCFG).run(df)
        with self.tracer.span("sink.write"):
            res.clusters.write.mode("overwrite").parquet(os.path.join(out, "clusters"))
            res.pairs.write.mode("overwrite").parquet(os.path.join(out, "pairs"))
        return res

    def _release(self, res) -> None:
        self.blocks_held.append(len(persistent_rdd_ids(self.sc) - self.keep))
        self.blocks_released.append(res.release_cache())
        unpersist_except(self.sc, self.keep)

    def warm_up(self) -> None:
        # op times keep falling over the first runs of a fresh JVM (JIT,
        # Python worker pool); four passes leave the measured ones flat
        out = os.path.join(self.work, "warm")
        for _ in range(4):
            self._release(self._run(out))
        shutil.rmtree(out)
        self.blocks_held.clear()
        self.blocks_released.clear()

    def op(self, i: int) -> int:
        self.out = os.path.join(self.work, f"out{i}")
        self.res = self._run(self.out)
        return self.N_DOCS

    def after(self, i: int) -> None:
        for m in self.res.metrics:
            self.stage_s.setdefault(m.name, []).append(m.seconds)
        self._release(self.res)
        clusters = pq.read_table(os.path.join(self.out, "clusters")).to_pandas()
        pairs = pq.read_table(os.path.join(self.out, "pairs")).to_pandas()
        shutil.rmtree(self.out)
        fid = self.file_id
        if len(clusters) != self.N_DOCS or set(clusters["file_id"]) != set(fid):
            raise GateError(f"{len(clusters)} cluster rows do not cover the {self.N_DOCS} documents once each")
        cluster_of = dict(zip(clusters["file_id"], clusters["cluster_id"]))
        self.recall = recall_gate(lambda a, b: cluster_of[fid[a]] == cluster_of[fid[b]],
                                  self.exact, self.near)
        self.digests["output"] = frame_digest(clusters, ["file_id"]) + frame_digest(pairs, ["id1", "id2"])

    def summary(self, times, items) -> dict:
        return {"near_dup_recall": (self.recall, "1")}


class IngestStream(Workload):
    """Consecutive micro-batches of the same generator through the
    foreachBatch handler, verifying against a signature store that grows.
    A round feeds ``ROUND`` batches into an empty store; every round repeats
    the same batches, so each one measures the same work."""

    name = "ingest_stream"
    BATCH = 1000
    ROUND = 4

    def setup_inputs(self, rep: int) -> None:
        n = self.BATCH * self.ROUND
        self.stream = os.path.join(self.work, f"inputs{rep}", "stream")
        (
            files_table(self.spark, n, seed=self.seed, partitions=self.cores)
            .withColumn("doc_id", F.xxhash64("repo", "path", "commit"))
            .withColumn("batch", F.floor(F.col("row_id") / self.BATCH).cast("int"))
            .write.mode("overwrite").partitionBy("batch").parquet(self.stream)
        )
        ids = pq.read_table(self.stream, columns=["row_id", "doc_id"]).to_pandas().sort_values("row_id")
        self.doc_id = ids["doc_id"].to_numpy()
        self.exact, self.near = planted_pairs(n)
        self.keep = persistent_rdd_ids(self.sc)

    def _new_round(self, tag: str) -> None:
        """An empty store and pairs sink, and a handler writing to them."""
        self.store = os.path.join(self.work, f"{tag}_store")
        self.out = os.path.join(self.work, f"{tag}_pairs")
        for d in (self.store, self.out):
            shutil.rmtree(d, ignore_errors=True)

        def sink(pairs, batch_id):
            with self.tracer.span("sink.write"):
                pairs.write.mode("overwrite").parquet(os.path.join(self.out, f"batch_id={batch_id}"))

        self.handle = foreach_batch_near_dup(PCFG, self.store, id_col="doc_id", sink=sink, verify=True)

    def _batch(self, j: int):
        return self.spark.read.parquet(os.path.join(self.stream, f"batch={j}"))

    def warm_up(self) -> None:
        # after a single warm-up round, the first measured round still ran
        # about 15% slower than the second
        for k in range(self.ROUND + self.ROUND // 2):
            j = k % self.ROUND
            if j == 0:
                self._new_round("warm")
            self.handle(self._batch(j), j)
            unpersist_except(self.sc, self.keep)
        shutil.rmtree(self.store)
        shutil.rmtree(self.out)
        self._new_round("run")
        self.store_docs: list[int] = []
        self.store_bytes: list[int] = []
        self.store_files: list[int] = []
        self.pairs_per_batch: list[int] = []
        self.blocks_left: list[int] = []

    def op(self, i: int) -> int:
        j = i % self.ROUND
        with self.tracer.span("streaming.foreach_batch_near_dup"):
            self.handle(self._batch(j), j)
        return self.BATCH

    def after(self, i: int) -> None:
        j = i % self.ROUND
        self.blocks_left.append(unpersist_except(self.sc, self.keep))
        files = [os.path.join(d, f) for d, _, fs in os.walk(self.store) for f in fs]
        self.store_docs.append(self.BATCH * (j + 1))
        self.store_files.append(len(files))
        self.store_bytes.append(sum(os.path.getsize(f) for f in files))
        pairs = pq.read_table(os.path.join(self.out, f"batch_id={j}")).to_pandas()
        self.pairs_per_batch.append(len(pairs))
        self.digests[f"batch{j}"] = frame_digest(pairs, ["id1", "id2"])
        if j == self.ROUND - 1:
            self._check_round()
            self._new_round("run")

    def _check_round(self) -> None:
        pairs = pq.read_table(self.out, columns=["id1", "id2"]).to_pandas()
        uf = UnionFind()
        for a, b in zip(pairs["id1"].tolist(), pairs["id2"].tolist()):
            uf.union(a, b)
        ids = self.doc_id.tolist()
        self.recall = recall_gate(lambda a, b: uf.find(ids[a]) == uf.find(ids[b]), self.exact, self.near)

    def summary(self, times, items) -> dict:
        self.slope_ms = float(np.polyfit(np.array(self.store_docs) / 1e4, np.array(times) * 1e3, 1)[0])
        return {"near_dup_recall": (self.recall, "1")}


def _events(rng, n_rows: int, n_keys: int = 64) -> pd.DataFrame:
    """(key, elem) rows: key k draws from a pool of 100 * 1000^(k/63)
    distinct 64-bit values, so per-key distinct counts span ~100 to the
    per-key row count."""
    per_key = n_rows // n_keys
    keys, elems = [], []
    for k in range(n_keys):
        pool = rng.integers(-(2**63), 2**63 - 1, size=int(100 * 1000 ** (k / (n_keys - 1))), dtype=np.int64)
        keys.append(np.full(per_key, k, dtype=np.int32))
        elems.append(pool[rng.integers(0, len(pool), size=per_key)])
    pdf = pd.DataFrame({"key": np.concatenate(keys), "elem": np.concatenate(elems)})
    return pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)


def _write_parts(pdf: pd.DataFrame, path: str, parts: int) -> None:
    os.makedirs(path, exist_ok=True)
    for j, chunk in enumerate(np.array_split(np.arange(len(pdf)), parts)):
        pq.write_table(pa.Table.from_pandas(pdf.iloc[chunk], preserve_index=False),
                       os.path.join(path, f"part-{j:03d}.parquet"))


# relative standard errors: GHLL and SetSketch1 at base 2 and m = 4096,
# sqrt((b+1)/(b-1) ln b - 1)/sqrt(m); KMV bottom-k 1/sqrt(k-2)
GHLL = GHLLConfig(num_registers=4096)
SETSKETCH = SetSketchConfig(num_registers=4096, a=20)
KMV_K = 1024
RSE = {
    "ghll": math.sqrt(3 * math.log(2) - 1) / 64,
    "setsketch": math.sqrt(3 * math.log(2) - 1) / 64,
    "kmv": 1 / math.sqrt(KMV_K - 2),
}
# each estimate must lie within this many RSEs of the exact count
RSE_MULTIPLE = 5


class DistinctAgg(Workload):
    """Per-key distinct counts through the register sketches and KMV: the
    sketch kernels dominate; no LSH, clustering or store."""

    name = "distinct_agg"
    N_ROWS = 1_000_000
    # SetSketch1's kernel is ~1000x slower per element than GHLL's
    SS_ROWS = N_ROWS // 100

    def setup_inputs(self, rep: int) -> None:
        rng = np.random.default_rng(self.seed)
        inputs = os.path.join(self.work, f"inputs{rep}")
        self.paths, self.exact, self.rows = {}, {}, {}
        for fam, rows in (("ghll", self.N_ROWS), ("setsketch", self.SS_ROWS)):
            pdf = _events(rng, rows)
            self.paths[fam] = os.path.join(inputs, f"events_{fam}")
            _write_parts(pdf, self.paths[fam], 2 * self.cores)
            self.exact[fam] = pdf.groupby("key")["elem"].nunique()
            self.rows[fam] = len(pdf)
        # KMV reads the GHLL table
        for d in (self.paths, self.exact, self.rows):
            d["kmv"] = d["ghll"]
        self.fam_s: dict[str, list[float]] = {f: [] for f in RSE}

    def _query(self, fam: str, path: str | None = None) -> pd.DataFrame:
        df = self.spark.read.parquet(path or self.paths[fam])
        t0 = time.perf_counter()
        if fam == "kmv":
            with self.tracer.span("operators.kmv_distinct"):
                rows = with_kmv_estimate(kmv_distinct(df, ["key"], "elem", k=KMV_K), KMV_K).collect()
        else:
            cfg = GHLL if fam == "ghll" else SETSKETCH
            with self.tracer.span(f"operators.sketch_distinct.{fam}"):
                rows = sketch_distinct(df, ["key"], "elem", cfg).collect()
        self.fam_s[fam].append(time.perf_counter() - t0)
        return pd.DataFrame([r.asDict() for r in rows])

    def warm_up(self) -> None:
        # the small SetSketch table warms every family's code path
        for fam in RSE:
            self._query(fam, self.paths["setsketch"])
        for v in self.fam_s.values():
            v.clear()

    def op(self, i: int) -> int:
        self.results = {fam: self._query(fam) for fam in RSE}
        return sum(self.rows.values())

    def after(self, i: int) -> None:
        for fam, pdf in self.results.items():
            est = pdf["est_q"] / 1e6 if fam == "kmv" else pdf["est_distinct"]
            est = pd.Series(est.to_numpy(), index=pdf["key"]).sort_index()
            exact = self.exact[fam]
            if not est.index.equals(exact.index):
                raise GateError(f"{fam}: keys {list(est.index)[:5]}... != exact keys")
            err = (est - exact).abs() / exact
            worst = float(err.max())
            if worst > RSE_MULTIPLE * RSE[fam]:
                raise GateError(
                    f"{fam}: key {int(err.idxmax())} off by {worst:.4f} "
                    f"> {RSE_MULTIPLE} x RSE {RSE[fam]:.4f}"
                )
            self.digests[fam] = frame_digest(pdf, ["key"])

    def summary(self, times, items) -> dict:
        return {
            f"{fam}_rows_per_s": (self.rows[fam] / median(self.fam_s[fam]), "1/s")
            for fam in RSE
        }


WORKLOADS = {w.name: w for w in (BatchDedup, IngestStream, DistinctAgg)}
