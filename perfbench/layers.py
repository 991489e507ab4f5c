"""Per-layer metrics of a traced run (``--trace 1``).

Spark-side figures come from the spans the workload recorded around its
public calls during the measured loop.  Kernel and UDF figures come from
replaying the layers' public functions here, on the workload's own inputs:
single-threaded on plain pandas/numpy batches of the session's Arrow batch
size, and once through Spark for the UDF boundary ratio.  A metric of a
layer the workload does not reach reads 0.  LAYERS.md maps each metric to
the end-to-end metric it should move.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from set_sketch_paper_spark.functions.udfs import (
    make_merge_registers_udf,
    make_minhash_pair_estimator_udf,
    make_minhash_signature_udf,
    make_register_cardinality_udf,
)
from set_sketch_paper_spark.operators import lsh as lsh_ops
from set_sketch_paper_spark.operators.clustering import connected_components
from set_sketch_paper_spark.operators.signatures import with_file_id, with_minhash_signature
from set_sketch_paper_spark.operators.sketch_agg import make_partition_partial_mapper
from set_sketch_paper_spark.sketchlib.estimators import MinHashJointEstimator
from set_sketch_paper_spark.sketchlib.minhash import minhash_batch
from set_sketch_paper_spark.sketchlib.shingle import shingle_sets_batch

from harness import SPARK_FIELDS, median
from workloads import GHLL, PCFG, SETSKETCH, BatchDedup, DistinctAgg, IngestStream

ARROW_BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch of the session
PAIRS = 20_000  # signature pairs the pair-estimator replays score

CALLS = (
    "plans.NearDupPipeline.run",
    "sink.write",
    "streaming.foreach_batch_near_dup",
    "operators.candidate_pairs",
    "operators.verified_pairs",
    "operators.connected_components",
    "operators.sketch_distinct.ghll",
    "operators.sketch_distinct.setsketch",
    "operators.kmv_distinct",
)
UDFS = ("signature", "pair_estimator", "merge_registers", "register_cardinality")
STAGES = ("identity", "signatures", "candidates", "verified_pairs", "clusters")
_SPARK_UNITS = {
    "executor_run_s": "s", "executor_cpu_s": "s", "jvm_gc_s": "s", "jobs": "count",
    "tasks": "count", "shuffle_write_bytes": "B", "spill_bytes": "B",
    "peak_exec_mem_bytes": "B", "core_busy_frac": "1",
}

PER_LAYER: dict[str, str] = {
    "sketchlib.shingle_ns_per_shingle": "ns",
    "sketchlib.oph_ns_per_shingle": "ns",
    "sketchlib.pair_estimate_ns_per_pair": "ns",
    "sketchlib.ghll_ns_per_elem": "ns",
    "sketchlib.setsketch_ns_per_elem": "ns",
    **{f"functions.{u}.plain_ns_per_row": "ns" for u in UDFS},
    **{f"functions.{u}.boundary_ratio": "1" for u in UDFS},
    **{f"{c}.self_s": "s" for c in CALLS},
    **{f"{c}.spark.{k}": _SPARK_UNITS[k] for c in CALLS for k in SPARK_FIELDS},
    **{f"plans.stage.{s}.s": "s" for s in STAGES},
    "plans.blocks_held": "count",
    "plans.blocks_released": "count",
    "operators.lsh.candidates": "count",
    "operators.lsh.verified_frac": "1",
    "operators.lsh.hot_buckets_skipped": "count",
    "streaming.store_bytes": "B",
    "streaming.store_files": "count",
    "streaming.pairs_per_batch": "count",
    "streaming.latency_slope_ms_per_10k_store_docs": "ms",
    "streaming.blocks_left": "count",
    "distinct.ghll_rows_per_s": "1/s",
    "distinct.setsketch_rows_per_s": "1/s",
    "distinct.kmv_rows_per_s": "1/s",
    "process.peak_rss_mb": "MB",
    "process.cpu_ms_per_item": "ms",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


def parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path) if f.endswith(".parquet")
    )


def _chunks(n: int, size: int = ARROW_BATCH):
    return [slice(i, min(i + size, n)) for i in range(0, n, size)]


def _timed(fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t


def _boundary(w, call: str, df_fn, plain_s: float) -> float:
    """Executor run time of ``df_fn()`` written to a noop sink inside a span,
    over the plain single-threaded time of the same rows."""
    with w.tracer.span(call):
        df_fn().write.format("noop").mode("overwrite").save()
    run_s = w.tracer.spark_by_call(w.cores)[call]["executor_run_s"]
    return run_s / plain_s if plain_s > 0 else 0.0


def _stage_replay(w, name: str, pdf: pd.DataFrame):
    """Write a replay input through Spark's Arrow path once, untimed."""
    path = os.path.join(w.work, "replay", name)
    w.spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)
    return lambda: w.spark.read.parquet(path)


def _doc_layers(w, texts: list[str], docs_path) -> dict:
    out = {}
    sh, mh = PCFG.shingle, PCFG.minhash
    n_sh = t_sh = t_oph = 0.0
    sigs, sizes = [], []
    for s in _chunks(len(texts)):
        (values, offsets), dt = _timed(shingle_sets_batch, texts[s], sh.k, sh.token_pattern,
                                       sh.lowercase, sh.seed)
        t_sh += dt
        n_sh += len(values)
        (sig, size), dt = _timed(minhash_batch, values, offsets, mh.num_registers, mh.seed, mh.algo)
        t_oph += dt
        sigs.append(sig)
        sizes.append(size)
    out["sketchlib.shingle_ns_per_shingle"] = t_sh / n_sh * 1e9
    out["sketchlib.oph_ns_per_shingle"] = t_oph / n_sh * 1e9
    sig = np.concatenate(sigs)
    card = np.concatenate(sizes).astype(np.float64)

    rng = np.random.default_rng(w.seed)
    a, b = rng.integers(0, len(sig), PAIRS), rng.integers(0, len(sig), PAIRS)
    est = MinHashJointEstimator(mh.num_registers)
    t_pair = sum(
        _timed(est.joint_original, sig[a[s]], sig[b[s]], card[a[s]], card[b[s]])[1]
        for s in _chunks(PAIRS)
    )
    out["sketchlib.pair_estimate_ns_per_pair"] = t_pair / PAIRS * 1e9

    udf = make_minhash_signature_udf(PCFG)
    plain = sum(_timed(udf.func, pd.Series(texts[s]))[1] for s in _chunks(len(texts)))
    out["functions.signature.plain_ns_per_row"] = plain / len(texts) * 1e9
    out["functions.signature.boundary_ratio"] = _boundary(
        w, "functions.signature", lambda: docs_path().select(udf(F.col("content"))), plain)

    pair_udf = make_minhash_pair_estimator_udf(mh, "original")
    pairs = pd.DataFrame({
        "sig1": [r.tobytes() for r in sig[a]], "sig2": [r.tobytes() for r in sig[b]],
        "n1": card[a].astype(np.int32), "n2": card[b].astype(np.int32),
    })
    plain = sum(
        _timed(pair_udf.func, *(pairs[c].iloc[s] for c in ("sig1", "sig2", "n1", "n2")))[1]
        for s in _chunks(PAIRS)
    )
    out["functions.pair_estimator.plain_ns_per_row"] = plain / PAIRS * 1e9
    staged = _stage_replay(w, "pairs", pairs)
    out["functions.pair_estimator.boundary_ratio"] = _boundary(
        w, "functions.pair_estimator",
        lambda: staged().select(pair_udf("sig1", "sig2", "n1", "n2")), plain)
    return out


def _operator_layers(w) -> dict:
    """Replays the pipeline's public LSH and clustering operators on the
    batch workload's corpus, each stage read back from parquet."""
    spark, out = w.spark, {}
    path = lambda name: os.path.join(w.work, "replay", name)
    signed = with_minhash_signature(with_file_id(spark.read.parquet(w.corpus)), PCFG) \
        .select("file_id", "sig", "bands", "n_shingles")
    signed.write.mode("overwrite").parquet(path("signed"))
    signed = spark.read.parquet(path("signed"))
    with w.tracer.span("operators.candidate_pairs"):
        cand, skipped = lsh_ops.candidate_pairs(signed, PCFG.lsh, id_col="file_id", with_skipped=True)
        cand.write.mode("overwrite").parquet(path("cand"))
        skipped.write.mode("overwrite").parquet(path("skipped"))
    est_udf = make_minhash_pair_estimator_udf(PCFG.minhash, "original")
    with w.tracer.span("operators.verified_pairs"):
        lsh_ops.verified_pairs(spark.read.parquet(path("cand")), signed, est_udf,
                               PCFG.jaccard_threshold, id_col="file_id") \
            .write.mode("overwrite").parquet(path("verified"))
    with w.tracer.span("operators.connected_components"):
        connected_components(spark.read.parquet(path("verified")).select("id1", "id2")) \
            .write.mode("overwrite").parquet(path("components"))
    n_cand = parquet_rows(path("cand"))
    out["operators.lsh.candidates"] = n_cand
    out["operators.lsh.verified_frac"] = parquet_rows(path("verified")) / n_cand if n_cand else 0.0
    out["operators.lsh.hot_buckets_skipped"] = parquet_rows(path("skipped"))
    return out


def _register_layers(w) -> dict:
    """GHLL/SetSketch1 partial mappers on plain pandas batches of the
    distinct workload's events, then the merge and cardinality UDFs on the
    partial sketches they produced."""
    out = {}
    for fam, cfg, rows in (("ghll", GHLL, 20 * ARROW_BATCH), ("setsketch", SETSKETCH, None)):
        events = pq.read_table(w.paths[fam]).to_pandas().iloc[:rows]
        mapper = make_partition_partial_mapper(cfg, ["key"], "elem")
        parts, t = [], 0.0
        for s in _chunks(len(events)):
            emitted, dt = _timed(lambda b: list(mapper(iter([b]))), events.iloc[s])
            parts.extend(emitted)
            t += dt
        out[f"sketchlib.{fam}_ns_per_elem"] = t / len(events) * 1e9
        if fam == "ghll":
            ghll = pd.concat(parts, ignore_index=True)

    merge = make_merge_registers_udf(GHLL)
    lists = ghll.groupby("key")["sketch"].apply(list)
    _, plain = _timed(merge.func, lists.reset_index(drop=True))
    out["functions.merge_registers.plain_ns_per_row"] = plain / len(ghll) * 1e9
    staged = _stage_replay(w, "partials", ghll)
    out["functions.merge_registers.boundary_ratio"] = _boundary(
        w, "functions.merge_registers",
        lambda: staged().groupBy("key").agg(merge(F.collect_list("sketch"))), plain)

    card = make_register_cardinality_udf(GHLL)
    plain = sum(_timed(card.func, ghll["sketch"].iloc[s])[1] for s in _chunks(len(ghll)))
    out["functions.register_cardinality.plain_ns_per_row"] = plain / len(ghll) * 1e9
    out["functions.register_cardinality.boundary_ratio"] = _boundary(
        w, "functions.register_cardinality", lambda: staged().select(card("sketch")), plain)
    for fam, secs in w.fam_s.items():
        out[f"distinct.{fam}_rows_per_s"] = w.rows[fam] / median(secs)
    return out


def layer_metrics(w, overhead_s: float, peak_rss_mb: float,
                  cpu_ms_per_item: float) -> dict[str, tuple[float, str]]:
    values = dict.fromkeys(PER_LAYER, 0.0)
    w.tracer.enabled = True
    try:
        if isinstance(w, BatchDedup):
            texts = pq.read_table(w.corpus, columns=["content"]).column(0).to_pylist()
            values.update(_doc_layers(w, texts, lambda: w.spark.read.parquet(w.corpus)))
            values.update(_operator_layers(w))
            for stage in STAGES:
                values[f"plans.stage.{stage}.s"] = median(w.stage_s.get(stage, [0.0]))
            values["plans.blocks_held"] = median(w.blocks_held)
            values["plans.blocks_released"] = median(w.blocks_released)
        elif isinstance(w, IngestStream):
            done = [os.path.join(w.stream, f"batch={j}") for j in range(w.ROUND)]
            texts = [t for d in done for t in pq.read_table(d, columns=["content"]).column(0).to_pylist()]
            values.update(_doc_layers(w, texts, lambda: w.spark.read.parquet(*done)))
            values["streaming.store_bytes"] = w.store_bytes[-1]
            values["streaming.store_files"] = w.store_files[-1]
            values["streaming.pairs_per_batch"] = median(w.pairs_per_batch)
            values["streaming.latency_slope_ms_per_10k_store_docs"] = w.slope_ms
            values["streaming.blocks_left"] = median(w.blocks_left)
        elif isinstance(w, DistinctAgg):
            values.update(_register_layers(w))
    finally:
        w.tracer.enabled = False

    counts: dict[str, int] = {}
    for s in w.tracer.spans:
        counts[s["name"]] = counts.get(s["name"], 0) + 1
    self_s = w.tracer.self_seconds()
    for call, acc in w.tracer.spark_by_call(w.cores).items():
        if call not in CALLS:
            continue
        values[f"{call}.self_s"] = self_s[call] / counts[call]
        for k, v in acc.items():
            # per invocation; the peak and the busy fraction are not sums
            values[f"{call}.spark.{k}"] = v if k in ("core_busy_frac", "peak_exec_mem_bytes") \
                else v / counts[call]
    values["process.peak_rss_mb"] = peak_rss_mb
    values["process.cpu_ms_per_item"] = cpu_ms_per_item
    values["trace.overhead_s"] = overhead_s
    values["trace.spans"] = len(w.tracer.spans)
    return {k: (float(values[k]), PER_LAYER[k]) for k in PER_LAYER}
