"""The benchmark's workloads. Each drives the package through its public
entry points and checks every output it produces.

A workload provides:

* ``prepare()`` — generate its seeded inputs (no Spark);
* ``read_input(spark)`` — read the whole input once (part of set-up);
* ``first_op(spark)`` — the first, cold operation;
* ``next_op(spark)`` — one warm operation, and ``more(done, elapsed,
  seconds)`` — whether the warm phase goes on;
* ``untraced_pass(spark)`` / ``traced_pass(spark, tracer)`` — the same
  work without and with per-layer spans, for the traced run;
* ``check(spark, op)`` — the output check of the operation or pass just
  run, which the runner calls after it, outside its timing;
* ``layer_counts(spark)`` — the per-layer work counts of the traced
  pass, taken after it (outside its timing);
* ``key`` — the columns of its result table that a digest covers.

Operations return an ``Op``: its latency, the table it produced (a
cluster assignment, or a neighbour table), and the problems its output
check found.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import inputs
from distributed_gpu_lsh_using_sycl_spark.config import LshConfig
from distributed_gpu_lsh_using_sycl_spark.functions import hashing
from distributed_gpu_lsh_using_sycl_spark.operators import (
    banding, components, lsh_knn, pairs, suffix)
from distributed_gpu_lsh_using_sycl_spark.parity.oracle import knn_oracle
from distributed_gpu_lsh_using_sycl_spark.plans.pipeline import (
    CC_SMALL_GRAPH_EDGES, run_dedup)
from distributed_gpu_lsh_using_sycl_spark.sources import blob_scan
from distributed_gpu_lsh_using_sycl_spark.streaming import e2e

#: the package's default configuration; the workloads tune nothing
CFG = LshConfig()
#: recall bar on planted duplicate pairs (BASELINE.md parity target)
MIN_RECALL = 0.99
#: measured warm operations a batch workload runs at least, however short
#: --seconds
MIN_WARM = 3


@dataclass
class Op:
    seconds: float
    output: pd.DataFrame
    problems: list[str] = field(default_factory=list)


#: the columns that define a cluster assignment
CLUSTER_KEY = ("image_id", "cluster_id")


def digest(table: pd.DataFrame, key) -> str:
    """Order-independent fingerprint of a result table's ``key`` columns."""
    rows = table[list(key)].sort_values(list(key), ignore_index=True)
    h = pd.util.hash_pandas_object(rows, index=False).to_numpy()
    return hashlib.sha256(h.tobytes()).hexdigest()[:16]


def pair_recall(clusters: pd.DataFrame, truth: pd.DataFrame) -> float:
    """Share of planted pairs whose two ids share a cluster."""
    if truth.empty:
        return 1.0
    cid = dict(zip(clusters["image_id"], clusters["cluster_id"]))
    hit = sum(cid.get(a) is not None and cid.get(a) == cid.get(b)
              for a, b in zip(truth["a"], truth["b"]))
    return hit / len(truth)


def check_clusters(clusters: pd.DataFrame, ids: list[str],
                   truth: pd.DataFrame,
                   min_recall: float | None) -> tuple[float, list[str]]:
    """Exactly one cluster row per input id, and (when ``min_recall`` is
    given) planted-pair recall at or above it. Returns (recall,
    problems)."""
    problems = []
    got = clusters["image_id"]
    if len(got) != len(ids) or set(got) != set(ids):
        problems.append(f"{len(got)} cluster rows ({got.nunique()} distinct "
                        f"ids) for {len(ids)} input ids")
    recall = pair_recall(clusters, truth)
    if min_recall is not None and recall < min_recall:
        problems.append(f"dup_pair_recall {recall:.4f} < {min_recall}")
    return recall, problems


def cluster_shape(clusters: pd.DataFrame) -> dict:
    sizes = clusters.groupby("cluster_id").size()
    return {"clusters": int(len(sizes)), "largest_cluster": int(sizes.max())}


class CaptionBatch:
    """Text-only batch dedup: ``plans.pipeline.run_dedup(with_image=False,
    scan_path=...)`` over a seeded caption corpus."""

    name = "caption_batch"
    rows = 2000
    key = CLUSTER_KEY

    def __init__(self, host, seed: int, rows: int | None = None):
        self.host = host
        self.seed = seed
        self.rows = rows or self.rows
        self.rows_per_op = self.rows
        self.recalls: list[float] = []
        self.digests: set[str] = set()

    def prepare(self) -> None:
        self.path = inputs.caption_corpus(
            self.host.run_dir / "captions", self.seed, self.rows,
            self.host.cpus)
        self.ids = inputs.row_ids(self.rows)
        self.truth = inputs.planted_pairs(self.seed, self.rows,
                                          inputs.TEXT_KINDS)

    def read_input(self, spark) -> None:
        spark.read.parquet(str(self.path)).count()

    def check(self, spark, op: Op) -> Op:
        recall, problems = check_clusters(op.output, self.ids, self.truth,
                                          MIN_RECALL)
        self.recalls.append(recall)
        self.digests.add(digest(op.output, self.key))
        if len(self.digests) > 1:
            problems.append("cluster assignment differs between operations")
        op.problems += problems
        return op

    def first_op(self, spark) -> Op:
        t0 = time.perf_counter()
        images = spark.read.parquet(str(self.path))
        res = run_dedup(spark, images, CFG, with_image=False,
                        scan_path=str(self.path))
        return Op(time.perf_counter() - t0, res["clusters"].toPandas())

    next_op = first_op

    def more(self, done: int, elapsed: float, seconds: float) -> bool:
        return done < MIN_WARM or elapsed < seconds

    def untraced_pass(self, spark) -> Op:
        return self.first_op(spark)

    def traced_pass(self, spark, tracer) -> Op:
        """``DedupPipeline.run``'s stage order (no warehouse, text only),
        each public operator called from here under its module's span and
        its output materialized."""
        path, t = str(self.path), time.perf_counter()
        images = spark.read.parquet(path)
        with tracer.span("sources.blob_scan"):
            sigs = blob_scan.scan_signatures(
                spark, path, CFG, with_image=False).localCheckpoint(eager=True)
        with tracer.span("operators.banding"):
            bands = banding.explode_bands(sigs)
            stats = banding.over_threshold_stats(bands, CFG).localCheckpoint(eager=True)
            cands = banding.candidate_pairs_from_bands(
                bands, CFG, source="minhash", stats=stats).localCheckpoint(eager=True)
            dropped = (banding.downsample_dropped(bands, CFG, stats=stats)
                       .agg(F.coalesce(F.sum("dropped"), F.lit(0)))
                       .collect()[0][0])
        docs = images.select("image_id", "caption")
        with tracer.span("operators.suffix"):
            sub = suffix.substring_candidates(docs, CFG).localCheckpoint(eager=True)
            subv = (suffix.verify_substring_pairs(sub, docs, CFG)
                    .select("a", "b",
                            F.when(F.col("contains"), F.lit("substring"))
                            .otherwise(F.lit("window")).alias("source"))
                    .localCheckpoint(eager=True))
        with tracer.span("operators.pairs"):
            merged = pairs.merge_candidates(
                cands.select("a", "b", "source"), subv).localCheckpoint(eager=True)
            verified = pairs.verify_pairs(
                pairs.attach_features(merged, sigs), CFG).localCheckpoint(eager=True)
            edges = pairs.verified_edges(verified).localCheckpoint(eager=True)
        with tracer.span("operators.components"):
            clusters = components.assign_clusters(
                images, edges, id_col="image_id",
                small_graph_threshold=CC_SMALL_GRAPH_EDGES).toPandas()
        self._traced = dict(sigs=sigs, stats=stats, cands=cands, sub=sub,
                            subv=subv, merged=merged, verified=verified,
                            edges=edges, dropped=int(dropped),
                            clusters=clusters)
        return Op(time.perf_counter() - t, clusters)

    def layer_counts(self, spark) -> dict[str, float]:
        f = self._traced
        hot = f["stats"].count()
        n_merged = f["merged"].count()
        n_verified = f["verified"].filter("verified").count()
        n_edges = f["edges"].count()
        shape = cluster_shape(f["clusters"])
        return {
            "sources.blob_scan.rows": f["sigs"].count(),
            "operators.banding.candidates": f["cands"].count(),
            "operators.banding.hot_buckets": hot,
            "operators.banding.dropped": f["dropped"],
            "operators.banding.salted": int(hot > 0),
            "operators.suffix.candidates": f["sub"].count(),
            "operators.suffix.pairs": f["subv"].count(),
            "operators.pairs.candidates_in": n_merged,
            "operators.pairs.verified": n_verified,
            "operators.pairs.verify_yield": n_verified / n_merged if n_merged else 0.0,
            "operators.components.edges": n_edges,
            "operators.components.clusters": shape["clusters"],
            "operators.components.largest_cluster": shape["largest_cluster"],
            "operators.components.star_loop": int(n_edges > CC_SMALL_GRAPH_EDGES),
        }

    def close(self, spark) -> None:
        pass


class StreamingWaves:
    """Incremental dedup: a seeded image+caption corpus lands as waves in
    an input directory; after each wave one
    ``streaming.e2e.streaming_dedup_cycle(with_image=True)`` runs (drain
    ingest and candidate streams, reconcile, write clusters). One cycle is
    one operation; its latency runs from the wave landing to the cycle
    returning with the clusters written."""

    name = "streaming_waves"
    rows = 1200
    waves = 4
    key = CLUSTER_KEY

    def __init__(self, host, seed: int, rows: int | None = None):
        self.host = host
        self.seed = seed
        self.rows = rows or self.rows
        self.recalls: list[float] = []
        self._streams = 0

    def prepare(self) -> None:
        self.wave_files = inputs.image_waves(
            self.host.run_dir / "waves", self.seed, self.rows, self.waves)
        self.per_wave = self.rows_per_op = self.rows // self.waves
        self.ids = inputs.row_ids(self.rows)
        self.truth = inputs.planted_pairs(self.seed, self.rows,
                                          inputs.MINHASH_KINDS)

    # -- one stream ---------------------------------------------------- #
    def _new_stream(self) -> None:
        d = self.host.run_dir / f"stream{self._streams}"
        self._streams += 1
        self.input_dir, self.warehouse = d / "in", d / "wh"
        self.input_dir.mkdir(parents=True)
        self.landed = 0

    def _land(self) -> None:
        """Copy the next wave file in under a hidden name (Spark's file
        source skips those) and rename it into place: it appears whole."""
        src = self.wave_files[self.landed]
        tmp = self.input_dir / f".{src.name}"
        shutil.copyfile(src, tmp)
        os.replace(tmp, self.input_dir / src.name)
        self.landed += 1

    def _cycle(self, spark, **kw) -> dict:
        return e2e.streaming_dedup_cycle(
            spark, str(self.input_dir), str(self.warehouse), CFG,
            with_image=True, **kw)

    def check(self, spark, op: Op) -> Op:
        clusters = op.output
        landed = self.ids[:self.landed * self.per_wave]
        truth = self.truth[self.truth["b"].isin(set(landed))]
        # The streaming contract is equality with the batch reference
        # (checked after the last wave), not a recall bar: its candidates
        # come from MinHash bands alone, so its recall is reported only.
        recall, problems = check_clusters(clusters, landed, truth, None)
        self.recalls.append(recall)
        if self.landed == self.waves:
            ref = e2e.batch_dedup_reference(
                spark, spark.read.parquet(str(self.input_dir)), CFG,
                with_image=True).toPandas()
            if digest(ref, self.key) != digest(clusters, self.key):
                problems.append("final streaming clusters differ from "
                                "batch_dedup_reference over the same rows")
        op.problems += problems
        return op

    def _wave(self, spark) -> Op:
        self._land()
        t0 = time.perf_counter()
        out = self._cycle(spark)
        seconds = time.perf_counter() - t0
        return Op(seconds, out["clusters"].toPandas())

    # -- workload interface ------------------------------------------- #
    def read_input(self, spark) -> None:
        spark.read.parquet(*map(str, self.wave_files)).count()

    def first_op(self, spark) -> Op:
        self._new_stream()
        return self._wave(spark)

    def next_op(self, spark) -> Op:
        return self._wave(spark)

    def more(self, done: int, elapsed: float, seconds: float) -> bool:
        """Every wave runs, whatever --seconds says: latency depends on
        the state accumulated so far, so the wave count stays fixed."""
        return self.landed < self.waves

    def _split_pass(self, spark, span) -> Op:
        """All waves into a new stream, each as a drain-only cycle followed
        by a reconcile cycle, each cycle under ``span("streaming.e2e")``."""
        self._new_stream()
        self.reconcile_s, self.new_adjudicated, total = 0.0, 0, 0.0
        while self.landed < self.waves:
            self._land()
            t0 = time.perf_counter()
            with span("streaming.e2e"):
                self._cycle(spark, reconcile=False)
            t1 = time.perf_counter()
            with span("streaming.e2e"):
                out = self._cycle(spark, reconcile=True)
            t2 = time.perf_counter()
            self.reconcile_s += t2 - t1
            self.new_adjudicated += out["n_new_adjudicated"]
            total += t2 - t0
        return Op(total, out["clusters"].toPandas())

    def untraced_pass(self, spark) -> Op:
        """The traced pass's work, the same cycles, with no spans."""
        return self._split_pass(spark, lambda name: nullcontext())

    def traced_pass(self, spark, tracer) -> Op:
        """The listener's micro-batches become ``streaming.ingest`` /
        ``streaming.stateful`` child spans of the cycles' spans."""
        return self._split_pass(spark, tracer.span)

    def layer_counts(self, spark) -> dict[str, float]:
        return {"streaming.e2e.reconcile_s": self.reconcile_s,
                "streaming.e2e.new_adjudicated": self.new_adjudicated}

    def close(self, spark) -> None:
        """Stop the state-store maintenance task before the session (and
        later the stream directories) go away."""
        e2e.unload_state_stores(spark)


class KnnVectors:
    """The reference's kNN query: ``operators.lsh_knn.lsh_kneighbors``
    (random projections, k = 10), from parquet read to a collected
    neighbour table, over seeded 16-d Gaussian blobs."""

    name = "knn_vectors"
    rows = 5000
    key = ("vec_id", "rank", "neighbor_id", "dist_sq")
    k = 10
    dims = 16
    family = "random_projections"
    #: rows checked slot for slot against the oracle, and exact-kNN
    #: queries scored for recall, per operation
    sample = 500
    #: the bucket cap lsh_kneighbors applies (off: a kNN answer drops
    #: nothing)
    cfg = LshConfig(max_bucket_size=0)

    def __init__(self, host, seed: int, rows: int | None = None):
        self.host = host
        self.seed = seed
        self.rows = self.rows_per_op = rows or self.rows
        self.recalls: list[float] = []
        self.digests: set[str] = set()

    def prepare(self) -> None:
        """The points, and the answers every operation is checked against:
        the reference search (``parity.oracle.knn_oracle`` over buckets
        computed here in numpy) and exact brute-force neighbours of a
        seeded query sample."""
        self.path = self.host.run_dir / "vectors.parquet"
        pts = inputs.knn_blobs(self.path, self.seed, self.rows, self.dims)
        self.oracle = knn_oracle(pts, self._buckets(pts), self.k)
        rng = np.random.default_rng(self.seed + 1)
        self.queries = np.sort(rng.choice(self.rows, min(self.sample, self.rows),
                                          replace=False))
        d = ((pts[self.queries, None, :] - pts[None, :, :]) ** 2).sum(-1)
        d[np.arange(len(self.queries)), self.queries] = np.inf
        self.exact = np.argsort(d, axis=1, kind="stable")[:, :self.k]

    def _buckets(self, pts: np.ndarray) -> np.ndarray:
        """(rows, tables) bucket ids of the random-projection chain, built
        from ``functions.hashing``'s primitives in the fold order of
        ``rp_buckets_df``: affine [-1, 1] -> [0, 1] map, sequential dot,
        floor-quantize, u32 wrap, hash_combine fold, mod bucket_modulus."""
        cfg, dims = self.cfg, self.dims
        p01 = np.clip((pts + 1.0) * 0.5, 0.0, 1.0)
        funcs = hashing.random_projection_pool(
            cfg.seed, cfg.num_bands, cfg.rows_per_band,
            cfg.signature_pool_size, dims, cfg.w)
        tables, per_table, _ = funcs.shape
        out = np.zeros((len(pts), tables), dtype=np.int64)
        for t in range(tables):
            proj = (hashing.seqdot(p01, funcs[t, :, :dims])
                    + funcs[t, :, dims][None, :])
            q = (np.floor(proj / cfg.w).astype(np.int64)
                 & 0xFFFFFFFF).astype(np.uint32)
            acc = np.full(len(pts), per_table, dtype=np.uint32)
            for j in range(per_table):
                acc = hashing.hash_combine_u32(acc, q[:, j])
            out[:, t] = acc.astype(np.int64) % cfg.bucket_modulus
        return out

    def read_input(self, spark) -> None:
        spark.read.parquet(str(self.path)).count()

    def check(self, spark, op: Op) -> Op:
        """k rows per point with ranks 1..k; the sampled rows equal the
        oracle slot for slot; every operation gives the same table.
        Recall@k against exact neighbours is reported, not gated."""
        t = op.output.sort_values(["vec_id", "rank"])
        n, k = self.rows, self.k
        ids, ranks = t["vec_id"].to_numpy(), t["rank"].to_numpy()
        if (len(t) != n * k or (ids != np.repeat(np.arange(n), k)).any()
                or (ranks != np.tile(np.arange(1, k + 1), n)).any()):
            op.problems.append(f"{len(t)} neighbour rows, not rank 1..{k} "
                               f"for each of {n} points")
            self.recalls.append(0.0)
            return op
        got = t["neighbor_id"].to_numpy().reshape(n, k)
        bad = int((got[self.queries] != self.oracle[self.queries]).sum())
        if bad:
            op.problems.append(f"{bad} sampled neighbour slots differ from "
                               "knn_oracle")
        hits = sum(len(set(got[q]) & set(e))
                   for q, e in zip(self.queries, self.exact))
        self.recalls.append(hits / (len(self.queries) * k))
        self.digests.add(digest(op.output, self.key))
        if len(self.digests) > 1:
            op.problems.append("neighbour table differs between operations")
        return op

    def first_op(self, spark) -> Op:
        t0 = time.perf_counter()
        e = spark.read.parquet(str(self.path))
        out = lsh_knn.lsh_kneighbors(e, self.k, family=self.family,
                                     dims=self.dims)
        return Op(time.perf_counter() - t0, out.toPandas())

    next_op = first_op

    def more(self, done: int, elapsed: float, seconds: float) -> bool:
        return done < MIN_WARM or elapsed < seconds

    def untraced_pass(self, spark) -> Op:
        return self.first_op(spark)

    def traced_pass(self, spark, tracer) -> Op:
        """``lsh_kneighbors``'s steps, each timed: bucket assignment
        (``family_buckets``), the candidate self-join
        (``banding.candidate_pairs_from_bands``) and the re-rank (distance
        fold, per-point top k, own-id fill), all under one
        ``operators.lsh_knn`` span. The runner checks that the result
        equals the untraced ``lsh_kneighbors`` call's."""
        t = time.perf_counter()
        e = spark.read.parquet(str(self.path))
        cfg, k = self.cfg, self.k
        with tracer.span("operators.lsh_knn"):
            src = (e.select("vec_id",
                            F.col("v").cast("array<double>").alias("v"))
                   .localCheckpoint(eager=True))
            t0 = time.perf_counter()
            buckets = lsh_knn.family_buckets(
                src, self.family, cfg, dims=self.dims).localCheckpoint(eager=True)
            t1 = time.perf_counter()
            und = banding.candidate_pairs_from_bands(
                buckets.select(F.col("vec_id").alias("image_id"), "band_id",
                               "bucket"),
                cfg, source=f"knn_{self.family}").localCheckpoint(eager=True)
            t2 = time.perf_counter()
            out = _rerank(src, und, k).toPandas()
            t3 = time.perf_counter()
        self._traced = dict(und=und, out=out, buckets_s=t1 - t0,
                            candidates_s=t2 - t1, rerank_s=t3 - t2)
        return Op(time.perf_counter() - t, out)

    def layer_counts(self, spark) -> dict[str, float]:
        f = self._traced
        out = f["out"]
        return {
            "operators.lsh_knn.buckets_s": f["buckets_s"],
            "operators.lsh_knn.candidates_s": f["candidates_s"],
            "operators.lsh_knn.rerank_s": f["rerank_s"],
            "operators.lsh_knn.candidates": f["und"].count(),
            "operators.lsh_knn.not_found": int(
                (out["neighbor_id"] == out["vec_id"]).sum()),
        }

    def close(self, spark) -> None:
        pass


def _rerank(src, und, k: int):
    """``lsh_kneighbors``'s re-rank over materialized candidate pairs:
    squared L2 by a sequential fold, once per unordered pair, fanned out
    both ways; the k nearest per point (distance, then id); slots with no
    candidate keep the point's own id with distance -1."""
    from pyspark.sql import Window

    def dsq(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                           F.lit(0.0), lambda acc, x: acc + x)

    va = src.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    vb = src.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    d = (und.join(va, "a").join(vb, "b")
         .select("a", "b", dsq(F.col("va"), F.col("vb")).alias("d"))
         .localCheckpoint(eager=True))
    cand = (d.select(F.col("a").alias("q"), F.col("b").alias("m"), "d")
            .union(d.select(F.col("b").alias("q"), F.col("a").alias("m"), "d")))
    ranked = (cand.withColumn("rank", F.row_number().over(
                  Window.partitionBy("q").orderBy("d", "m")))
              .filter(F.col("rank") <= k))
    slots = src.select("vec_id").withColumn(
        "rank", F.explode(F.sequence(F.lit(1), F.lit(k))))
    return (slots.join(ranked, (slots.vec_id == ranked.q)
                       & (slots.rank == ranked.rank), "left")
            .select(slots.vec_id, slots.rank.cast("int").alias("rank"),
                    F.coalesce(ranked.m, slots.vec_id).alias("neighbor_id"),
                    F.round(F.coalesce(ranked.d, F.lit(-1.0)), 6)
                    .alias("dist_sq")))


WORKLOADS = {w.name: w for w in (CaptionBatch, StreamingWaves, KnnVectors)}
