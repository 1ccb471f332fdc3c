"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline — JVM-side float64 dot
  products (zip_with/aggregate, no UDF), broadcast query side,
  per-query window top-k (no global sort)
- LSH-bucketed ANN: random-hyperplane signatures (Arrow numpy kernel)
  → multi-probe bucket join → exact rerank; queries that end up with
  fewer than k verified neighbours fall back to the brute path, so
  results stay exact-k (the scale path trades candidate count, not
  correctness of the returned ranking).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    """Float64 dot product as a left fold (0.0 + p1 + p2 + ...) via
    aggregate/zip_with.  MEASURED (r4, 500k-pair refine at sf0.1): the
    interpreted HOF fold beats a 64-term unrolled element_at
    expression 3.1 s vs 4.8 s — the wide flat tree does NOT win from
    codegen (per-element accessor + cast overhead dominates), so the
    HOF form is the keeper.  Association order matches DuckDB's
    list_dot_product, which the oracles rely on."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def _scored_pairs(cand: DataFrame, q_id: str, c_id: str) -> DataFrame:
    """(q_id, c_id, score) from candidate rows carrying qe/ce arrays:
    round(dot, 6) via the np.cumsum strict left fold — bit-identical
    to the `_dot` HOF and DuckDB's list_dot_product, minus ~dim
    interpreted lambda steps per candidate (guide §4.2)."""
    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            A = np.vstack(pdf["qe"].to_numpy()).astype(np.float64)
            B = np.vstack(pdf["ce"].to_numpy()).astype(np.float64)
            out = pdf[[q_id, c_id]].copy()
            out["score"] = np.round(np.cumsum(A * B, axis=1)[:, -1], 6)
            yield out

    return cand.select(q_id, c_id, "qe", "ce").mapInPandas(
        kernel, f"{q_id} bigint, {c_id} bigint, score double")


def brute_topk(queries: DataFrame, candidates: DataFrame, k: int,
               q_id: str = "qid", c_id: str = "cid",
               vec: str = "embedding") -> DataFrame:
    """Exact cosine top-k (unit-norm embeddings → dot = cosine)."""
    q = queries.select(F.col(q_id), F.col(vec).alias("qe"))
    c = candidates.select(F.col(c_id), F.col(vec).alias("ce"))
    # scoring stays in the interpreted JVM fold here: the declared
    # brute/ANN-probe candidate sets are small, and an extra Python
    # stage costs more than the fold it saves (measured r6:
    # ann_lsh_topk 1.7 -> 2.4 s with an Arrow score stage; the kernel
    # pays off only at ivf_topk's ~100k-candidate rerank)
    scored = (F.broadcast(q).crossJoin(c)
              .where(F.col(q_id) != F.col(c_id))
              .select(q_id, c_id,
                      F.round(_dot(F.col("qe"), F.col("ce")), 6)
                      .alias("score")))
    w = Window.partitionBy(q_id).orderBy(F.desc("score"), F.asc(c_id))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def hyperplane_signatures(df: DataFrame, id_col: str, vec: str,
                          n_planes: int = 16, dim: int = 64,
                          seed: int = 42) -> DataFrame:
    """(id, vec, sig): sign-bit signature under seeded random
    hyperplanes — one numpy matmul per Arrow batch."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_planes))
    out_schema = f"{id_col} bigint, {vec} array<float>, sig bigint"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = (np.int64(1) << np.arange(n_planes, dtype=np.int64))
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.vstack(pdf[vec].to_numpy()).astype(np.float64)
            sig = ((mat @ planes) > 0) @ bits
            out = pdf[[id_col, vec]].copy()
            out["sig"] = sig.astype(np.int64)
            yield out

    return df.select(id_col, vec).mapInPandas(kernel, out_schema)


def ivf_topk(queries: DataFrame, candidates: DataFrame, k: int,
             q_id: str = "qid", c_id: str = "cid",
             vec: str = "embedding", n_centroids: int = 16,
             nprobe: int = 8, seed: int = 42,
             quantizer: str = "kmeans") -> DataFrame:
    """IVF-flat ANN top-k: coarse quantizer → candidates partitioned by
    nearest centroid → each query probes its ``nprobe`` nearest
    centroid lists → exact rerank → brute fallback for under-filled
    queries (exact-k guarantee).

    Quantizers: ``kmeans`` (Spark ML, seeded — the default; better
    cells on clustered corpora) or ``sample`` (centroids = the first
    ``n_centroids`` candidates by id — a 0-iteration sampling init,
    fully deterministic AND SQL-expressible, so the driver oracle can
    replicate the whole query end-to-end).

    The 100 TB shape: centroid table is tiny (broadcast), candidate
    lists shuffle once on cluster id, per-query work is bounded by
    nprobe list sizes.  Embeddings are ~unit-norm so euclidean
    assignment order ≡ cosine order.  Recall depends on cluster
    structure: the synthetic near-uniform fixture needs nprobe=8/16
    centroids for ~0.9 recall@5; real embedding corpora cluster far
    more strongly."""
    spark = queries.sparkSession
    if quantizer == "kmeans":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        cvec = candidates.select(F.col(c_id).alias("_id"), F.col(vec)) \
            .withColumn("_fv", array_to_vector(F.col(vec)))
        km = KMeans(k=n_centroids, seed=seed, featuresCol="_fv",
                    predictionCol="_cluster")
        model = km.fit(cvec)
        cass = model.transform(cvec).select(
            F.col("_id").alias(c_id), F.col(vec).alias("ce"),
            F.col("_cluster").alias("cluster"))
        cent_rows = [(i, [float(x) for x in c])
                     for i, c in enumerate(model.clusterCenters())]
    elif quantizer == "sample":
        sample = candidates.select(F.col(c_id).alias("_id"), F.col(vec)) \
            .orderBy("_id").limit(n_centroids).collect()
        cent_rows = [(i, [float(x) for x in r[vec]])
                     for i, r in enumerate(sample)]
        # assignment as a numpy Arrow kernel (r6): the previous
        # crossJoin(x n_centroids) + interpreted squared-distance HOF
        # fold + row_number window shuffled n*n_centroids rows and
        # evaluated ~dim interpreted lambda steps per pair; argmin
        # against the broadcast centroid matrix is one vectorized pass
        # (ties keep the lowest cluster, like the ORDER BY cd2, cluster
        # window — np.argmin returns the first minimum)
        cents_np = np.array([c for _, c in cent_rows], dtype=np.float64)

        def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                if not len(pdf):
                    continue
                M = np.vstack(pdf["ce"].to_numpy()).astype(np.float64)
                d2 = np.stack(
                    [np.cumsum((M - cents_np[j]) * (M - cents_np[j]),
                               axis=1)[:, -1]
                     for j in range(len(cents_np))], axis=1)
                out = pdf.copy()
                out["cluster"] = np.argmin(d2, axis=1).astype(np.int32)
                yield out

        cass = candidates.select(F.col(c_id), F.col(vec).alias("ce")) \
            .mapInPandas(assign,
                         f"{c_id} bigint, ce array<float>, cluster int")
    else:
        raise ValueError(f"unknown quantizer {quantizer!r}")
    cents = spark.createDataFrame(cent_rows,
                                  "cluster int, centroid array<double>")
    # nprobe nearest centroids per query (centroid table broadcast)
    qv = queries.select(F.col(q_id), F.col(vec).alias("qe"))
    d2 = F.aggregate(
        F.zip_with("qe", "centroid",
                   lambda x, y: (x.cast("double") - y) ** 2),
        F.lit(0.0), lambda acc, v: acc + v)
    wq = Window.partitionBy(q_id).orderBy(F.asc("cd2"), F.asc("cluster"))
    probes = (qv.crossJoin(F.broadcast(cents))
              .select(q_id, "qe", "cluster", d2.alias("cd2"))
              .withColumn("crank", F.row_number().over(wq))
              .where(F.col("crank") <= nprobe)
              .select(q_id, "qe", "cluster"))
    cand = probes.join(cass, "cluster") \
        .where(F.col(q_id) != F.col(c_id))
    scored = _scored_pairs(cand, q_id, c_id)
    return _fill_topk(scored, queries, candidates, k, q_id, c_id, vec)


def lsh_topk(queries: DataFrame, candidates: DataFrame, k: int,
             q_id: str = "qid", c_id: str = "cid",
             vec: str = "embedding", n_planes: int = 16, dim: int = 64,
             probe_bits: int = 1) -> DataFrame:
    """ANN top-k: hyperplane-bucket candidates (multi-probe: the exact
    bucket plus all buckets at hamming distance ≤ probe_bits), exact
    rerank, brute fallback for under-filled queries."""
    qs = hyperplane_signatures(queries.select(F.col(q_id).alias("_id"),
                                              F.col(vec)),
                               "_id", vec, n_planes, dim) \
        .select(F.col("_id").alias(q_id), F.col(vec).alias("qe"), "sig")
    cs = hyperplane_signatures(candidates.select(F.col(c_id).alias("_id"),
                                                 F.col(vec)),
                               "_id", vec, n_planes, dim) \
        .select(F.col("_id").alias(c_id), F.col(vec).alias("ce"),
                F.col("sig").alias("csig"))
    # multi-probe: query explodes to its bucket + single-bit flips
    probes = [F.col("sig")]
    if probe_bits >= 1:
        probes += [F.col("sig").bitwiseXOR(F.lit(1 << b))
                   for b in range(n_planes)]
    qexp = qs.select(q_id, "qe",
                     F.explode(F.array(*probes)).alias("bucket"))
    cand = qexp.join(cs.withColumnRenamed("csig", "bucket"), "bucket") \
        .where(F.col(q_id) != F.col(c_id)) \
        .dropDuplicates([q_id, c_id])
    scored = cand.select(q_id, c_id,
                         F.round(_dot(F.col("qe"), F.col("ce")), 6)
                         .alias("score"))
    return _fill_topk(scored, queries, candidates, k, q_id, c_id, vec)


def _fill_topk(scored: DataFrame, queries: DataFrame, candidates: DataFrame,
               k: int, q_id: str, c_id: str, vec: str) -> DataFrame:
    """Each query's k best ``scored`` pairs, and brute force for the
    queries with fewer than k (including none): the exact-k guarantee.

    A query is full when it has a rank-k row.  Nothing is cached: the
    ranked rows feed the output and both gates inside the one action
    that consumes the result, so nothing outlives it."""
    w = Window.partitionBy(q_id).orderBy(F.desc("score"), F.asc(c_id))
    ranked = (scored.withColumn("rank", F.row_number().over(w))
              .where(F.col("rank") <= k))
    full = ranked.where(F.col("rank") == k).select(q_id)
    good = ranked.join(full, q_id, "left_semi")
    redo = queries.join(full, q_id, "left_anti")
    return good.unionByName(brute_topk(redo, candidates, k, q_id, c_id, vec))


def cosine_pairs_brute(df: DataFrame, threshold: float,
                       id_col: str = "vec_id", vec: str = "embedding"
                       ) -> DataFrame:
    """Exact all-pairs cosine >= threshold (the brute baseline the LSH
    path approximates; declared-quadratic — small inputs / per-bucket
    verify only)."""
    a = df.select(F.col(id_col).alias("id_i"), F.col(vec).alias("ea"))
    b = df.select(F.col(id_col).alias("id_j"), F.col(vec).alias("eb"))
    cand = a.crossJoin(b).where(F.col("id_i") < F.col("id_j"))
    dot = _dot(F.col("ea"), F.col("eb"))
    return (cand.select("id_i", "id_j", F.round(dot, 6).alias("score"))
            .where(F.col("score") >= threshold))


def _bucket_gram_pairs(b: DataFrame, threshold: float, max_bucket: int,
                       g1: str, g2: str) -> DataFrame:
    """Within-bucket near-dup pairs: every bucket (``g1``, ``g2``) of
    ``b`` (id, e, g1, g2) yields its (id_i < id_j, round(dot, 6) >=
    threshold) pairs, buckets larger than ``max_bucket`` dropped.

    Execution shape (r6): ONE exchange co-locates each bucket, then a
    partition-local numpy kernel computes the bucket's gram matrix and
    emits surviving pairs directly.  The previous shape self-joined the
    exploded table on the bucket key, which shipped BOTH 64-float
    embeddings through the join for every candidate pair (~n²/8 pairs
    for the 4-bit pigeonhole chunks) — at sf1.0 that was ~27 GB
    through the JVM→Python boundary for cosine_neardup_lsh; moving the
    pairing into the bucket turns the Arrow traffic into 4n input rows
    and only the surviving pairs out (guide §8: decide with small
    rows, never shuffle the payload per candidate).

    Exactness: the BLAS gram is only a PREFILTER at threshold − 1e-6
    (|blas − strict-fold| <= 64·eps·Σ|aᵢbᵢ| ≈ 1e-14 for unit-norm
    rows, eight orders below the margin); every surviving pair's score
    is recomputed with the np.cumsum strict left fold — bit-identical
    to DuckDB's list_dot_product, which the SQL oracles rely on.
    """
    schema = "id_i bigint, id_j bigint, score double"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pdfs = [p for p in batches if len(p)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        a1 = pdf[g1].to_numpy()
        a2 = pdf[g2].to_numpy()
        ids = pdf["id"].to_numpy()
        order = np.lexsort((ids, a2, a1))
        a1, a2, ids = a1[order], a2[order], ids[order]
        E = np.vstack(pdf["e"].to_numpy()).astype(np.float64)[order]
        cuts = np.flatnonzero((np.diff(a1) != 0) | (np.diff(a2) != 0)) + 1
        starts = np.concatenate(([0], cuts))
        ends = np.concatenate((cuts, [len(ids)]))
        out_i: list[np.ndarray] = []
        out_j: list[np.ndarray] = []
        out_s: list[np.ndarray] = []
        for s0, e0 in zip(starts, ends):
            m = int(e0 - s0)
            if m < 2 or m > max_bucket:
                continue
            M = E[s0:e0]
            gid = ids[s0:e0]
            # row-blocked gram bounds peak memory to ~32 MB per block
            # even at the max_bucket cap (20k² doubles would be 3.2 GB)
            blk = max(1, min(m, (4 << 20) // m))
            for r0 in range(0, m, blk):
                r1 = min(m, r0 + blk)
                G = M[r0:r1] @ M.T
                ii, jj = np.nonzero(G >= threshold - 1e-6)
                keep = jj > ii + r0
                ii, jj = ii[keep] + r0, jj[keep]
                if not len(ii):
                    continue
                sc = np.round(np.cumsum(M[ii] * M[jj], axis=1)[:, -1], 6)
                k2 = sc >= threshold
                out_i.append(gid[ii[k2]])
                out_j.append(gid[jj[k2]])
                out_s.append(sc[k2])
        if out_i:
            yield pd.DataFrame({"id_i": np.concatenate(out_i),
                                "id_j": np.concatenate(out_j),
                                "score": np.concatenate(out_s)})

    return (b.repartition(g1, g2).mapInPandas(kernel, schema)
            .dropDuplicates(["id_i", "id_j"]))


def cosine_neardup_pairs(df: DataFrame, threshold: float,
                         id_col: str = "vec_id", vec: str = "embedding",
                         n_planes: int = 16, dim: int = 64,
                         max_hamming: int = 3, seed: int = 42,
                         max_bucket: int = 20000) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: hyperplane signatures →
    pigeonhole chunk banding (any pair within ``max_hamming`` shares
    >=1 exact chunk — the simhash banding shape) → exact cosine
    refine >= threshold.

    Deterministic end-to-end (seeded planes), so the whole pipeline is
    SQL-replicable: the candidate rule IS part of the semantics; pairs
    whose signatures differ in every chunk are (by design) not
    reported — at dedup thresholds (cosine >= 0.9, angle <= 26°) the
    per-plane split probability is <= 0.15 and the miss rate of the
    4-chunk banding is pytest-gated on planted near-dups.

    100 TB shape: row-local signature map, ONE exchange on the
    (chunk, value) bucket key, bucket-local gram pairing with a
    ``max_bucket`` cap (see ``_bucket_gram_pairs``).
    """
    sigs = hyperplane_signatures(
        df.select(F.col(id_col).alias("_id"), F.col(vec)),
        "_id", vec, n_planes, dim, seed) \
        .select(F.col("_id").alias("id"), F.col(vec).alias("e"), "sig")
    n_chunks = max_hamming + 1
    width = n_planes // n_chunks
    chunks = F.posexplode(F.array(*[
        F.shiftrightunsigned(F.col("sig"), c * width)
         .bitwiseAND(F.lit((1 << width) - 1))
        for c in range(n_chunks)])).alias("chunk", "ckey")
    b = sigs.select("id", "e", chunks)
    # the bucket-size cap moves INTO the kernel (a bucket is wholly
    # co-located, so its size is known locally) — the previous
    # separate count-aggregate + semi-join pass is gone
    return _bucket_gram_pairs(b, threshold, max_bucket, "chunk", "ckey")


def band_signatures(df: DataFrame, id_col: str, vec: str,
                    bands: int, rows_per_band: int,
                    dim: int = 64, seed: int = 42) -> DataFrame:
    """(id, vec, keys): per-band hyperplane bucket keys — band b's key
    packs the sign bits of planes [b*R, (b+1)*R).  One numpy matmul
    per Arrow batch; row-local, no shuffle."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, bands * rows_per_band))
    out_schema = f"{id_col} bigint, {vec} array<float>, keys array<bigint>"

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w = (np.int64(1) << np.arange(rows_per_band, dtype=np.int64))
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.vstack(pdf[vec].to_numpy()).astype(np.float64)
            # strict left-fold over dim (NOT a BLAS matmul, whose
            # pairwise summation can flip the sign of a near-zero
            # projection vs the SQL oracle's sequential
            # list_dot_product; the refine already folds this way)
            proj = np.zeros((len(pdf), planes.shape[1]))
            for d in range(planes.shape[0]):
                proj += mat[:, d:d + 1] * planes[d]
            bits = proj > 0
            keys = bits.reshape(len(pdf), bands, rows_per_band) @ w
            out = pdf[[id_col, vec]].copy()
            out["keys"] = list(keys.astype(np.int64))
            yield out

    return df.select(id_col, vec).mapInPandas(kernel, out_schema)


def cosine_neardup_banded(df: DataFrame, threshold: float,
                          id_col: str = "vec_id", vec: str = "embedding",
                          bands: int = 16, rows_per_band: int = 10,
                          dim: int = 64, seed: int = 42,
                          max_bucket: int = 20000) -> DataFrame:
    """Embedding-cosine near-dup pairs via OR-of-bands LSH (the
    minhash-style B x R banding, here over hyperplane sign bits): a
    pair is a candidate iff some band's R-bit key matches exactly,
    then the exact cosine refine keeps pairs >= threshold.

    This is the LARGE-CORPUS path: with B=16, R=10 a random pair is a
    candidate with probability ~16/2^10 (~n^2/128 candidates overall)
    vs the pigeonhole variant's ~n^2/8, while a true near-dup at
    cosine >= 0.9 (per-plane split p <= 0.15) is missed with
    probability (1 - 0.85^10)^16 ~= 3% — recall pytest-gated on
    planted dups.  `cosine_neardup_pairs` (hamming-pigeonhole) stays
    the exact-for-hamming<=3 variant; this one trades a bounded miss
    rate for an 16x lower random-candidate rate.

    Deterministic end-to-end (seeded planes) => fully SQL-replicable
    including the banding and the ``max_bucket`` degenerate-bucket
    cap.  100 TB shape: row-local keys, per-(band, key) self-join with
    cap, vectorized refine on candidates only.
    """
    sigs = band_signatures(
        df.select(F.col(id_col).alias("_id"), F.col(vec)),
        "_id", vec, bands, rows_per_band, dim, seed) \
        .select(F.col("_id").alias("id"), F.col(vec).alias("e"), "keys")
    b = sigs.select(
        "id", "e", F.posexplode("keys").alias("band", "key"))
    # ONE exchange on the bucket key feeding the bucket-local gram
    # kernel (r6, see _bucket_gram_pairs): the previous count + join +
    # self-join shape re-shipped both embeddings per candidate pair
    return _bucket_gram_pairs(b, threshold, max_bucket, "band", "key")
