"""Similarity search over an embedding column (array<float>).

* ``cosine_topk_bruteforce`` — exact top-k per query: the query set is
  closed over as a matrix and the targets stream through one matmul
  per Arrow batch. Baseline and correctness oracle.
* ``cosine_topk_lsh`` — the scale path: sign-random-projection (SRP)
  buckets from deterministic hyperplanes; candidates share >= 1 band of
  the bit signature; exact cosine re-ranks candidates. At 10^9+ rows
  the bucket join replaces the cross-join's O(N*Q) with ~O(Q * bucket).
* ``cosine_topk_ivf`` — IVF-style: targets assigned to the nearest of
  C centroid rows (broadcast), probes scan only `nprobe` closest lists.

The candidate machinery (bands, small-side scorer, top-k window) is the
pair core shared with text dedup: ``pygeoops_spark/pairs.py``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pygeoops_spark.pairs import (
    band_table,
    batch_topk,
    cosine_block,
    small_side,
    topk_window,
    vec_matrix,
)


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _rerank(cand: DataFrame) -> DataFrame:
    """Exact cosine (rounded 1e-6) of (_queryv, _neighborv) candidates,
    in double precision on the JVM side."""
    sim = _dot(F.col("_queryv"), F.col("_neighborv")) / (
        _norm(F.col("_queryv")) * _norm(F.col("_neighborv"))
    )
    return cand.withColumn("cos_sim", F.round(sim, 6))


def _topk_schema(df: DataFrame, id_col: str) -> str:
    id_dtype = df.schema[id_col].dataType.simpleString()
    return f"query_id {id_dtype}, neighbor_id {id_dtype}, cos_sim double"


def _empty_topk(spark, schema: str) -> DataFrame:
    return spark.createDataFrame([], schema + ", ann_rank int")


def cosine_topk_bruteforce(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 10,
    q_id: str = "vec_id",
    t_id: str = "vec_id",
    q_vec: str = "embedding",
    t_vec: str = "embedding",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Exact cosine top-k; excludes self-matches (same id).

    Scale shape: the query set is collected once (it is the small side
    by definition) and closed over as a normalized numpy matrix; the
    big target table streams through mapInPandas where one
    (batch x dim) @ (dim x nq) matmul scores every pair — no
    crossJoin row explosion, no shuffle of the targets. Each batch
    emits only its local top-k per query; a window reduces to the
    global top-k (guaranteed exact because global top-k is a subset of
    per-batch top-k unions).

    Output: query_id, neighbor_id, cos_sim (rounded 1e-6), ann_rank.
    """
    small = small_side(
        queries, q_id, q_vec, max_query_rows,
        f"cosine_topk_bruteforce collects the query set driver-side; "
        f"got > {max_query_rows} query rows. Raise max_query_rows "
        f"explicitly if intended, or use cosine_topk_lsh/ivf.",
    )
    schema = _topk_schema(targets, t_id)
    if small is None:
        return _empty_topk(queries.sparkSession, schema)
    q_ids, qmat, qnorm = small

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sims = cosine_block(pdf[t_vec], qmat, qnorm)
            yield pd.DataFrame(batch_topk(sims, pdf[t_id].to_numpy(), q_ids, k))

    cand = targets.select(t_id, t_vec).mapInPandas(score, schema)
    return topk_window(cand, k).withColumn("cos_sim", F.round("cos_sim", 6))


def cosine_dup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: every (id_a < id_b) with
    cosine similarity >= threshold. Exact: the (small, guarded) vector
    set is closed over as a normalized matrix and the big side streams
    through mapInPandas — one (batch x dim) @ (dim x n) matmul per
    Arrow batch, no crossJoin row explosion. For corpora past the
    guard, generate candidates with cosine_topk_lsh's SRP bands and
    verify exactly; this exact form is the oracle-able small-data path
    and the verifier.

    Output: id_a, id_b, cos_sim (rounded 1e-6; threshold applied
    unrounded)."""
    small = small_side(
        df, id_col, vec_col, max_rows,
        f"cosine_dup_pairs closes over the full vector set; got > "
        f"{max_rows} rows. Use the LSH-candidate path at scale.",
    )
    id_dtype = df.schema[id_col].dataType.simpleString()
    schema = f"id_a {id_dtype}, id_b {id_dtype}, cos_sim double"
    if small is None:
        return df.sparkSession.createDataFrame([], schema)
    q_ids, qmat, qnorm = small

    def pairs(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            sims = cosine_block(pdf[vec_col], qmat, qnorm)
            t_ids = pdf[id_col].to_numpy()
            # id_a < id_b avoids self pairs and emits each pair once
            ti, qi = np.nonzero((sims >= threshold) & (t_ids[:, None] < q_ids[None, :]))
            yield pd.DataFrame(
                {
                    "id_a": t_ids[ti],
                    "id_b": q_ids[qi],
                    "cos_sim": sims[ti, qi],
                }
            )

    out = df.select(id_col, vec_col).mapInPandas(pairs, schema)
    return out.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


def _srp_planes(dim: int, n_bits: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_bits, dim))


def _srp_sig(vec_col: str, planes: np.ndarray) -> F.Column:
    """Bit signature: sign of projection onto each hyperplane.

    One Arrow-batched pandas UDF doing a single (batch x dim) @ (dim x
    bits) matmul — ~100x faster than per-plane SQL aggregates (which
    build a deep codegen tree evaluated per row per plane)."""
    planes_t = planes.T.astype(np.float64)
    weights = (1 << np.arange(planes.shape[0], dtype=np.int64))

    @F.pandas_udf("long")
    def _sig(vecs: pd.Series) -> pd.Series:
        import pandas as pdl

        if len(vecs) == 0:
            return pdl.Series([], dtype="int64")
        bits = (vec_matrix(vecs)[0] @ planes_t) > 0
        return pdl.Series((bits @ weights).astype(np.int64))

    return _sig(F.col(vec_col))


def cosine_topk_lsh(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 10,
    n_bits: int = 16,
    bands: int = 4,
    dim: int = 64,
    q_id: str = "vec_id",
    t_id: str = "vec_id",
    q_vec: str = "embedding",
    t_vec: str = "embedding",
) -> DataFrame:
    """SRP-LSH approximate top-k: candidates share at least one band of
    the `n_bits`-bit signature; exact cosine re-ranks. Recall improves
    with bands; candidates per query ~ N * bands / 2^(n_bits/bands).
    ValueError when bands > n_bits or n_bits > 64 (see band_table)."""
    planes = _srp_planes(dim, n_bits)

    def banded(df: DataFrame, idc: str, vecc: str, role: str) -> DataFrame:
        sig = _srp_sig(vecc, planes).alias("_sig")
        d = df.select(F.col(idc).alias(f"{role}_id"), F.col(vecc).alias(f"_{role}v"), sig)
        return band_table(d, [f"{role}_id", f"_{role}v"], "_sig", n_bits, bands)

    qb = banded(queries, q_id, q_vec, "query")
    tb = banded(targets, t_id, t_vec, "neighbor")
    cand = (
        qb.join(tb, ["b", "v"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "_queryv", "neighbor_id", "_neighborv")
        .distinct()
    )
    return topk_window(_rerank(cand), k)


def _train_centroids(
    targets: DataFrame,
    t_id: str,
    t_vec: str,
    n_cells: int,
    sample_rows: int = 4096,
    iters: int = 8,
) -> np.ndarray:
    """Deterministic IVF quantizer: take a pseudo-random hash-sample of
    the targets (the sample_rows rows with the smallest (xxhash64(id),
    id) — reproducible, representative), run spherical-k-means Lloyd
    iterations driver-side on the normalized sample. Bounded driver
    memory (sample_rows x dim); the classic train-quantizer-on-a-sample
    pattern.

    The sample is fetched WITHOUT a global TakeOrdered (VERDICT r02
    #8): one count() sizes a hash-threshold filter that keeps an
    expected 4x sample_rows rows (pure scan + filter, no per-partition
    heaps at 10^12 rows); the driver then takes the smallest
    sample_rows locally — identical rows to the old orderBy().limit()
    because the threshold retains the global minimum set with
    overwhelming probability (an exact orderBy fallback guards the
    undershoot case)."""
    s = targets.select(
        F.col(t_id).alias("_id"),
        F.col(t_vec).alias("_v"),
        F.xxhash64(F.col(t_id)).alias("_h"),
    )
    cnt = targets.count()
    if cnt > 4 * sample_rows:
        # keep rows whose hash falls in the lowest 4*sample_rows/cnt
        # fraction of the int64 range
        frac = 4.0 * sample_rows / cnt
        thresh = int(-(2**63) + frac * 2.0**64)
        cand = s.where(F.col("_h") < F.lit(thresh)).toPandas()
        if len(cand) < sample_rows:  # astronomically unlikely undershoot
            cand = s.orderBy("_h", "_id").limit(sample_rows).toPandas()
    else:
        cand = s.toPandas()
    pdf = cand.sort_values(["_h", "_id"]).head(sample_rows)
    if len(pdf) == 0:
        return np.zeros((0, 0))
    X, nrm = vec_matrix(pdf["_v"])
    X = X / nrm[:, None]
    C = X[: min(n_cells, len(X))].copy()
    for _ in range(iters):
        a = np.argmax(X @ C.T, axis=1)
        for c in range(len(C)):
            members = X[a == c]
            if len(members):
                v = members.mean(axis=0)
                nv = np.linalg.norm(v)
                if nv > 0:
                    C[c] = v / nv
    return C


def _cells_udf(C: np.ndarray, n_lists: int):
    """pandas UDF: nprobe nearest centroid indices per vector (one
    (batch x dim) @ (dim x cells) matmul; ties broken by cell index)."""
    Ct = np.ascontiguousarray(C.T)

    @F.pandas_udf("array<int>")
    def _cells(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat, nrm = vec_matrix(vecs)
        sims = (mat / nrm[:, None]) @ Ct
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_lists].astype(np.int32)
        return pd.Series([list(r) for r in order])

    return _cells


def cosine_topk_ivf(
    queries: DataFrame,
    targets: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    t_assign: int = 2,
    train_iters: int = 8,
    q_id: str = "vec_id",
    t_id: str = "vec_id",
    q_vec: str = "embedding",
    t_vec: str = "embedding",
) -> DataFrame:
    """IVF-flat: coarse quantize targets to the t_assign nearest of
    n_cells k-means centroids (trained driver-side on a deterministic
    hash sample), probes search the nprobe nearest lists. Exact cosine
    within visited lists.

    t_assign > 1 (multi-assignment) is the recall lever: boundary
    targets appear in their runner-up lists too, which lifts the
    per-query recall floor substantially (measured at sf0.01, k=5,
    n_cells=16, nprobe=4: min hits 1 -> 2 at t_assign=2, -> 3 at
    t_assign=3; mean 2.9 -> 3.9 / 4.5) at the cost of a t_assign-x
    larger inverted index — the standard IVF trade.  Duplicate
    (query, neighbor) candidates from overlapping lists are removed
    inside the top-k window (lag over the same window spec — no extra
    exchange: identically-sorted duplicates are adjacent)."""
    C = _train_centroids(targets, t_id, t_vec, n_cells, iters=train_iters)
    if len(C) == 0:
        # empty target table: no lists, no neighbors
        return _empty_topk(targets.sparkSession, _topk_schema(targets, t_id))
    t_cells = _cells_udf(C, min(t_assign, len(C)))
    q_cells = _cells_udf(C, nprobe)

    t_assigned = targets.select(
        F.col(t_id).alias("neighbor_id"), F.col(t_vec).alias("_neighborv")
    ).withColumn("cell", F.explode(t_cells(F.col("_neighborv"))))
    q_assigned = queries.select(
        F.col(q_id).alias("query_id"), F.col(q_vec).alias("_queryv")
    ).withColumn("cell", F.explode(q_cells(F.col("_queryv"))))

    cand = (
        q_assigned.join(t_assigned, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "_queryv", "neighbor_id", "_neighborv")
    )
    return topk_window(_rerank(cand), k, repeats=True)


# -- persisted IVF index (build once, query many) --------------------------
def ivf_build_index(
    targets: DataFrame,
    path: str,
    n_cells: int = 64,
    t_assign: int = 2,
    train_iters: int = 8,
    t_id: str = "vec_id",
    t_vec: str = "embedding",
) -> dict:
    """Build a PERSISTED IVF index: train the quantizer (deterministic
    hash-sample spherical k-means), assign each target to its t_assign
    nearest cells, and write the inverted lists as parquet PARTITIONED
    BY cell, with the centroids in a sidecar text file (`path`_meta).

    Why this exists (measured, BENCH/ann_scale_r06.json): the per-call
    cosine_topk_ivf pays quantizer training + a full index shuffle on
    EVERY invocation, which loses to the zero-shuffle brute-force
    matmul at any corpus size that fits a scan (52 s vs 3.0 s at 1M
    vectors). Amortized across query batches, the index pays once;
    ivf_query_index then reads ONLY the probed cell partitions
    (partition pruning) and scores scan-side with the same
    emit-top-k-per-batch shape as brute force — nprobe/n_cells of the
    FLOPs, identical (tiny) shuffle volume.
    """
    import json as _json

    C = _train_centroids(targets, t_id, t_vec, n_cells, iters=train_iters)
    spark = targets.sparkSession
    meta = {
        "n_cells": int(len(C)),
        "t_assign": int(min(t_assign, max(1, len(C)))),
        "dim": int(C.shape[1]) if len(C) else 0,
        "centroids": [[float(x) for x in row] for row in C],
    }
    if len(C):
        t_cells = _cells_udf(C, meta["t_assign"])
        assigned = targets.select(
            F.col(t_id).alias("vec_id"), F.col(t_vec).alias("embedding")
        ).withColumn("cell", F.explode(t_cells(F.col("embedding"))))
        # cluster by cell before the partitioned write: without this,
        # every write task emits a file into every cell directory
        # (tasks x cells tiny files — measured file-open-bound query
        # scans at 256 cells); one exchange at build time buys
        # one-file-per-cell reads forever after
        assigned.repartition(len(C), "cell").write.mode("overwrite").partitionBy(
            "cell"
        ).parquet(path)
    # sidecar via Spark's own FS layer (works on any supported scheme)
    spark.createDataFrame([(_json.dumps(meta),)], "value string").coalesce(
        1
    ).write.mode("overwrite").text(path + "_meta")
    return meta


def ivf_query_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    q_id: str = "vec_id",
    q_vec: str = "embedding",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Query a persisted IVF index (see ivf_build_index).

    The query batch is collected driver-side (small side by contract,
    same guard as cosine_topk_bruteforce); probe cells are computed on
    the driver against the sidecar centroids, the index scan is
    filtered to the union of probed cells (partition pruning — at
    production cell counts a small query batch touches a small
    fraction of partitions), and scoring runs scan-side in mapInPandas:
    each index row is scored ONLY against the queries probing its
    cell, each batch emits its local top-k per query. Multi-assigned
    targets can surface the same (query, neighbor) pair from two
    cells; the top-k window dedups adjacent identical pairs (same lag
    trick as cosine_topk_ivf). Output schema matches the other topk
    operators."""
    import json as _json

    meta = _json.loads(spark.read.text(path + "_meta").first()["value"])
    C = np.asarray(meta["centroids"], dtype=np.float64)
    small = small_side(
        queries, q_id, q_vec, max_query_rows,
        "ivf_query_index collects the query set driver-side; got > "
        f"{max_query_rows} rows. Raise max_query_rows if intended.",
    )
    schema = _topk_schema(queries, q_id)
    if small is None or len(C) == 0:
        return _empty_topk(spark, schema)
    q_ids, qmat, qnorm = small
    # driver-side probe assignment — the same ordering as _cells_udf
    sims_c = (qmat / qnorm[:, None]) @ C.T
    nprobe = min(nprobe, len(C))
    probe = np.argsort(-sims_c, axis=1, kind="stable")[:, :nprobe]
    cells_needed = sorted({int(c) for c in probe.ravel()})
    cell_to_q = {
        c: np.nonzero((probe == c).any(axis=1))[0] for c in cells_needed
    }

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = {"query_id": [], "neighbor_id": [], "cos_sim": []}
            for cell, grp in pdf.groupby("cell"):
                qi = cell_to_q.get(int(cell))
                if qi is None or len(qi) == 0:
                    continue
                sims = cosine_block(grp["embedding"], qmat[qi], qnorm[qi])
                batch_topk(sims, grp["vec_id"].to_numpy(), q_ids[qi], k, rows)
            yield pd.DataFrame(rows)

    scan = spark.read.parquet(path).where(
        F.col("cell").isin([int(c) for c in cells_needed])
    )
    cand = scan.mapInPandas(score, schema)
    return topk_window(cand.withColumn("cos_sim", F.round("cos_sim", 6)), k, repeats=True)
