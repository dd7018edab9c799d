"""The similarity-pair core shared by text dedup (``text/dedup.py``) and
embedding search (``ann/cosine.py``).

Every pair or top-k operator is one of two pipelines, written here once:

* **candidate join, then verify** — ``band_table`` buckets signatures
  into LSH bands (MinHash rows, SimHash chunks, SRP bits) for a
  self/bucket equi-join; ``jaccard_verify`` scores text candidates
  exactly over the cached shingle-hash arrays and checkpoints the
  result.
* **small side closed over, big side streamed** — ``small_side``
  collects the guarded small vector set driver-side; ``cosine_block``
  scores one Arrow batch of the big side against it with one matmul;
  ``batch_topk`` keeps each query's batch-local top-k; ``topk_window``
  reduces those to the global top-k.
"""

from __future__ import annotations

from typing import Callable

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pygeoops_spark.session import checkpoint_and_release


def band_table(
    df: DataFrame,
    keep: list,
    sig: str | Callable[[int, int], Column],
    n: int,
    bands: int,
) -> DataFrame:
    """LSH band table: one row per (input row, band) holding the ``keep``
    columns, the band index ``b`` and the band value ``v`` — ONE
    explode(array(struct(b, v))), no per-band union.

    Band b covers signature positions [b*w, (b+1)*w) with w = n // bands
    (a remainder is unused). ``sig`` is the name of a long column whose
    low n bits are the signature (SimHash, SRP), or a function (lo, w)
    -> Column over an n-row signature (MinHash: hash of rows lo..lo+w-1,
    projected ahead of the explode).

    Raises ValueError when a band would hold no bit or row, and for a
    bit signature past 64 bits (Spark's shiftright(x, 64) returns x, so
    high bands would alias low ones)."""
    bits = isinstance(sig, str)
    w = n // bands if bands > 0 else 0
    if w < 1 or (bits and n > 64):
        raise ValueError(
            f"{bands} bands over {n} signature {'bits' if bits else 'rows'}: "
            f"every band needs at least one{' and bits stop at 64' if bits else ''}"
        )
    if bits:
        values = [
            F.shiftright(F.col(sig), b * w).bitwiseAND(F.lit((1 << w) - 1))
            for b in range(bands)
        ]
    else:
        df = df.select(*keep, *[sig(b * w, w).alias(f"band_{b}") for b in range(bands)])
        values = [F.col(f"band_{b}") for b in range(bands)]
    return df.select(
        *keep,
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("b"), v.alias("v")) for b, v in enumerate(values)])
        ).alias("band"),
    ).select(*keep, "band.b", "band.v")


def jaccard_verify(
    cands: DataFrame, arr: DataFrame, id_col: str, threshold: float, caches: list
) -> DataFrame:
    """Exact Jaccard of candidate pairs against the (id, ``_aset``)
    shingle-hash arrays, eagerly checkpointed (releasing ``caches``).

    One row per candidate pair — array_intersect of the two sorted hash
    arrays — instead of exploding each pair by |A|. ``cands`` holds
    (id_a, id_b) and, when the candidate stage already knows them, the
    set sizes (na, nb); otherwise the array joins size them. Output:
    id_a, id_b, jaccard (rounded 1e-6; the threshold applies to the
    unrounded value, matching the SQL oracle)."""
    sized = "na" in cands.columns
    arrs = arr.select(F.col(id_col).alias("_aid"), "_aset")

    def side(s: str) -> DataFrame:
        size = [] if sized else [F.size("_aset").alias("n" + s)]
        return arrs.select(F.col("_aid").alias("id_" + s), F.col("_aset").alias("_s" + s), *size)

    common = (
        cands.join(side("a"), "id_a")
        .join(side("b"), "id_b")
        .withColumn("common", F.size(F.array_intersect("_sa", "_sb")))
    )
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return checkpoint_and_release(
        common.where(jac >= threshold)
        .withColumn("jaccard", F.round(jac, 6))
        .select("id_a", "id_b", "jaccard"),
        caches,
    )


def vec_matrix(vecs) -> tuple[np.ndarray, np.ndarray]:
    """float64 matrix of a batch of vectors and its row norms, zero
    norms replaced by 1 (a zero vector scores 0, not NaN)."""
    mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
    nrm = np.linalg.norm(mat, axis=1)
    nrm[nrm == 0] = 1.0
    return mat, nrm


def small_side(
    df: DataFrame, id_col: str, vec_col: str, max_rows: int, error: str
) -> tuple | None:
    """Collect the small vector set driver-side BY DESIGN, guarded: more
    than ``max_rows`` rows raise ValueError(``error``) instead of OOMing
    the driver (VERDICT r01). Returns (ids, matrix, norms) as in
    ``vec_matrix``, or None for an empty set (the caller returns its
    empty result)."""
    pdf = (
        df.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
        .limit(max_rows + 1)
        .toPandas()
    )
    if len(pdf) > max_rows:
        raise ValueError(error)
    if len(pdf) == 0:
        return None
    return (pdf["qid"].to_numpy(), *vec_matrix(pdf["qv"]))


def cosine_block(vecs, qmat: np.ndarray, qnorm: np.ndarray) -> np.ndarray:
    """Cosine of each vector of one batch (rows) against the small side
    (columns): one (batch x dim) @ (dim x n) matmul."""
    tmat, tnorm = vec_matrix(vecs)
    return (tmat @ qmat.T) / tnorm[:, None] / qnorm[None, :]


def batch_topk(
    sims: np.ndarray, t_ids: np.ndarray, q_ids, k: int, rows: dict | None = None
) -> dict:
    """Append each query's (column's) k best non-self targets of one
    batch to ``rows`` (a new dict when None) and return it. Order is
    (-sim, id), the global tie-break, so batch-local pruning keeps every
    row of the global top-k."""
    if rows is None:
        rows = {"query_id": [], "neighbor_id": [], "cos_sim": []}
    for j, qid in enumerate(q_ids):
        col = sims[:, j]
        idx = np.nonzero(t_ids != qid)[0]
        if len(idx) == 0:
            continue
        order = idx[np.lexsort((t_ids[idx], -col[idx]))][:k]
        rows["query_id"].extend([qid] * len(order))
        rows["neighbor_id"].extend(t_ids[order])
        rows["cos_sim"].extend(col[order])
    return rows


def topk_window(cand: DataFrame, k: int, repeats: bool = False) -> DataFrame:
    """Global top-k per query of (query_id, neighbor_id, cos_sim)
    candidates, ranked by (cos_sim desc, neighbor_id): adds ann_rank.

    ``repeats``: the candidates may hold a (query, neighbor) pair more
    than once (multi-assigned IVF targets reached through two lists).
    The copies carry the same cos_sim and neighbor id, so they sort
    adjacently; a lag over the same window keeps the first of each run
    — no extra exchange. Unique candidates skip the lag: it would block
    the partial WindowGroupLimit Spark plans below the shuffle, which
    cuts each partition to k rows per query before it moves."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    if repeats:
        cand = cand.withColumn("_prev_nn", F.lag("neighbor_id").over(w)).where(
            F.col("_prev_nn").isNull() | (F.col("_prev_nn") != F.col("neighbor_id"))
        )
    return (
        cand.withColumn("ann_rank", F.row_number().over(w))
        .where(F.col("ann_rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "ann_rank")
    )
