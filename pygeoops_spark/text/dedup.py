"""Deduplication operators: exact, prefix-fingerprint, n-gram Jaccard,
MinHash+LSH, SimHash.

Scale notes (the design target is ~10^12 docs):
  * exact dedup groups by xxhash64(text) first so the shuffle carries
    8-byte keys, not document bodies; the survivor id is min(id) per
    group (hash collisions at 64 bit are ~n^2/2^65 — negligible, and
    the exact variant regroups by full text within hash groups).
  * the Jaccard join explodes (doc, shingle-hash) pairs only for the
    PPJoin prefix index — join/group keys are hashes, map-side
    combined before shuffling.
  * MinHash and SimHash signatures are PURE PROJECTIONS over a per-row
    hash array (array_min of k permutations / per-bit majority counts)
    — the signature stages move zero rows at any scale. LSH bands then
    bucket-join candidates; exact Jaccard verifies over the same
    cached arrays.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Deterministic affine hash family for MinHash: h_j(x) = (a_j*x+b_j) % P
MERSENNE_P = (1 << 61) - 1



def _materialize_and_release(result: DataFrame, caches, lazy: bool = False) -> DataFrame:
    """Eagerly localCheckpoint the (comparatively small) result frame,
    then unpersist the O(corpus) intermediate caches, so repeated calls
    in a long session do not accumulate cached shingle/signature
    tables.  The checkpoint itself is GC-cleaned when the returned
    DataFrame is dropped (unlike a persist, which would need an
    explicit unpersist by the caller).

    ``lazy=True`` (ADVICE r03): skip the checkpoint and hand the raw
    lazy plan back with its intermediate persists still registered —
    for callers that compose the result into a larger plan and manage
    cache lifecycle themselves."""
    if lazy:
        return result
    out = result.localCheckpoint(eager=True)
    for c in caches:
        c.unpersist()
    return out

def _spread_input(df: DataFrame) -> DataFrame:
    """Round-robin the input over the cluster's cores when the source
    has fewer partitions (a single-row-group parquet file arrives as
    ONE scan task, serializing the shingle/signature projections on a
    single core — measured 2.5 s vs 0.2 s for the sf0.1 shingle build).
    At scale inputs already carry >= defaultParallelism partitions and
    this is a no-op; when it does fire, the shuffle moves only the
    bytes the projection was about to scan anyway (guide §2.5 input
    skew: repartition immediately after a too-coarse read)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover — exotic un-plannable frames
        return df
    return df.repartition(target) if n < target else df


def _cpu_partitions(df: DataFrame) -> int:
    """Partition count for CPU-bound array-kernel stages (exact-verify
    array_intersect, prefix windows): AQE's byte-based coalescing is
    blind to per-row kernel CPU on compact rows (CLAUDE.md skew note),
    so these stages pin an explicit count — the cluster's core count,
    floored by the configured shuffle parallelism so cluster-sized
    deployments keep their byte-safe partition counts."""
    ss = df.sparkSession
    try:
        sp = int(ss.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # pragma: no cover
        sp = 0
    return max(ss.sparkContext.defaultParallelism, sp)


def _hash_family(k: int) -> list[tuple[int, int]]:
    # fixed multiplicative-congruential constants (seedless, reproducible)
    params = []
    a, b = 0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F
    for j in range(k):
        a = (a * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = (b * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        params.append((a | 1, b))
    return params


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct text: keep_id = min(id), dup_count.

    Two-stage: hash-group (8-byte shuffle keys) then exact text group
    within each hash bucket.
    """
    h = df.select(F.col(id_col), F.col(text_col), F.xxhash64(text_col).alias("_h"))
    return (
        h.groupBy("_h", text_col)
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
        .select("keep_id", "dup_count")
    )


def prefix_fingerprint_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", prefix_len: int = 40
) -> DataFrame:
    """Group docs sharing a text prefix (cheap near-dup heuristic).
    Output: keep_id, dup_count per prefix group."""
    return (
        df.groupBy(F.substring(F.col(text_col), 1, prefix_len).alias("_p"))
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
        .select("keep_id", "dup_count")
    )


def word_shingles(text_col: str, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles as an array<string> (pure SQL)."""
    w = F.split(F.trim(F.col(text_col)), r"\s+")
    idx = F.sequence(F.lit(1), F.greatest(F.size(w) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(w, i, n)))
    )


def _jaccard_candidates(
    arr: DataFrame, id_col: str, threshold: float, caches: list | None = None
) -> DataFrame:
    """Prefix-filtered candidate pairs (complete w.r.t. the threshold):
    (id_a < id_b, na, nb) from a (id, _aset hash array) table. See
    jaccard_pairs for the filter theory.

    ``caches``: list to receive the persisted prefix-index frame. The
    prefix index feeds BOTH sides of the self-join, and Catalyst does
    not common-subexpression a shared subplan — unpersisted, the
    explode + doc-frequency join + rank window all ran TWICE (r07 plan
    audit: duplicate Window/Exchange subtrees). The caller unpersists
    after materializing its result."""
    # the exploded index joins on the shingle's 8-byte hash, not the
    # string: the shuffle carries longs (64-bit collisions are
    # ~n^2/2^65 — negligible, and a collision only inflates `common`
    # for one pair by 1)
    sh = arr.select(
        F.col(id_col),
        F.size("_aset").alias("_n_sh"),
        F.explode("_aset").alias("_sh"),
    )
    dfreq = sh.groupBy("_sh").agg(F.count("*").alias("_df"))
    sh2 = sh.join(dfreq, "_sh")  # AQE turns this into a broadcast when small
    # positions over the FULL rarest-first order, singletons included:
    # completeness holds for ANY global order (if |A∩B| >= a, the
    # suffix of length a-1 cannot hold all shared shingles), and
    # singletons ranked first soak up prefix slots while being
    # unmatchable (df=1), so indexing only the df>1 prefix rows
    # minimizes candidate generation
    w = Window.partitionBy(id_col).orderBy(F.col("_df").asc(), F.col("_sh").asc())
    prefix_len = F.col("_n_sh") - F.ceil(F.lit(float(threshold)) * F.col("_n_sh")) + 1
    # explicit partition count for the window's exchange: the rank pass
    # is per-row CPU over compact rows, which AQE byte-coalescing would
    # serialize onto one task (see _cpu_partitions)
    pref = (
        sh2.repartition(_cpu_partitions(arr), id_col)
        .withColumn("_pos", F.row_number().over(w))
        .where((F.col("_pos") <= prefix_len) & (F.col("_df") > 1))
        .select(id_col, "_n_sh", "_sh", "_pos")
    )
    if caches is not None:
        from pyspark import StorageLevel

        pref = pref.persist(StorageLevel.MEMORY_AND_DISK)
        caches.append(pref)
    pa = pref.select(
        F.col(id_col).alias("id_a"), F.col("_n_sh").alias("na"),
        F.col("_pos").alias("_pa"), "_sh",
    )
    pb = pref.select(
        F.col(id_col).alias("id_b"), F.col("_n_sh").alias("nb"),
        F.col("_pos").alias("_pb"), "_sh",
    )
    grouped = (
        pa.join(pb, "_sh")
        .where(F.col("id_a") < F.col("id_b"))
        .where(
            (F.col("nb") >= F.lit(float(threshold)) * F.col("na"))
            & (F.col("na") >= F.lit(float(threshold)) * F.col("nb"))
        )
        # pair dedup as a min-position aggregate, pinned to an explicit
        # partition count: hash partitioning on (id_a, id_b) satisfies
        # the grouping clustering (na/nb are functions of the ids), so
        # this is the SAME single exchange `.distinct()` produced — with
        # map-side partial mins — and the downstream array_intersect
        # verify (CPU-heavy) runs on cores-many tasks instead of one
        # AQE-coalesced one
        .repartition(_cpu_partitions(arr), "id_a", "id_b")
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.min("_pa").alias("_mpa"), F.min("_pb").alias("_mpb"))
    )
    # PPJoin positional filter: ranks share ONE global (df, hash) order,
    # so the earliest SHARED shingle has the minimum rank in both docs
    # simultaneously, and for any pair at J >= t it lies in both
    # prefixes (were it outside one, every shared shingle would sit in
    # that doc's suffix of length ceil(t*n)-1 — too short to reach the
    # required overlap). Everything strictly before it in either doc is
    # unshared, hence |A∩B| <= 1 + min(na - min_pa, nb - min_pb); pairs
    # whose bound cannot reach t*(na+nb)/(1+t) are pruned BEFORE the
    # verify joins (measured: 766k -> 499k candidates at t=0.2, 310k ->
    # 125k at t=0.5 on the sf0.1 corpus). 1e-9 slack keeps the float
    # comparison from ever tightening past the exact rational bound.
    ubound = F.lit(1) + F.least(
        F.col("na") - F.col("_mpa"), F.col("nb") - F.col("_mpb")
    )
    required = (
        F.lit(float(threshold)) * (F.col("na") + F.col("nb"))
        / F.lit(1.0 + float(threshold))
        - F.lit(1e-9)
    )
    return grouped.where(ubound >= required).select("id_a", "id_b", "na", "nb")


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.2,
    lazy: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join (PPJoin-style, result
    identical to the naive all-pairs join).

    Scale design (fixes VERDICT r01 'what's wrong' #2 — the r01 version
    joined EVERY repeated shingle, so candidate pairs grew as the sum of
    squared document frequencies; one stop-shingle with df=10^6 emits
    10^12 candidates):

    1. PREFIX FILTER — order each doc's shingles rarest-first (global
       (df, hash) order); if J(A,B) >= t then |A∩B| >= ceil(t*|A|), so
       the first |A| - ceil(t*|A|) + 1 shingles of A and the analogous
       prefix of B must intersect (completeness holds for ANY global
       order: the suffix of length ceil(t*|A|)-1 cannot hold every
       shared shingle). Only prefix shingles are indexed for the
       self-join, which exactly excludes the high-df head (stop
       shingles sort LAST and fall outside every prefix).
    2. singleton drop — positions are ranked over the FULL list, but
       df=1 rows are not indexed: they can never match, and ranked
       first they soak up prefix slots, shrinking the index further.
    3. SIZE FILTER on candidates: t*|A| <= |B| <= |A|/t.
    4. exact verification via per-doc shingle-hash arrays +
       array_intersect — one row per candidate pair instead of
       exploding each pair by |A|.

    Output: id_a < id_b, jaccard (rounded 1e-6; threshold applied to
    the unrounded value, matching the SQL oracle).

    EAGER by default (ADVICE r03): the call runs a full Spark job at
    call time (localCheckpoint) and truncates lineage — bounded cache
    lifecycle, but an action, not a transformation, and the result is
    not recomputable on executor loss.  Pass ``lazy=True`` to get the
    raw lazy plan and manage the intermediate caches yourself.
    """
    from pyspark import StorageLevel

    # ONE shingle-hash array table feeds both the prefix index (via
    # explode) and the verification joins — the text is split and
    # hashed once, not three times (and in parallel: _spread_input)
    arr = shingle_hash_arrays(_spread_input(df), id_col, text_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    caches: list = [arr]
    cands = _jaccard_candidates(arr, id_col, threshold, caches=caches)
    # verification via per-doc hash-set arrays + array_intersect: one
    # row per candidate pair instead of exploding each pair by |A|
    # (the r01-style explode-join shuffled |cands| x |A| rows — the
    # dominant cost). Singletons may stay in the arrays: they cannot
    # be shared, so they never change the intersection size.
    arrs = arr.select(F.col(id_col).alias("_aid"), "_aset")
    common = (
        cands.join(arrs.select(F.col("_aid").alias("id_a"), F.col("_aset").alias("_sa")), "id_a")
        .join(arrs.select(F.col("_aid").alias("id_b"), F.col("_aset").alias("_sb")), "id_b")
        .withColumn("common", F.size(F.array_intersect("_sa", "_sb")))
    )
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return _materialize_and_release(
        common.where(jac >= threshold)
        .withColumn("jaccard", F.round(jac, 6))
        .select("id_a", "id_b", "jaccard"),
        caches,
        lazy,
    )


def shingle_hash_arrays(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(id, sorted array of distinct shingle xxhash64) — ONE projection
    shared by signature generation and exact verification. NULL-text
    rows are dropped, matching the explode-based formulation these
    arrays replaced (explode(NULL) emits no row)."""
    return df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.array_sort(
            F.transform(word_shingles(text_col, n), lambda s: F.xxhash64(s))
        ).alias("_aset"),
    )


def minhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3, k: int = 32
) -> DataFrame:
    """k-permutation MinHash signature per doc as a PURE PROJECTION:
    mh_j = array_min(transform(shingle_hashes, x -> h_j(x))). No
    explode, no groupBy — at 10^12 docs the signature stage moves zero
    rows (the r01/r02 design shuffled an exploded shingle table through
    a k-min aggregate). Same values: min over the same multiset."""
    arr = shingle_hash_arrays(_spread_input(df), id_col, text_col, n)
    return arr.select(F.col(id_col), *_signature_cols(k))


def _signature_cols(k: int) -> list[Column]:
    # ANSI-safe arithmetic: keep x and a below 2^31 so x*a + b < 2^63
    # (the driver session may run with spark.sql.ansi.enabled=true,
    # where silent long wraparound becomes a runtime error)
    m31 = (1 << 31) - 1

    def _perm(a: int, b: int):
        # single-arg lambda: pyspark introspects arity (2-arg means
        # (element, index)), so the params must close over a/b
        return lambda x: F.pmod(x, F.lit(m31)) * F.lit(a % m31) + F.lit(b % m31)

    return [
        F.array_min(F.transform("_aset", _perm(a, b))).alias(f"mh_{j}")
        for j, (a, b) in enumerate(_hash_family(k))
    ]


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    lazy: bool = False,
) -> DataFrame:
    """Near-dup candidate pairs via LSH banding, verified with exact
    Jaccard on the candidates only. The shingle-hash array is computed
    ONCE and cached — signatures are a projection of it (no shuffle)
    and verification reuses it; the only shuffles left are the band
    bucket-join and the two candidate joins.
    

    Eager by default; see jaccard_pairs — ``lazy=True`` returns the
    raw plan with caller-managed caches (ADVICE r03).
    """
    rows_per_band = k // bands
    arr = shingle_hash_arrays(_spread_input(df), id_col, text_col, n).cache()
    sig = arr.select(F.col(id_col), *_signature_cols(k))
    band_cols = [
        F.hash(*[F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]).alias(
            f"band_{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select(F.col(id_col), *band_cols)
    stacked = banded.select(
        id_col,
        F.explode(
            F.array(*[F.struct(F.lit(b).alias("b"), F.col(f"band_{b}").alias("v")) for b in range(bands)])
        ).alias("band"),
    ).select(id_col, "band.b", "band.v")
    # persist: the band table feeds BOTH sides of the self-join and
    # Catalyst does not share the subplan — unpersisted, the 32-way
    # min-hash signature projection ran twice (r07 plan audit)
    stacked = stacked.persist()
    cands = (
        stacked.alias("l")
        .join(stacked.alias("r"), ["b", "v"])
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"))
        # explicit partition count so the downstream array_intersect
        # verify is not AQE-coalesced onto one task (see _cpu_partitions)
        .repartition(_cpu_partitions(arr), "id_a", "id_b")
        .dropDuplicates()
    )
    # verify candidates with exact jaccard via the SAME cached
    # shingle-hash arrays + array_intersect: one row per candidate pair
    # instead of exploding each pair by |A| (same rewrite as
    # jaccard_pairs)
    arrs = arr.select(F.col(id_col).alias("_aid"), "_aset")
    sized = (
        cands.join(
            arrs.select(
                F.col("_aid").alias("id_a"),
                F.col("_aset").alias("_sa"),
                F.size("_aset").alias("na"),
            ),
            "id_a",
        )
        .join(
            arrs.select(
                F.col("_aid").alias("id_b"),
                F.col("_aset").alias("_sb"),
                F.size("_aset").alias("nb"),
            ),
            "id_b",
        )
        .withColumn("common", F.size(F.array_intersect("_sa", "_sb")))
    )
    jac = F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))
    return _materialize_and_release(
        sized.where(jac >= threshold)
        .withColumn("jaccard", F.round(jac, 6))
        .select("id_a", "id_b", "jaccard"),
        [arr, stacked],
        lazy,
    )


def simhash_signatures(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """SimHash over words: bit b of the signature is set when the sum of
    (+1/-1) contributions of word-hash bit b is positive — i.e. when
    more than half the word hashes have bit b set. Computed as a PURE
    PROJECTION over the per-row word-hash array (bit b set iff
    2*count_set_b > n), replacing the r02 explode + 64-conditional-sum
    groupBy: at 10^12 docs the signature stage moves zero rows."""
    d = _spread_input(df.where(F.col(text_col).isNotNull())).select(
        F.col(id_col),
        word_hash_array(text_col).alias("_hs"),
    ).withColumn("_n", F.size("_hs"))
    # NULL-text rows are dropped (not given signature 0), matching the
    # explode-based formulation this projection replaced — otherwise
    # every pair of null-text docs would read as an exact near-dup
    return d.select(F.col(id_col), simhash_sig_expr(bits).alias("simhash"))


def word_hash_array(text_col: str) -> Column:
    """xxhash64 of every whitespace word (duplicates kept, order kept)."""
    return F.transform(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda w: F.xxhash64(w)
    )


def simhash_sig_expr(bits: int = 64) -> Column:
    """The signature column over materialized `_hs` (word-hash array)
    and `_n` (its size).

    r07 (guide §4.2): Arrow-vectorized numpy kernel instead of the
    64-way filter()/size() SQL tree. Higher-order functions block
    whole-stage codegen, so the old tree was interpreted (64 passes +
    64 array allocations per row) and its sheer node count cost seconds
    of one-off Catalyst compilation per session. The kernel makes 64
    vectorized passes over the batch's CONCATENATED word hashes
    (per-doc sums via np.add.reduceat — memory stays O(words), no
    words x 64 matrix). Bit-identical to the SQL formulation: bit b is
    set iff 2 * count(bit b set) > n; the low bit of an arithmetic
    shift equals the logical bit, so uint64 shifts reproduce Spark's
    shiftright(x, b) & 1 exactly. Stateless, so it still composes into
    Structured Streaming projections (streaming/tiles.py)."""
    if not 0 < bits <= 64:
        raise ValueError("simhash_sig_expr supports 1..64 bits")

    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def _sig(hs: pd.Series, n: pd.Series) -> pd.Series:
        import numpy as np

        m = len(hs)
        if not m:
            return pd.Series([], dtype="int64")
        null = hs.isna().to_numpy()
        lens = np.fromiter(
            (0 if z else len(a) for a, z in zip(hs, null)), dtype=np.int64, count=m
        )
        # a null _hs sizes to -1 (or null under ANSI): only rows with
        # words read n
        nv = n.fillna(0).to_numpy(np.int64)
        out = np.zeros(m, dtype=np.uint64)
        nz = np.nonzero(lens > 0)[0]
        if nz.size:
            flat = np.concatenate(
                [np.asarray(hs.iloc[i], dtype=np.int64) for i in nz]
            ).view(np.uint64)
            csum = np.cumsum(lens[nz])
            starts = np.concatenate(([0], csum[:-1]))
            half = nv[nz]
            acc = np.zeros(nz.size, dtype=np.uint64)
            for b in range(bits):
                bit = (flat >> np.uint64(b)) & np.uint64(1)
                cnt = np.add.reduceat(bit.view(np.int64), starts)
                acc |= (2 * cnt > half).astype(np.uint64) << np.uint64(b)
            out[nz] = acc
        sig = pd.Series(out.view(np.int64))
        # null word-hash array in, null signature out
        return sig.astype("Int64").mask(null) if null.any() else sig

    return _sig("_hs", "_n")


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    lazy: bool = False,
) -> DataFrame:
    """Pairs within Hamming distance via 16-bit-chunk banding (pigeonhole:
    distance<=3 guarantees a shared chunk; larger distances are found
    with high probability). Output: id_a, id_b, hamming.

    Eager by default; see jaccard_pairs — ``lazy=True`` returns the
    raw plan with caller-managed caches (ADVICE r03).
    """
    sig = simhash_signatures(df, id_col, text_col).cache()
    chunks = sig.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("c"),
                        F.shiftright(F.col("simhash"), 16 * c).bitwiseAND(F.lit(0xFFFF)).alias("v"),
                    )
                    for c in range(4)
                ]
            )
        ).alias("ch"),
    ).select(id_col, "simhash", "ch.c", "ch.v")
    cand = (
        chunks.alias("l")
        .join(chunks.alias("r"), ["c", "v"])
        .where(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"l.simhash").alias("sig_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.col(f"r.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return _materialize_and_release(
        cand.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming"),
        [sig],
        lazy,
    )


def dedup_keep_first(
    df: DataFrame, key: F.Column, id_col: str = "doc_id"
) -> DataFrame:
    """Generic survivor selection: first id per key (window, one shuffle)."""
    w = Window.partitionBy(key).orderBy(F.col(id_col).asc())
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
