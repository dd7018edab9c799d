"""Round-7 optimization equivalence tests.

Each r07 optimization that changed an operator's internals gets a
focused identity check here: the fast path must produce EXACTLY the
rows of the path it replaced.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import functions as F


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_knn_brute_escape_matches_ring_path(spark, monkeypatch):
    """guarantee_exact with a small target set takes the broadcast
    brute-force escape; forcing the ring passes (escape predicate
    patched off) must give the identical rows — both are 'exact
    top-k', so any difference is a bug in one of them."""
    from pygeoops_spark.join import knn
    from pygeoops_spark.join.knn import knn_join

    i = F.col("id")
    probes = spark.range(300).select(
        i.alias("pid"),
        ((i * 37 % 997).cast("double")).alias("x"),
        ((i * 61 % 983).cast("double")).alias("y"),
    )
    targets = spark.range(20).select(
        i.alias("tid"),
        ((i * 131 % 1000).cast("double")).alias("x"),
        ((i * 271 % 1000).cast("double")).alias("y"),
    )
    kw = dict(k=3, level=3, radius=2, guarantee_exact=True)
    fast = knn_join(probes, targets, "pid", "tid", **kw)  # 20 <= 3*25 -> escape
    monkeypatch.setattr(knn, "_escape", lambda *a: False)
    ring = knn_join(probes, targets, "pid", "tid", **kw)
    assert _rows(fast) == _rows(ring)


def test_geo_knn_brute_escape_matches_ring_path(spark, monkeypatch):
    from pygeoops_spark.join import knn
    from pygeoops_spark.join.geo_knn import geodesic_knn_join

    i = F.col("id")
    probes = spark.range(200).select(
        i.alias("pid"),
        ((i * 37 % 360 - 180).cast("double") + F.lit(0.25)).alias("lon"),
        ((i * 23 % 160 - 80).cast("double") + F.lit(0.125)).alias("lat"),
    )
    targets = spark.range(12).select(
        i.alias("tid"),
        ((i * 53 % 360 - 180).cast("double") + F.lit(0.5)).alias("lon"),
        ((i * 29 % 150 - 75).cast("double") + F.lit(0.5)).alias("lat"),
    )
    kw = dict(k=3, level=2, radius=1, guarantee_exact=True)
    fast = geodesic_knn_join(probes, targets, "pid", "tid", **kw)  # 12 <= 27
    monkeypatch.setattr(knn, "_escape", lambda *a: False)
    ring = geodesic_knn_join(probes, targets, "pid", "tid", **kw)
    assert _rows(fast) == _rows(ring)


def test_cc_gate_matches_distributed_rounds(spark, monkeypatch):
    """The <=100k-edge single-task union-find must label exactly like
    the distributed alternating-star path (gate forced off)."""
    import pygeoops_spark.text.pipeline as pipeline
    from pygeoops_spark.text.pipeline import connected_components

    edges = [(i, i + 1) for i in range(100, 140)]          # 41-node chain
    edges += [(200, 201), (201, 202), (200, 202)]          # triangle
    edges += [(300, 301), (400, 400)]                      # lone edge + self
    pairs = spark.createDataFrame(pd.DataFrame(edges, columns=["id_a", "id_b"]))

    fast_stats: dict = {}
    fast = _rows(connected_components(pairs, stats=fast_stats))
    assert fast_stats["rounds"] == 0  # gate path taken

    monkeypatch.setattr(pipeline, "CC_LOCAL_MAX_EDGES", 0)
    dist_stats: dict = {}
    dist = _rows(connected_components(pairs, stats=dist_stats))
    assert dist_stats["rounds"] >= 1  # distributed path taken
    assert fast == dist


def test_simhash_arrow_kernel_matches_legacy_sql_tree(spark):
    """The r07 Arrow signature kernel must reproduce the retired 64-way
    filter()/size() SQL formulation bit-for-bit (the retired tree is
    inlined here as the reference implementation)."""
    from pygeoops_spark.text.dedup import simhash_sig_expr, word_hash_array

    texts = [
        ("a b c d e f g",),
        ("the quick brown fox jumps over the lazy dog " * 7,),
        ("x",),
        (" ",),
        ("uniçode wörds straße " * 3,),
    ] + [(" ".join(f"w{(i * j) % 23}" for j in range(40)),) for i in range(60)]
    docs = spark.createDataFrame(texts, "text string").withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    d = docs.select(
        "doc_id", word_hash_array("text").alias("_hs")
    ).withColumn("_n", F.size("_hs"))

    def legacy_sig(bits: int = 64):
        def _bit_set(b):
            return lambda x: F.shiftright(x, b).bitwiseAND(F.lit(1)) == 1

        sig = F.lit(0).cast("long")
        for b in range(bits):
            cnt = F.size(F.filter("_hs", _bit_set(b)))
            sig = sig + F.when(
                cnt * 2 > F.col("_n"), F.shiftleft(F.lit(1).cast("long"), b)
            ).otherwise(F.lit(0).cast("long"))
        return sig

    got = _rows(d.select("doc_id", simhash_sig_expr(64).alias("s")))
    want = _rows(d.select("doc_id", legacy_sig(64).alias("s")))
    assert got == want


def test_simhash_arrow_kernel_null_row(spark):
    """A null word-hash array gets a null signature; the other rows of
    the same Arrow batch keep theirs."""
    from pygeoops_spark.text.dedup import simhash_sig_expr, word_hash_array

    docs = spark.createDataFrame(
        [(0, "a b c"), (1, None), (2, "x y")], "doc_id long, text string"
    ).coalesce(1)
    d = docs.select("doc_id", word_hash_array("text").alias("_hs")).withColumn(
        "_n", F.size("_hs")
    )
    got = dict(_rows(d.select("doc_id", simhash_sig_expr(64).alias("s"))))
    assert got[1] is None
    alone = dict(_rows(d.where("doc_id != 1").select("doc_id", simhash_sig_expr(64))))
    assert got[0] == alone[0] and got[2] == alone[2]


def test_positional_filter_keeps_every_threshold_pair(spark):
    """Randomized: jaccard_pairs (prefix + PPJoin positional filter)
    must equal the naive all-pairs jaccard at the threshold — the
    positional bound may only drop pairs that PROVABLY cannot reach
    t, never a true pair near the boundary."""
    import itertools
    import random

    rng = random.Random(707)
    vocab = [f"t{v}" for v in range(30)]
    docs_py = []
    for i in range(70):
        if i % 3 == 0 and docs_py:
            # near-dup of an earlier doc: mutate a few words
            base = list(docs_py[rng.randrange(len(docs_py))][1].split())
            for _ in range(rng.randrange(0, 4)):
                base[rng.randrange(len(base))] = rng.choice(vocab)
            docs_py.append((i, " ".join(base)))
        else:
            docs_py.append(
                (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(6, 25))))
            )
    from pygeoops_spark.text.dedup import jaccard_pairs

    docs = spark.createDataFrame(docs_py, "doc_id long, text string")
    for t in (0.2, 0.5, 0.8):
        got = {
            (r["id_a"], r["id_b"]) for r in jaccard_pairs(docs, threshold=t).collect()
        }

        def shingles(txt: str) -> set:
            w = txt.split()
            return {" ".join(w[j : j + 3]) for j in range(max(len(w) - 2, 1))}

        want = set()
        for (ia, ta), (ib, tb) in itertools.combinations(docs_py, 2):
            sa, sb = shingles(ta), shingles(tb)
            j = len(sa & sb) / len(sa | sb)
            if j >= t:
                want.add((min(ia, ib), max(ia, ib)))
        assert got == want, f"threshold {t}: {got ^ want}"
