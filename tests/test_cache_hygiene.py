"""Eager operators leave no DataFrame cache behind.

Each operator below runs its plan-time actions and hands back a
checkpointed result. Whatever it persisted on the way must be released
by then: the session's CacheManager holds as many entries after the
call as before it, so repeated calls in a long session do not pile up
storage.
"""

import pytest
from pyspark.sql import functions as F

from pygeoops_spark.geom import polygon, wkb_dumps

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy cat"),
    (3, "a completely different sentence about spatial joins"),
    (4, "a completely different sentence about spatial join"),
    (5, "nothing in common here at all"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def _simplify_topo(spark):
    from pygeoops_spark.operators.simplify_topo import simplify_topo

    polys = [[(10, 10), (0, 10), (0, 0), (10, 0)], [(10, 10), (0, 10), (0, 0), (11, 0)]]
    df = spark.createDataFrame([(i, wkb_dumps(polygon(p))) for i, p in enumerate(polys)], ["fid", "wkb"])
    return simplify_topo(df, "fid", "wkb", 1, "rdp")


def _jaccard(spark):
    from pygeoops_spark.text.dedup import jaccard_pairs

    return jaccard_pairs(_docs(spark), threshold=0.3)


def _minhash(spark):
    from pygeoops_spark.text.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark), threshold=0.3)


def _simhash(spark):
    from pygeoops_spark.text.dedup import simhash_pairs

    return simhash_pairs(_docs(spark), max_hamming=16)


def _knn_exact(spark):
    """The ring path (not the brute-force escape): the 300 x 200 shape
    of tests/test_join_jobs.py."""
    from pygeoops_spark.join.knn import knn_join

    i = F.col("id")
    x, y = (i * 37 % 997).cast("double"), (i * 61 % 983).cast("double")
    probes = spark.range(300).select(i.alias("pid"), x.alias("x"), y.alias("y"))
    targets = spark.range(200).select(i.alias("tid"), (x * 0.5 + 100.0).alias("x"), y.alias("y"))
    return knn_join(probes, targets, "pid", "tid", k=3, level=None, guarantee_exact=True)


def _components(spark):
    from pygeoops_spark.text.pipeline import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 5), (7, 8)], ["id_a", "id_b"])
    return connected_components(pairs)


OPS = {
    "simplify_topo": _simplify_topo,
    "jaccard_pairs": _jaccard,
    "minhash_lsh_pairs": _minhash,
    "simhash_pairs": _simhash,
    "knn_join_exact": _knn_exact,
    "connected_components": _components,
}


@pytest.mark.parametrize("op", sorted(OPS))
def test_eager_operator_leaves_no_cache(spark, op):
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    before = cache_manager.numCachedEntries()
    out = OPS[op](spark)
    assert out.count() > 0
    assert cache_manager.numCachedEntries() == before
