"""The similarity-pair core (pygeoops_spark/pairs.py) and the partition
policy (pygeoops_spark/operators/partitioning.py)."""

import pathlib
import re

import pytest
from pyspark.sql import functions as F

ROOT = pathlib.Path(__file__).resolve().parents[1]


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_lsh_rejects_more_bands_than_bits(emb):
    """bands > n_bits used to give every band 0 bits: every band value
    was 0 and every (query, target) pair became a candidate."""
    from pygeoops_spark.ann.cosine import cosine_topk_lsh

    with pytest.raises(ValueError, match="at least one"):
        cosine_topk_lsh(emb.where(F.col("vec_id") < 5), emb, k=3, n_bits=4, bands=8)


def test_lsh_rejects_signature_past_64_bits(emb):
    """Bits 64 and up have zero numpy weights, and shiftright(x, 64)
    returns x, so the high bands would alias the low ones."""
    from pygeoops_spark.ann.cosine import cosine_topk_lsh

    with pytest.raises(ValueError, match="64"):
        cosine_topk_lsh(emb.where(F.col("vec_id") < 5), emb, k=3, n_bits=80, bands=8)


def test_minhash_rejects_more_bands_than_rows(spark):
    """bands > k used to fail inside F.hash() with no columns."""
    from pygeoops_spark.text.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="rows"):
        minhash_lsh_pairs(docs, k=4, bands=8)


@pytest.mark.parametrize(
    "dp, sp, kernel, udf, skewed",
    [(4, 8, 8, 8, 16), (32, 32, 32, 64, 128)],
)
def test_partition_policy(dp, sp, kernel, udf, skewed):
    """Array-kernel stages get max(cores, shuffle partitions); per-row
    UDF stages 2 x cores; the skewed tiled difference 4 x cores."""
    from pygeoops_spark.operators.partitioning import partition_count

    assert partition_count(dp, sp) == kernel
    assert partition_count(dp, sp, 2) == udf
    assert partition_count(dp, sp, 4) == skewed
    assert partition_count(dp, sp, 1) == dp


# the repeated idioms of the pair pipelines, whitespace removed
IDIOMS = {
    "band explode": r"F\.explode\(F\.array\(",
    "guarded collect": r"\.limit\(\w+\+1\)",
    "top-k window": r"Window\.partitionBy\(\"query_id\"\)",
    "matrix conversion": r"np\.asarray\(\w+,dtype=np\.float64\)",
    "jaccard verify": r"F\.array_intersect\(",
}


@pytest.mark.parametrize("idiom", sorted(IDIOMS))
def test_pair_idiom_written_once(idiom):
    files = sorted((ROOT / "pygeoops_spark").glob("text/*.py"))
    files += sorted((ROOT / "pygeoops_spark").glob("ann/*.py"))
    files.append(ROOT / "pygeoops_spark" / "pairs.py")
    sites = [
        p.relative_to(ROOT).as_posix()
        for p in files
        for _ in re.findall(IDIOMS[idiom], re.sub(r"\s+", "", p.read_text()))
    ]
    assert sites == ["pygeoops_spark/pairs.py"], sites
