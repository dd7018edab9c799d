"""Output pins for the similarity-pair operators and the corpus generators.

Each pin is a row count, the column names and types, and an
order-independent digest (the sum of every row's xxhash64) of one
call's result on the ``tests/test_text_ann.py`` fixtures.  A refactor of
the pair machinery or the generators must leave every pin as it is.
"""

import pytest
from pyspark.sql import functions as F


def _pin(df):
    # timestamps hash as their wall-clock text, so the pin does not
    # depend on the session time zone
    cols = [
        F.col(c).cast("string") if t == "timestamp" else F.col(c)
        for c, t in df.dtypes
    ]
    n, digest = df.agg(
        F.count("*"), F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))
    ).first()
    return n, df.schema.simpleString(), int(digest or 0)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def _queries(emb):
    return emb.where(F.col("vec_id") < 20)


def _jaccard(docs, emb, spark, tmp):
    from pygeoops_spark.text.dedup import jaccard_pairs

    return jaccard_pairs(docs, n=3, threshold=0.1)


def _minhash(docs, emb, spark, tmp):
    from pygeoops_spark.text.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(docs, threshold=0.6)


def _simhash(docs, emb, spark, tmp):
    from pygeoops_spark.text.dedup import simhash_pairs

    return simhash_pairs(docs, max_hamming=16)


def _bruteforce(docs, emb, spark, tmp):
    from pygeoops_spark.ann.cosine import cosine_topk_bruteforce

    return cosine_topk_bruteforce(_queries(emb), emb, k=5)


def _dup_pairs(docs, emb, spark, tmp):
    from pygeoops_spark.ann.cosine import cosine_dup_pairs

    return cosine_dup_pairs(emb, threshold=0.40)


def _lsh(docs, emb, spark, tmp):
    from pygeoops_spark.ann.cosine import cosine_topk_lsh

    return cosine_topk_lsh(_queries(emb), emb, k=5)


def _ivf(docs, emb, spark, tmp):
    from pygeoops_spark.ann.cosine import cosine_topk_ivf

    return cosine_topk_ivf(_queries(emb), emb, k=5, n_cells=8, nprobe=4)


def _ivf_index(docs, emb, spark, tmp):
    from pygeoops_spark.ann.cosine import ivf_build_index, ivf_query_index

    path = str(tmp / "ivf_idx")
    ivf_build_index(emb, path, n_cells=16, t_assign=3, train_iters=8)
    return ivf_query_index(spark, path, _queries(emb), k=5, nprobe=6)


TOPK = "struct<query_id:bigint,neighbor_id:bigint,cos_sim:double,ann_rank:int>"

PINS = {
    "jaccard_pairs": (
        _jaccard, 28, "struct<id_a:bigint,id_b:bigint,jaccard:double>",
        -51486138557577497852,
    ),
    "minhash_lsh_pairs": (
        _minhash, 27, "struct<id_a:bigint,id_b:bigint,jaccard:double>",
        -48329275959812200769,
    ),
    "simhash_pairs": (
        _simhash, 2264, "struct<id_a:bigint,id_b:bigint,hamming:int>",
        85171597581894782513,
    ),
    "cosine_topk_bruteforce": (_bruteforce, 100, TOPK, -12987323560286657000),
    "cosine_dup_pairs": (
        _dup_pairs, 66, "struct<id_a:bigint,id_b:bigint,cos_sim:double>",
        57055751808273865379,
    ),
    "cosine_topk_lsh": (_lsh, 100, TOPK, -15045347016324627827),
    "cosine_topk_ivf": (_ivf, 100, TOPK, -32813088037235423651),
    "ivf_build_index+ivf_query_index": (
        _ivf_index, 100, TOPK, -33151210165066292009
    ),
}


@pytest.mark.parametrize("name", sorted(PINS))
def test_pair_operator_pinned(name, spark, docs, emb, tmp_path):
    build, n, schema, digest = PINS[name]
    assert _pin(build(docs, emb, spark, tmp_path)) == (n, schema, digest)


@pytest.fixture
def utc(spark):
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    yield
    spark.conf.set("spark.sql.session.timeZone", prev)


def test_synth_docs_pinned(spark):
    from pygeoops_spark.corpus.pages import synth_docs

    assert _pin(synth_docs(spark, 2000)) == (
        2000,
        "struct<doc_id:bigint,text:string,lang:string>",
        19436110945635977813,
    )


def test_synth_pages_pinned(spark, utc):
    from pygeoops_spark.corpus.pages import synth_pages

    assert _pin(synth_pages(spark, 5000)) == (
        5000,
        "struct<url:string,warc_ts:timestamp,html:binary,text:string,"
        "lang:string,x:double,y:double>",
        23593859521872079931,
    )
