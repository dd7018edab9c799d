"""Synthetic Common-Crawl-style `pages` corpus + derived geometry.

Two sources of geometry-bearing rows:

1. ``synth_pages`` — the input_hint table
   (url, warc_ts, html, text, lang, x, y[, geom WKB]) built
   deterministically from ``spark.range`` with pure SQL arithmetic
   (multiplicative-congruential mixing; no RNG, no Python loop). The
   per-row invariant "byte-identical text per url" is testable because
   text is a pure function of the row id. 20% of rows snap near a
   hotspot to exercise skew handling.

2. ``order_points`` / ``synth_zones`` — geometry derived from the
   driver's TPC-H-ish tables with integer arithmetic that DuckDB
   reproduces exactly (the correctness-oracle path).

All constants are plain integers so Spark and DuckDB compute
bit-identical doubles.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

WORDS = (
    "the of and to in is was for on that spark shuffle partition tile grid cell "
    "polygon point line angle buffer centerline simplify join index scan batch"
).split()

# -- oracle-friendly derivations (mirrored 1:1 in SQL in __spark_entry__) --
X_MULT, Y_MULT, MOD = 9973, 6151, 1_000_000


def order_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One point per order: x,y in [0,1000) from integer mixing of the
    key. SQL mirror: ((o_orderkey*9973)%1000000)/1000.0 etc."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return orders.select(
        "o_orderkey",
        ((F.col("o_orderkey") * X_MULT) % MOD / 1000.0).alias("x"),
        ((F.col("o_orderkey") * Y_MULT) % MOD / 1000.0).alias("y"),
    )


def customer_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return cust.select(
        "c_custkey",
        ((F.col("c_custkey") * X_MULT) % MOD / 1000.0).alias("x"),
        ((F.col("c_custkey") * Y_MULT) % MOD / 1000.0).alias("y"),
    )


N_ZONES = 64


def synth_zones(spark: SparkSession, m: int = N_ZONES) -> DataFrame:
    """m jittered rectangles on an 8-wide lattice over [0,1000)^2.

    SQL mirror (DuckDB): range(m) with the same integer arithmetic.
    """
    z = spark.range(m).withColumnRenamed("id", "zone_id")
    zcol = F.col("zone_id") % 8
    zrow = (F.col("zone_id") / 8).cast("long")
    xmin = zcol * 125 + (F.col("zone_id") * 37) % 20 - 10.0
    ymin = zrow * 125 + (F.col("zone_id") * 53) % 20 - 10.0
    return z.select(
        "zone_id",
        F.concat(F.lit("z"), F.col("zone_id")).alias("zone_name"),
        xmin.cast("double").alias("xmin"),
        ymin.cast("double").alias("ymin"),
        (xmin + 100 + (F.col("zone_id") * 29) % 40).cast("double").alias("xmax"),
        (ymin + 100 + (F.col("zone_id") * 41) % 40).cast("double").alias("ymax"),
    )


def synth_poly_zones(
    spark: SparkSession, m: int = N_ZONES, n_vertices: int = 64
) -> DataFrame:
    """The synth_zones rectangles as many-vertex star polygons (WKB).

    Each zone becomes a simple star-convex polygon inscribed in its
    rectangle: vertices at equal angles around the rect center with a
    deterministically jittered radius. The bbox columns stay the full
    rect (a valid, slightly loose cover for the candidate prefilter).
    Purpose: a PIP workload whose exact-kernel cost per candidate is
    O(n_vertices), so post-shuffle skew is measurable (the 4-vertex
    rect kernel is too cheap for the hot task to dominate —
    BENCH/skew_salted_r06.json). Driver-side build: m is small (zones
    are the broadcast side by design).
    """
    from pygeoops_spark.geom import polygon as mk_poly, wkb_dumps

    zpd = synth_zones(spark, m).toPandas()
    wkbs = []
    for r in zpd.itertuples():
        cx, cy = (r.xmin + r.xmax) / 2.0, (r.ymin + r.ymax) / 2.0
        hx, hy = (r.xmax - r.xmin) / 2.0, (r.ymax - r.ymin) / 2.0
        k = np.arange(n_vertices)
        theta = 2.0 * np.pi * k / n_vertices
        rad = 0.55 + 0.40 * (((k * 7919 + r.zone_id * 104729) % 997) / 997.0)
        pts = np.column_stack(
            (cx + hx * rad * np.cos(theta), cy + hy * rad * np.sin(theta))
        )
        wkbs.append(wkb_dumps(mk_poly([tuple(p) for p in pts])))
    zpd["zone_wkb"] = wkbs
    return spark.createDataFrame(zpd)


# -- input_hint corpus ----------------------------------------------------
def with_point_wkb(df: DataFrame, x: str = "x", y: str = "y", out: str = "geom") -> DataFrame:
    """Attach a WKB point geometry column built from x/y (vectorized
    struct-pack in an Arrow batch; little-endian ISO WKB)."""

    @F.pandas_udf("binary")
    def _wkb(xs: pd.Series, ys: pd.Series) -> pd.Series:
        n = len(xs)
        buf = np.zeros((n, 21), dtype=np.uint8)
        buf[:, 0] = 1
        buf[:, 1] = 1  # type=Point, little-endian uint32
        buf[:, 5:13] = xs.to_numpy(np.float64).view(np.uint8).reshape(n, 8)
        buf[:, 13:21] = ys.to_numpy(np.float64).view(np.uint8).reshape(n, 8)
        return pd.Series(list(buf.tobytes()[i * 21 : (i + 1) * 21] for i in range(n)))

    return df.withColumn(out, _wkb(F.col(x), F.col(y)))


def synth_pages(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Deterministic pages table (input_hint schema + x/y geotag).
    Use with_point_wkb() to add the WKB `geom` column when an operator
    needs geometry bytes rather than coordinate columns."""
    df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id")
    h = (i * 2654435761) % 2147483647  # Knuth multiplicative mix
    h2 = (h * 48271) % 2147483647
    url = F.concat(F.lit("https://site"), (i % 1000), F.lit(".example/p/"), i)
    vocab = F.array(*[F.lit(w) for w in WORDS])
    text = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(23)),
            lambda j: F.element_at(vocab, ((h + j * 101) % len(WORDS) + 1).cast("int")),
        ),
        " ",
    )
    # 20% of pages snap near the (500,500) hotspot => Zipf-ish cell skew
    hot = (h % 5) == 0
    x = F.when(hot, 500.0 + (h2 % 1000) / 1000.0).otherwise((h % 1_000_000) / 1000.0)
    y = F.when(hot, 500.0 + (h2 % 997) / 997.0).otherwise((h2 % 1_000_000) / 1000.0)
    return df.select(
        url.alias("url"),
        (F.lit("2026-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=(i * 137) % 31_536_000)).alias("warc_ts"),
        F.encode(F.concat(F.lit("<html><body>"), text, F.lit("</body></html>")), "UTF-8").alias("html"),
        text.alias("text"),
        F.element_at(F.array(F.lit("en"), F.lit("es"), F.lit("zh"), F.lit("de"), F.lit("fr")), (h % 5 + 1).cast("int")).alias("lang"),
        x.cast("double").alias("x"),
        y.cast("double").alias("y"),
    )


def synth_docs(
    spark: SparkSession, n_docs: int, words_per_doc: int = 40, partitions: int | None = None
) -> DataFrame:
    """Deterministic documents corpus at ANY scale, generated entirely
    executor-side from the row id (pure SQL: no driver data, no UDF —
    the generator itself is 10^12-safe).

    Near-dup structure by construction: every doc with id % 10 == 9 is
    a copy of id-1 with its first two words re-rolled, giving
    3-shingle jaccard ~0.8 — so TRUE near-dup pairs grow exactly
    linearly with corpus size.

    Vocabulary follows natural text: half the tokens come from a small
    common-word core (high document frequency), half from a long tail
    that GROWS with the corpus (~4 x n_docs distinct tail words —
    Heaps' law).  This matters for the scaling law being evidenced:
    PPJoin candidate counts are ~ sum over prefix shingles of df^2,
    which is linear in corpus size exactly when per-shingle df stays
    bounded — true for long-tail text, false for a saturated closed
    vocabulary (an early version of this generator used the 32-word
    core alone and measured 178x candidate growth for 10x docs: a
    data-inherent quadratic, not an operator defect).  Used by the
    corpus-scaling evidence (tests/test_corpus_scaling.py, bench
    text-scaling block)."""
    df = spark.range(0, n_docs, 1, partitions or spark.sparkContext.defaultParallelism)
    i = F.col("id")
    vocab = F.array(*[F.lit(w) for w in WORDS])
    tail_size = max(4 * n_docs, 64)
    is_dup = (i % 10) == F.lit(9)
    base = F.when(is_dup, i - 1).otherwise(i)

    def word_at(j: Column) -> Column:
        seed = F.when(
            is_dup & (j < 2), F.xxhash64(i, j, F.lit("mut"))
        ).otherwise(F.xxhash64(base, j))
        common = F.element_at(
            vocab, (F.pmod(seed, F.lit(len(WORDS))) + 1).cast("int")
        )
        tail = F.concat(F.lit("t"), F.pmod(seed, F.lit(tail_size)))
        return F.when(F.pmod(seed, F.lit(2)) == 0, common).otherwise(tail)

    # one lambda over the word index, not a Python-unrolled column per
    # word: the analyzed plan is ~1.7k characters at any length (the
    # unrolled 40-word forest was ~27k, ~1 s of Catalyst per call)
    words = F.transform(F.sequence(F.lit(0), F.lit(words_per_doc - 1)), word_at)
    return df.select(
        i.alias("doc_id"),
        F.array_join(words, " ").alias("text"),
        F.element_at(
            F.array(F.lit("en"), F.lit("es"), F.lit("zh"), F.lit("de"), F.lit("fr")),
            (F.pmod(F.xxhash64(base), F.lit(5)) + 1).cast("int"),
        ).alias("lang"),
    )
