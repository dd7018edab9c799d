"""Streaming tile assignment + windowed rollups.

The reference has no streaming surface; this is the engine's
Structured Streaming extension: the same pure-SQL tile/cell-id
expressions used in batch (operators/grid.py, join/cells.py) applied to
a stream, with event-time watermarking for late data. Because tile
assignment is stateless arithmetic, the streaming plan is identical to
the batch plan plus a stateful windowed aggregation — nothing about
the operator needed to change, which is the point of keeping geometry
assignment in Catalyst expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pygeoops_spark.geom.grid import Bounds
from pygeoops_spark.join.cells import cell_id
from pygeoops_spark.operators.grid import tile_cols


def assign_stream_to_grid(
    stream: DataFrame,
    x: str,
    y: str,
    total_bounds: Bounds,
    nb_columns: int,
    nb_rows: int,
    cell_level: int | None = None,
) -> DataFrame:
    """Stateless per-event tile (and optional cell) assignment."""
    c, r, t = tile_cols(x, y, total_bounds, nb_columns, nb_rows)
    out = stream.withColumn("tile_col", c).withColumn("tile_row", r).withColumn("tile_id", t)
    if cell_level is not None:
        out = out.withColumn("cell_id", cell_id(x, y, cell_level))
    return out


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop repeated keys within the watermark
    horizon (state is bounded by the watermark — the streaming analog
    of the batch exact_dedup groupBy; at-most-once per key within the
    late-data window)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicates(key_cols)


def near_dedup_stream(
    stream: DataFrame,
    text_col: str,
    ts_col: str,
    watermark: str = "10 minutes",
    bits: int = 64,
) -> DataFrame:
    """Streaming near-duplicate suppression: keep the first document
    per 64-bit SimHash signature within the watermark horizon.

    The signature is a stateless projection (the same expression the
    batch simhash_signatures builds — zero-shuffle), so the only
    stateful operator is dropDuplicatesWithinWatermark on the
    signature: state is one row per distinct signature inside the
    watermark, evicted as event time advances. Near-identical docs
    (small word-multiset edits that leave every bit-majority unchanged)
    collapse to the same signature and are suppressed; docs at
    hamming > 0 pass — this is the exact-signature streaming tier,
    batch minhash/jaccard handles graded similarity."""
    from pygeoops_spark.text.dedup import simhash_sig_expr, word_hash_array

    sig = (
        stream.where(F.col(text_col).isNotNull())
        .withColumn("_hs", word_hash_array(text_col))
        .withColumn("_n", F.size("_hs"))
        .withColumn("simhash", simhash_sig_expr(bits))
        .drop("_hs", "_n")
    )
    deduped = sig.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["simhash"]
    )
    # NULL-text events carry no signal for the signature — pass them
    # through untouched (suppressing them against each other as
    # "duplicates of the empty document" would silently drop data)
    passthrough = stream.where(F.col(text_col).isNull()).withColumn(
        "simhash", F.lit(None).cast("long")
    )
    return deduped.unionByName(passthrough)


def windowed_tile_counts(
    stream: DataFrame,
    ts_col: str,
    window_duration: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Event-time windowed page counts per tile with late-data
    tolerance; emits append-mode-compatible aggregates."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_duration).alias("w"), F.col("tile_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "tile_id",
            "n_events",
        )
    )


def geofence_stream(
    stream: DataFrame,
    zones: DataFrame,
    x: str = "x",
    y: str = "y",
    zone_geom: str = "zone_wkb",
    zone_id: str = "zone_id",
    level: int = 5,
) -> DataFrame:
    """Streaming point-in-polygon (geofencing): each event joins the
    static zone table and keeps only events inside a zone's polygon.

    Plan shape mirrors the batch pip_join_polygons prepared path
    (join/pip.py): zone geometries decode once into a broadcast
    {zone_id: rings} dict, the stream joins the (tiny, broadcast)
    zone-cell cover on a pure-SQL cell id — a stateless stream-static
    equi-join, so no streaming state at all — then the bbox prefilter
    and the Arrow-batched crossing-number kernel filter each
    micro-batch. Events outside every zone bbox never reach the
    kernel. The zone-purity sort is skipped: micro-batches are small
    and a per-batch sort adds latency for no measurable kernel win at
    streaming batch sizes.
    """
    from pygeoops_spark.join.pip import _pip_join

    return _pip_join(
        stream, zones, x, y, zone_geom, zone_id, level, True, "prepared", sort=False
    )
