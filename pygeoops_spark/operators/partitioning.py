"""Partitioning policy for CPU-bound stages — the one place the engine
picks an explicit partition count.

AQE sizes exchanges by BYTES, so a shuffle carrying kilobytes of WKB
(or of compact shingle-hash arrays) whose every row costs milliseconds
of kernel CPU gets coalesced down to one task — observed as a 10x
serialization of the tiled-difference union stage. An explicit
partition count is the user-specified escape hatch AQE respects, and
when the keys match a downstream groupBy's clustering Catalyst adds no
extra exchange. See DESIGN_1T.md §3.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def partition_count(parallelism: int, shuffle_partitions: int, factor: int | None = None) -> int:
    """The policy as a pure function of the cluster's core count
    (defaultParallelism) and ``spark.sql.shuffle.partitions``.

    * ``factor=None`` — array-kernel stages over compact rows (the
      dedup verify and prefix windows): the core count, floored by the
      configured shuffle parallelism so cluster-sized deployments keep
      their byte-safe partition counts;
    * ``factor=f`` — f x the core count: 2 for per-row geometry UDF
      stages, 4 where per-key kernel cost is skewed (the tiled
      difference), so the scheduler can rebalance stragglers."""
    if factor is None:
        return max(parallelism, shuffle_partitions)
    return parallelism * factor


def cpu_partitions(df: DataFrame, factor: int | None = None) -> int:
    """``partition_count`` for ``df``'s session."""
    ss = df.sparkSession
    try:
        sp = int(ss.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # pragma: no cover
        sp = 0
    return partition_count(ss.sparkContext.defaultParallelism, sp, factor)


def repartition_for_cpu(
    df: DataFrame, *keys: str | Column, factor: int = 2
) -> DataFrame:
    """Hash-repartition on `keys` with an explicit count of
    defaultParallelism * factor, immune to AQE size-based coalescing.
    Use before any grouped-map / pandas-UDF stage whose cost is CPU per
    row rather than bytes."""
    cols = [F.col(k) if isinstance(k, str) else k for k in keys]
    return df.repartition(cpu_partitions(df, factor), *cols)


def spread_input(df: DataFrame) -> DataFrame:
    """Round-robin the input over the cluster's cores when the source
    has fewer partitions (a single-row-group parquet file arrives as
    ONE scan task, serializing the shingle/signature projections on a
    single core — measured 2.5 s vs 0.2 s for the sf0.1 shingle build).
    At scale inputs already carry >= defaultParallelism partitions and
    this is a no-op; when it does fire, the shuffle moves only the
    bytes the projection was about to scan anyway (guide §2.5 input
    skew: repartition immediately after a too-coarse read)."""
    target = cpu_partitions(df, 1)
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover — exotic un-plannable frames
        return df
    return df.repartition(target) if n < target else df
