"""Multi-dimensional data layout for scan skipping (Z-ordering).

Parquet readers skip whole files / row groups whose min-max column
statistics cannot match the predicate. Sorting by ONE column makes
its ranges tight but leaves every other column's ranges wide; sorting
by a Morton (Z-order) interleave of several columns makes EVERY
participating column's per-file range narrow — the same reason Delta
Lake's OPTIMIZE ZORDER BY exists. This is pure Spark: compute the
interleaved key as a column expression, repartitionByRange+sort on
it, write; the reader needs no cooperation beyond ordinary stats
pruning.

All bit math is JVM-side expressions (shiftleft / shiftright / bitwise
or) — no UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BITS = 16


def spread(df: DataFrame) -> DataFrame:
    """Round-robin an under-partitioned frame up to
    ``defaultParallelism``. A small input that arrives as one parquet
    file or one CSV split otherwise runs every per-row stage after it
    (regex fingerprints, MinHash, Arrow GEMM batches, validation) in
    that one task: the refresh fingerprint pass at sf0.1 took 7.2 s on
    a 1-split read, 1.6 s spread. A frame that already has at least
    ``defaultParallelism`` partitions is returned as it is, so at
    cluster scale this adds no shuffle."""
    target = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(target) if df.rdd.getNumPartitions() < target else df


def morton_key(cols: list["F.Column"], bits: int = DEFAULT_BITS) -> "F.Column":
    """Interleave the low ``bits`` bits of each (already-quantized,
    non-negative) column into one Z-order key: bit j of column i lands
    at position j * n_cols + i.

    The interleaved key must fit a signed 64-bit long: Spark's
    shiftleft wraps its shift count mod 64, so an out-of-range
    position would silently fold high bits onto low ones and corrupt
    the clustering — fail loud instead.
    """
    n = len(cols)
    if n * bits > 63:
        raise ValueError(
            f"morton_key: {n} columns x {bits} bits = {n * bits} key bits "
            f"exceeds the 63 available in a signed long; lower bits to "
            f"<= {63 // n} (e.g. bits=min(bits, 63 // n_cols)) or drop columns"
        )
    key = F.lit(0).cast("long")
    for j in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftright(c.cast("long"), j).bitwiseAND(F.lit(1))
            key = key.bitwiseOR(F.shiftleft(bit, j * n + i))
    return key


def quantize_minmax(df: DataFrame, col: str, bits: int) -> "F.Column":
    """Linear [min, max] -> [0, 2^bits) quantization using a tiny
    driver-side min/max lookup (one cheap agg job, constant-folded
    into the expression)."""
    row = df.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).collect()[0]
    lo, hi = float(row.lo), float(row.hi)
    span = (hi - lo) or 1.0
    scale = ((1 << bits) - 1) / span
    return (
        F.least(
            F.lit((1 << bits) - 1),
            F.greatest(F.lit(0), ((F.col(col).cast("double") - lo) * scale).cast("long")),
        )
    )


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    *,
    bits: int = DEFAULT_BITS,
    n_files: int = 16,
) -> None:
    """Write ``df`` as parquet clustered on the Z-order curve of
    ``cols``: range-partition by the Morton key into ``n_files``
    output files and sort within each, so every file covers a compact
    curve segment and per-file min-max stats are tight on EVERY
    participating column."""
    # auto-cap so the interleaved key fits a signed long (5+ columns at
    # the default 16 bits would overflow; fewer bits per column just
    # means coarser clustering, still correct)
    bits = min(bits, 63 // max(len(cols), 1))
    if bits == 0:
        # >63 columns: per-column budget is zero — the Z-key would be a
        # CONSTANT and the write would silently not cluster at all
        raise ValueError(
            f"too many z-order columns ({len(cols)}): the 63-bit key "
            "budget leaves 0 bits per column. Pick the few columns "
            "queries actually filter on."
        )
    q = [quantize_minmax(df, c, bits) for c in cols]
    keyed = df.withColumn("__z", morton_key(q, bits))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
