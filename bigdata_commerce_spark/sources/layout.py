"""Multi-dimensional data layout for scan skipping (Z-ordering).

Range-partitioning a table by ONE column gives file-level min/max
stats that prune scans filtered on that column — and on nothing
else: a filter on a second column overlaps every file. Interleaving
the bits of two (or more) columns into a Z-value and range-ordering
by THAT spreads both dimensions across files in a locality-
preserving way, so min/max file skipping works for filters on either
column — the same idea behind Delta/Iceberg OPTIMIZE ZORDER, built
here from plain Spark primitives:

    df.repartitionByRange(n, z).sortWithinPartitions(z).write...

Skipping itself is the engine's normal parquet min/max pruning; this
module only arranges the data so those stats are selective. The
effect is measured, not assumed: tests/test_layout.py counts, via
parquet footer statistics, how many files a single-dimension filter
overlaps under a linear layout vs the Z-order layout.

The Z-expression is generated as ONE SQL string (not a nested Column
tree) — the py4j-per-operator build tax measured in
operators/dedup.py applies at 2*bits OR-terms too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_value(col_a: str, col_b: str, bits: int = 16) -> Column:
    """Bit-interleaved Z-value of two NON-NEGATIVE integer columns,
    each truncated to ``bits`` low bits (callers with unbounded or
    skewed domains should rank/bucket first — the interleave assumes
    both inputs use their low ``bits`` meaningfully).

    Deterministic, pure integer arithmetic; 2*bits <= 62 keeps the
    result in a BIGINT without sign issues.
    """
    if not 1 <= bits <= 31:
        raise ValueError(f"bits must be in [1, 31], got {bits}")
    # The CAST must precede the shift: shiftleft on a 32-bit INT
    # operand masks the distance mod 32 (and shift 31 lands in the
    # sign bit), so an INT-typed column with the default bits=16
    # would produce aliased/negative Z-values. Casting the extracted
    # bit to BIGINT first makes the shift 64-bit for any input type.
    terms = []
    for i in range(bits):
        terms.append(f"shiftleft(CAST((`{col_a}` >> {i}) & 1 AS BIGINT), {2 * i})")
        terms.append(f"shiftleft(CAST((`{col_b}` >> {i}) & 1 AS BIGINT), {2 * i + 1})")
    return F.expr(" | ".join(terms))


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 16,
) -> None:
    """Write ``df`` as ``n_files`` parquet files range-ordered by the
    Z-value of (col_a, col_b). Each file then covers a compact
    rectangle-ish region of the (a, b) plane, so its footer min/max
    for BOTH columns is narrow — the property file skipping needs.

    The file boundaries come from repartitionByRange's reservoir
    sample; at the default 100 rows/partition the boundary error
    smears files across quad-block edges and the measured skipping
    fluctuates run to run. A layout job runs once and is read many
    times, so spend more on the sample: boundaries land near the
    exact Z-quantiles and each file stays a tight power-of-two block.
    (Restored after the write — it's a per-exchange planning knob.)"""
    z = zorder_value(col_a, col_b, 16)
    spark = df.sparkSession
    key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "20000")
    try:
        (
            df.repartitionByRange(n_files, z)
            .sortWithinPartitions(z)
            .write.mode("overwrite")
            .parquet(path)
        )
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def files_overlapping(path: str, col: str, lo: int, hi: int) -> tuple[int, int]:
    """(overlapping, total) parquet files under ``path`` whose footer
    min/max for ``col`` intersects [lo, hi] — the file-skipping
    arithmetic an engine's manifest pruning performs, exposed for
    tests and layout audits."""
    import glob

    import pyarrow.parquet as pq

    total = overlapping = 0
    for f in glob.glob(f"{path}/part-*.parquet"):
        total += 1
        md = pq.ParquetFile(f).metadata
        col_mins, col_maxs = [], []
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    col_mins.append(c.statistics.min)
                    col_maxs.append(c.statistics.max)
        if col_mins and not (max(col_maxs) < lo or min(col_mins) > hi):
            overlapping += 1
    return overlapping, total
