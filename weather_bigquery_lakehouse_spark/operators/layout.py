"""Z-order (Morton) data layout — the lakehouse ``OPTIMIZE ZORDER BY``
primitive, built from portable integer arithmetic.

Why it exists: partitioning and plain sorting give scan locality on ONE
dimension; a zone queried by BOTH ``user_id`` ranges and time ranges
leaves one of the two predicates reading every file. Interleaving the
bits of the two (quantized) keys produces a single sort key whose
contiguous ranges are small HYPER-RECTANGLES in (a, b) space — so files
written in z-key order carry narrow parquet min/max footer stats on BOTH
columns, and the reader's row-group/file skipping prunes on either
predicate. This is exactly what Delta/Iceberg ``OPTIMIZE ZORDER``
provides; here it is an explicit operator + writer.

Engine-portability rules (same discipline as the rest of the engine):
quantization is overflow-free integer bucket math (``(x - min) div
width`` with ``width = (range div 2^bits) + 1`` — never ``(x-min) *
2^bits``, which overflows BIGINT on µs timestamps), and the bit
interleave is expressed as div/mod/multiply-by-power-of-two arithmetic,
generated from one Python template for both Spark and the DuckDB oracle
so the two sides cannot drift.

Scale shape: one 4-value min/max aggregate (map-side combined, broadcast
back as a 1-row frame), then pure per-row arithmetic; the clustered
write is one range-repartition by the z-key (the same shuffle any global
sort pays) with an in-partition sort the parquet writer streams.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

ZORDER_BITS = 16  # per-dimension quantization width; z-key uses 2·bits


def interleave_sql(qa: str, qb: str, bits: int, div: str) -> str:
    """Morton interleave of two quantized ints as div/mod arithmetic.

    ``div`` is the dialect's integer-division token (Spark ``div``,
    DuckDB ``//``); everything else is identical text on both sides.
    Bit b of ``qa`` lands at position 2b, of ``qb`` at 2b+1 — disjoint
    positions, so plain ``+`` assembles the key.
    """
    terms = []
    for b in range(bits):
        terms.append(f"((({qa} {div} {1 << b}) % 2) * {1 << (2 * b)})")
        terms.append(f"((({qb} {div} {1 << b}) % 2) * {1 << (2 * b + 1)})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def quantize_sql(col: str, cmin: str, cmax: str, bits: int, div: str) -> str:
    """Overflow-free ``bits``-bit quantization of an integer column given
    its min/max, NORMALIZED onto the full [0, 2^bits) span.

    Two-sided normalization is what makes the interleave work: bucketing
    ``(x - min) div width`` (width = range div 2^bits + 1) shrinks a
    µs-epoch range into 2^bits buckets without the BIGINT overflow that
    ``(x - min) * 2^bits`` would hit — but a SMALL-range dimension (a few
    hundred user ids) would then occupy only the LOW bits, every high
    interleave bit would come from the other dimension, and the z-key
    would degenerate into a plain sort on the wide dimension (measured:
    per-file user_id spans of 1.0 — no locality at all). So after
    bucketing, the residual range is scaled back UP by
    ``(2^bits - 1) div bucketed_range`` — exact integer math, product
    provably < 2^bits, both dimensions contribute high bits. Operands are
    cast to BIGINT first: an INT column or literal bound would overflow
    INT in the subtraction once the range passes 2^31."""
    lo = f"CAST(({cmin}) AS BIGINT)"
    r = f"(CAST(({cmax}) AS BIGINT) - {lo})"
    width = f"({r} {div} {1 << bits} + 1)"
    rq = f"greatest({r} {div} {width}, 1)"
    scale = f"({(1 << bits) - 1} {div} {rq})"
    return f"(((CAST(({col}) AS BIGINT) - {lo}) {div} {width}) * {scale})"


def zorder_key_frame(
    df: DataFrame,
    col_a: Column | str,
    col_b: Column | str,
    bits: int = ZORDER_BITS,
    key_name: str = "zkey",
) -> DataFrame:
    """Append a Morton z-key column interleaving ``col_a`` and ``col_b``
    (integer-valued expressions; cast timestamps to ``unix_micros``
    upstream). Plan: one broadcast 1-row min/max aggregate + per-row
    integer arithmetic — the quantized values are materialized as columns
    FIRST so the 2·bits-term interleave tree references cheap column
    refs, not 2·bits re-evaluations of the quantization (the engine's
    expression-duplication rule)."""
    if not 0 < bits <= 31:
        raise ValueError(f"bits must be in 1..31 (2·bits within BIGINT), got {bits}")
    a = F.col(col_a) if isinstance(col_a, str) else col_a
    b = F.col(col_b) if isinstance(col_b, str) else col_b
    stamped = df.select("*", a.cast("bigint").alias("__za"), b.cast("bigint").alias("__zb"))
    bounds = stamped.agg(
        F.min("__za").alias("__amin"),
        F.max("__za").alias("__amax"),
        F.min("__zb").alias("__bmin"),
        F.max("__zb").alias("__bmax"),
    )
    quantized = stamped.crossJoin(F.broadcast(bounds)).selectExpr(
        "*",
        f"{quantize_sql('__za', '__amin', '__amax', bits, 'div')} AS __qa",
        f"{quantize_sql('__zb', '__bmin', '__bmax', bits, 'div')} AS __qb",
    )
    return quantized.selectExpr(
        "*", f"{interleave_sql('__qa', '__qb', bits, 'div')} AS {key_name}"
    ).drop("__za", "__zb", "__amin", "__amax", "__bmin", "__bmax", "__qa", "__qb")
