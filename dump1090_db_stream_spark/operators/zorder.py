"""Z-order (Morton) clustering for multi-dimensional data skipping.

The date-partitioned store (``sinks.writers``) prunes on ONE dimension;
real scan workloads filter on several (time AND position, user AND
value).  Sorting by any single column makes the other columns' per-file
min/max ranges span the whole domain — their parquet statistics prune
nothing.  Interleaving the bits of several quantized columns into one
Morton key and range-clustering a write on that key
(``repartitionByRange`` + ``sortWithinPartitions``) keeps EVERY
participating column locally narrow per file, so engine-native
min/max/row-group skipping works on all of them at once.  This is the
same layout trick Delta/Iceberg expose as ``OPTIMIZE ... ZORDER BY``.

Scale design: the z-value is a pure projection (a fixed sum of
shift/mask terms — whole-stage codegen, no Python, no UDF).

Engine portability: quantization and bit interleaving use only
integer arithmetic (``floor``, ``shiftright``, ``&``, ``*``) — the
DuckDB oracle replays the exact key (contract query ``zorder_keys``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def quantize_uniform(col: Column | str, lo: float, hi: float,
                     bits: int) -> Column:
    """Uniform bucketing of a numeric column into ``[0, 2**bits)``.

    Values at/below ``lo`` map to 0, at/above ``hi`` to ``2**bits - 1``
    (clamping keeps outliers from wrapping), NULL stays NULL (callers
    decide NULL placement; :func:`zvalue` coalesces to 0 so NULL rows
    cluster together at the low end).  The bounds are caller-supplied
    literals — at scale they come from a profile pass or are known
    domain constants; baking them in keeps the key DETERMINISTIC under
    data growth (a re-derived min/max would reshuffle every key).
    """
    c = F.col(col) if isinstance(col, str) else col
    n = (1 << bits) - 1
    scaled = F.floor((c.cast("double") - F.lit(float(lo)))
                     / F.lit(float(hi) - float(lo)) * F.lit(n + 1))
    return F.least(F.greatest(scaled, F.lit(0)), F.lit(n)).cast("long")


def quantize_uniform_sql(expr: str, lo: float, hi: float,
                         bits: int) -> str:
    """Oracle twin of :func:`quantize_uniform`."""
    n = (1 << bits) - 1
    scaled = (f"floor((CAST({expr} AS DOUBLE) - {float(lo)!r})"
              f" / {float(hi) - float(lo)!r} * {n + 1})")
    return f"CAST(least(greatest({scaled}, 0), {n}) AS BIGINT)"


def zvalue(cols: list[Column | str], bits: int = 16) -> Column:
    """Morton key: interleave ``bits`` low bits of each column.

    Bit ``b`` of column ``i`` lands at output bit ``b * n_cols + i``,
    so the key's high bits mix all columns equally — the property that
    makes a RANGE of keys a small HYPERCUBE of the original space.
    Inputs must already be non-negative ints below ``2**bits``
    (:func:`quantize_uniform`); NULL coalesces to 0.  Total key width
    ``bits * n_cols`` must fit a signed 64-bit int (<= 62).
    """
    n_cols = len(cols)
    if bits * n_cols > 62:
        raise ValueError(
            f"zvalue width {bits}*{n_cols} exceeds 62 bits — lower "
            "bits or interleave fewer columns")
    out = F.lit(0).cast("long")
    for i, col in enumerate(cols):
        c = F.col(col) if isinstance(col, str) else col
        c = F.coalesce(c.cast("long"), F.lit(0))
        for b in range(bits):
            out = out + F.shiftleft(
                F.shiftright(c, b).bitwiseAND(F.lit(1)),
                b * n_cols + i)
    return out


def zvalue_sql(exprs: list[str], bits: int = 16) -> str:
    """Oracle twin of :func:`zvalue` (same shift/mask terms)."""
    terms = []
    n_cols = len(exprs)
    for i, e in enumerate(exprs):
        ce = f"coalesce(CAST({e} AS BIGINT), 0)"
        for b in range(bits):
            terms.append(f"((({ce} >> {b}) & 1) << {b * n_cols + i})")
    return "(" + " + ".join(terms) + ")"
