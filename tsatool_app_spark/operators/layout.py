"""Data-layout operators: Z-order (Morton) clustering keys.

Multi-dimensional range queries (station × time, user × value band) read
far fewer files when the data is laid out along a space-filling curve:
sorting by the interleaved-bit Morton code keeps rows close in BOTH
dimensions close in the file order, so parquet min/max stats prune on
either predicate. This is the `OPTIMIZE ... ZORDER BY` idea from
lakehouse table formats, expressed as a pure Column so it works with
plain `repartitionByRange(zorder_key(...)).sortWithinPartitions(...)`
writes.

The bit arithmetic is shift/mask only — identical in Spark and any SQL
engine (the driver query's DuckDB oracle is generated from the same
Python loop, so the two cannot drift).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_key(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton-interleave the low ``bits`` of two non-negative integer
    columns into one long: z = ... y1 x1 y0 x0. Values are clamped into
    [0, 2^bits) so outliers cannot wrap the curve."""
    cap = (1 << bits) - 1
    xc = F.least(F.greatest(x.cast("long"), F.lit(0)), F.lit(cap))
    yc = F.least(F.greatest(y.cast("long"), F.lit(0)), F.lit(cap))
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z + F.shiftleft(F.shiftright(xc, i).bitwiseAND(1), 2 * i)
        z = z + F.shiftleft(F.shiftright(yc, i).bitwiseAND(1), 2 * i + 1)
    return z


def zorder_sql(x_expr: str, y_expr: str, bits: int = 16) -> str:
    """The SAME interleave as :func:`zorder_key`, rendered as engine-neutral
    SQL (generated from one loop so Spark and the oracle cannot drift)."""
    cap = (1 << bits) - 1
    xc = f"least(greatest(CAST({x_expr} AS BIGINT), 0), {cap})"
    yc = f"least(greatest(CAST({y_expr} AS BIGINT), 0), {cap})"
    terms = []
    for i in range(bits):
        terms.append(f"((({xc} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({yc} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def zorder_key_n(cols: list[Column], bits: int = 10) -> Column:
    """Morton interleave for ANY number of dimensions: bit i of column j
    lands at position i·k + j (k = len(cols)) — the n-dim generalization
    of :func:`zorder_key` for layouts clustered on 3+ filter columns
    (e.g. station × sensor × day).  k·bits must fit a long (≤ 63);
    values clamp into [0, 2^bits) so outliers cannot wrap the curve."""
    k = len(cols)
    if k < 2:
        raise ValueError("zorder_key_n needs >= 2 columns")
    if k * bits > 63:
        raise ValueError(f"{k} cols x {bits} bits exceeds a long")
    cap = (1 << bits) - 1
    clamped = [
        F.least(F.greatest(c.cast("long"), F.lit(0)), F.lit(cap)) for c in cols
    ]
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(clamped):
            z = z + F.shiftleft(F.shiftright(c, i).bitwiseAND(1), i * k + j)
    return z


def zorder_sql_n(col_exprs: list[str], bits: int = 10) -> str:
    """The SAME n-dim interleave as :func:`zorder_key_n` rendered as
    engine-neutral SQL (one generator loop, so the two cannot drift)."""
    k = len(col_exprs)
    cap = (1 << bits) - 1
    clamped = [
        f"least(greatest(CAST({e} AS BIGINT), 0), {cap})" for e in col_exprs
    ]
    terms = [
        f"((({c} >> {i}) & 1) << {i * k + j})"
        for i in range(bits)
        for j, c in enumerate(clamped)
    ]
    return "(" + " + ".join(terms) + ")"
