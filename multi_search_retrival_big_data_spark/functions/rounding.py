"""Engine-portable deterministic rounding for oracle-compared scores.

Spark's ROUND (HALF_UP via BigDecimal on the shortest string repr) and
DuckDB's ROUND (on the binary double) can disagree on boundary values,
which is enough to flip top-k membership at exact .5·10^-s boundaries.
FLOOR(x·10^s + 0.5)/10^s uses only exact IEEE ops (multiply, add,
floor) and is bit-identical in both engines — every score an operator
rounds for comparison goes through this, never F.round.
"""

from __future__ import annotations

import math
from collections.abc import Iterable
from functools import reduce
from operator import add

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


def det_round(col: Column, scale: int = 6) -> Column:
    m = F.lit(float(10**scale))
    return F.floor(col * m + F.lit(0.5)).cast("double") / m


def _quantize(col: Column, scale: int) -> Column:
    return F.floor(col * float(10**scale) + F.lit(0.5)).cast("decimal(38,0)")


def quantized_sum(col: Column, scale: int = 12) -> Column:
    """Order-independent, engine-independent SUM of a double expression:
    quantize each addend exactly, sum as DECIMAL(38,0) (commutative),
    divide back. Valid while |x|·10^scale < 2^53 per row."""
    return F.sum(_quantize(col, scale)).cast("double") / F.lit(float(10**scale))


def quantized_row_sum(cols: list[Column], scale: int = 12) -> Column:
    """quantized_sum ACROSS expressions of one row — the same quantized
    addends and exact DECIMAL total, so a sum over request-sized
    literals (one addend per literal) equals the grouped aggregate it
    replaces bit for bit."""
    total = reduce(add, [_quantize(c, scale) for c in cols])
    return total.cast("double") / F.lit(float(10**scale))


# The driver-side twins below replay the two expressions above on
# request-sized rows that a plan has already collected. Spark's FLOOR
# of a double yields a BIGINT (NaN → 0, ±∞ → the BIGINT bounds) that
# is then cast back; everything else is the same IEEE operation in the
# same order, so the results are bit-identical.


def det_round_np(x, scale: int = 6) -> np.ndarray:
    """det_round of a double (array) on the driver."""
    m = float(10**scale)
    fl = np.floor(np.asarray(x, dtype=np.float64) * m + 0.5)
    return np.nan_to_num(fl, nan=0.0, posinf=float(2**63 - 1), neginf=float(-(2**63))) / m


def quantized_sum_py(values: Iterable[float], scale: int = 12) -> float:
    """quantized_sum of finite doubles on the driver: exact integer
    addends, exact total, one correctly rounded conversion back."""
    m = float(10**scale)
    return float(sum(math.floor(v * m + 0.5) for v in values)) / m
