"""Vector scalar expressions — pure Column combinators, no UDFs.

The reference's dense path is FAISS `IndexFlatIP` over L2-normalized
CLIP vectors (reference: utils/faiss_processing.py:17-22,39-41;
data_extraction/create_bin.ipynb cells 3,8), i.e. cosine == dot
product. Here the same math is a Catalyst expression over
ARRAY<FLOAT>/ARRAY<DOUBLE> columns: `aggregate(zip_with(...))` runs
inside whole-stage codegen on executors, so a brute-force scan
parallelizes across partitions exactly like FAISS's flat scan
parallelizes across threads — but horizontally scalable.

All accumulation is DOUBLE (the DuckDB oracle and NumPy reductions are
double) regardless of the stored FLOAT element type.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def lit_vec(values: Sequence[float]) -> Column:
    """A literal query vector as ARRAY<DOUBLE> (broadcast to executors
    inside the plan — the Spark analogue of handing FAISS a query row)."""
    return F.array(*[F.lit(float(v)) for v in values])


def lit_lookup(keys: Sequence[ColumnOrName], values: Mapping[tuple, float]) -> Column:
    """A request-sized sparse vector as literals: CASE WHEN keys = k
    THEN v ... END, NULL for a key it does not list. The sparse sibling
    of lit_vec — a query's term weights ride in the plan instead of a
    query relation that must be joined (and broadcast, one job) into
    it."""
    cols = [_c(k) for k in keys]
    out = None
    for key, v in values.items():
        cond = reduce(lambda a, b: a & b, [c == F.lit(x) for c, x in zip(cols, key)])
        out = F.when(cond, F.lit(float(v))) if out is None else out.when(cond, F.lit(float(v)))
    return out if out is not None else F.lit(None).cast("double")


def dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Inner product with double accumulation, left-to-right (matches
    sequential accumulation in the oracle)."""
    a, b = _c(a).cast("array<double>"), _c(b).cast("array<double>")
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: ColumnOrName) -> Column:
    return F.sqrt(dot(a, a))


def l2_normalize(a: ColumnOrName) -> Column:
    """vec / ||vec|| — the ingest-time invariant the reference bakes in
    (clip.ipynb cell 7: `feats /= feats.norm(dim=-1, keepdim=True)`) so
    query-time cosine is a plain dot product."""
    a = _c(a).cast("array<double>")
    n = l2_norm(a)
    return F.transform(a, lambda x: x / n)


def cosine_sim(a: ColumnOrName, b: ColumnOrName) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def l2_dist(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Euclidean distance (reference tag KNN uses IndexFlatL2 —
    utils/semantic_embed/tag_retrieval.py:24-47)."""
    a, b = _c(a).cast("array<double>"), _c(b).cast("array<double>")
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
