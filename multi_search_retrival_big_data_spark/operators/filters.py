"""Search-space algebra — Q14: ignore-list expansion, complement,
intersection; Q23/Q24 limit semantics.

Reference: app.py:192-203 expands each ignored keyframe to its whole
shot (`get_near_frame`), unions them, complements against the id
universe (`np.delete`), and intersects with the explicit id filter and
the active search space (`np.intersect1d`) — app.py:318-328, 381-390.

Spark algebra: expansion = equi-join on the group key; complement =
anti-join; intersection = semi-join chain. The request-sized
ignore/keep lists are broadcast into the scan they filter, so a
filtered search stays one pass over the corpus."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _ids(df: DataFrame, id_col: str) -> DataFrame:
    return df.select(F.col(df.columns[0]).alias(id_col))


def expand_to_group(ids: DataFrame, dim: DataFrame, id_col: str, group_cols: list[str]) -> DataFrame:
    """Every id sharing a group with an input id (the 'whole shot of
    each ignored keyframe' expansion)."""
    groups = (
        dim.join(_ids(ids, id_col), id_col, "left_semi")
        .select(*group_cols)
        .distinct()
    )
    return dim.join(F.broadcast(groups), group_cols, "left_semi").select(id_col)


def complement(universe: DataFrame, removed: DataFrame, id_col: str) -> DataFrame:
    """np.delete equivalent — the universe's rows minus a request-sized
    removed set, as an anti-join against its broadcast."""
    return universe.join(F.broadcast(_ids(removed, id_col)), id_col, "left_anti")


def intersect_all(sets: list[DataFrame], id_col: str) -> DataFrame:
    """np.intersect1d chain as stacked semi-joins: the rows of sets[0]
    (keyed by `id_col`) whose id is in every other set."""
    return reduce(lambda acc, s: acc.join(_ids(s, id_col), id_col, "left_semi"), sets[1:], sets[0])


def build_search_space(
    dim: DataFrame,
    id_col: str,
    group_cols: list[str],
    ignore_ids: DataFrame | None = None,
    keep_ids: DataFrame | None = None,
    space: DataFrame | None = None,
) -> DataFrame:
    """The full Q14 pipeline: expand ignores → complement → intersect
    with keep set and search space. Returns the allowed rows of `dim`
    (all its columns), so a scorer can run straight over them.

    The request id filters (ignore_ids, keep_ids) are broadcast into
    the dim scan; `space` is corpus-derived and joins unhinted. With
    the identity grouping (group_cols == [id_col]) an ignored id is
    its own group, so the expansion join is skipped."""
    allowed = dim
    if ignore_ids is not None:
        removed = (
            ignore_ids
            if group_cols == [id_col]
            else expand_to_group(ignore_ids, dim, id_col, group_cols)
        )
        allowed = complement(allowed, removed, id_col)
    pieces = [allowed]
    if keep_ids is not None:
        pieces.append(F.broadcast(keep_ids))
    if space is not None:
        pieces.append(space)
    return intersect_all(pieces, id_col)
