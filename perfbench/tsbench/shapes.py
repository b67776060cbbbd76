"""Accept either return shape of ``tiered_rollups``.

Today it returns ``{tier: DataFrame}``; a planned single-scan rewrite
returns one DataFrame carrying a ``tier`` column.  The benchmark only
ever goes through these helpers, so it runs unchanged on both.
"""

from __future__ import annotations

TIERS = (0, 1, 2)


def tier_frames(result) -> list:
    """The DataFrames one rollup pass must execute: three in the dict
    shape, one in the single-frame shape."""
    if isinstance(result, dict):
        return [result[t] for t in sorted(result)]
    return [result]


def tier_frame(result, tier: int):
    """Rows of one tier, whichever shape ``result`` has."""
    if isinstance(result, dict):
        return result[tier]
    from pyspark.sql import functions as F

    return result.filter(F.col("tier") == tier)
