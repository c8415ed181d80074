"""Per-pixel transforms used by the reference's documented pipelines.

Each is a pure JVM expression (whole-stage codegen; no Python):

* linear→decibel with zero masking: ``10 * log10(nullif(x, 0))``
  (/root/reference/docs/vector-segmentation-masks.md:134-143)
* longitude shift to [-180, 180): ``((lon + 180) % 360) - 180``
  (/root/reference/docs/multi-resolution.md:171-179)
* month-boundary split key for time series flat-mapping
  (/root/reference/docs/multi-resolution.md:354-370)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def linear_to_decibel(x: Column) -> Column:
    """10*log10(x) with zeros masked to NULL (the reference masks zeros
    before log to avoid -inf)."""
    return F.lit(10.0) * F.log10(F.nullif(x, F.lit(0.0)))


def shift_longitude(lon: Column) -> Column:
    """[0,360) → [-180,180) (pmod keeps the result non-negative first)."""
    return F.pmod(lon + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)


def month_key(ts: Column) -> Column:
    """Month-boundary split key (FlatMapper on month boundaries ≙ explode
    by this key / groupBy it)."""
    return F.date_trunc("month", ts)
