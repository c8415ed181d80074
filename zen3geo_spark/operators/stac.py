"""Catalog search over an item-metadata table: the STAC surface for Spark.

Reference semantics: PySTACAPISearcher builds a DEFERRED query from
``{bbox, datetime, collections}`` dicts
(/root/reference/zen3geo/datapipes/pystac_client.py:24-39,127-132);
PySTACAPIItemLister flattens a search into items (:229-230) and
``matched()`` counts server-side (:232-233); PySTACItemReader loads one
item's metadata (/root/reference/zen3geo/datapipes/pystac.py:91-93).

Spark shape: the deferred ItemSearch IS a lazy filtered DataFrame —
bbox-intersects + datetime-between + collection-in predicates that Catalyst
pushes into the parquet scan of the item table; listing = just using the
plan; matched = count. Nothing custom, and that's the point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def search(items: DataFrame, bbox: tuple[float, float, float, float] | None = None,
           datetime_range: tuple[str, str] | None = None,
           collections: list[str] | None = None) -> DataFrame:
    """Deferred catalog query → lazy filtered DataFrame."""
    out = items
    if bbox is not None:
        qxmin, qymin, qxmax, qymax = bbox
        out = out.filter(
            (F.col("minx") < qxmax) & (F.col("maxx") > qxmin)
            & (F.col("miny") < qymax) & (F.col("maxy") > qymin)
        )
    if datetime_range is not None:
        t0, t1 = datetime_range
        out = out.filter(F.col("dt").between(F.lit(t0).cast("timestamp"),
                                             F.lit(t1).cast("timestamp")))
    if collections is not None:
        out = out.filter(F.col("collection").isin(collections))
    return out


def matched(search_df: DataFrame) -> int:
    """ItemSearch.matched() ≙ count of the lazy plan."""
    return search_df.count()


def list_items(search_df: DataFrame) -> DataFrame:
    """PySTACAPIItemLister ≙ the executed plan itself (a no-op stage
    boundary in a DataFrame pipeline)."""
    return search_df
