"""Deterministic Common-Crawl-style web-pages table (the scan source).

Plays the role zen3geo's file-path streams play (reference:
/root/reference/zen3geo/datapipes/rioxarray.py:25-27 — a stream of scan
targets): the 10^12-row-shaped table ``(url, warc_ts, html, text, lang)``
per BASELINE.json:15, synthesized at any scale from ``spark.range(n)`` with
pure JVM expressions (fully distributed, no driver-side data, no Python).

Every column formula is an engine-parameterized SQL template shared with
the DuckDB oracle (``pages_cte_sql``), so extraction parity is bit-exact:
integer LCG → micro-degree fixed-point → string formatting, all in integer
arithmetic. Rows embed 0–3 well-formed ``lat=<d>.<6d> lon=<d>.<6d>``
geotags; every 11th-ish row also embeds a malformed tag the extractor must
skip; every 7th-ish row has no tag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_STR = {"spark": "string", "duckdb": "varchar"}
_DIV = {"spark": " div ", "duckdb": " // "}

PAGES_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


def _fmt_micro(m: str, e: str) -> str:
    """SQL: format a micro-degree bigint as fixed 6-decimal string."""
    s, d = _STR[e], _DIV[e]
    return (
        f"concat(case when ({m}) < 0 then '-' else '' end, "
        f"cast((abs({m}){d}1000000) as {s}), '.', "
        f"lpad(cast((abs({m}) % 1000000) as {s}), 6, '0'))"
    )


def _lcg_exprs(k: int) -> tuple[str, str]:
    """(lat_micro, lon_micro) SQL over `id` for geotag #k (engine-neutral)."""
    s = f"(((id*4 + {k}) * 48271 + 11) % 2147483647)"
    lat = f"({s} % 180000001 - 90000000)"
    s2 = f"(({s} * 48271 + 7) % 2147483647)"
    lon = f"({s2} % 360000001 - 180000000)"
    return lat, lon


def page_col_exprs(engine: str) -> dict[str, str]:
    """Column-name → SQL expr over a relation with bigint column ``id``."""
    e, s = engine, _STR[engine]
    tags = []
    for k in (1, 2, 3):
        lat, lon = _lcg_exprs(k)
        tags.append(f"concat(' lat=', {_fmt_micro(lat, e)}, ' lon=', {_fmt_micro(lon, e)})")
    n_tags = "(case when id % 7 = 3 then 0 else (id % 3) + 1 end)"
    text = (
        "concat('Crawl record ', cast(id as {s}), ' from host h', "
        "cast(id % 1000 as {s}), '.', "
        "case when {n} >= 1 then {t1} else '' end, "
        "case when {n} >= 2 then {t2} else '' end, "
        "case when {n} >= 3 then {t3} else '' end, "
        "case when id % 11 = 5 then ' lat=9x.99 lon=oops' else '' end, "
        "' Fin.')"
    ).format(s=s, n=n_tags, t1=tags[0], t2=tags[1], t3=tags[2])
    if engine == "spark":
        warc_ts = "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id)"
        html = f"cast(concat('<html><body>', {text}, '</body></html>') as binary)"
    else:
        warc_ts = "TIMESTAMP '2024-01-01 00:00:00' + to_seconds(id)"
        html = f"encode(concat('<html><body>', {text}, '</body></html>'))"
    return {
        "url": f"concat('https://example-', cast(id % 1000 as {s}), '.test/page/', cast(id as {s}))",
        "warc_ts": warc_ts,
        "html": html,
        "text": text,
        "lang": (
            "case cast(id % 5 as int) when 0 then 'en' when 1 then 'de' "
            "when 2 then 'ja' when 3 then 'ms' else 'id' end"
        ),
    }


def synth_pages(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """The pages table at scale ``n`` (distributed generation from range)."""
    exprs = page_col_exprs("spark")
    rng = spark.range(0, n, 1, partitions) if partitions else spark.range(n)
    return rng.selectExpr(*[f"{sql} as {name}" for name, sql in exprs.items()])


def pages_cte_sql(n: int, with_id: bool = False) -> str:
    """DuckDB CTE body producing the identical pages table."""
    exprs = page_col_exprs("duckdb")
    cols = ", ".join(f"{sql} as {name}" for name, sql in exprs.items())
    idcol = "id, " if with_id else ""
    return f"select {idcol}{cols} from range({n}) t(id)"


URL_HOST_SQL = "regexp_extract(url, '^https?://([^/]+)/', 1)"
URL_PID_SQL = "cast(regexp_extract(url, '/page/([0-9]+)$', 1) as bigint)"
