"""Deterministic synthetic gazetteer (toponym -> location dimension).

Geocoding web pages against a place-name gazetteer (GeoNames-style:
name, location, population) is the other half of the north rule's
"geolocations extracted from page text/metadata" — pages whose text
carries no coordinate tag are located by joining an extracted toponym
(here: the crawl host, the one token every synthetic page carries)
against a reference dimension, with AMBIGUOUS names (several gazetteer
rows sharing one name) resolved by population rank. The dimension is
dimension-sized, so the join side is a broadcast, never a shuffle.

Same engine-parameterized SQL-template discipline as sources/pages.py:
one formula, two dialects, bit-identical rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_STR = {"spark": "string", "duckdb": "varchar"}

GAZETTEER_N = 1500  # rows; names collide mod 700 => ~2.1 rows/name
GAZETTEER_NAMES = 700  # distinct names (hosts 700..999 stay unmatched)


def gazetteer_col_exprs(engine: str) -> dict[str, str]:
    """Column-name -> SQL expr over a relation with bigint column ``id``."""
    s = _STR[engine]
    st = f"((id * 48271 + 13) % 2147483647)"
    st2 = f"(({st} * 48271 + 29) % 2147483647)"
    st3 = f"(({st2} * 16807 + 3) % 2147483647)"
    return {
        "gaz_id": "id",
        "name": f"concat('example-', cast(id % {GAZETTEER_NAMES} as {s}), '.test')",
        "lat_us": f"({st} % 180000001 - 90000000)",
        "lon_us": f"({st2} % 360000001 - 180000000)",
        "population": f"({st3} % 1000000)",
    }


def synth_gazetteer(spark: SparkSession) -> DataFrame:
    cols = gazetteer_col_exprs("spark")
    return spark.range(GAZETTEER_N).selectExpr(
        *[f"{expr} as {name}" for name, expr in cols.items()])


def gazetteer_cte_sql() -> str:
    """DuckDB relation body (SELECT ...) producing the same rows."""
    cols = gazetteer_col_exprs("duckdb")
    exprs = ", ".join(f"{expr} as {name}" for name, expr in cols.items())
    return f"select {exprs} from (select g.range as id from range({GAZETTEER_N}) g)"
