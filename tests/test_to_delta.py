"""Pin ``engine._to_delta``: every branch the engine writes comes out
with exactly the delta columns, in write order, with their declared
types, whatever the branch frame carried."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import _parse_datatype_string

from krawler_spark import schemas
from krawler_spark.engine import _DELTA_COLS, _LINKS_T, _to_delta

_ROW = ("http://a.com/x", "a.com", 7, "http://a.com/", 1, 1, 2, 5)


def _expected():
    return [(n, _parse_datatype_string(t).simpleString()) for n, t in _DELTA_COLS] + [
        ("kind", "string")
    ]


def _frontier(spark):
    # an extra column the projection must drop
    return spark.createDataFrame([_ROW], schemas.FRONTIER).withColumn("_x", F.lit(1.5))


def _branch(spark, kind):
    """(frame, named columns) shaped like the engine's call site."""
    fr = _frontier(spark)
    if kind == "visited":
        src = fr.withColumns({
            "_hs": F.lit(3), "_visit": F.lit(True),
            "_rstatus": F.lit(None).cast("int"), "_pstatus": F.lit(404),
            "_counting": F.lit(True), "text": F.lit("t"), "lang": F.lit("en"),
            "_clen": F.lit(12), "links": F.lit(None).cast(_LINKS_T),
        })
        return src, dict(
            host_seq=F.col("_hs").cast("int"),
            action=F.when(F.col("_visit"), F.lit("visit")).otherwise(F.lit("check")),
            status=F.coalesce(F.col("_rstatus"), F.col("_pstatus"), F.lit(200)),
            counting=F.col("_counting"),
            text=F.col("text"), lang=F.col("lang"),
            clen=F.col("_clen").cast("long"),
            links=F.coalesce(F.col("links"), F.from_json(F.lit("[]"), _LINKS_T)),
        )
    if kind == "fetch_error":
        return fr.withColumn("_hit", F.lit(False)), dict(detail=F.lit("no corpus row"))
    if kind == "unexpected_status":
        return fr.withColumn("_pstatus", F.lit(503)), dict(
            detail=F.col("_pstatus").cast("string"))
    if kind == "host_state":
        # an input host_seq of another type, replaced by an int expression
        src = spark.createDataFrame([("a.com", 4, 9)], "host string, _n long, host_seq long")
        return src, dict(host_seq=F.col("_n").cast("int"))
    return fr, {}


_KINDS = ["visited", "fetch_error", "filtered", "robots_denied", "budget_extra",
          "repeat_visit", "depth_cut", "unexpected_status", "child", "deferred",
          "host_state"]


@pytest.mark.parametrize("kind", _KINDS)
def test_to_delta_schema_per_kind(spark, kind):
    src, cols = _branch(spark, kind)
    out = _to_delta(src, kind, **cols)
    got = [(f.name, f.dataType.simpleString()) for f in out.schema.fields]
    assert got == _expected()
    row = out.collect()[0]
    assert row["kind"] == kind
    # complex columns the branch lacks are typed NULLs
    assert row["redirect_history"] is None
    if kind != "visited":
        assert row["links"] is None


def test_to_delta_named_columns(spark):
    src, cols = _branch(spark, "visited")
    row = _to_delta(src, "visited", **cols).collect()[0]
    assert (row["url"], row["host_seq"], row["action"], row["status"],
            row["clen"], row["links"]) == ("http://a.com/x", 3, "visit", 404, 12, [])
    assert row["id"] is None and row["detail"] is None

    src, cols = _branch(spark, "host_state")
    row = _to_delta(src, "host_state", **cols).collect()[0]
    assert (row["host"], row["host_seq"], row["url"]) == ("a.com", 4, None)


def test_to_delta_empty_branch(spark):
    empty = spark.createDataFrame([], schemas.FRONTIER)
    out = _to_delta(empty, "repeat_visit").limit(0)
    got = [(f.name, f.dataType.simpleString()) for f in out.schema.fields]
    assert got == _expected()
    assert out.count() == 0
