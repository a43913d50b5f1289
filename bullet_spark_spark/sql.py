"""Text-query surface.

Bullet exposes BQL (a SQL dialect parsed by bullet-bql in the web service;
the backend receives pre-compiled Query POJOs — reference
BulletSparkStreamingBaseJobTest.scala:40-41 ships serialized ``Query``
objects, never text). In a Spark-first engine the equivalent stance is:
Spark SQL *is* the query language — every registered source is a view, so a
BQL-style text query is just ``spark.sql`` against them, batch or streaming.
This module is the thin facade that keeps that contract explicit, plus the
BQL front door (``bql``, ``bql_result``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bullet_spark_spark.plans.compiler import compile_query


def sql(spark: SparkSession, text: str) -> DataFrame:
    """Run a text query over the registered source views (batch; a streaming
    view produces an unbounded DataFrame to hand to EngineRuntime)."""
    return spark.sql(text)


def bql(spark: SparkSession, text: str, df: DataFrame | None = None) -> DataFrame:
    """BQL text → Query spec → DataFrame plan (batch; pass ``df`` to bind
    ``FROM STREAM()`` or override the source — e.g. an unbounded stream).

    The missing front door of the reference stack: bullet-bql parses query
    text in the web service and ships compiled Query objects to the backend
    (BulletSparkStreamingBaseJobTest.scala:40-41); ``parse_bql`` is that
    parser, and the spec it emits is identical to one built via the
    programmatic API."""
    from bullet_spark_spark.plans.bql import parse_bql

    return compile_query(spark, parse_bql(text), df=df)


def bql_result(
    spark: SparkSession, text: str, df: DataFrame | None = None
) -> dict:
    """BQL text → bullet's RESULT ENVELOPE: ``{"records": [...], "meta":
    {...}}`` — the JSON shape bullet's PubSub publishes per query, where
    sketch-estimated aggregations carry sketch metadata (was_estimated,
    family, std-error bounds) beside the records [D].

    For APPROX COUNT DISTINCT (``APPROX_COUNT_DISTINCT(...)`` in BQL) the
    meta is the HLL envelope from ``operators.sketch.hll_result_meta``
    (estimate, relative_std_error = 1.04/sqrt(2^lgk), 1/2/3-sigma
    bounds). Exact aggregations return ``meta: {"was_estimated": False}``
    — the reference's non-estimated results likewise carry no sketch
    section."""
    from bullet_spark_spark.operators.sketch import hll_result_meta
    from bullet_spark_spark.plans.bql import parse_bql
    from bullet_spark_spark.plans.spec import CountDistinctAgg

    spec = parse_bql(text)
    out = compile_query(spark, spec, df=df)
    records = [r.asDict(recursive=True) for r in out.collect()]
    agg = spec.aggregation
    if isinstance(agg, CountDistinctAgg) and agg.approx and records:
        estimate = next(iter(records[0].values()))
        return {"records": records, "meta": hll_result_meta(estimate)}
    return {"records": records, "meta": {"was_estimated": False}}
