"""Query/oracle registry behind __spark_entry__.py.

Every implemented operator registers a (spark, sf_dir) -> DataFrame
callable plus (when SQL-expressible) the equivalent DuckDB SQL the
driver runs as the correctness oracle. Column names must match between
the two — the driver sorts columns by name before hashing values.

Determinism rules used throughout (so value-hashes match):
  * money/metric aggregates go through decimal casts (order-independent
    exact sums) and are rounded + cast to double identically on both
    sides;
  * timestamp-valued output columns are formatted as strings;
  * every top-k / limit query carries a total tie-breaking order.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: register a query (and optionally its DuckDB oracle)."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def load_all_modules() -> None:
    """Import every module that registers queries (idempotent)."""
    from hive_clone_spark.operators import relational  # noqa: F401
    from hive_clone_spark.operators import extended  # noqa: F401
    from hive_clone_spark.operators import asof  # noqa: F401
    from hive_clone_spark.operators import cbo  # noqa: F401
    from hive_clone_spark.operators import sketches  # noqa: F401
    from hive_clone_spark.operators import tpch  # noqa: F401
    from hive_clone_spark.operators import graph  # noqa: F401
    from hive_clone_spark.operators import iterate  # noqa: F401
    from hive_clone_spark.operators import mview  # noqa: F401
    from hive_clone_spark.hive_game import queries as game_queries  # noqa: F401
    from hive_clone_spark.pipeline import chunking  # noqa: F401
    from hive_clone_spark.pipeline import dedup  # noqa: F401
    from hive_clone_spark.pipeline import similarity  # noqa: F401
    from hive_clone_spark.pipeline import text  # noqa: F401
    from hive_clone_spark.pipeline import multimodal  # noqa: F401
    from hive_clone_spark.pipeline import imagecodec  # noqa: F401
    from hive_clone_spark.pipeline import qoicodec  # noqa: F401
    from hive_clone_spark.pipeline import jpegcodec  # noqa: F401
    from hive_clone_spark.pipeline import exif  # noqa: F401
    from hive_clone_spark.pipeline import warc  # noqa: F401
    from hive_clone_spark.pipeline import gifcodec  # noqa: F401
    from hive_clone_spark.pipeline import webdataset  # noqa: F401
    from hive_clone_spark.pipeline import audiocodec  # noqa: F401
    from hive_clone_spark.pipeline import adpcmcodec  # noqa: F401
    from hive_clone_spark.pipeline import pdfcodec  # noqa: F401
    from hive_clone_spark.pipeline import videocodec  # noqa: F401
    from hive_clone_spark.pipeline import sampling  # noqa: F401
    from hive_clone_spark.pipeline import selection  # noqa: F401
    from hive_clone_spark.sources import avro  # noqa: F401
    from hive_clone_spark.sources import codecs  # noqa: F401
    from hive_clone_spark.sources import msgpack  # noqa: F401
    from hive_clone_spark.sources import tfrecord  # noqa: F401
    from hive_clone_spark.pipeline import tfexample  # noqa: F401
    from hive_clone_spark.sources import queries as source_queries  # noqa: F401
    from hive_clone_spark.sources import txlog  # noqa: F401
    from hive_clone_spark import sqlapi  # noqa: F401
    from hive_clone_spark.streaming import stateful  # noqa: F401
    from hive_clone_spark.streaming import windows  # noqa: F401
