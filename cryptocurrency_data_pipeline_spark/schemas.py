"""Canonical schemas.

Reproduces the reference's declared schemas as explicit ``StructType``s:

* ``CRYPTO_MARKETS``  — EXPECTED_SCHEMA at glue/data_transform_s3.py:26-40
  (13 fields; ``id`` renamed to ``coin_id`` at the Silver boundary).
* ``SILVER``          — post-transform shape, glue/data_transform_s3.py:113-129
  (adds ``last_updated_ts`` + the ``update_date`` DateType partition key).
* ``DIM_COINS`` / ``DIM_DATE`` — the gold dims, glue/data_aggregate_gold.py.
* ``STREAM_TICK``     — producer payload, streaming/producer.py:19-28.
* ``DLQ_RECORD``      — rejected-row envelope, glue/data_transform_s3.py:89-94
  and streaming/consumer.py:60-65.
* ``DQ_METRIC``       — metric row, glue/data_quality_pydeequ.py:61-64.
* ``DQ_CHECK``        — constraint result row, glue/data_quality_pydeequ.py:91.

Explicit schemas are load-bearing at scale: they keep ``spark.read.json``
from schema-inference scans and let parquet readers prune columns.  The
tables the ETL stages read back (silver and the dims) are declared exactly
as parquet reads them back — every field nullable, partition columns last —
so ``spark.read.schema(...)`` skips the footer-reading inference job; a test
pins each against the schema Spark infers from the landed files.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Bronze/raw batch record (glue/data_transform_s3.py:26-40).  Nullability
# mirrors the reference: id/symbol/name/current_price/market_cap required.
CRYPTO_MARKETS = StructType(
    [
        StructField("id", StringType(), False),
        StructField("symbol", StringType(), False),
        StructField("name", StringType(), False),
        StructField("current_price", DoubleType(), False),
        StructField("market_cap", LongType(), False),
        StructField("market_cap_rank", IntegerType(), True),
        StructField("total_volume", LongType(), True),
        StructField("high_24h", DoubleType(), True),
        StructField("low_24h", DoubleType(), True),
        StructField("price_change_24h", DoubleType(), True),
        StructField("price_change_percentage_24h", DoubleType(), True),
        StructField("circulating_supply", DoubleType(), True),
        StructField("total_supply", DoubleType(), True),
    ]
)

#: Required (non-nullable) fields of the batch record — drives the
#: schema-enforcement split (glue/data_transform_s3.py:72-101).
REQUIRED_FIELDS = [f.name for f in CRYPTO_MARKETS.fields if not f.nullable]

# Silver shape (glue/data_transform_s3.py:113-129): the batch record with
# id renamed to coin_id, the audit stamp, then the partition column.
SILVER = StructType(
    [StructField("coin_id", StringType(), True)]
    + [StructField(f.name, f.dataType, True) for f in CRYPTO_MARKETS.fields if f.name != "id"]
    + [
        StructField("last_updated_ts", TimestampType(), True),
        StructField("update_date", DateType(), True),
    ]
)

# Streaming record (streaming/producer.py:19-28); ``timestamp`` arrives as an
# ISO-8601 string and is parsed to event time at the source boundary (T2).
STREAM_TICK = StructType(
    [
        StructField("coin_id", StringType(), True),
        StructField("symbol", StringType(), True),
        StructField("name", StringType(), True),
        StructField("current_price", DoubleType(), True),
        StructField("market_cap", LongType(), True),
        StructField("price_change_24h", DoubleType(), True),
        StructField("price_change_percentage_24h", DoubleType(), True),
        StructField("timestamp", StringType(), True),
    ]
)

# DLQ envelope (glue/data_transform_s3.py:89-94, streaming/consumer.py:60-65).
DLQ_RECORD = StructType(
    [
        StructField("raw_data", StringType(), True),
        StructField("error_reason", StringType(), True),
        StructField("timestamp", StringType(), True),
        StructField("validation_type", StringType(), True),
    ]
)

# DQ metric row (glue/data_quality_pydeequ.py:61-64 result shape).
DQ_METRIC = StructType(
    [
        StructField("entity", StringType(), True),
        StructField("instance", StringType(), True),
        StructField("name", StringType(), True),
        StructField("value", DoubleType(), True),
    ]
)

# DQ constraint result row (glue/data_quality_pydeequ.py:91,117-120).
DQ_CHECK = StructType(
    [
        StructField("constraint_name", StringType(), True),
        StructField("metric", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("constraint_status", StringType(), True),
    ]
)

# dim_coins shape (glue/data_aggregate_gold.py:108-112).
DIM_COINS = StructType(
    [StructField(c, StringType(), True) for c in ("coin_id", "symbol", "name")]
)

# dim_date shape (glue/data_aggregate_gold.py:144-164).
DIM_DATE = StructType(
    [
        StructField("date", DateType(), True),
        StructField("year", IntegerType(), True),
        StructField("month", IntegerType(), True),
        StructField("day", IntegerType(), True),
        StructField("quarter", IntegerType(), True),
        StructField("day_of_week", IntegerType(), True),
        StructField("week_of_year", IntegerType(), True),
        StructField("month_name", StringType(), True),
        StructField("day_name", StringType(), True),
        StructField("is_weekend", BooleanType(), True),
    ]
)
