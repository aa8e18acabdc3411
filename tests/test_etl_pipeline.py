"""End-to-end medallion ETL: bronze fixtures → silver → DQ gate → gold,
with DLQ routing, abort-on-failure, and merge idempotence."""

import os

import pytest

from cryptocurrency_data_pipeline_spark import schemas
from cryptocurrency_data_pipeline_spark.operators.quality import DQGateError
from cryptocurrency_data_pipeline_spark.plans import etl
from cryptocurrency_data_pipeline_spark.plans.runner import StageStatus
from cryptocurrency_data_pipeline_spark.sources import ingestion


def _record(i, **over):
    rec = {
        "id": f"coin-{i}",
        "symbol": f"c{i}",
        "name": f"Coin {i}",
        "current_price": 10.0 + i,
        "market_cap": 1_000_000_000 + i,
        "market_cap_rank": i + 1,
        "total_volume": 500_000,
        "high_24h": 12.0 + i,
        "low_24h": 9.0 + i,
        "price_change_24h": 0.5,
        "price_change_percentage_24h": 1.5,
        "circulating_supply": 1e6,
        "total_supply": 2e6,
    }
    rec.update(over)
    return rec


def _paths(tmp_path):
    return etl.EtlPaths(
        bronze=str(tmp_path / "bronze"),
        silver=str(tmp_path / "silver"),
        dlq=str(tmp_path / "dlq"),
        metrics=str(tmp_path / "metrics"),
        gold_fact=str(tmp_path / "gold/fact"),
        gold_dim_coins=str(tmp_path / "gold/dim_coins"),
        gold_dim_date=str(tmp_path / "gold/dim_date"),
    )


def test_full_pipeline(spark, tmp_path):
    paths = _paths(tmp_path)
    records = [_record(i) for i in range(60)]
    records.append(_record(99, id=None))            # missing required -> DLQ
    records.append(_record(0))                      # dup coin-0 -> deduped
    ingestion.write_bronze(records, paths.bronze, run_id="r1")

    events = []
    results = etl.build_etl_pipeline(spark, paths, notifier=events.append).run()
    assert [r.status for r in results] == [StageStatus.SUCCEEDED] * 3
    assert events[-1]["status"] == "SUCCEEDED"

    silver_df = spark.read.parquet(paths.silver)
    assert silver_df.count() == 60                  # 62 in, 1 DLQ'd, 1 deduped
    assert "coin_id" in silver_df.columns
    assert spark.read.json(paths.dlq).count() == 1
    metrics_df = spark.read.parquet(paths.metrics)
    # profile rows (>=10) plus the 3 write-path Observation rows that ride
    # the silver write at zero extra scans
    assert metrics_df.count() >= 13
    sizes = [r.value for r in metrics_df.collect() if r.name == "Size"]
    assert 60.0 in sizes

    fact = spark.read.parquet(paths.gold_fact)
    assert fact.count() == 60
    assert spark.read.parquet(paths.gold_dim_coins).count() == 60
    assert spark.read.parquet(paths.gold_dim_date).count() == 1
    # First load publishes the dims by rename: no tmp copy stays behind.
    assert sorted(os.listdir(tmp_path / "gold")) == ["dim_coins", "dim_date", "fact"]

    # Idempotence: re-running the same day must not duplicate gold history.
    results2 = etl.build_etl_pipeline(spark, paths, notifier=events.append).run()
    assert [r.status for r in results2] == [StageStatus.SUCCEEDED] * 3
    assert spark.read.parquet(paths.gold_fact).count() == 60
    assert spark.read.parquet(paths.gold_dim_coins).count() == 60
    assert spark.read.parquet(paths.gold_dim_date).count() == 1
    # Swapping over the existing dims leaves no *_tmp, __tmp_* or __old_*
    # sibling directory either.
    assert sorted(os.listdir(tmp_path / "gold")) == ["dim_coins", "dim_date", "fact"]


def test_declared_read_schemas_match_the_landed_tables(spark, tmp_path):
    """The stages read silver and the dims with declared schemas (no
    schema-inference job).  A declared schema that drifts from what the
    stages write would read NULL columns silently, so pin it to the
    schema Spark infers from the landed files."""
    paths = _paths(tmp_path)
    ingestion.write_bronze([_record(i) for i in range(5)], paths.bronze, run_id="r1")
    results = etl.build_etl_pipeline(spark, paths).run()
    assert [r.status for r in results] == [StageStatus.SUCCEEDED] * 3
    for path, declared in [
        (paths.silver, schemas.SILVER),
        (paths.gold_dim_coins, schemas.DIM_COINS),
        (paths.gold_dim_date, schemas.DIM_DATE),
    ]:
        assert spark.read.parquet(path).schema == declared, path


def test_dq_gate_aborts_pipeline(spark, tmp_path):
    paths = _paths(tmp_path)
    bad = [_record(i, current_price=-5.0) for i in range(10)]  # price <= 0
    ingestion.write_bronze(bad, paths.bronze, run_id="r1")
    events = []
    results = etl.build_etl_pipeline(spark, paths, notifier=events.append).run()
    assert results[-1].status == StageStatus.FAILED
    assert "price positive" in results[-1].error
    assert events[-1]["status"] == "FAILED" and events[-1]["stage"] == "quality"
    assert DQGateError.__name__ in results[-1].error


def test_empty_input_short_circuits(spark, tmp_path):
    paths = _paths(tmp_path)
    ingestion.write_bronze([], paths.bronze, run_id="empty")
    results = etl.build_etl_pipeline(spark, paths).run()
    assert results[0].status == StageStatus.SKIPPED
    assert len(results) == 1


def test_corrupt_bronze_rows_excluded(spark, tmp_path):
    paths = _paths(tmp_path)
    path = ingestion.write_bronze([_record(1)], paths.bronze, run_id="r1")
    with open(path, "a") as f:
        f.write("{this is not json\n")
    df = ingestion.read_bronze(spark, paths.bronze)
    assert df.count() == 2
    assert df.filter(df._corrupt_record.isNotNull()).count() == 1
    results = etl.build_etl_pipeline(spark, paths).run()
    assert results[0].status == StageStatus.SUCCEEDED
    assert spark.read.parquet(paths.silver).count() == 1


def test_bronze_schema_evolution_land_then_enforce(spark, tmp_path):
    """A new upstream field must be detectable and promotable, never
    silently lost (reference lands evolving schemas via mergeSchema)."""
    from pyspark.sql.types import StringType, StructField

    paths = _paths(tmp_path)
    recs = [
        _record(1, platform="ethereum"),
        _record(2, platform="solana"),
        _record(3),
    ]
    ingestion.write_bronze(recs, paths.bronze, run_id="r1")

    # Default read: declared schema only — but drift is visible on demand.
    tracked = ingestion.read_bronze(spark, paths.bronze, track_new_fields=True)
    flagged = tracked.filter("size(_new_fields) > 0")
    assert flagged.count() == 2
    assert flagged.select("_new_fields").first()[0] == ["platform"]

    # Discovery feed: field name + how many rows carry it.
    report = {r.field: r.n_rows for r in
              ingestion.new_field_report(spark, paths.bronze).collect()}
    assert report == {"platform": 2}

    # Promotion: the discovered field reads typed; absent rows are null.
    promoted = ingestion.read_bronze(
        spark, paths.bronze,
        extra_fields=[StructField("platform", StringType(), True)],
    )
    vals = {r.id: r.platform for r in promoted.collect()}
    assert vals == {"coin-1": "ethereum", "coin-2": "solana", "coin-3": None}

    # Raw retention: bronze keeps the full payload for later backfill.
    raw = ingestion.read_bronze(spark, paths.bronze, keep_raw=True)
    assert all("platform" in r._raw for r in raw.collect() if r.id != "coin-3")

    # Inference fallback (the mergeSchema analog) sees the union schema.
    inferred = ingestion.infer_bronze_schema(spark, paths.bronze)
    assert "platform" in inferred.fieldNames()


def test_replay_dlq_recovers_after_rule_relaxation(spark, tmp_path):
    """The operational half of the DLQ contract: after a rules change
    (here: a required field demoted to optional), replay drains the
    recoverable envelopes into silver through the standard path and
    rewrites the DLQ with only the still-failing ones; a second replay
    is a no-op."""
    from cryptocurrency_data_pipeline_spark.schemas import REQUIRED_FIELDS

    paths = _paths(tmp_path)
    records = [_record(i) for i in range(10)]
    records.append(_record(90, market_cap=None))   # fails: required field
    records.append(_record(91, id=None))           # fails forever: no key
    ingestion.write_bronze(records, paths.bronze, run_id="r1")
    results = etl.build_etl_pipeline(spark, paths).run()
    assert all(r.status == StageStatus.SUCCEEDED for r in results)
    assert spark.read.parquet(paths.silver).count() == 10
    assert spark.read.json(paths.dlq).count() == 2

    relaxed = [f for f in REQUIRED_FIELDS if f != "market_cap"]
    recovered, still_bad = etl.replay_dlq(spark, paths, required=relaxed)
    assert (recovered, still_bad) == (1, 1)
    silver_df = spark.read.parquet(paths.silver)
    assert silver_df.count() == 11
    assert silver_df.filter("coin_id = 'coin-90'").count() == 1
    # The DLQ now holds only the unrecoverable envelope.
    assert spark.read.json(paths.dlq).count() == 1

    # Idempotence: replaying again recovers nothing and changes nothing.
    recovered2, still_bad2 = etl.replay_dlq(spark, paths, required=relaxed)
    assert (recovered2, still_bad2) == (0, 1)
    assert spark.read.parquet(paths.silver).count() == 11


def test_versioned_bronze_read_mid_stream_drift(spark, tmp_path):
    """A field appearing mid-stream lands typed under the merged schema
    with per-row version provenance, and Silver enforcement over the
    widened surface is unaffected; an UNREGISTERED field surfaces in
    _unknown_fields instead of being dropped."""
    from pyspark.sql.types import StringType, StructField, StructType

    from cryptocurrency_data_pipeline_spark.operators import silver
    from cryptocurrency_data_pipeline_spark.schemas import CRYPTO_MARKETS

    land = str(tmp_path / "bronze")
    # Run 1 writes the v1 field set; run 2 adds `platform` (registered as
    # v2); run 3 adds `chain_tvl`, which NO registered version declares.
    ingestion.write_bronze([_record(1), _record(2)], land, run_id="r1")
    ingestion.write_bronze([_record(3, platform="ethereum")], land, run_id="r2")
    ingestion.write_bronze(
        [_record(4, platform="solana", chain_tvl=1.5)], land, run_id="r3"
    )

    v1 = CRYPTO_MARKETS
    v2 = StructType(
        list(CRYPTO_MARKETS.fields) + [StructField("platform", StringType(), True)]
    )
    bronze = ingestion.read_bronze_versioned(spark, land, [v1, v2])

    rows = {r.id: r for r in bronze.collect()}
    assert rows["coin-1"]._schema_version == 1
    assert rows["coin-1"].platform is None  # widened surface, null backfill
    assert rows["coin-3"]._schema_version == 2
    assert rows["coin-3"].platform == "ethereum"
    # Novel drift: no version covers it -> NULL version + named field.
    assert rows["coin-4"]._schema_version is None
    assert rows["coin-4"]._unknown_fields == ["chain_tvl"]
    assert rows["coin-4"].platform == "solana"  # known fields still parse

    # Silver enforcement over the widened frame: all four rows pass the
    # required-field split exactly as if no drift had happened.
    valid, dlq = silver.enforce_schema_split(
        bronze, ["id", "symbol", "current_price"]
    )
    assert valid.count() == 4 and dlq.count() == 0


def test_backfill_recomputes_only_missing_fact_partitions(spark, tmp_path):
    """Delete one fact date partition; the backfill finds exactly it,
    restores its rows, and leaves other partitions' files untouched."""
    import glob
    import os
    import shutil

    import pyspark.sql.functions as F

    paths = _paths(tmp_path)
    # Multi-day silver written directly (the live pipeline stamps a single
    # current_date; backfill is about historical ranges).
    silver_df = spark.createDataFrame(
        [
            (f"coin-{i}", f"c{i}", f"Coin {i}", 10.0 + i, d)
            for i in range(6)
            for d in ["2024-01-01", "2024-01-02", "2024-01-03"]
        ],
        "coin_id string, symbol string, name string, current_price double, update_date string",
    ).withColumn("update_date", F.to_date("update_date"))
    silver_df.write.partitionBy("update_date").parquet(paths.silver)
    from cryptocurrency_data_pipeline_spark.operators import gold

    gold.merge_fact(gold.build_fact(spark.read.parquet(paths.silver)), paths.gold_fact)

    assert etl.find_missing_fact_partitions(spark, paths.silver, paths.gold_fact) == []
    before_total = spark.read.parquet(paths.gold_fact).count()

    shutil.rmtree(os.path.join(paths.gold_fact, "date=2024-01-02"))
    assert etl.find_missing_fact_partitions(
        spark, paths.silver, paths.gold_fact
    ) == ["2024-01-02"]

    keep = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{paths.gold_fact}/date=2024-01-0[13]/*.parquet")
    }
    assert etl.backfill_fact(spark, paths) == ["2024-01-02"]
    assert spark.read.parquet(paths.gold_fact).count() == before_total
    after = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{paths.gold_fact}/date=2024-01-0[13]/*.parquet")
    }
    assert after == keep  # untouched partitions not rewritten
    assert etl.backfill_fact(spark, paths) == []  # idempotent: nothing left


def test_replay_dlq_preserves_raw_payload_and_cleans_tmp(spark, tmp_path):
    """Replay must carry the ORIGINAL raw_data through to the rewritten
    DLQ — re-serializing from the parsed row would drop payload fields
    outside schema+extra_fields on every pass — and must not leave its
    tmp swap directory behind."""
    import json
    import os

    paths = _paths(tmp_path)
    payload = json.dumps(
        {"id": None, "symbol": "btc", "novel_field": {"nested": [1, 2, 3]}}
    )
    env = spark.createDataFrame(
        [(payload, "Missing required field: id", "2026-01-01T00:00:00",
          "schema_enforcement")],
        "raw_data string, error_reason string, timestamp string, "
        "validation_type string",
    )
    env.coalesce(1).write.mode("overwrite").json(paths.dlq)

    recovered, still_bad = etl.replay_dlq(spark, paths)
    assert (recovered, still_bad) == (0, 1)
    kept = spark.read.json(paths.dlq).collect()[0]
    # Verbatim payload: the out-of-schema field survived the round trip.
    assert json.loads(kept.raw_data) == json.loads(payload)
    assert not os.path.isdir(paths.dlq.rstrip("/") + "_tmp")


def test_corrupt_lines_reach_the_dlq(spark, tmp_path):
    """A truncated/unparseable bronze line must land in the DLQ with its
    verbatim payload — filtered-out-and-nowhere is silent data loss of
    exactly the rows most likely to need replay."""
    import os

    paths = _paths(tmp_path)
    ingestion.write_bronze([_record(0), _record(1)], paths.bronze, run_id="r1")
    with open(os.path.join(paths.bronze, "crypto_data_r1.json"), "a") as f:
        f.write('{"id": "coin-broken", "current_price": \n')  # truncated
    etl.transform_stage(spark, paths)(None)
    dlq = spark.read.json(paths.dlq)
    corrupt = dlq.filter(dlq.error_reason == "json_parse_error")
    assert corrupt.count() == 1
    assert corrupt.collect()[0].raw_data.startswith('{"id": "coin-broken"')
    assert spark.read.parquet(paths.silver).count() == 2


def test_quality_gate_survives_multi_day_silver(spark, tmp_path):
    """The Uniqueness(coin_id) gate profiles the LATEST day only: every
    coin legitimately recurs once per retained date, so a whole-table
    profile would hard-fail from day 2 onward."""
    from pyspark.sql import functions as F

    paths = _paths(tmp_path)
    ingestion.write_bronze([_record(i) for i in range(5)], paths.bronze, run_id="r1")
    etl.transform_stage(spark, paths)(None)
    # Simulate yesterday's retained partition: copy today's rows to D-1.
    today = spark.read.parquet(paths.silver)
    (
        today.withColumn("update_date", F.date_sub("update_date", 1))
        .write.mode("append").partitionBy("update_date").parquet(paths.silver)
    )
    assert spark.read.parquet(paths.silver).count() == 10
    # Day-2 state: the gate must still pass.
    assert etl.quality_stage(spark, paths)(paths.silver) == paths.silver


def test_replay_survives_same_day_transform_rerun(spark, tmp_path):
    """Recovered rows must not be silently lost when transform re-runs
    the same day: the replay re-lands payloads in bronze, so the re-run
    either re-derives them or re-quarantines them — never neither."""
    paths = _paths(tmp_path)
    records = [_record(i) for i in range(3)]
    records.append(_record(7, current_price=None))  # -> DLQ (required null)
    ingestion.write_bronze(records, paths.bronze, run_id="r1")
    etl.transform_stage(spark, paths)(None)
    assert spark.read.parquet(paths.silver).count() == 3
    assert spark.read.json(paths.dlq).count() == 1

    # Operator relaxes the required set and drains the DLQ.
    recovered, still_bad = etl.replay_dlq(
        spark, paths, required=["id"]
    )
    assert (recovered, still_bad) == (1, 0)
    assert spark.read.parquet(paths.silver).count() == 4

    # Same-day transform re-run: dynamic overwrite rebuilds today's
    # partition from bronze.  The replayed payload is back in the DLQ
    # (strict required set again) — in silver ∪ DLQ, not lost.
    etl.transform_stage(spark, paths)(None)
    n_silver = spark.read.parquet(paths.silver).count()
    n_dlq = spark.read.json(paths.dlq).filter(
        "raw_data IS NOT NULL AND error_reason IS NOT NULL"
    ).count()
    assert n_silver == 3 and n_dlq >= 1


def test_merge_dim_new_attributes_win_deterministically(spark):
    from cryptocurrency_data_pipeline_spark.operators import gold

    existing = spark.createDataFrame(
        [("c1", "Old Name"), ("c2", "Stable")], "coin_id string, name string"
    )
    new = spark.createDataFrame([("c1", "New Name")], "coin_id string, name string")
    got = {(r.coin_id, r.name) for r in gold.merge_dim(existing, new, ["coin_id"]).collect()}
    assert got == {("c1", "New Name"), ("c2", "Stable")}


def test_keep_latest_orders_on_landing_file(spark, tmp_path):
    """Two same-day fetches of one coin: the LATER landing file's row
    wins, even when the earlier row has the higher market cap (ordering
    on the query-constant current_timestamp would pick by market cap)."""
    paths = _paths(tmp_path)
    ingestion.write_bronze(
        [_record(0, current_price=100.0, market_cap=9_999_999_999)],
        paths.bronze, run_id="20240101_080000",
    )
    ingestion.write_bronze(
        [_record(0, current_price=200.0, market_cap=1_000)],
        paths.bronze, run_id="20240101_200000",
    )
    etl.transform_stage(spark, paths)(None)
    rows = spark.read.parquet(paths.silver).collect()
    assert len(rows) == 1 and rows[0].current_price == 200.0


def test_is_primary_key_fails_null_keys(spark):
    from cryptocurrency_data_pipeline_spark.operators import quality

    df = spark.createDataFrame(
        [("a", 1.0), (None, 2.0), ("b", 3.0)], "k string, v double"
    )
    out = quality.row_level_rules(df, primary_key="k")
    got = {(r.k, r.dq_result) for r in out.collect()}
    assert got == {("a", "Passed"), (None, "Failed"), ("b", "Passed")}
