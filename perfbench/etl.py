"""``etl_cycles``: repeated ingest cycles through the medallion batch ETL.

Each cycle the generator lands one bronze file of CoinGecko-shaped records
(the ``schemas.CRYPTO_MARKETS`` fields), then the benchmark times
``plans.etl.build_etl_pipeline(spark, paths).run()`` (transform -> quality
gate -> gold aggregate).  A cycle lands what the program's own pull returns:
``sources.ingestion.fetch_markets`` asks for one page of
``per_page=100`` coins ordered by market cap, and no caller passes another
size.  So each cycle lands the same 100 coins in a seeded rank order, and
keep-latest dedup has every coin of every earlier cycle to drop.  A seeded
share of records misses a required field and a seeded share of lines is
corrupt, so the dead-letter path has work too.  Bronze grows every cycle and
the transform rescans all of it.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import time

import numpy as np

from perfbench.spans import Spans, median, span_metrics

#: ``fetch_markets``' default page size: the top 100 coins by market cap.
RECORDS_PER_CYCLE = 100
#: The first cycle loads bronze, silver and gold from nothing and compiles
#: every stage's plans; the second still runs slower than later
#: ones while the JIT settles.  Both are set-up, not timed cycles.
WARMUP_CYCLES = 2
MIN_CYCLES = 3
MAX_CYCLES = 40
STAGE_SPANS = {"transform": "etl.transform", "quality": "etl.quality", "aggregate": "etl.aggregate"}
SPAN_KINDS = tuple(STAGE_SPANS.values())
#: Per-layer counts besides the span counters.
METRICS = {"etl.transform.input_rows": "rows", "etl.dlq_dup_ratio": "ratio"}


def _record(rng: np.random.Generator, coin: int, rank: int) -> dict:
    price = float(np.round(rng.lognormal(2.0, 2.5), 6)) + 0.01
    supply = float(np.round(rng.uniform(1e6, 1e10)))
    return {
        "id": f"coin-{coin:04d}",
        "symbol": f"c{coin:04d}",
        "name": f"Coin {coin:04d}",
        "current_price": min(price, 900_000.0),
        "market_cap": int(rng.integers(2_000_000, 10**12)),
        "market_cap_rank": rank,
        "total_volume": int(rng.integers(10**4, 10**11)),
        "high_24h": price * 1.05,
        "low_24h": price * 0.95,
        "price_change_24h": float(np.round(rng.normal(0, price * 0.02), 6)),
        "price_change_percentage_24h": float(np.round(rng.normal(0, 4), 4)),
        "circulating_supply": supply,
        "total_supply": supply * 1.5,
    }


class Workload:
    def __init__(self, run):
        from cryptocurrency_data_pipeline_spark.plans.etl import EtlPaths

        self.run = run
        root = run.work / "etl"
        self.paths = EtlPaths(*(str(root / n) for n in (
            "bronze", "silver", "dlq", "metrics", "gold_fact", "gold_dim_coins", "gold_dim_date",
        )))
        self.cycles: list[tuple[list[str], dict[str, float], set[str]]] = []
        self.landed = 0
        self.latest_price: dict[str, float] = {}
        self.bad_lines: set[str] = set()

    def generate(self) -> None:
        """Every cycle's bronze lines, its valid coins' prices and its
        invalid lines, from the seed."""
        from cryptocurrency_data_pipeline_spark.schemas import REQUIRED_FIELDS

        rng = np.random.default_rng(self.run.seed)
        missing_share = rng.uniform(0.02, 0.06)
        corrupt_share = rng.uniform(0.01, 0.03)
        for _ in range(MAX_CYCLES):
            lines, prices, bad = [], {}, set()
            coins = rng.permutation(RECORDS_PER_CYCLE)
            for rank, coin in enumerate(coins, 1):
                rec = _record(rng, int(coin), rank)
                u = rng.random()
                if u < missing_share:
                    del rec[REQUIRED_FIELDS[int(rng.integers(len(REQUIRED_FIELDS)))]]
                    line = json.dumps(rec)
                    bad.add(line)
                elif u < missing_share + corrupt_share:
                    full = json.dumps(rec)
                    line = full[: int(rng.integers(5, len(full) - 5))]
                    bad.add(line)
                else:
                    line = json.dumps(rec)
                    prices[rec["id"]] = rec["current_price"]
                lines.append(line)
            self.cycles.append((lines, prices, bad))

    def _land(self) -> None:
        lines, prices, bad = self.cycles[self.landed]
        os.makedirs(self.paths.bronze, exist_ok=True)
        # Lexical file order is fetch order: keep-latest orders on it.
        path = os.path.join(self.paths.bronze, f"crypto_data_{self.landed:06d}.json")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        self.landed += 1
        self.latest_price.update(prices)
        self.bad_lines |= bad

    def _cycle(self, spans: Spans) -> float:
        from cryptocurrency_data_pipeline_spark.plans.etl import build_etl_pipeline

        self._land()
        t0 = time.perf_counter()
        pipeline = build_etl_pipeline(self.run.spark, self.paths)
        if spans.enabled:
            pipeline.stages = [
                (name, self._spanned(spans, STAGE_SPANS[name], fn)) for name, fn in pipeline.stages
            ]
        results = pipeline.run()
        took = time.perf_counter() - t0
        # Every stage SUCCEEDED: the DQ gate passed and gold was published.
        statuses = [(r.name, r.status.value) for r in results]
        self.run.check(
            statuses == [(n, "SUCCEEDED") for n in STAGE_SPANS],
            f"cycle {self.landed}: {statuses} {[r.error for r in results]}",
        )
        return took

    @staticmethod
    def _spanned(spans: Spans, kind: str, fn):
        def stage(carry):
            with spans.span(kind):
                return fn(carry)

        return stage

    def warm_up(self) -> None:
        self.today = dt.datetime.now(dt.timezone.utc).date()
        untraced = Spans(self.run.spark, enabled=False)
        times = [self._cycle(untraced) for _ in range(WARMUP_CYCLES)]
        self.run.notes["warm_up_cycle_s"] = [round(t, 3) for t in times]

    def measure(self) -> None:
        run = self.run
        spans = Spans(run.spark, run.trace)
        times = []
        t0 = time.perf_counter()
        while len(times) < MIN_CYCLES or time.perf_counter() - t0 < run.seconds:
            if self.landed == MAX_CYCLES:
                break
            times.append(self._cycle(spans))
        run.end_to_end["p50_s"] = median(times)
        run.notes["cycle_s"] = [round(t, 3) for t in times]
        if run.trace:
            run.per_layer.update(span_metrics(spans.records))
            run.per_layer["etl.transform.input_rows"] = median(
                [r["input_rows"] for r in spans.records["etl.transform"]]
            )

    def check(self) -> None:
        from pyspark.sql import functions as F

        run, spark, p, today = self.run, self.run.spark, self.paths, self.today
        if dt.datetime.now(dt.timezone.utc).date() != today:
            # transform_stage stamps current_date(): a run that crosses UTC
            # midnight splits silver across two dates and cannot be counted.
            run.check(False, "run crossed UTC midnight; counts are not comparable")
            return
        silver = {
            r.coin_id: (r.current_price, r.update_date)
            for r in spark.read.parquet(p.silver).select("coin_id", "current_price", "update_date").collect()
        }
        run.check(
            silver == {c: (price, today) for c, price in self.latest_price.items()},
            f"silver holds {len(silver)} coins, expected the latest price of "
            f"{len(self.latest_price)} distinct valid coins",
        )
        # Every invalid or corrupt line reaches the DLQ at least once (each
        # transform rescans bronze and quarantines earlier bad lines again).
        dlq = spark.read.json(p.dlq).select("raw_data")
        quarantined = {r.raw_data for r in dlq.distinct().collect()}
        run.check(
            self.bad_lines <= quarantined,
            f"{len(self.bad_lines - quarantined)} of {len(self.bad_lines)} invalid bronze lines missing from the DLQ",
        )
        fact = spark.read.parquet(p.gold_fact).where(F.col("date") == F.lit(today)).count()
        dim = spark.read.parquet(p.gold_dim_coins).count()
        run.check(
            fact == dim == len(self.latest_price),
            f"gold fact {fact} rows / dim_coins {dim} rows, expected {len(self.latest_price)}",
        )
        if run.trace:
            run.per_layer["etl.dlq_dup_ratio"] = dlq.count() / len(self.bad_lines)

    def close(self) -> None:
        pass
