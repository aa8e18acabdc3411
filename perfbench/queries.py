"""``queries``: passes over registry queries on generated star-schema and
corpus tables.

Each query is built with ``queries.QUERIES[name](spark, dir)`` and executed
to the noop sink, with caches released outside the timed region exactly as
``bench.py`` does.  The set takes from both halves of bench.py's HEADLINE
list, split by which tables each query's DuckDB oracle reads: warehouse
queries (star schema, events, part, the snapshot/MERGE write path; JVM
relational operators and table-format commits) and corpus queries (over
``documents``/``embeddings``; Arrow pandas-UDF kernels).  The seed permutes
the query order within each pass.

Two untimed passes warm up.  The first collects each result and compares
an order-insensitive hash (``tools.check_oracle.table_hash``) against the
oracle digest recorded in ``digests.json``; the second runs the timed
path itself (the noop write), so JIT and codegen settle on it.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

import numpy as np

from perfbench.spans import Spans, median, span_metrics

#: The set spans both halves and the layers the other workload leaves out:
#: the streaming OHLC window operator (``streaming.pipeline.windowed_ohlc``
#: replayed in batch), a row-level MERGE published as a new snapshot
#: version (the job-bound table-format write path, ROADMAP item 2), and an
#: IVF probe (the Arrow nearest-centre kernel ``similarity._make_probe_udf``,
#: ROADMAP item 3).  ``ivfpq_topk`` would add the PQ kernel, but its 3-4 s a
#: pass on four cores does not fit the run budget.
QUERY_SET = ("stream_ohlc_replay", "merge_into_orders", "ivf_ann_topk")
#: Timed passes per run at least; p50_s is their median.
MIN_PASSES = 3
DIGESTS = Path(__file__).resolve().parent / "digests.json"
SPAN_KINDS = ("query.build", "query.exec")
#: Per-layer metrics besides the span counters: each query's median time.
METRICS = {f"query.{name}.s": "s" for name in QUERY_SET}


class Workload:
    def __init__(self, run):
        self.run = run
        self.tables = run.work / "tables"
        self.rng = np.random.default_rng(run.seed)

    def generate(self) -> None:
        from perfbench.tables import write_tables

        write_tables(str(self.tables))

    def _order(self) -> list[str]:
        return [QUERY_SET[i] for i in self.rng.permutation(len(QUERY_SET))]

    def warm_up(self) -> None:
        """A pass that collects every result and checks it against the
        oracle digest, then a pass of noop writes as the timed passes do."""
        from bench import _release_caches
        from cryptocurrency_data_pipeline_spark.queries import QUERIES
        from tools.check_oracle import table_hash

        run, spark = self.run, self.run.spark
        digests = json.loads(DIGESTS.read_text())
        for name in self._order():
            df = QUERIES[name](spark, str(self.tables))
            cols, rows = df.columns, df.collect()
            _release_caches(spark)
            got = {"columns": sorted(cols), "rows": len(rows), "hash": table_hash(cols, rows)}
            run.check(got == digests[name], f"{name}: {got['rows']} rows, {got['columns']}: not the oracle digest")
        t0 = time.perf_counter()
        for name in self._order():
            QUERIES[name](spark, str(self.tables)).write.format("noop").mode("overwrite").save()
            _release_caches(spark)
        run.notes["warm_up_noop_pass_s"] = round(time.perf_counter() - t0, 3)

    def measure(self) -> None:
        from bench import _release_caches
        from cryptocurrency_data_pipeline_spark.queries import QUERIES

        run, spark = self.run, self.run.spark
        spans = Spans(spark, run.trace)
        passes, per_query = [], {name: [] for name in QUERY_SET}
        t0 = time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - t0 < run.seconds:
            build, execute, took = {}, {}, 0.0
            for name in self._order():
                tq = time.perf_counter()
                with spans.span("query.build", into=build):
                    df = QUERIES[name](spark, str(self.tables))
                with spans.span("query.exec", into=execute):
                    df.write.format("noop").mode("overwrite").save()
                per_query[name].append(time.perf_counter() - tq)
                took += per_query[name][-1]
                run.attempted += 1
                _release_caches(spark)  # outside the timed region
            passes.append(took)
            if run.trace:
                spans.add("query.build", build)
                spans.add("query.exec", execute)
        run.end_to_end["p50_s"] = median(passes)
        run.notes["pass_s"] = [round(p, 3) for p in passes]
        if run.trace:
            run.per_layer.update(span_metrics(spans.records))
            run.per_layer.update({f"query.{n}.s": median(ts) for n, ts in per_query.items()})

    def check(self) -> None:
        """The results were checked on the warm-up pass."""

    def close(self) -> None:
        pass
