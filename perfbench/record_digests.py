"""Record the DuckDB-oracle digest of every query the ``queries`` workload
runs, over the benchmark's generated tables, into ``perfbench/digests.json``.

The benchmark compares each Spark result against these digests instead of
rerunning the oracles on every run.  Rerun this only when ``tables.py`` or a
query's oracle changes:

    python3 perfbench/record_digests.py
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path[0] = str(ROOT)

import duckdb  # noqa: E402

from cryptocurrency_data_pipeline_spark.queries import ORACLES  # noqa: E402
from perfbench.queries import QUERY_SET  # noqa: E402
from perfbench.tables import write_tables  # noqa: E402
from tools.check_oracle import TABLES, table_hash  # noqa: E402

OUT = Path(__file__).resolve().parent / "digests.json"


def main() -> None:
    work = Path(tempfile.mkdtemp(prefix="perfbench-digests-", dir=ROOT))
    try:
        tables = write_tables(str(work))
        con = duckdb.connect()
        for name in TABLES:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{tables}/{name}.parquet')")
        digests = {}
        for name in QUERY_SET:
            rel = con.sql(ORACLES[name])
            cols, rows = rel.columns, rel.fetchall()
            digests[name] = {"columns": sorted(cols), "rows": len(rows), "hash": table_hash(cols, rows)}
            print(f"{name}: {len(rows)} rows", flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    OUT.write_text(json.dumps(digests, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
