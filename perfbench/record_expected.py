"""Record ``expected.json``: the row count and content digest of the
output of every catalog query the benchmark times, on the benchmark's
catalog inputs, kept only for outputs that pass the DuckDB oracle
comparison (``plans.verify``).

The benchmark checks every timed catalog operation against this record
instead of re-running the oracle (a full oracle pass is minutes). Run it
again whenever the catalog inputs (``catalog_gen``) or a query's intended
output change:

    TZ=UTC python3 perfbench/record_expected.py

It exits nonzero, writing nothing, if any query fails the oracle.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

import run  # the benchmark's own constants and environment

from catalog_gen import generate
from digest import digest_parquet


def main() -> int:
    sys.path.insert(0, run.ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (run.ROOT, os.environ.get("PYTHONPATH")) if p)
    from nursing_home_data_etl_pipeline_spark.plans import catalog, verify
    from nursing_home_data_etl_pipeline_spark.plans.queries_streaming import cleanup_drains
    from nursing_home_data_etl_pipeline_spark.session import get_spark

    data_dir = os.path.join(run.WORK, "catalog", f"sf{run.CATALOG_SF}")
    rows = generate(data_dir, run.CATALOG_SF, run.CATALOG_DATA_SEED)
    spark = get_spark("perfbench-record",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = verify.duckdb_connection(data_dir)
    queries, problems = {}, {}
    entries = catalog.entries()
    with tempfile.TemporaryDirectory() as out:
        for name in sorted(run.BATCH_QUERIES + run.STREAMING_QUERIES):
            entry, path = entries[name], os.path.join(out, name)
            entry.spark(spark, data_dir).write.mode("overwrite").parquet(path)
            spark.catalog.clearCache()
            cleanup_drains()
            n, dig = digest_parquet(path)
            bad = verify.compare_query(spark, con, entry.spark, entry.oracle, data_dir)
            spark.catalog.clearCache()
            if bad:
                problems[name] = bad
            queries[name] = {"rows": n, "digest": dig}
            print(f"{'FAIL' if bad else 'PASS'} {name} rows={n} digest={dig}", flush=True)
    spark.stop()
    if problems:
        print(json.dumps(problems, indent=1), file=sys.stderr)
        return 1
    record = {
        "sf": run.CATALOG_SF,
        "data_seed": run.CATALOG_DATA_SEED,
        "table_rows": rows,
        "queries": queries,
    }
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
