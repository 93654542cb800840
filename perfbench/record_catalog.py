#!/usr/bin/env python3
"""Records the catalog workload's data and expected outputs, once per scale.

    python3 perfbench/record_catalog.py <scale dir>

Copies the scale directory's tables to perfbench/data/<scale>, runs each
catalog query once on that copy through SparkEntry.queries, and compares
every output with its SparkEntry.oracleSql result in DuckDB, using the
repository's oracle compare (tools/check.py). Only if every query has oracle
SQL and all of them match does it store each query's row count and
fingerprint in perfbench/catalog_expected.tsv, replacing earlier lines for
that scale. Needs the duckdb Python package.
"""
import glob
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

sys.path.insert(0, os.path.join(run.ROOT, "tools"))
import check  # noqa: E402


def main(scale_dir):
    scale = os.path.basename(os.path.abspath(scale_dir).rstrip("/"))
    data = os.path.join(run.BENCH, "data", scale)
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    for f in sorted(glob.glob(os.path.join(scale_dir, "*.parquet"))):
        shutil.copyfile(f, os.path.join(data, os.path.basename(f)))
    run.build()
    out = os.path.join(run.TARGET, "catalog_record")
    shutil.rmtree(out, ignore_errors=True)
    run.run_jvm(["--workload", "catalog", "--data", data, "--expected", run.EXPECTED,
                 "--record", out], "catalog_record", timeout=600)
    with open(os.path.join(out, "fingerprints.tsv")) as f:
        prints = [line.rstrip("\n").split("\t") for line in f if line.strip()]
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    missing = [q for q, _, _ in prints if q not in oracle]
    if missing:
        print(f"no oracle SQL for {', '.join(missing)}; nothing recorded")
        return 1
    if check.main(data, out) != 0:
        print("the catalog disagrees with the oracle; nothing recorded")
        return 1
    kept = []
    if os.path.exists(run.EXPECTED):
        with open(run.EXPECTED) as f:
            kept = [line for line in f if not line.startswith(scale + "\t")]
    with open(run.EXPECTED, "w") as f:
        f.writelines(kept + [f"{scale}\t{q}\t{rows}\t{fp}\n" for q, rows, fp in prints])
    print(f"recorded {len(prints)} queries for {scale} in {os.path.relpath(run.EXPECTED, run.ROOT)}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1]))
