"""Compare the suite workload's generated tables with a fixture directory.

    python3 perfbench/fixtures.py --fixtures <dir with the sf0.01 tables> \\
        --out perfbench/results/fixtures.json

The benchmark reads nothing outside its checkout, so the suite workload
generates its star-schema tables (``inputs.write_star_tables``) instead
of reading the repository's test fixtures. This script shows how close
the two are, side by side: each table's row count and column types, the
join fan-outs the queries depend on, the value ranges and distinct counts
of the columns the queries read, the documents' text statistics, each
query's oracle output rows (DuckDB), and each query's latency through
the benchmark's timed path (Spark, median of five warm runs on each
side, the sides alternating). Run it from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "orders", "lineitem", "documents"]
REPEATS = 5

# (label, SQL) statistics taken on both sides
_STATS = [
    ("lineitems per order: min, mean, max, stddev, orders",
     "SELECT min(n), avg(n), max(n), stddev(n), count(*) "
     "FROM (SELECT l_orderkey, count(*) n FROM lineitem GROUP BY 1)"),
    ("orders per customer: min, mean, max, stddev, customers",
     "SELECT min(n), avg(n), max(n), stddev(n), count(*) "
     "FROM (SELECT o_custkey, count(*) n FROM orders GROUP BY 1)"),
    ("customers per nation: min, max",
     "SELECT min(n), max(n) FROM (SELECT c_nationkey, count(*) n FROM customer GROUP BY 1)"),
    ("lineitem rows per (l_returnflag, l_linestatus)",
     "SELECT l_returnflag, l_linestatus, count(*) FROM lineitem GROUP BY ALL ORDER BY ALL"),
    ("lineitem rows with l_shipdate <= 1998-09-02 (q01 filter)",
     "SELECT count(*) FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'"),
    ("l_shipdate, l_quantity, l_extendedprice, l_discount, l_tax: min, max",
     "SELECT min(l_shipdate)::VARCHAR, max(l_shipdate)::VARCHAR, min(l_quantity), max(l_quantity), "
     "min(l_extendedprice), max(l_extendedprice), min(l_discount), max(l_discount), "
     "min(l_tax), max(l_tax) FROM lineitem"),
    ("distinct l_quantity, l_discount, l_tax",
     "SELECT count(DISTINCT l_quantity), count(DISTINCT l_discount), count(DISTINCT l_tax) FROM lineitem"),
    ("orders per o_orderpriority",
     "SELECT o_orderpriority, count(*) FROM orders GROUP BY 1 ORDER BY 1"),
    ("documents: distinct texts, mean, min, max length, ending in ' dup', distinct source, lang",
     "SELECT count(DISTINCT text), avg(length(text)), min(length(text)), max(length(text)), "
     "count(*) FILTER (WHERE text LIKE '% dup'), count(DISTINCT source), count(DISTINCT lang) "
     "FROM documents"),
    ("document tokens: distinct, total",
     r"SELECT count(DISTINCT item), count(*) FROM "
     r"(SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) item FROM documents)"),
]


def _round(v):
    return round(v, 4) if isinstance(v, float) else v


def describe(duck, sf_dir: str, queries: list[str], oracles: dict) -> dict:
    import pyarrow.parquet as pq

    for t in TABLES:
        duck.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    tables = {}
    for t in TABLES:
        f = pq.ParquetFile(f"{sf_dir}/{t}.parquet")
        tables[t] = {
            "rows": f.metadata.num_rows,
            "types": {fld.name: str(fld.type) for fld in f.schema_arrow},
        }
    stats = {
        label: [[_round(v) for v in row] for row in duck.sql(sql).fetchall()]
        for label, sql in _STATS
    }
    out_rows = {q: len(duck.sql(oracles[q]).fetchall()) for q in queries}
    return {"tables": tables, "stats": stats, "oracle_output_rows": out_rows}


def latencies(sides: dict[str, str], queries: list[str], local_dirs: str) -> dict:
    """Median latency of each query on each side through the timed path."""
    import run

    work = os.path.join(HERE, ".work", f"fixtures-{os.getpid()}")
    args = argparse.Namespace(local_dirs=local_dirs, driver_memory="2g")
    cores = len(os.sched_getaffinity(0))
    run._configure_env(args, work, cores, None)
    from polars_dataset_spark import suite
    from polars_dataset_spark.session import get_spark

    spark = get_spark("perfbench-fixtures")
    times: dict[str, dict[str, list[float]]] = {s: {q: [] for q in queries} for s in sides}
    try:
        for k in range(REPEATS + 1):  # the first round warms up
            for q in queries:
                for side, sf_dir in sides.items():
                    t0 = time.perf_counter()
                    run._noop(suite.QUERIES[q](spark, sf_dir))
                    if k:
                        times[side][q].append(time.perf_counter() - t0)
                spark.catalog.clearCache()
    finally:
        run._stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(os.environ["SPARK_LOCAL_DIRS"], ignore_errors=True)
    return {s: {q: statistics.median(v) for q, v in per.items()} for s, per in times.items()}


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--fixtures", required=True, help="directory with the fixture parquet tables")
    p.add_argument("--out", help="write the comparison here as JSON")
    p.add_argument("--local-dirs", default="perfbench/.work/spark-local")
    args = p.parse_args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    import duckdb

    import workloads
    from inputs import write_star_tables
    from polars_dataset_spark import suite

    gen_dir = os.path.join(HERE, ".work", f"fixtures-tables-{os.getpid()}")
    write_star_tables(gen_dir, workloads.TABLE_SEED)
    by_prefix = {q.split("_")[0]: q for q in suite.QUERIES}
    queries = [by_prefix[p] for p in workloads.SUITE]
    try:
        duck = duckdb.connect()
        sides = {"generated": gen_dir, "fixtures": os.path.abspath(args.fixtures)}
        result = {s: describe(duck, d, queries, suite.ORACLES) for s, d in sides.items()}
        duck.close()
        lat = latencies(sides, queries, args.local_dirs)
    finally:
        shutil.rmtree(gen_dir, ignore_errors=True)
    for s in sides:
        result[s]["latency_s"] = lat[s]
    result["latency_ratio"] = {q: lat["generated"][q] / lat["fixtures"][q] for q in queries}

    gen, fix = result["generated"], result["fixtures"]
    for t in TABLES:
        same = gen["tables"][t] == fix["tables"][t]
        print(f"table {t}: rows {gen['tables'][t]['rows']} vs {fix['tables'][t]['rows']}, "
              f"rows and types {'match' if same else 'DIFFER'}")
    for label, _ in _STATS:
        print(f"{label}:\n  generated {gen['stats'][label]}\n  fixtures  {fix['stats'][label]}")
    for q in queries:
        print(f"{q}: oracle rows {gen['oracle_output_rows'][q]} vs {fix['oracle_output_rows'][q]}, "
              f"latency {lat['generated'][q]:.3f} vs {lat['fixtures'][q]:.3f} s "
              f"(ratio {result['latency_ratio'][q]:.2f})")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"repeats": REPEATS, **result}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
