"""Record the expected digest of every benchmark op into expected.json.

    PYTHONPATH=. python3 perfbench/record.py --scale sf0.1 [--oracle]

Runs each op twice in one session (the first run is cold) and requires
both digests to agree. With ``--oracle`` every op's full output is also
compared against its DuckDB oracle with the STRICT compare of
``tools/check_queries.py`` (exact equality of 6dp-rounded values), and
the outcome is stored beside the digests. Run it only on a commit whose
outputs are known good: the benchmark fails any op whose digest differs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from workload import ALL_OPS, digest  # noqa: E402

ORACLE_TABLES = ("events", "documents", "embeddings", "orders")
DUCKDB_MEMORY = "4GB"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", required=True, choices=("sf0.1", "sf0.001"))
    ap.add_argument("--oracle", action="store_true")
    args = ap.parse_args()
    sf_dir = os.path.join(HERE, "data", args.scale)

    import __spark_entry__ as entry
    from z_rad_spark.session import get_spark

    spark = get_spark("perfbench-record", cores=len(os.sched_getaffinity(0)))
    qs = entry.queries()
    digests, problems = {}, {}
    for name in ALL_OPS:
        first = tuple(digest(qs[name](spark, sf_dir)).collect()[0])
        second = tuple(digest(qs[name](spark, sf_dir)).collect()[0])
        if first != second:
            problems[name] = [f"cold digest {first} != warm digest {second}"]
        digests[name] = list(first)
        print(name, digests[name], flush=True)

    check = None
    if args.oracle:
        import duckdb

        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from check_queries import compare

        oracles = entry.oracle_sql()
        for name in ALL_OPS:
            con = duckdb.connect()
            try:
                con.execute(f"SET memory_limit='{DUCKDB_MEMORY}'")
                for t in ORACLE_TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                f"read_parquet('{sf_dir}/{t}.parquet')")
                want = con.execute(oracles[name]).fetchdf()
            finally:
                con.close()
            got = qs[name](spark, sf_dir).toPandas()
            found = compare(got, want)
            if found:
                problems.setdefault(name, []).extend(found)
            print(name, "oracle", "STRICT ok" if not found else found, flush=True)
        check = {"compare": "tools/check_queries.py compare(), STRICT",
                 "ops": len(ALL_OPS), "failed": sorted(problems),
                 "date": time.strftime("%Y-%m-%d", time.gmtime())}
    spark.stop()

    path = os.path.join(HERE, "expected.json")
    data = {}
    if os.path.exists(path):
        with open(path) as f:
            data = json.load(f)
    data[args.scale] = digests
    if check is not None:
        data.setdefault("oracle_check", {})[args.scale] = check
    with open(path, "w") as f:
        json.dump(data, f, indent=1)
        f.write("\n")
    for name, found in problems.items():
        print("PROBLEM", name, found, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
