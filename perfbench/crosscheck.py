"""Record the graph_analytics output fingerprints in ``expected.json``.

    python3 perfbench/crosscheck.py

Runs every kernel of the ``graph_analytics`` workload twice, on fresh
clients, over the benchmark fixture, and requires identical
fingerprints.  Where the repository declares a DuckDB oracle for the
kernel (``__spark_entry__.oracle_sql()``: ``graph_pagerank``,
``graph_connected_components``), the kernel's rows must also equal the
oracle's rows on the fixture tables.  Louvain has no oracle and is held
to its fingerprint alone.  Exits 1, writing nothing, if any check fails.
"""

from __future__ import annotations

import json
import math
import os
import sys

import run as bench

ORACLE_KEYS = {
    "pageRank": "graph_pagerank",
    "wcc": "graph_connected_components",
}


def same_rows(spark_rows, oracle_rows) -> bool:
    a = {str(r[0]): r[1] for r in spark_rows}
    b = {str(r[0]): r[1] for r in oracle_rows}
    if a.keys() != b.keys():
        return False
    for k, x in a.items():
        y = b[k]
        if isinstance(x, float) or isinstance(y, float):
            if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-12):
                return False
        elif str(x) != str(y):
            return False
    return True


def main() -> int:
    sys.path.insert(0, bench.ROOT)
    import duckdb

    import __spark_entry__ as entry
    import workloads
    from fixture import Fixture
    from pg_age_digitaltwins_spark import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.tpch_loader import load_graph

    bench._guard_environment()
    spark = bench._start_spark()
    failures, found = [], {}
    try:
        fixture = Fixture(spark, os.path.join(bench.WORK, "fixture"))
        fixture.prepare()
        store = load_graph(spark, fixture.graph_dir)
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{fixture.graph_dir}/{t}.parquet')")
        oracles = entry.oracle_sql()
        for name, q in workloads.KERNELS.items():
            runs = [DigitalTwinsSparkClient(store).query_df(q).collect()
                    for _ in range(2)]
            prints = {workloads.fingerprint(r) for r in runs}
            if len(prints) != 1:
                failures.append(f"{name}: fingerprints differ between runs {prints}")
                continue
            found[name] = prints.pop()
            key = ORACLE_KEYS.get(name)
            if key is None:
                print(f"{name}: {found[name]} (no oracle; repeatable)")
                continue
            if not same_rows(runs[0], con.execute(oracles[key]).fetchall()):
                failures.append(f"{name}: rows differ from oracle {key}")
            else:
                print(f"{name}: {found[name]} (equals oracle {key})")
    finally:
        bench._stop_spark(spark)
    if failures:
        print("\n".join(failures), file=sys.stderr)
        return 1
    with open(os.path.join(bench.HERE, "expected.json"), "w") as f:
        json.dump({"graph_analytics": found}, f, indent=2)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
