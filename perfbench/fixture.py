"""Seeded TPC-H-style fixture for the benchmark.

Writes the seven tables the graph loader maps onto twins and
relationships (region, nation, customer, supplier, part, orders,
lineitem) as parquet, with the same column names and value shapes as
the fixtures the package's loader reads.  The layout is fixed by
``FIXTURE_SEED`` and ``SCALE`` and built once per checkout; the
``--seed`` of a run drives only the requests sent to it.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
# Row counts of a TPC-H sf0.01 graph: 18.6k twins, ~97k relationships.
SCALE = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    lo64 = np.datetime64(lo)
    span = int((np.datetime64(hi) - lo64) / np.timedelta64(1, "D"))
    days = lo64 + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return days.astype("datetime64[us]")


def generate(out_dir: str) -> None:
    """Write the fixture tables under ``out_dir`` (deterministic)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(FIXTURE_SEED)
    n_cust, n_supp = SCALE["customer"], SCALE["supplier"]
    n_part, n_ord = SCALE["part"], SCALE["orders"]
    per = rng.integers(1, 8, n_ord)  # 1..7 lineitems per order
    okeys = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(okeys)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": [f"part {i % 97}" for i in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(PTYPES)[rng.integers(0, len(PTYPES), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + rng.uniform(0, 1200, n_part), 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(900, 450000, n_ord), 2),
            "o_orderdate": pa.array(
                _days(rng, n_ord, "1995-01-01", "2001-08-01"), pa.timestamp("us")
            ),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(okeys, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(
                np.concatenate([np.arange(1, c + 1) for c in per]), pa.int32()
            ),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                _days(rng, n_li, "1995-01-02", "2001-11-04"), pa.timestamp("us")
            ),
        }),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


class Fixture:
    """The fixture tables plus the engine's persisted layouts of them,
    built once per checkout under ``root`` and reused by later runs:

    * ``graph_dir``: the tables; ``load_graph`` keeps its bucketed
      layout in the engine's cache root;
    * ``commit_base``: a commit-log table root holding the graph as
      version 1, copied by each run that commits;
    * ``replica_base``: a replica bootstrapped from ``commit_base``.
    """

    VERSION = 1  # bump when the tables or the derived layouts change

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root = root
        self.graph_dir = os.path.join(root, "benchsf")
        self.commit_base = os.path.join(root, "commit_base")
        self.replica_base = os.path.join(root, "replica_base")
        self.n_twins = 5 + 25 + sum(SCALE.values())
        # order -> customer, customer -> number of orders (prepare())
        self.order_customer: dict[str, str] = {}
        self.orders_of: dict[str, int] = {}

    def prepare(self) -> float:
        """Build whatever is missing; returns the seconds spent building."""
        from pg_age_digitaltwins_spark.store.commit_log import commit_snapshot
        from pg_age_digitaltwins_spark.store.tpch_loader import (
            LOADER_VERSION,
            load_graph,
        )
        from pg_age_digitaltwins_spark.streaming.replica import (
            bootstrap_replica,
        )

        t0 = time.perf_counter()
        tag = f"fixture-v{self.VERSION}-loader-v{LOADER_VERSION}"
        marker = os.path.join(self.root, "_READY")
        ready = False
        if os.path.exists(marker):
            with open(marker) as f:
                ready = f.read() == tag
        if not ready:
            shutil.rmtree(self.root, ignore_errors=True)
            generate(self.graph_dir)
            store = load_graph(self.spark, self.graph_dir)
            commit_snapshot(store, self.commit_base)
            bootstrap_replica(self.spark, self.commit_base, self.replica_base)
            with open(marker, "w") as f:
                f.write(tag)
        orders = pq.read_table(
            os.path.join(self.graph_dir, "orders.parquet"),
            columns=["o_orderkey", "o_custkey"],
        ).to_pydict()
        for o, c in zip(orders["o_orderkey"], orders["o_custkey"]):
            self.order_customer[f"order-{o}"] = f"cust-{c}"
            self.orders_of[f"cust-{c}"] = self.orders_of.get(f"cust-{c}", 0) + 1
        return time.perf_counter() - t0
