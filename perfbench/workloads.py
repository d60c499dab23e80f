"""The benchmark's workloads, driven through the engine's public calls.

* ``twin_ops``: closed loop, one client.  Scripted sessions of point
  reads, traversals and writes over Zipf-skewed customer and order twins,
  each ending in a commit that the change-feed consumer drains through
  the change stream into two event sinks.  Traced runs also apply the
  run's commits to a replica.
* ``graph_analytics``: batch.  Superstep kernels through the Cypher
  ``CALL`` surface, each on a fresh client.

A workload's unit is a session for ``twin_ops`` and one kernel call,
in turn, for ``graph_analytics``.  Each run makes an untimed warm-up of
one call of every kind, then whole units until ``--seconds`` have
passed.  A traced run puts a window with the layer hooks of
``tracing.py`` switched on between two untraced windows, the three
sharing ``--seconds``; the difference is the tracing overhead.  Every call is
checked, and a failed check counts as a failed call.
"""

from __future__ import annotations

import bisect
import hashlib
import itertools
import json
import math
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback

from counters import SparkCounters
from fixture import SCALE
from tracing import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")

TWIN_CLASSES = ("point_read", "traverse", "write", "commit", "drain")
TWIN_KINDS = (
    "get_digital_twin", "adt_point", "adt_join_2hop", "cypher_match_1hop",
    "adt_paged", "patch", "relationship", "create_or_replace_digital_twins",
    "commit", "run_change_stream", "replicate_catch_up",
)
WINDOW_CAP_S = 150
UPSERT_BATCH = 100
# The keyed-hoist, label-propagation and community kernels.  scc and
# topologicalLevels are left out to keep a run short.
KERNELS = {
    "pageRank": "CALL graph.pageRank(5) YIELD node, rank RETURN node, rank",
    "wcc":  # weakly connected components
        "CALL graph.connectedComponents() YIELD node, component "
        "RETURN node, component",
    "louvain":
        "CALL graph.louvain(1, 2) YIELD node, community RETURN node, community",
}
KERNEL_COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes")
OP_COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes")


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q / 100 * len(s)) - 1)] if s else 0.0


def zipf(rng: random.Random, items: list[str], s: float = 1.1):
    """Sampler with P(rank r) ~ 1/r^s over a seeded permutation of items."""
    order = items[:]
    rng.shuffle(order)
    cum = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(len(order))))
    return order, lambda: order[bisect.bisect(cum, rng.random() * cum[-1])]


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class Run:
    """One run: the timed calls, their Spark counters, checks and spans."""

    def __init__(self, spark, fixture, run_dir, seed, seconds, trace):
        self.spark = spark
        self.fixture = fixture
        self.dir = run_dir
        os.makedirs(run_dir, exist_ok=True)
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.rng = random.Random(seed)
        self.counters = SparkCounters(spark, with_bytes=trace)
        self.tracer = Tracer()
        if trace:
            self.tracer.install()
        self.attempted = 0
        self.failed = 0
        self.check_failures: list[str] = []
        self.windows: dict[str, dict] = {}
        self.window: dict | None = None
        self.workload = ""
        self.classes: tuple[str, ...] = ()

    # -- one call --------------------------------------------------------
    def call(self, cls: str, kind: str, fn, check=None):
        """Time one public call under its own Spark job group, count its
        jobs, and check its result.  Returns the result, or None when the
        call raised or its check failed."""
        self.attempted += 1
        with self.counters.group(kind) as gid, self.tracer.op(kind):
            t0 = time.perf_counter()
            try:
                result = fn()
                error = None
            except Exception as exc:  # noqa: BLE001 — a failed call is data
                result, error = None, f"{type(exc).__name__}: {exc}"
                traceback.print_exc(file=sys.stderr)
            wall = time.perf_counter() - t0
        if error is None and check is not None:
            error = check(result)
        w = self.window
        if error is not None:
            self.failed += 1
            self.check_failures.append(f"{kind}: {error}"[:500])
            print(f"perfbench: check failed: {kind}: {error}", file=sys.stderr)
            return None
        w["walls"].setdefault(cls, []).append(wall)
        w["ops"].append({"class": cls, "kind": kind, "wall": wall,
                         **self.counters.counts(gid)})
        return result

    def note(self, key: str, value: float) -> None:
        """A per-window sample that is not a call latency."""
        self.window["notes"].setdefault(key, []).append(value)

    # -- windows ---------------------------------------------------------
    def open_window(self, name: str, traced: bool = False) -> None:
        self.tracer.enabled = traced
        self.window = {"walls": {}, "ops": [], "notes": {},
                       "box": self.box_counters(),
                       "start": time.perf_counter()}
        self.windows[name] = self.window

    def close_window(self) -> None:
        self.tracer.enabled = False
        self.window["wall_s"] = time.perf_counter() - self.window.pop("start")
        self.window["box"] = {k: v - self.window["box"][k]
                              for k, v in self.box_counters().items()}

    def box_counters(self) -> dict[str, float]:
        """Seconds of CPU the host took from this machine (steal), and of
        JVM garbage collection: read per window, so a slow window shows
        whether the box or the collector was busy."""
        with open("/proc/stat") as f:
            fields = f.readline().split()
        steal = int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0
        beans = self.spark._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        gc = sum(b.getCollectionTime() for b in beans) / 1000.0
        return {"steal_s": steal, "jvm_gc_s": gc}

    def drive(self, unit, classes: tuple[str, ...]) -> None:
        """Warm-up (units until every class has run once), then the timed
        window of whole units until ``--seconds`` have passed.  With
        tracing, the traced window sits between two untraced ones, so the
        tracing overhead is not confounded with the JVM still warming
        up; the three share ``--seconds``.  A window ends only once every
        class has run in it.  Each window starts after the page cache
        has been written back, so no window pays for the writes of the
        one before.  A window whose calls keep failing ends after
        ``WINDOW_CAP_S`` with a failure."""
        self.classes = classes
        windows = ["warmup"] + (
            ["untraced", "traced", "untraced_after"] if self.trace else ["timed"])
        seconds = self.seconds / 3 if self.trace else self.seconds
        for name in windows:
            os.sync()
            self.open_window(name, traced=name == "traced")
            t0 = self.window["start"]
            while True:
                elapsed = time.perf_counter() - t0
                missing = [c for c in classes if c not in self.window["walls"]]
                if not missing and (name == "warmup" or elapsed >= seconds):
                    break
                if elapsed > WINDOW_CAP_S:
                    self.failed += 1
                    self.check_failures.append(f"{name} window: no successful {missing}")
                    break
                unit()
            self.close_window()

    def per_unit(self) -> dict[str, int]:
        """Calls of each kind in one unit: the warm-up window is one."""
        n: dict[str, int] = {}
        for op in self.windows["warmup"]["ops"]:
            n[op["kind"]] = n.get(op["kind"], 0) + 1
        return n

    def summary(self, name: str) -> dict:
        """Latency and throughput of one window.  ``latency_geomean_ms``
        is the geometric mean, over the kinds of call a unit makes, of
        each kind's median latency: every unit makes the same calls, so
        this weighs each kind once however long it takes.  ``ops_per_s``
        is the calls of one unit per second of that unit's calls, each
        kind at its median latency, so a window that ends part-way
        through a unit does not shift the mix of calls it weighs."""
        w = self.windows[name]
        ops = [op for op in w["ops"] if op["class"] in self.classes]
        by_kind: dict[str, list[float]] = {}
        for op in ops:
            by_kind.setdefault(op["kind"], []).append(op["wall"])
        medians = {k: statistics.median(v) for k, v in by_kind.items()}
        walls = [op["wall"] for op in ops]
        unit = {k: n for k, n in self.per_unit().items() if k in medians}
        unit_s = sum(n * medians[k] for k, n in unit.items())
        return {
            "latency_geomean_ms": 1000 * math.exp(
                statistics.fmean(math.log(m) for m in medians.values())
            ) if medians else 0.0,
            "ops_per_s": sum(unit.values()) / unit_s if unit_s else 0.0,
            "class_p50_ms": {c: 1000 * statistics.median(v)
                             for c, v in w["walls"].items()},
            "class_n": {c: len(v) for c, v in w["walls"].items()},
            "kind_p50_ms": {k: 1000 * m for k, m in medians.items()},
            "ops": len(walls),
            "wall_s": w["wall_s"],
            "box": w["box"],
        }

    # -- outputs -----------------------------------------------------------
    def record(self) -> dict:
        base = "untraced" if self.trace else "timed"
        rec = {
            "windows": {n: self.summary(n) for n in self.windows},
            "warmup_s": self.windows["warmup"]["wall_s"],
            "workload_metrics": workload_metrics(self, self.windows[base]),
            "counters_by_kind": self.kind_counters(base),
            "check_failures": self.check_failures,
            "calls_ms": [[op["kind"], round(1000 * op["wall"], 1)]
                         for op in self.windows[base]["ops"]],
        }
        rec.update(self.summary(base))
        return rec

    def kind_counters(self, name: str) -> dict:
        out: dict[str, dict] = {}
        for op in self.windows[name]["ops"]:
            out.setdefault(op["kind"], []).append(op)
        return {
            k: {c: statistics.median(op[c] for op in ops)
                for c in KERNEL_COUNTERS if c in ops[0]}
            for k, ops in out.items()
        }

    def per_layer(self, calibration: dict) -> dict:
        return per_layer_metrics(self, calibration)


def _count_lines(path: str, seen: set) -> int:
    """Lines in the part files of ``path`` not in ``seen`` (then added)."""
    n = 0
    for f in sorted(os.listdir(path)) if os.path.isdir(path) else []:
        if f.endswith(".json") and f not in seen:
            seen.add(f)
            with open(os.path.join(path, f)) as fh:
                n += sum(1 for _ in fh)
    return n


# ----------------------------------------------------------------------
# twin_ops
# ----------------------------------------------------------------------
def twin_ops(run: Run) -> None:
    from pg_age_digitaltwins_spark import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.commit_log import load_latest
    from pg_age_digitaltwins_spark.streaming import cloudevents, sinks
    from pg_age_digitaltwins_spark.streaming.replica import (
        replica_lag,
        replicate_catch_up,
    )

    run.workload = "twin_ops"
    fx, rng, spark = run.fixture, run.rng, run.spark
    root = os.path.join(run.dir, "twins")
    rep = os.path.join(run.dir, "replica")
    shutil.copytree(fx.commit_base, root)
    if run.trace:  # only traced runs apply the commits to the replica
        shutil.copytree(fx.replica_base, rep)
    client = DigitalTwinsSparkClient(load_latest(spark, root)[0])

    # the change-feed consumer: notifications and history to two lake
    # sinks, and a replica of the committed graph
    en_dir = os.path.join(run.dir, "events-en")
    dh_dir = os.path.join(run.dir, "events-dh")
    router = sinks.EventRouter(source="perfbench")
    router.add_sink(sinks.NdjsonDirSink(en_dir, name="en"))
    router.add_sink(sinks.NdjsonDirSink(dh_dir, name="dh"))
    router.add_route(sinks.EventRoute("en", "EventNotification"))
    router.add_route(sinks.EventRoute("dh", "DataHistory"))
    ckpt = os.path.join(run.dir, "stream-ckpt")
    seen_en: set = set()
    seen_dh: set = set()

    customers = [f"cust-{i}" for i in range(SCALE["customer"])]
    orders = [f"order-{i}" for i in range(SCALE["orders"])]
    cust_order, pick_cust = zipf(rng, customers)
    order_order, pick_order = zipf(rng, orders)
    # small sets of repeated query texts, well under the plan cache size
    hot_orders = order_order[:8]
    hot_customers = [c for c in cust_order if fx.orders_of.get(c)][:8]
    written: dict[str, tuple] = {}  # dt_id -> (property, value, etag)
    etags: dict[str, str] = {}
    st = {"depth": 0, "version": 1, "last": None, "n": 0,
          "undelivered": 0, "unreplicated": 0}

    def read_check(dt_id, doc):
        if not doc or doc.get("$dtId") != dt_id:
            return f"read of {dt_id} returned {str(doc)[:80]}"
        if dt_id in written:
            p, value, etag = written[dt_id]
            if doc.get(p) != value:
                return f"read-your-writes: {dt_id}.{p}={doc.get(p)}, wrote {value}"
            if doc.get("$etag") != etag:
                return f"read-your-writes: {dt_id} etag {doc.get('$etag')}, wrote {etag}"
        etags[dt_id] = doc.get("$etag")
        return None

    def get_twin(own_write: bool = False):
        # own_write: the caller reads back the twin it patched last
        dt_id = st["last"] if own_write else pick_cust()
        run.note("uncommitted_depth_at_read", st["depth"])
        run.call("point_read", "get_digital_twin",
                 lambda: client.get_digital_twin(dt_id),
                 lambda doc: read_check(dt_id, doc))

    def adt_point():
        dt_id = pick_order()
        q = f"SELECT T FROM DIGITALTWINS T WHERE T.$dtId = '{dt_id}'"
        run.note("uncommitted_depth_at_read", st["depth"])
        run.call("point_read", "adt_point", lambda: client.query(q).rows,
                 lambda rows: f"{len(rows)} rows" if len(rows) != 1
                 else read_check(dt_id, rows[0].get("T")))

    def join_2hop():
        o = rng.choice(hot_orders)
        q = ("SELECT C.$dtId AS cust, N.$dtId AS nation FROM DIGITALTWINS O "
             "JOIN C RELATED O.placedBy JOIN N RELATED C.locatedIn "
             f"WHERE O.$dtId = '{o}'")
        want = fx.order_customer[o]
        run.call("traverse", "adt_join_2hop", lambda: client.query(q).rows,
                 lambda rows: None if len(rows) == 1 and rows[0]["cust"] == want
                 else f"{o}: {rows}"[:200])

    def cypher_1hop():
        c = rng.choice(hot_customers)
        q = f"MATCH (o)-[:placedBy]->(c) WHERE c.`$dtId` = '{c}' RETURN o.`$dtId` AS o"
        want = fx.orders_of[c]
        run.call("traverse", "cypher_match_1hop", lambda: client.query(q).rows,
                 lambda rows: None if len(rows) == want
                 else f"{c}: {len(rows)} orders, expected {want}")

    def paged():
        q = ("SELECT T.$dtId AS id FROM DIGITALTWINS T "
             "WHERE IS_OF_MODEL(T, 'dtmi:demo:Party;1')")

        def two_pages():
            first = client.query(q, max_items_per_page=100)
            nxt = client.query(q, max_items_per_page=100,
                               continuation_token=first.continuation_token)
            return first.rows, nxt.rows

        def check(pages):
            a, b = ({r["id"] for r in p} for p in pages)
            if len(a) != 100 or len(b) != 100 or a & b:
                return f"pages of {len(a)} and {len(b)} ids, {len(a & b)} shared"
            return None

        run.call("traverse", "adt_paged", two_pages, check)

    def patch():
        dt_id, p = pick_cust(), "acctbal"
        value = round(rng.uniform(1, 10000), 2)
        before = etags.get(dt_id)

        def check(doc):
            if doc.get(p) != value:
                return f"patch of {dt_id}.{p} returned {doc.get(p)}"
            if not doc.get("$etag") or doc.get("$etag") == before:
                return f"patch of {dt_id} kept etag {before}"
            return None

        doc = run.call("write", "patch", lambda: client.update_digital_twin(
            dt_id, [{"op": "replace", "path": f"/{p}", "value": value}]), check)
        if doc is not None:
            written[dt_id] = (p, value, doc["$etag"])
            etags[dt_id] = doc["$etag"]
            st["last"] = dt_id
        st["depth"] += 1

    def relationship():
        src = pick_cust()
        dst = pick_cust()
        while dst == src:
            dst = pick_cust()
        st["n"] += 1
        rel_id = f"follows-{run.seed}-{st['n']}"
        run.call("write", "relationship",
                 lambda: client.create_or_replace_relationship(
                     src, rel_id, {"$relationshipName": "follows", "$targetId": dst}),
                 lambda doc: None
                 if (doc["$sourceId"], doc["$targetId"]) == (src, dst)
                 else f"relationship {rel_id}: {doc}"[:200])
        st["depth"] += 1

    def upsert():
        # a batch replacing customers outside the Zipf head (so reads of
        # patched twins stay checkable), plus a few new twins
        ids = rng.sample(cust_order[len(cust_order) // 2:], UPSERT_BATCH - 10)
        for _ in range(10):
            st["n"] += 1
            ids.append(f"cust-new-{run.seed}-{st['n']}")
        docs = [{
            "$dtId": i,
            "$metadata": {"$model": "dtmi:demo:Customer;1"},
            "name": f"Customer {i}",
            "acctbal": round(rng.uniform(-1000, 10000), 2),
            "mktsegment": "BUILDING",
            "tags": ["BUILDING"],
            "custkey": n,
            "nationkey": n % 25,
            "active": True,
        } for n, i in enumerate(ids)]
        for i in ids:
            written.pop(i, None)
        run.call("write", "create_or_replace_digital_twins",
                 lambda: client.create_or_replace_digital_twins(docs),
                 lambda res: None if [r.get("status") for r in res] == ["ok"] * len(docs)
                 else f"batch results {str(res)[:200]}")
        st["depth"] += 1

    def commit():
        events = list(client.changes.events)
        size0 = dir_bytes(root) if run.trace else 0
        v = run.call("commit", "commit", lambda: client.commit(root),
                     lambda v: None if v == st["version"] + 1
                     else f"committed version {v}, expected {st['version'] + 1}")
        st["depth"] = 0
        if v is None:
            return
        st["version"] = v
        st["undelivered"] += len(events)
        st["unreplicated"] += len(events)
        if run.trace:
            run.note("commit_bytes_written", dir_bytes(root) - size0)
            t0 = time.perf_counter()
            for fmt in ("EventNotification", "DataHistory"):
                for ev in events:
                    cloudevents.FORMATTERS[fmt](ev, "perfbench")
            run.note("format_ms_per_1k",
                     1e6 * (time.perf_counter() - t0) / max(1, len(events)))

    def drain():
        before = set(os.listdir(en_dir)) if os.path.isdir(en_dir) else set()
        first: list[float] = []
        done = threading.Event()

        def watch(t0):
            while not done.is_set():
                if os.path.isdir(en_dir) and any(
                    f.endswith(".json") and f not in before
                    for f in os.listdir(en_dir)
                ):
                    first.append(time.perf_counter() - t0)
                    return
                time.sleep(0.005)

        def fn():
            t0 = time.perf_counter()
            watcher = threading.Thread(target=watch, args=(t0,))
            watcher.start()
            try:
                q = sinks.run_change_stream(spark, root, router, ckpt)
                if not q.awaitTermination(120):
                    q.stop()
                    raise TimeoutError("change stream did not drain in 120 s")
            finally:
                done.set()
                watcher.join()
            return q

        def check(_):
            en = _count_lines(en_dir, seen_en)
            dh = _count_lines(dh_dir, seen_dh)
            want, st["undelivered"] = st["undelivered"], 0
            run.note("events_delivered", en + dh)
            if en != want or not dh:
                return (f"delivered {en} notifications and {dh} history "
                        f"events for {want} committed changes")
            return None

        if run.call("drain", "run_change_stream", fn, check) is not None:
            run.note("first_output_s", first[0] if first else float("nan"))

    def catch_up():
        run.note("replica_lag_versions", replica_lag(root, rep))

        def check(_):
            a = load_latest(spark, root)[0].twins.count()
            b = load_latest(spark, rep)[0].twins.count()
            return None if a == b else f"replica holds {b} twins, source {a}"

        rows, st["unreplicated"] = st["unreplicated"], 0
        if run.call("catch_up", "replicate_catch_up",
                    lambda: replicate_catch_up(spark, root, rep), check) is not None:
            run.note("rows_replicated", rows)

    # One scripted session: every call once, reads at uncommitted depths
    # 0-2 (one of them reading back the session's own patch), then a
    # commit and the change feed draining it.
    def session():
        get_twin()
        join_2hop()
        patch()
        get_twin(own_write=True)
        cypher_1hop()
        relationship()
        adt_point()
        paged()
        upsert()
        commit()
        drain()

    run.drive(session, TWIN_CLASSES)
    if run.trace:
        # The replica catches up once, after the windows: one traced apply
        # of every commit of the run, reported with the per-layer metrics.
        run.open_window("replica", traced=True)
        catch_up()
        run.close_window()


# ----------------------------------------------------------------------
# graph_analytics
# ----------------------------------------------------------------------
def fingerprint(rows) -> str:
    """Order-free digest of a kernel's (node, value) output; floats are
    rounded to 8 digits like the DuckDB oracle keys."""
    def fmt(v):
        return repr(round(v, 8)) if isinstance(v, float) else str(v)

    lines = sorted(f"{r[0]}\t{fmt(r[1])}" for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def graph_analytics(run: Run) -> None:
    from pg_age_digitaltwins_spark import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.tpch_loader import load_graph

    run.workload = "graph_analytics"
    store = load_graph(run.spark, run.fixture.graph_dir)
    with open(EXPECTED) as f:
        expected = json.load(f)["graph_analytics"]

    def kernel(name):
        def fn():
            # a fresh client: a reused one replays its cached,
            # already-checkpointed plan instead of running the kernel
            client = DigitalTwinsSparkClient(store)
            t0 = time.perf_counter()
            df = client.query_df(KERNELS[name])
            t1 = time.perf_counter()
            rows = df.collect()
            run.note(f"{name}.build_s", t1 - t0)
            run.note(f"{name}.exec_s", time.perf_counter() - t1)
            return rows

        def check(rows):
            if len(rows) != run.fixture.n_twins:
                return f"{len(rows)} rows, expected {run.fixture.n_twins}"
            got = fingerprint(rows)
            return None if got == expected[name] else (
                f"fingerprint {got}, expected {expected[name]}")

        return lambda: run.call(name, name, fn, check)

    # A unit is one kernel call, in turn, so a window ends within one
    # kernel of ``--seconds``; the warm-up is one call of each.
    turn = itertools.cycle(KERNELS)
    run.drive(lambda: kernel(next(turn))(), tuple(KERNELS))


WORKLOADS = {
    "twin_ops": twin_ops,
    "graph_analytics": graph_analytics,
}


# ----------------------------------------------------------------------
# metrics
# ----------------------------------------------------------------------
def workload_metrics(run: Run, w: dict) -> dict:
    """The user-facing numbers of each path for one window; 0 for the
    numbers of paths the workload does not run."""
    walls, notes = w["walls"], w["notes"]
    out = {k: 0.0 for k in (
        "point_read_p50_ms", "point_read_p95_ms", "traverse_p50_ms",
        "traverse_p95_ms", "write_p50_ms", "write_p95_ms", "commit_p50_ms",
        "twin_ops_per_s", "analytics_wall_s", "cdc_events_per_s",
        "cdc_first_output_s", "replication_rows_per_s",
    )}

    def med(c):
        return statistics.median(walls[c]) if c in walls else 0.0

    def rate(note, c):
        return sum(notes[note]) / sum(walls[c]) if c in walls and note in notes else 0.0

    if run.workload == "twin_ops":
        for c in ("point_read", "traverse", "write"):
            out[f"{c}_p50_ms"] = 1000 * med(c)
            out[f"{c}_p95_ms"] = 1000 * pct(walls.get(c, []), 95)
        out["commit_p50_ms"] = 1000 * med("commit")
        timed = [op["wall"] for op in w["ops"] if op["class"] in TWIN_CLASSES]
        out["twin_ops_per_s"] = len(timed) / sum(timed) if timed else 0.0
        out["cdc_events_per_s"] = rate("events_delivered", "drain")
        out["cdc_first_output_s"] = statistics.median(notes.get("first_output_s", [0.0]))
        out["replication_rows_per_s"] = rate("rows_replicated", "catch_up")
    else:
        out["analytics_wall_s"] = sum(med(k) for k in KERNELS)
    out["error_rate"] = run.failed / max(1, run.attempted)
    return out


def per_layer_metrics(run: Run, calibration: dict) -> dict:
    """Every per-layer metric of BENCHMARK.json, from the traced window."""
    from collections import defaultdict

    units: dict[str, str] = {}
    vals: dict[str, float] = {}

    def put(name, value, unit):
        vals[name] = float(value)
        units[name] = unit

    w = run.windows["traced"]
    replica = run.windows.get("replica")
    if replica:
        w = {"ops": w["ops"] + replica["ops"],
             "walls": {**w["walls"], **replica["walls"]},
             "notes": {**w["notes"], **replica["notes"]}}
    for k, v in workload_metrics(run, w).items():
        put(k, v, "ratio" if k == "error_rate" else
            "1/s" if k.endswith("_per_s") else "s" if k.endswith("_s") else "ms")

    spans = run.tracer.by_name()

    def med_ms(name, top_level_only=False):
        ss = spans.get(name, [])
        if top_level_only:
            ids = {s["id"] for s in ss}
            ss = [s for s in ss if s["parent"] not in ids]
        return 1000 * statistics.median(s["end"] - s["start"] for s in ss) if ss else 0.0

    for layer in ("adtql.parse", "adtql.compile", "cypher.parse", "cypher.compile",
                  "crud.update_twin", "validation.validate_twin"):
        put(f"{layer}_ms", med_ms(layer), "ms")
    put("functions.jsonpatch.apply_ms", med_ms("functions.jsonpatch.apply"), "ms")
    put("client.collect_ms", med_ms("client.collect", top_level_only=True), "ms")
    parents = defaultdict(set)
    for name in ("adtql.parse", "cypher.parse"):
        for s in spans.get(name, []):
            parents[s["parent"]].add(name)
    lookups = spans.get("client.query_df", [])
    hits = sum(1 for s in lookups if s["id"] not in parents)
    put("client.plan_cache_hit_ratio", hits / len(lookups) if lookups else 0.0, "ratio")
    depth = w["notes"].get("uncommitted_depth_at_read", [])
    put("crud.uncommitted_depth_at_read", statistics.fmean(depth) if depth else 0.0, "count")
    put("store.commit_log.commit_cow_ms", med_ms("store.commit_log.commit_cow"), "ms")
    put("store.commit_log.load_latest_ms", med_ms("store.commit_log.load_latest"), "ms")
    written = w["notes"].get("commit_bytes_written", [])
    put("store.commit_log.bytes_written", statistics.median(written) if written else 0, "B")

    ops = w["ops"]
    for k in KERNELS:
        mine = [op for op in ops if op["kind"] == k]
        notes = w["notes"]
        put(f"operators.graph_analytics.{k}.build_s",
            statistics.median(notes[f"{k}.build_s"]) if mine else 0.0, "s")
        put(f"operators.graph_analytics.{k}.exec_s",
            statistics.median(notes[f"{k}.exec_s"]) if mine else 0.0, "s")
        for c in KERNEL_COUNTERS:
            put(f"operators.graph_analytics.{k}.{c}",
                statistics.median(op[c] for op in mine) if mine else 0,
                "B" if c.endswith("_bytes") else "count")

    fmt = w["notes"].get("format_ms_per_1k", [])
    put("streaming.cloudevents.format_ms_per_1k", statistics.median(fmt) if fmt else 0.0, "ms")
    drains = [op for op in ops if op["kind"] == "run_change_stream"]
    batches = spans.get("streaming.sinks.batch", [])
    put("streaming.sinks.batches", len(batches) / len(drains) if drains else 0.0, "count")
    put("streaming.sinks.batch_ms", med_ms("streaming.sinks.batch"), "ms")
    put("streaming.replica.merge_ms", med_ms("streaming.replica.merge"), "ms")
    lag = w["notes"].get("replica_lag_versions", [])
    put("streaming.replica.lag_versions", statistics.fmean(lag) if lag else 0.0, "count")

    for kind in TWIN_KINDS:
        mine = [op for op in ops if op["kind"] == kind] if run.workload == "twin_ops" else []
        for c in OP_COUNTERS:
            put(f"spark.{kind}.{c}", statistics.median(op[c] for op in mine) if mine else 0,
                "B" if c.endswith("_bytes") else "count")

    base = statistics.fmean(run.summary(n)["latency_geomean_ms"]
                            for n in ("untraced", "untraced_after"))
    traced = run.summary("traced")["latency_geomean_ms"]
    put("trace.overhead_pct", 100 * (traced / base - 1), "%")
    put("warmup_s", run.windows["warmup"]["wall_s"], "s")
    put("calibration.spin_s", calibration["spin_s"], "s")
    put("calibration.shuffle_s", calibration["shuffle_s"], "s")
    return {k: {"value": vals[k], "unit": units[k]} for k in vals}
