"""Cypher subset behavior (SURVEY.md §2.2 C1-C14) against the seeded
fixture graph — the same constructs the reference emits/tests against
AGE."""

from __future__ import annotations

import pytest

from pg_age_digitaltwins_spark.cypher import compile_cypher
from pg_age_digitaltwins_spark.cypher.parser import CypherParseError, parse_cypher


def rows(store, q):
    return [r.asDict(recursive=True) for r in compile_cypher(store, q).collect()]


def ids(store, q, col="id"):
    return sorted(r[col] for r in rows(store, q))


# --- C1: MATCH patterns ----------------------------------------------

def test_match_all_twins(fixture_store):
    out = rows(fixture_store, "MATCH (t:Twin) RETURN t.`$dtId` AS id")
    assert len(out) == 13


def test_match_prop_map(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (t:Twin {`$dtId`: 'room1'}) RETURN t.name AS name, t.temperature AS temp",
    )
    assert out == [{"name": "Room 1", "temp": "22.5"}]


def test_match_edge_forward(fixture_store):
    assert ids(
        fixture_store,
        "MATCH (a {`$dtId`: 'root2'})-[r:has]->(b) RETURN b.`$dtId` AS id",
    ) == ["b1", "b2"]


def test_match_edge_reverse(fixture_store):
    assert ids(
        fixture_store,
        "MATCH (a)<-[r:has]-(b {`$dtId`: 'root2'}) RETURN a.`$dtId` AS id",
    ) == ["b1", "b2"]


def test_match_undirected(fixture_store):
    assert ids(
        fixture_store,
        "MATCH (a {`$dtId`: 'b1'})-[r:has]-(b) RETURN b.`$dtId` AS id",
    ) == ["root2", "x"]


def test_match_multilabel_edge(fixture_store):
    assert ids(
        fixture_store,
        "MATCH (a {`$dtId`: 'root3'})-[r:hasBlob|hasModel]->(b) RETURN b.`$dtId` AS id",
    ) == ["x", "y"]


def test_match_two_hop_chain(fixture_store):
    assert ids(
        fixture_store,
        "MATCH (a)-[:has]->(b)-[:has]->(c) RETURN c.`$dtId` AS id",
    ) == ["x"]


def test_match_edge_prop_filter(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (a)-[r:has]->(b) WHERE r.grade > 2 RETURN b.`$dtId` AS id, r.grade AS g",
    )
    assert sorted((r["id"], float(r["g"])) for r in out) == [("b1", 5.0), ("b2", 3.0)]


# --- C2: OPTIONAL MATCH ----------------------------------------------

def test_optional_match_left_join(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (a:Twin) OPTIONAL MATCH (a)-[r:has]->(b) "
        "RETURN a.`$dtId` AS id, b.`$dtId` AS target",
    )
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], set()).add(r["target"])
    assert by_id["root2"] == {"b1", "b2"}
    assert by_id["room1"] == {None}  # no has-edges: padded with NULLs
    assert by_id["b1"] == {"x"}


# --- C3/C4: WHERE, RETURN aliases, SKIP/LIMIT ------------------------

def test_where_string_ops(fixture_store):
    assert ids(
        fixture_store,
        "MATCH (t) WHERE t.name STARTS WITH 'Room' RETURN t.`$dtId` AS id",
    ) == ["room1", "room2"]
    assert ids(
        fixture_store,
        "MATCH (t) WHERE t.name CONTAINS 'Planet' RETURN t.`$dtId` AS id",
    ) == ["hp1", "p1"]


def test_where_in_list(fixture_store):
    assert ids(
        fixture_store,
        "MATCH (t) WHERE t.`$dtId` IN ['room1', 'room2', 'nope'] RETURN t.`$dtId` AS id",
    ) == ["room1", "room2"]


def test_where_is_null(fixture_store):
    assert ids(
        fixture_store,
        "MATCH (t) WHERE t.temperature IS NOT NULL RETURN t.`$dtId` AS id",
    ) == ["room1", "room2"]


def test_order_skip_limit(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (t) WHERE t.name IS NOT NULL "
        "RETURN t.`$dtId` AS id ORDER BY id DESC SKIP 1 LIMIT 3",
    )
    assert [r["id"] for r in out] == ["y", "x", "root3"]


# --- C5/C6: aggregates, collect --------------------------------------

def test_count_star(fixture_store):
    assert rows(fixture_store, "MATCH (t) RETURN count(*) AS n") == [{"n": 13}]


def test_grouped_aggregates(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (a)-[r:has]->(b) RETURN a.`$dtId` AS src, count(*) AS n, "
        "sum(r.grade) AS total",
    )
    got = {r["src"]: (r["n"], r["total"]) for r in out}
    assert got["root2"] == (2, 8.0)
    assert got["b1"] == (1, 1.0)
    assert got["root3"] == (1, None)  # r5 has no grade


def test_collect(fixture_store):
    [r] = rows(
        fixture_store,
        "MATCH (a {`$dtId`: 'root2'})-[:has]->(b) RETURN collect(b.`$dtId`) AS kids",
    )
    assert sorted(r["kids"]) == ["b1", "b2"]


def test_avg_min_max(fixture_store):
    [r] = rows(
        fixture_store,
        "MATCH (t) WHERE t.temperature IS NOT NULL "
        "RETURN avg(t.temperature) AS a, min(t.temperature) AS lo, max(t.temperature) AS hi",
    )
    assert (float(r["a"]), float(r["lo"]), float(r["hi"])) == (20.25, 18.0, 22.5)


# --- C7: UNWIND -------------------------------------------------------

def test_unwind_literal_list(fixture_store):
    out = rows(fixture_store, "UNWIND [1, 2, 3] AS x RETURN x")
    assert sorted(r["x"] for r in out) == [1, 2, 3]


def test_unwind_property_array(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (t {`$dtId`: 'shapes'}) UNWIND t.tags AS tag RETURN toString(tag) AS tag",
    )
    assert sorted(r["tag"] for r in out) == ['"tag1"', '"tag2"'] or sorted(
        r["tag"] for r in out
    ) == ["tag1", "tag2"]


# --- C8: UNION --------------------------------------------------------

def test_union_distinct(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (t {`$dtId`: 'room1'}) RETURN t.`$dtId` AS id "
        "UNION MATCH (t {`$dtId`: 'room1'}) RETURN t.`$dtId` AS id",
    )
    assert out == [{"id": "room1"}]


def test_union_all(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (t {`$dtId`: 'room1'}) RETURN t.`$dtId` AS id "
        "UNION ALL MATCH (t {`$dtId`: 'room1'}) RETURN t.`$dtId` AS id",
    )
    assert len(out) == 2


# --- C9: write clauses rejected --------------------------------------

@pytest.mark.parametrize(
    "q",
    [
        "CREATE (n:Twin {`$dtId`: 'evil'}) RETURN n",
        "MATCH (n) DELETE n RETURN n",
        "MATCH (n) SET n.x = 1 RETURN n",
        "MERGE (n:Twin {`$dtId`: 'x'}) RETURN n",
    ],
)
def test_write_clauses_rejected(q):
    with pytest.raises(CypherParseError, match="not allowed"):
        parse_cypher(q)


# --- C10: variable-length edges --------------------------------------

def test_var_length_1_2(fixture_store):
    assert ids(
        fixture_store,
        "MATCH (a {`$dtId`: 'root2'})-[:has*1..2]->(b) RETURN b.`$dtId` AS id",
    ) == ["b1", "b2", "x"]


def test_var_length_exact_2(fixture_store):
    assert ids(
        fixture_store,
        "MATCH (a {`$dtId`: 'root2'})-[:has*2]->(b) RETURN b.`$dtId` AS id",
    ) == ["x"]


def test_var_length_unbounded(fixture_store):
    assert ids(
        fixture_store,
        "MATCH (a {`$dtId`: 'root2'})-[:has*]->(b) RETURN b.`$dtId` AS id",
    ) == ["b1", "b2", "x"]


def test_var_length_open_bounds_and_bare_alias(fixture_store):
    """The remaining grammar variants from the reference's
    ``VariableLengthEdgeTests.cs`` matrix: ``*..n`` (defaulted lower
    bound), ``*n..`` (open upper bound), and an edge alias with no
    label (``[r*..3]``) — all label-free forms traverse every
    relationship name."""
    # *..2 : lo defaults to 1
    assert ids(
        fixture_store,
        "MATCH (a {`$dtId`: 'root2'})-[*..2]->(b) RETURN b.`$dtId` AS id",
    ) == ["b1", "b2", "x"]
    # *2.. : open upper bound, only depth-2+ targets
    assert ids(
        fixture_store,
        "MATCH (a {`$dtId`: 'root2'})-[*2..]->(b) RETURN b.`$dtId` AS id",
    ) == ["x"]
    # alias without label
    assert ids(
        fixture_store,
        "MATCH (a {`$dtId`: 'root2'})-[r*..3]->(b) RETURN b.`$dtId` AS id",
    ) == ["b1", "b2", "x"]


# --- C11/C12: label(), toLower/toString ------------------------------

def test_label_function(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (a {`$dtId`: 'root3'})-[r]->(b) RETURN label(r) AS lbl, b.`$dtId` AS id",
    )
    assert sorted((r["lbl"], r["id"]) for r in out) == [
        ("has", "z"), ("hasBlob", "x"), ("hasModel", "y"),
    ]


def test_to_lower_upper(fixture_store):
    [r] = rows(
        fixture_store,
        "MATCH (t {`$dtId`: 'room1'}) RETURN toLower(t.name) AS lo, toUpper(t.name) AS hi",
    )
    assert (r["lo"], r["hi"]) == ("room 1", "ROOM 1")


# --- C13: ORDER BY + l2_distance -------------------------------------

def test_l2_distance_order(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (t) WHERE t.temperature IS NOT NULL "
        "RETURN t.`$dtId` AS id, l2_distance([t.temperature], [20.0]) AS d "
        "ORDER BY d ASC LIMIT 1",
    )
    assert out[0]["id"] == "room2"  # |18-20| < |22.5-20|


# --- C14: nested property map access ---------------------------------

def test_metadata_model_access(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (t) WHERE t.`$metadata`.`$model` = 'dtmi:com:contoso:Planet;1' "
        "RETURN t.`$dtId` AS id",
    )
    assert [r["id"] for r in out] == ["p1"]


# --- Model vertices ---------------------------------------------------

def test_match_model_nodes(fixture_store):
    out = ids(
        fixture_store,
        "MATCH (m:Model) WHERE m.id STARTS WITH 'dtmi:com:contoso' RETURN m.id AS id",
    )
    assert out == [
        "dtmi:com:contoso:CelestialBody;1",
        "dtmi:com:contoso:HabitablePlanet;1",
        "dtmi:com:contoso:Planet;1",
    ]


def test_model_extends_edges(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (m:Model)-[:_extends]->(b:Model) RETURN m.id AS child, b.id AS parent",
    )
    got = {(r["child"], r["parent"]) for r in out}
    assert ("dtmi:com:contoso:Planet;1", "dtmi:com:contoso:CelestialBody;1") in got
    assert ("dtmi:com:contoso:HabitablePlanet;1", "dtmi:com:contoso:Planet;1") in got


def test_count_distinct(fixture_store):
    [r] = rows(
        fixture_store,
        "MATCH (a)-[r]->(b) RETURN count(DISTINCT a.`$dtId`) AS srcs",
    )
    assert r["srcs"] == 3  # root2, root3, b1


# --- typed min/max + DISTINCT ordering (round-3 wrong-answer fixes) ---

def _value_store(spark, values, key="val"):
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    docs = [
        {"$dtId": f"t{i}", "$metadata": {"$model": "dtmi:x:M;1"}, key: v}
        for i, v in enumerate(values)
    ]
    return GraphStore.from_documents(spark, twin_docs=docs)


def test_min_max_numeric_not_lexicographic(spark):
    # max over [9, 10, 2] must be 10 — the loose-string aggregation
    # returned '9' (lexicographic).  VERDICT r2 "What's wrong" #1.
    store = _value_store(spark, [9, 10, 2])
    [r] = rows(store, "MATCH (t) RETURN max(t.val) AS hi, min(t.val) AS lo")
    assert (r["hi"], r["lo"]) == ("10", "2")


def test_min_max_double_numeric_order(spark):
    store = _value_store(spark, [9.5, 10.25, 2.0])
    [r] = rows(store, "MATCH (t) RETURN max(t.val) AS hi, min(t.val) AS lo")
    assert (float(r["hi"]), float(r["lo"])) == (10.25, 2.0)


def test_min_max_strings_stay_lexicographic(spark):
    store = _value_store(spark, ["b", "a", "c"])
    [r] = rows(store, "MATCH (t) RETURN max(t.val) AS hi, min(t.val) AS lo")
    assert (r["hi"], r["lo"]) == ("c", "a")


def test_min_max_skips_missing_properties(spark):
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    docs = [
        {"$dtId": "t0", "$metadata": {"$model": "dtmi:x:M;1"}, "val": 7},
        {"$dtId": "t1", "$metadata": {"$model": "dtmi:x:M;1"}},  # no val
        {"$dtId": "t2", "$metadata": {"$model": "dtmi:x:M;1"}, "val": 11},
    ]
    store = GraphStore.from_documents(spark, twin_docs=docs)
    [r] = rows(store, "MATCH (t) RETURN max(t.val) AS hi, min(t.val) AS lo")
    assert (r["hi"], r["lo"]) == ("11", "7")


def test_min_max_grouped_numeric(spark):
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    docs = [
        {"$dtId": "a1", "$metadata": {"$model": "dtmi:x:A;1"}, "g": "a", "val": 9},
        {"$dtId": "a2", "$metadata": {"$model": "dtmi:x:A;1"}, "g": "a", "val": 10},
        {"$dtId": "b1", "$metadata": {"$model": "dtmi:x:A;1"}, "g": "b", "val": 2},
    ]
    store = GraphStore.from_documents(spark, twin_docs=docs)
    out = rows(store, "MATCH (t) RETURN t.g AS g, max(t.val) AS hi")
    assert {r["g"]: r["hi"] for r in out} == {"a": "10", "b": "2"}


def test_distinct_order_by_skip_limit(spark):
    # DISTINCT dedupes BEFORE ORDER BY/SKIP/LIMIT; the old plan sorted
    # first and let the distinct shuffle scramble the rows, so SKIP
    # sliced arbitrary ones.  VERDICT r2 "What's wrong" #2.
    store = _value_store(spark, ["c", "a", "b", "a", "d", "c"])
    out = rows(
        store,
        "MATCH (t) RETURN DISTINCT t.val AS v ORDER BY v SKIP 1 LIMIT 2",
    )
    assert [r["v"] for r in out] == ["b", "c"]


def test_distinct_order_by_expression(spark):
    store = _value_store(spark, ["c", "a", "b", "a"])
    out = rows(
        store,
        "MATCH (t) RETURN DISTINCT t.val AS v ORDER BY t.val DESC LIMIT 2",
    )
    assert [r["v"] for r in out] == ["c", "b"]


def test_distinct_order_by_unprojected_rejected(spark):
    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError

    store = _value_store(spark, ["a"])
    with pytest.raises(CypherCompileError):
        rows(store, "MATCH (t) RETURN DISTINCT t.val AS v ORDER BY t.`$dtId`")


def test_order_by_variant_numeric_typed(spark):
    """ORDER BY over a non-promoted numeric property compares
    numerically, not lexicographically ('10' < '9' as strings): [9,10,2]
    must order 2 < 9 < 10 in every ORDER BY path (direct prop, alias,
    DISTINCT, post-aggregation)."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{
        "@id": "dtmi:ord:M;1", "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "contents": [{"@type": "Property", "name": "val", "schema": "integer"}],
    }]
    twins = [
        {"$dtId": t, "$metadata": {"$model": "dtmi:ord:M;1"}, "val": v}
        for t, v in [("a", 9), ("b", 10), ("c", 2)]
    ]
    c = DigitalTwinsSparkClient(
        GraphStore.from_documents(spark, twin_docs=twins, relationship_docs=[], model_docs=models)
    )
    q = lambda s: [r[list(r)[0]] for r in c.query(s).rows]  # noqa: E731
    assert q("MATCH (t:Twin) RETURN t.val AS v ORDER BY t.val ASC") == ["2", "9", "10"]
    assert q("MATCH (t:Twin) RETURN t.val AS v ORDER BY v ASC") == ["2", "9", "10"]
    assert q("MATCH (t:Twin) RETURN t.val AS v ORDER BY t.val DESC") == ["10", "9", "2"]
    assert q("MATCH (t:Twin) RETURN DISTINCT t.val AS v ORDER BY t.val ASC SKIP 1") == ["9", "10"]
    rows = c.query(
        "MATCH (t:Twin) RETURN t.`$dtId` AS id, max(t.val) AS mx ORDER BY mx DESC"
    ).rows
    assert [r["id"] for r in rows] == ["b", "a", "c"]


def test_order_by_nulls_last_ascending(spark):
    """openCypher/AGE: null (missing property) sorts AFTER everything
    ascending, before everything descending — Spark's nulls-first
    default must be overridden."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{
        "@id": "dtmi:nul:M;1", "@type": "Interface",
        "@context": "dtmi:dtdl:context;3",
        "contents": [{"@type": "Property", "name": "val", "schema": "integer"}],
    }]
    twins = [
        {"$dtId": "a", "$metadata": {"$model": "dtmi:nul:M;1"}, "val": 7},
        {"$dtId": "b", "$metadata": {"$model": "dtmi:nul:M;1"}},          # missing
        {"$dtId": "c", "$metadata": {"$model": "dtmi:nul:M;1"}, "val": 3},
    ]
    c = DigitalTwinsSparkClient(
        GraphStore.from_documents(spark, twin_docs=twins, relationship_docs=[], model_docs=models)
    )
    asc = [r["id"] for r in c.query(
        "MATCH (t:Twin) RETURN t.`$dtId` AS id ORDER BY t.val ASC").rows]
    assert asc == ["c", "a", "b"]
    desc = [r["id"] for r in c.query(
        "MATCH (t:Twin) RETURN t.`$dtId` AS id ORDER BY t.val DESC").rows]
    assert desc == ["b", "a", "c"]


def test_var_length_zero_lower_bound(fixture_store):
    """[*0..n] includes the start node itself (zero-length path)."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient

    c = DigitalTwinsSparkClient(fixture_store)
    rows = c.query(
        "MATCH (a {`$dtId`: 'root2'})-[:has*0..1]->(b) RETURN b.`$dtId` AS id ORDER BY id"
    ).rows
    assert [r["id"] for r in rows] == ["b1", "b2", "root2"]


def test_optional_match_leading(fixture_store):
    """Leading OPTIONAL MATCH (no prior MATCH) is openCypher-legal:
    matches flow through; zero matches yield ONE all-null row."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient

    c = DigitalTwinsSparkClient(fixture_store)
    hit = c.query(
        "OPTIONAL MATCH (t {`$dtId`: 'root2'})-[r:has]->(o) RETURN o.`$dtId` AS id ORDER BY id"
    ).rows
    assert [r["id"] for r in hit] == ["b1", "b2"]
    miss = c.query(
        "OPTIONAL MATCH (t {`$dtId`: 'no-such'})-[r:has]->(o) RETURN o.`$dtId` AS id"
    ).rows
    assert miss == [{"id": None}]


def test_query_rows_variant_values_jsonable(fixture_store):
    """UNWIND of a variant array reaches QueryPage as JSON-typed Python
    values (a raw VariantVal would break every JSON consumer)."""
    import json as _json

    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient

    c = DigitalTwinsSparkClient(fixture_store)
    rows = c.query(
        "MATCH (t {`$dtId`: 'shapes'}) UNWIND t.numbers AS x RETURN x"
    ).rows
    _json.dumps(rows)  # must not raise
    assert all(not hasattr(r["x"], "toPython") for r in rows)


def test_cypher_pagination_deterministic(fixture_store):
    """Paging an un-ORDERed Cypher query must visit every row exactly
    once across pages (an unsorted frame would slice arbitrarily)."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient

    c = DigitalTwinsSparkClient(fixture_store)
    q = "MATCH (t:Twin) RETURN t.`$dtId` AS id"
    seen, token = [], None
    while True:
        page = c.query(q, max_items_per_page=4, continuation_token=token)
        seen += [r["id"] for r in page.rows]
        token = page.continuation_token
        if not token:
            break
    assert len(seen) == 13 and len(set(seen)) == 13


# ----------------------------------------------------------------------
# WITH pipeline stages
# ----------------------------------------------------------------------


def test_with_having_idiom(fixture_store):
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient

    c = DigitalTwinsSparkClient(fixture_store)
    rows = c.query(
        "MATCH (n) WITH n.`$metadata`.`$model` AS m, count(*) AS c "
        "WHERE c >= 2 RETURN m, c ORDER BY c DESC, m"
    ).rows
    assert rows and all(r["c"] >= 2 for r in rows)
    # filtered models (count 1) are gone
    all_rows = c.query(
        "MATCH (n) WITH n.`$metadata`.`$model` AS m, count(*) AS c RETURN m, c"
    ).rows
    assert len(all_rows) > len(rows)


def test_with_chained_and_order_limit(fixture_store):
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient

    c = DigitalTwinsSparkClient(fixture_store)
    rows = c.query(
        "MATCH (n) WITH n.`$dtId` AS id ORDER BY id LIMIT 3 "
        "WITH id WHERE id STARTS WITH 'b' RETURN id"
    ).rows
    assert [r["id"] for r in rows] == ["b1", "b2"]


def test_with_then_uncorrelated_match(fixture_store):
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient

    c = DigitalTwinsSparkClient(fixture_store)
    rows = c.query(
        "MATCH (n) WITH count(*) AS total "
        "MATCH (m)-[r:has]->(x) RETURN total, count(*) AS edges"
    ).rows
    assert rows == [{"total": 13, "edges": 4}]


def test_with_entity_rebind_and_doc_prop_now_supported(fixture_store):
    """r7: entity passthrough lifted the two WITH bounds — a projected
    node can continue the pattern, and property access after WITH
    works (these raised 'match first, then WITH' / 'project the
    property explicitly' before)."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient

    c = DigitalTwinsSparkClient(fixture_store)
    out = c.query_df(
        "MATCH (n) WITH n MATCH (n)-[r:has]->(m) RETURN m.`$dtId` AS id"
    ).collect()
    assert sorted(r["id"] for r in out) == ["b1", "b2", "x", "z"]
    out2 = c.query_df(
        "MATCH (n {`$dtId`: 'room1'}) WITH n RETURN n.name AS name"
    ).collect()
    assert [r["name"] for r in out2] == ["Room 1"]


def test_is_of_model_function_in_cypher(spark):
    """Raw-Cypher `digitaltwins.is_of_model(t, id[, exact])` — the
    installed plpgsql helper (GraphInitialization.cs:50-121,
    docs/concepts/querying.mdx) — compiles to the plan-time closure
    IN-list, same as ADT QL's IS_OF_MODEL."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [
        {"@id": "dtmi:c:Base;1", "@type": "Interface",
         "@context": "dtmi:dtdl:context;3", "contents": []},
        {"@id": "dtmi:c:Derived;1", "@type": "Interface",
         "@context": "dtmi:dtdl:context;3", "extends": "dtmi:c:Base;1",
         "contents": []},
    ]
    twins = [
        {"$dtId": "a", "$metadata": {"$model": "dtmi:c:Derived;1"}},
        {"$dtId": "b", "$metadata": {"$model": "dtmi:c:Base;1"}},
    ]
    c = DigitalTwinsSparkClient(
        GraphStore.from_documents(spark, twin_docs=twins, model_docs=models)
    )
    rows = c.query(
        "MATCH (t:Twin) WHERE digitaltwins.is_of_model(t, 'dtmi:c:Base;1') "
        "RETURN t.`$dtId` AS id ORDER BY id"
    ).rows
    assert [r["id"] for r in rows] == ["a", "b"]  # inheritance included
    rows = c.query(
        "MATCH (t:Twin) WHERE is_of_model(t, 'dtmi:c:Base;1', true) "
        "RETURN t.`$dtId` AS id"
    ).rows
    assert [r["id"] for r in rows] == ["b"]  # exact
    # negation composes through boolean logic
    rows = c.query(
        "MATCH (t:Twin) WHERE NOT digitaltwins.is_of_model(t, 'dtmi:c:Derived;1') "
        "RETURN count(*) AS n"
    ).rows
    assert rows == [{"n": 1}]
    # unbound variable / non-literal id are compile errors
    import pytest as _pytest
    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError
    with _pytest.raises(CypherCompileError):
        c.query("MATCH (t:Twin) WHERE is_of_model(x, 'dtmi:c:Base;1') RETURN t")
    with _pytest.raises(CypherCompileError):
        c.query("MATCH (t:Twin) WHERE is_of_model(t, t.`$dtId`) RETURN t")


def test_case_expression_and_type_exists(spark):
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:ce:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3", "contents": []}]
    twins = [
        {"$dtId": "hot", "$metadata": {"$model": "dtmi:ce:T;1"}, "temp": 30.0},
        {"$dtId": "mild", "$metadata": {"$model": "dtmi:ce:T;1"}, "temp": 18.0},
        {"$dtId": "bare", "$metadata": {"$model": "dtmi:ce:T;1"}},
    ]
    rels = [{"$relationshipId": "r1", "$sourceId": "hot", "$targetId": "mild",
             "$relationshipName": "feeds"}]
    c = DigitalTwinsSparkClient(GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models))

    # generic (searched) CASE
    rows = c.query(
        "MATCH (t:Twin) RETURN t.`$dtId` AS id, "
        "CASE WHEN t.temp > 25 THEN 'hot' WHEN t.temp > 10 THEN 'mild' "
        "ELSE 'unknown' END AS band ORDER BY id"
    ).rows
    assert {r["id"]: r["band"] for r in rows} == {
        "hot": "hot", "mild": "mild", "bare": "unknown"}
    # simple (operand) CASE
    rows = c.query(
        "MATCH (t:Twin) RETURN CASE t.`$dtId` WHEN 'hot' THEN 1 "
        "WHEN 'mild' THEN 2 END AS rank_, t.`$dtId` AS id ORDER BY id"
    ).rows
    assert {r["id"]: r["rank_"] for r in rows} == {"hot": 1, "mild": 2, "bare": None}
    # exists() and type()
    rows = c.query(
        "MATCH (t:Twin) WHERE exists(t.temp) RETURN count(*) AS n"
    ).rows
    assert rows == [{"n": 2}]
    rows = c.query("MATCH ()-[r]->() RETURN type(r) AS kind").rows
    assert rows == [{"kind": "feeds"}]


def test_arithmetic_expressions(spark):
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:ar:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3", "contents": []}]
    twins = [{"$dtId": "a", "$metadata": {"$model": "dtmi:ar:T;1"},
              "x": 10.0, "y": 4.0}]
    c = DigitalTwinsSparkClient(GraphStore.from_documents(
        spark, twin_docs=twins, model_docs=models))
    [r] = c.query(
        "MATCH (t:Twin) RETURN t.x + t.y AS s, t.x - t.y AS d, "
        "t.x * t.y AS p, t.x / t.y AS q, t.x % t.y AS m"
    ).rows
    assert (r["s"], r["d"], r["p"], r["q"], r["m"]) == (14.0, 6.0, 40.0, 2.5, 2.0)
    # precedence: * binds tighter than +
    [r] = c.query("MATCH (t:Twin) RETURN t.x + t.y * 2 AS v").rows
    assert r["v"] == 18.0
    # parenthesized grouping
    [r] = c.query("MATCH (t:Twin) RETURN (t.x + t.y) * 2 AS v").rows
    assert r["v"] == 28.0
    # arithmetic inside WHERE comparisons
    rows = c.query("MATCH (t:Twin) WHERE t.x - t.y > 5 RETURN count(*) AS n").rows
    assert rows == [{"n": 1}]
    # unspaced minus (lexes into the number literal) still subtracts
    [r] = c.query("MATCH (t:Twin) RETURN t.x-1 AS v").rows
    assert r["v"] == 9.0


def _chain_client(spark):
    """a->b->c->d chain plus a shortcut a->c."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:sp:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3", "contents": []}]
    twins = [{"$dtId": x, "$metadata": {"$model": "dtmi:sp:T;1"}}
             for x in "abcd"]
    rels = [
        {"$relationshipId": f"r{i}", "$sourceId": s, "$targetId": t,
         "$relationshipName": "next"}
        for i, (s, t) in enumerate([("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")])
    ]
    return DigitalTwinsSparkClient(GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models))


def test_shortest_path_lengths(spark):
    c = _chain_client(spark)
    rows = c.query(
        "MATCH p = shortestPath((a {`$dtId`: 'a'})-[*..5]->(b)) "
        "RETURN b.`$dtId` AS dst, length(p) AS len ORDER BY dst"
    ).rows
    # a->b =1; a->c =1 (shortcut beats a->b->c); a->d =2 (via shortcut)
    assert rows == [
        {"dst": "b", "len": 1}, {"dst": "c", "len": 1}, {"dst": "d", "len": 2}]
    # zero-length lower bound includes the start node at depth 0
    rows = c.query(
        "MATCH p = shortestPath((a {`$dtId`: 'a'})-[*0..3]->(b)) "
        "RETURN b.`$dtId` AS dst, length(p) AS len ORDER BY dst"
    ).rows
    assert rows[0] == {"dst": "a", "len": 0}
    # one row per endpoint pair (single shortest path, not all paths)
    assert len(rows) == 4


def test_shortest_path_with_endpoint_filter_and_fixed_path_var(spark):
    c = _chain_client(spark)
    rows = c.query(
        "MATCH p = shortestPath((a {`$dtId`: 'a'})-[*..5]->(b {`$dtId`: 'd'})) "
        "RETURN length(p) AS len"
    ).rows
    assert rows == [{"len": 2}]
    # fixed-length path variable: length = edge count
    rows = c.query(
        "MATCH p = (a {`$dtId`: 'a'})-[:next]->(b)-[:next]->(c2) "
        "RETURN c2.`$dtId` AS dst, length(p) AS len"
    ).rows
    assert {(r["dst"], r["len"]) for r in rows} == {("c", 2), ("d", 2)}


def test_all_shortest_paths_cardinality(spark):
    """r10: allShortestPaths emits ONE ROW PER shortest path (Neo4j
    cardinality) via the walk-count BFS — on a diamond graph the far
    vertex appears once per distinct minimum-length path."""
    c = _chain_client(spark)
    rows = c.query(
        "MATCH p = allShortestPaths((a {`$dtId`: 'a'})-[*..5]->(b)) "
        "RETURN b.`$dtId` AS dst, length(p) AS len ORDER BY dst"
    ).rows
    # single-path graph: same rows as shortestPath
    assert rows == [
        {"dst": "b", "len": 1}, {"dst": "c", "len": 1}, {"dst": "d", "len": 2}]

    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:sp:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3", "contents": []}]
    twins = [{"$dtId": x, "$metadata": {"$model": "dtmi:sp:T;1"}}
             for x in "abcd"]
    rels = [
        {"$relationshipId": f"r{i}", "$sourceId": s, "$targetId": t,
         "$relationshipName": "next"}
        for i, (s, t) in enumerate(
            [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]
        )
    ]
    c2 = DigitalTwinsSparkClient(GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models))
    rows = c2.query(
        "MATCH p = allShortestPaths((a {`$dtId`: 'a'})-[*..4]->(x)) "
        "RETURN x.`$dtId` AS dst, length(p) AS len ORDER BY dst"
    ).rows
    # d is reached by TWO length-2 shortest paths (via b and via c)
    assert rows == [
        {"dst": "b", "len": 1}, {"dst": "c", "len": 1},
        {"dst": "d", "len": 2}, {"dst": "d", "len": 2}]
    # singlePath semantics unchanged next to it
    one = c2.query(
        "MATCH p = shortestPath((a {`$dtId`: 'a'})-[*..4]->(x {`$dtId`: 'd'})) "
        "RETURN length(p) AS len").rows
    assert one == [{"len": 2}]


def test_all_shortest_paths_per_pair_cap(spark, monkeypatch):
    """r11 (ADVICE): the one-row-per-path explode is capped per
    (src, dst) pair — a dense graph raises a CLEAR error instead of an
    executor OOM.  The diamond's far vertex has 2 shortest paths; with
    the cap patched to 1 the query must fail naming the cap."""
    import pytest as _pytest

    from pg_age_digitaltwins_spark import cypher
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:sp:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3", "contents": []}]
    twins = [{"$dtId": x, "$metadata": {"$model": "dtmi:sp:T;1"}}
             for x in "abcd"]
    rels = [
        {"$relationshipId": f"r{i}", "$sourceId": s, "$targetId": t,
         "$relationshipName": "next"}
        for i, (s, t) in enumerate(
            [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]
        )
    ]
    c = DigitalTwinsSparkClient(GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models))
    # under the real cap the shape enumerates both paths
    rows = c.query(
        "MATCH p = allShortestPaths((a {`$dtId`: 'a'})-[*..2]->(x "
        "{`$dtId`: 'd'})) RETURN length(p) AS len"
    ).rows
    assert rows == [{"len": 2}, {"len": 2}]
    monkeypatch.setattr(
        cypher.compiler, "MAX_ALL_SHORTEST_PATHS_PER_PAIR", 1
    )
    with _pytest.raises(Exception, match="per-pair"):
        c.query(
            "MATCH p = allShortestPaths((a {`$dtId`: 'a'})-[*..3]->(x)) "
            "RETURN x.`$dtId` AS dst, length(p) AS len"
        )


def test_shortest_path_errors(spark):
    import pytest as _pytest

    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError

    c = _chain_client(spark)
    with _pytest.raises(CypherCompileError, match="variable-length"):
        c.query("MATCH p = shortestPath((a)-[:next]->(b)) RETURN length(p)")
    with _pytest.raises(CypherCompileError, match="path variables"):
        c.query("MATCH p = (a)-[*1..2]->(b) RETURN length(p) AS l")
    with _pytest.raises(CypherCompileError, match="length"):
        c.query("MATCH (a)-[:next]->(b) RETURN length(a) AS l")


def test_id_keys_properties_functions(spark):
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:kf:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3", "contents": []}]
    twins = [{"$dtId": "t1", "$metadata": {"$model": "dtmi:kf:T;1"},
              "temp": 21.5, "name": "room"}]
    rels = [{"$relationshipId": "r1", "$sourceId": "t1", "$targetId": "t1",
             "$relationshipName": "self"}]
    c = DigitalTwinsSparkClient(GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models))
    [r] = c.query("MATCH (t:Twin) RETURN id(t) AS i, keys(t) AS k").rows
    assert r["i"] == "t1"
    assert r["k"] == ["$dtId", "$metadata", "name", "temp"]
    [r] = c.query("MATCH ()-[e]->() RETURN id(e) AS i").rows
    assert r["i"] == "r1"
    [r] = c.query("MATCH (t:Twin) RETURN properties(t) AS p").rows
    assert r["p"]["name"] == "room" and r["p"]["temp"] == "21.5"
    import json as _json
    assert _json.loads(r["p"]["$metadata"]) == {"$model": "dtmi:kf:T;1"}
    # r10: startNode/endNode on a relationship yield the endpoint twin
    # ids (this engine's documented entity rendering)
    [r] = c.query(
        "MATCH ()-[e]->() RETURN startNode(e) AS s, endNode(e) AS t2"
    ).rows
    assert r == {"s": "t1", "t2": "t1"}
    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError
    with pytest.raises(CypherCompileError, match="relationship variable"):
        c.query("MATCH (t:Twin) RETURN startNode(t) AS x")


def test_string_scalar_functions(fixture_store):
    """openCypher string scalars over AGE's function surface:
    substring (0-based), replace, trim family, split, reverse,
    left/right, head/last, toBoolean."""
    [r] = rows(
        fixture_store,
        "MATCH (t {`$dtId`: 'room1'}) RETURN "
        "substring(t.name, 1) AS sub1, "
        "substring(t.name, 0, 4) AS sub2, "
        "replace(t.name, ' ', '_') AS rep, "
        "trim('  x  ') AS tr, ltrim('  x') AS ltr, rtrim('x  ') AS rtr, "
        "split(t.name, ' ') AS parts, "
        "reverse('abc') AS rev, "
        "left(t.name, 4) AS lf, right(t.name, 1) AS rt, "
        "right('ab', 9) AS rt_over, "
        "head(split(t.name, ' ')) AS h, last(split(t.name, ' ')) AS l, "
        "toBoolean('true') AS tb",
    )
    assert r["sub1"] == "oom 1"       # name = 'Room 1'
    assert r["sub2"] == "Room"
    assert r["rep"] == "Room_1"
    assert (r["tr"], r["ltr"], r["rtr"]) == ("x", "x", "x")
    assert r["parts"] == ["Room", "1"]
    assert r["rev"] == "cba"
    assert (r["lf"], r["rt"]) == ("Room", "1")
    assert r["rt_over"] == "ab"
    assert (r["h"], r["l"]) == ("Room", "1")
    assert r["tb"] is True


def test_split_with_regex_metacharacter_delimiter(fixture_store):
    """split()'s delimiter is literal, not a regex — '.' must not match
    every character."""
    [r] = rows(
        fixture_store,
        "MATCH (t {`$dtId`: 'room1'}) RETURN split('a.b.c', '.') AS parts",
    )
    assert r["parts"] == ["a", "b", "c"]


def test_string_scalar_edge_cases(fixture_store):
    """ANSI-mode hazards: head/last of an empty list, toBoolean of
    garbage, and a split delimiter containing a literal backslash-E
    must all evaluate (null / null / literal split), never throw."""
    [r] = rows(
        fixture_store,
        "MATCH (t {`$dtId`: 'room1'}) RETURN "
        "head([]) AS h_empty, last([]) AS l_empty, "
        "toBoolean('xyz') AS tb_bad, toBoolean('FALSE') AS tb_false, "
        "toBoolean('1') AS tb_one, "
        "split('aC:\\Envb', 'C:\\Env') AS parts",
    )
    assert r["h_empty"] is None and r["l_empty"] is None
    assert r["tb_bad"] is None
    assert r["tb_false"] is False
    assert r["tb_one"] is None  # openCypher: '1' is NOT a boolean
    assert r["parts"] == ["a", "b"]


def test_range_function_unwind(fixture_store):
    out = rows(fixture_store, "UNWIND range(1, 5) AS x RETURN x")
    assert sorted(r["x"] for r in out) == [1, 2, 3, 4, 5]
    out = rows(fixture_store, "UNWIND range(0, 10, 5) AS x RETURN x")
    assert sorted(r["x"] for r in out) == [0, 5, 10]
    [r] = rows(fixture_store, "MATCH (t {`$dtId`: 'room1'}) RETURN head(range(3, 9)) AS h")
    assert r["h"] == 3


def test_range_empty_and_negative_step(fixture_store):
    """openCypher edges F.sequence diverges on: backwards range and
    mismatched step sign are the EMPTY list, never a descending
    sequence or a runtime error."""
    [r] = rows(
        fixture_store,
        "MATCH (t {`$dtId`: 'room1'}) RETURN "
        "range(5, 1) AS back, range(1, 5, -1) AS bad_step, "
        "range(5, 1, -2) AS down",
    )
    assert r["back"] == []
    assert r["bad_step"] == []
    assert r["down"] == [5, 3, 1]


def test_substring_negative_args_are_null(fixture_store):
    [r] = rows(
        fixture_store,
        "MATCH (t {`$dtId`: 'room1'}) RETURN "
        "substring(t.name, -1) AS a, substring(t.name, 1, -2) AS b",
    )
    assert r["a"] is None and r["b"] is None


def test_range_zero_step_is_compile_error(fixture_store):
    """openCypher/Neo4j raise on a zero step; a typo'd literal 0 must
    fail at compile time, not silently UNWIND to zero rows."""
    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError

    with pytest.raises(CypherCompileError, match="step must not be zero"):
        compile_cypher(fixture_store, "UNWIND range(1, 10, 0) AS x RETURN x")
    with pytest.raises(CypherCompileError, match="step must not be zero"):
        compile_cypher(fixture_store, "UNWIND range(1, 10, 0.0) AS x RETURN x")


def test_substring_maxint_start_is_null(fixture_store):
    """substring(s, 2147483647) previously overflowed start+1 into an
    ANSI-mode throw; pathological starts null out like negatives."""
    [r] = rows(
        fixture_store,
        "MATCH (t {`$dtId`: 'room1'}) RETURN "
        "substring(t.name, 2147483647) AS a, "
        "substring(t.name, 2147483647, 3) AS b",
    )
    assert r["a"] is None and r["b"] is None


def test_disconnected_match_small_side_allowed_and_surcharged(fixture_store):
    """MATCH (a), (b) is legal Cypher; with a dimension-sized side it
    compiles (bounded nested-loop) and the compiler reports the
    cartesian so the query charge prices it (+10, like var-length)."""
    from pg_age_digitaltwins_spark.client import (
        DigitalTwinsSparkClient,
        compute_query_charge,
    )
    from pg_age_digitaltwins_spark.cypher import compile_cypher

    q = (
        "MATCH (a {`$dtId`: 'room1'}), (b {`$dtId`: 'room2'}) "
        "RETURN a.name AS an, b.name AS bn"
    )
    df = compile_cypher(fixture_store, q)
    assert getattr(df, "_pgage_cartesians", 0) == 1
    [r] = [x.asDict() for x in df.collect()]
    assert (r["an"], r["bn"]) == ("Room 1", "Room 2")
    page = DigitalTwinsSparkClient(fixture_store).query(q)
    # 1 row + 2 props + 10 cartesian surcharge
    assert page.charge == compute_query_charge(page.rows, q, 1) == 13.0


def test_disconnected_match_unbounded_side_rejected(fixture_store):
    """An unanchored disconnected side multiplies the result by the
    FULL twin count → compile-time rejection instead of an unbounded
    N×M job (the accidental `MATCH (a), (b)` at 100 TB).  Disabling the
    guard restores full openCypher permissiveness."""
    from pg_age_digitaltwins_spark.cypher import compile_cypher
    from pg_age_digitaltwins_spark.cypher.compiler import (
        CypherCompiler,
        CypherCompileError,
    )

    q = "MATCH (a), (b) RETURN a.`$dtId` AS x, b.`$dtId` AS y"
    with pytest.raises(CypherCompileError, match="cartesian"):
        compile_cypher(fixture_store, q)
    CypherCompiler.cartesian_guard = False
    try:
        df = compile_cypher(fixture_store, q)
        assert df.count() == 13 * 13  # intentional full product allowed
        assert getattr(df, "_pgage_cartesians", 0) == 1
    finally:
        CypherCompiler.cartesian_guard = True
    # connected comma-paths (shared variable) are NOT cartesian
    df = compile_cypher(
        fixture_store,
        "MATCH (a)-[r:has]->(b), (b)-[s:has]->(c) "
        "RETURN a.`$dtId` AS src, c.`$dtId` AS dst",
    )
    assert getattr(df, "_pgage_cartesians", 0) == 0
    assert df.count() == 1  # root2 -has-> b1 -has-> x


def test_cartesian_guard_retrips_after_bounded_with(fixture_store):
    """A 1-row WITH aggregate legitimizes ONE following disconnected
    scan, but binding that unrestricted scan makes the frame unbounded
    again — a second disconnected pattern must re-trip the guard."""
    from pg_age_digitaltwins_spark.cypher import compile_cypher
    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError

    # one unrestricted scan after the aggregate: legal (plain scan)
    df = compile_cypher(
        fixture_store,
        "MATCH (x) WITH count(x) AS total MATCH (m) "
        "RETURN total, count(m) AS n",
    )
    [r] = df.collect()
    assert (r["total"], r["n"]) == (13, 13)
    with pytest.raises(CypherCompileError, match="cartesian"):
        compile_cypher(
            fixture_store,
            "MATCH (x) WITH count(x) AS total MATCH (a), (b) "
            "RETURN total, count(a) AS n",
        )


def test_cartesian_guard_accepts_where_anchored_side(fixture_store):
    """A disconnected side bounded by a pushed-down WHERE conjunct is
    as anchored as a prop map — it must compile."""
    from pg_age_digitaltwins_spark.cypher import compile_cypher

    df = compile_cypher(
        fixture_store,
        "MATCH (a {`$dtId`: 'room1'}), (b) WHERE b.`$dtId` = 'room2' "
        "RETURN a.name AS an, b.name AS bn",
    )
    [r] = [x.asDict() for x in df.collect()]
    assert (r["an"], r["bn"]) == ("Room 1", "Room 2")


def test_substring_beyond_int_range_is_null(fixture_store):
    """start/length above Int.MaxValue must null out, not throw in the
    int narrowing before the guard."""
    [r] = rows(
        fixture_store,
        "MATCH (t {`$dtId`: 'room1'}) RETURN "
        "substring(t.name, 2147483648) AS a, "
        "substring(t.name, 0, 3000000000) AS b",
    )
    assert r["a"] is None and r["b"] is None


# --- r7 ADVICE fix: model-edge far nodes bind the models frame -------

def test_model_edge_unlabeled_target_matches_models(fixture_store):
    """An unlabeled / anonymous far node on a model edge binds Model
    vertices (AGE matches any vertex label; _extends endpoints are
    always models).  Named, unlabeled-named and anonymous targets must
    agree — previously the anonymous form was join-eliminated (treating
    the target as an RI-backed twin) while the named form joined twins
    and returned 0 rows."""
    anon = rows(fixture_store, "MATCH (m:Model)-[:_extends]->() RETURN count(m) AS n")
    named = rows(
        fixture_store, "MATCH (m:Model)-[:_extends]->(x) RETURN count(m) AS n"
    )
    labeled = rows(
        fixture_store,
        "MATCH (m:Model)-[:_extends]->(b:Model) RETURN count(m) AS n",
    )
    assert anon[0]["n"] == named[0]["n"] == labeled[0]["n"] > 0
    # and the named binding projects model properties
    got = rows(
        fixture_store,
        "MATCH (m:Model)-[:_extends]->(x) RETURN m.id AS child, x.id AS parent",
    )
    pairs = {(r["child"], r["parent"]) for r in got}
    assert ("dtmi:com:contoso:Planet;1", "dtmi:com:contoso:CelestialBody;1") in pairs


def test_optional_match_where_references_anchor(spark):
    """r7: WHERE on an OPTIONAL MATCH may reference the ANCHOR variable
    (legal Cypher); non-qualifying rows yield nulls — they are not
    dropped (outer-join semantics, filter during matching)."""
    models = [{"@id": "dtmi:om:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3",
               "contents": [{"@type": "Property", "name": "x", "schema": "integer"}]}]
    twins = [{"$dtId": f"t{i}", "$metadata": {"$model": "dtmi:om:T;1"}, "x": i}
             for i in range(4)]
    rels = [{"$relationshipId": f"r{i}", "$sourceId": f"t{i}",
             "$targetId": f"t{(i + 1) % 4}", "$relationshipName": "next"}
            for i in range(4)]
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    store = GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models)
    out = rows(
        store,
        "MATCH (c:Twin) OPTIONAL MATCH (c)-[:next]->(d) "
        "WHERE c.x = 1 AND d.x = 2 "
        "RETURN c.`$dtId` AS c_id, d.`$dtId` AS d_id ORDER BY c_id",
    )
    assert [(r["c_id"], r["d_id"]) for r in out] == [
        ("t0", None), ("t1", "t2"), ("t2", None), ("t3", None),
    ]


def test_optional_match_comma_paths_share_anchor(spark):
    """r7: comma-paths inside one OPTIONAL MATCH share the anchor
    variable (Neo4j semantics) — previously the second path's head was
    treated as a fresh scan and the cartesian guard refused the query."""
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:om2:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3",
               "contents": [{"@type": "Property", "name": "x", "schema": "integer"}]}]
    twins = [{"$dtId": f"t{i}", "$metadata": {"$model": "dtmi:om2:T;1"}, "x": i}
             for i in range(3)]
    rels = [
        {"$relationshipId": "ab", "$sourceId": "t0", "$targetId": "t1",
         "$relationshipName": "x"},
        {"$relationshipId": "ac", "$sourceId": "t0", "$targetId": "t2",
         "$relationshipName": "y"},
    ]
    store = GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models)
    out = rows(
        store,
        "MATCH (a:Twin) OPTIONAL MATCH (a)-[:x]->(b), (a)-[:y]->(c) "
        "RETURN a.`$dtId` AS a_id, b.`$dtId` AS b_id, c.`$dtId` AS c_id "
        "ORDER BY a_id",
    )
    assert [(r["a_id"], r["b_id"], r["c_id"]) for r in out] == [
        ("t0", "t1", "t2"), ("t1", None, None), ("t2", None, None),
    ]


def test_unwind_order_by_value_and_empty_null_lists(spark):
    """r7: ORDER BY an UNWIND-produced value sorts with agtype-typed
    ordering (2 < 9 < 10, not string order) instead of crashing on the
    raw VARIANT; empty and missing lists produce no rows (Neo4j
    semantics)."""
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:uw:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3",
               "contents": [{"@type": "Property", "name": "xs",
                             "schema": {"@type": "Array",
                                        "elementSchema": "integer"}}]}]
    twins = [
        {"$dtId": "a", "$metadata": {"$model": "dtmi:uw:T;1"}, "xs": [9, 10, 2]},
        {"$dtId": "b", "$metadata": {"$model": "dtmi:uw:T;1"}, "xs": []},
        {"$dtId": "c", "$metadata": {"$model": "dtmi:uw:T;1"}},
    ]
    store = GraphStore.from_documents(spark, twin_docs=twins, model_docs=models)
    out = rows(
        store,
        "MATCH (t:Twin) UNWIND t.xs AS x "
        "RETURN t.`$dtId` AS id, toInteger(x) AS xi ORDER BY id, x",
    )
    assert [(r["id"], r["xi"]) for r in out] == [("a", 2), ("a", 9), ("a", 10)]


def test_tointeger_tofloat_null_on_invalid_and_truncation(fixture_store):
    """r7: toInteger/toFloat return NULL on unparsable input (Neo4j/AGE
    semantics; ANSI cast previously threw CAST_INVALID_INPUT) and
    toInteger truncates fractional values toward zero."""
    [r] = rows(
        fixture_store,
        "MATCH (t:Twin) RETURN toInteger('abc') AS bad, toInteger('7') AS ok, "
        "toFloat('x') AS badf, toFloat('2.5') AS okf, "
        "toInteger(3.9) AS t1, toInteger(0 - 3.9) AS t2 LIMIT 1",
    )
    assert (r["bad"], r["ok"], r["badf"], r["okf"], r["t1"], r["t2"]) == (
        None, 7, None, 2.5, 3, -3,
    )


def test_tointeger_preserves_big_integers(fixture_store):
    """Regression (r8 ADVICE low): integral inputs with |x| > 2^53 must
    round-trip exactly — routing every input through a double cast lost
    low-order bits (Neo4j returns integral input exactly).  Fractional
    strings still take the double path (truncate toward zero)."""
    [r] = rows(
        fixture_store,
        "MATCH (t:Twin) RETURN toInteger('9007199254740993') AS big, "
        "toInteger('-9007199254740993') AS nbig, "
        "toInteger('3.9') AS frac LIMIT 1",
    )
    assert r["big"] == 9007199254740993  # 2^53 + 1, not ...992
    assert r["nbig"] == -9007199254740993
    assert r["frac"] == 3


def test_isempty_on_dynamic_list_and_map_properties(spark):
    """Regression (r8 ADVICE low): isEmpty on a dynamic list/map twin
    property returned NULL (the string-only variant cast fails on
    arrays/objects); it must return true/false like size() does."""
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{
        "@id": "dtmi:ie:T;1", "@type": "Interface",
        "@context": "dtmi:dtdl:context;3", "contents": [],
    }]
    twins = [
        {"$dtId": "a", "$metadata": {"$model": "dtmi:ie:T;1"},
         "xs": [], "m": {}, "s": ""},
        {"$dtId": "b", "$metadata": {"$model": "dtmi:ie:T;1"},
         "xs": [1, 2], "m": {"k": 1}, "s": "hi"},
    ]
    store = GraphStore.from_documents(spark, twin_docs=twins, model_docs=models)
    out = rows(
        store,
        "MATCH (t:Twin) RETURN t.`$dtId` AS id, isEmpty(t.xs) AS el, "
        "isEmpty(t.m) AS em, isEmpty(t.s) AS es ORDER BY id",
    )
    assert [(r["id"], r["el"], r["em"], r["es"]) for r in out] == [
        ("a", True, True, True),
        ("b", False, False, False),
    ]


def test_math_scalar_function_family(fixture_store):
    """r7: the openCypher math/misc scalar family (AGE ships these) —
    sqrt/exp/log/log10/trig/sign/degrees/radians/floor/ceil/atan2/
    haversin/pi/e/isEmpty/rand/timestamp."""
    [r] = rows(
        fixture_store,
        "MATCH (t:Twin) RETURN sqrt(4) AS sq, exp(0) AS ex, log(1) AS lg, "
        "log10(100) AS lg10, sin(0) AS sn, acos(1) AS ac, sign(0 - 2) AS sg, "
        "degrees(pi()) AS dg, floor(2.7) AS fl, ceil(2.1) AS cl, "
        "atan2(0, 1) AS at2, haversin(0) AS hv, "
        "isEmpty('') AS em1, isEmpty('x') AS em2, "
        "rand() AS rnd, timestamp() AS ts LIMIT 1",
    )
    assert (r["sq"], r["ex"], r["lg"], r["lg10"], r["sn"], r["ac"]) == (
        2.0, 1.0, 0.0, 2.0, 0.0, 0.0)
    assert (r["sg"], r["dg"], r["fl"], r["cl"], r["at2"], r["hv"]) == (
        -1, 180.0, 2, 3, 0.0, 0.0)
    assert (r["em1"], r["em2"]) == (True, False)
    assert 0 <= r["rnd"] < 1 and r["ts"] > 1_500_000_000_000


def test_size_string_tail_nullif_ornull_family(fixture_store):
    """r7: size() counts characters of a string (and elements of a
    list), tail() drops the head, nullIf, and the *OrNull conversion
    aliases."""
    [r] = rows(
        fixture_store,
        "MATCH (t:Twin) RETURN size('abcd') AS ss, size([1,2]) AS sl, "
        "tail([1,2,3]) AS tl, nullIf(1, 1) AS n1, nullIf(1, 2) AS n2, "
        "toIntegerOrNull('x') AS i0, toFloatOrNull('2.5') AS f1, "
        "toBooleanOrNull('zzz') AS b0, toStringOrNull(3) AS s3 LIMIT 1",
    )
    assert (r["ss"], r["sl"], r["tl"]) == (4, 2, [2, 3])
    assert (r["n1"], r["n2"]) == (None, 1)
    assert (r["i0"], r["f1"], r["b0"], r["s3"]) == (None, 2.5, None, "3")


def test_stdev_percentile_aggregates(spark):
    """r7: Neo4j aggregate tail — stDev (sample), stDevP (population),
    percentileCont (interpolated), percentileDisc (actual value)."""
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:ag:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3",
               "contents": [{"@type": "Property", "name": "x", "schema": "integer"}]}]
    twins = [{"$dtId": f"t{i}", "$metadata": {"$model": "dtmi:ag:T;1"}, "x": i}
             for i in range(5)]
    store = GraphStore.from_documents(spark, twin_docs=twins, model_docs=models)
    [r] = rows(
        store,
        "MATCH (t:Twin) RETURN percentileCont(t.x, 0.5) AS pc, "
        "percentileCont(t.x, 0.25) AS pc25, percentileDisc(t.x, 0.5) AS pd, "
        "round(stDev(t.x), 4) AS sd, round(stDevP(t.x), 4) AS sdp",
    )
    assert (r["pc"], r["pc25"], r["pd"]) == (2.0, 1.0, 2.0)
    assert (r["sd"], r["sdp"]) == (1.5811, 1.4142)


def test_plus_overload_and_power_operator(fixture_store):
    """r7: Cypher + is overloaded (numeric add / string concat / list
    concat) and ^ is right-associative power."""
    [r] = rows(
        fixture_store,
        "MATCH (t:Twin) RETURN t.`$dtId` + '-sfx' AS sc, "
        "'pre-' + t.`$dtId` AS pc, [1,2] + [3] AS lc, "
        "2 ^ 10 AS pw, 2 ^ 3 ^ 2 AS pr, 1 + 2 AS nm, "
        "'a' + 'b' + 'c' AS ch ORDER BY sc LIMIT 1",
    )
    assert r["sc"].endswith("-sfx") and r["pc"].startswith("pre-")
    assert r["lc"] == [1, 2, 3]
    assert (r["pw"], r["pr"], r["nm"], r["ch"]) == (1024.0, 512.0, 3, "abc")


def test_with_entity_passthrough(spark):
    """r7: non-aggregating WITH keeps entity IDENTITY — property access
    after WITH, ORDER/LIMIT over entities, DISTINCT entities, and
    continuing the pattern from a projected node all work (previously a
    documented 'project explicitly' error)."""
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:wp:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3",
               "contents": [{"@type": "Property", "name": "x", "schema": "integer"}]}]
    twins = [{"$dtId": f"t{i}", "$metadata": {"$model": "dtmi:wp:T;1"}, "x": i}
             for i in range(5)]
    rels = [{"$relationshipId": f"r{i}", "$sourceId": f"t{i}",
             "$targetId": f"t{(i + 1) % 5}", "$relationshipName": "next"}
            for i in range(5)]
    store = GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models)
    out = rows(
        store,
        "MATCH (t:Twin) WITH t ORDER BY t.`$dtId` DESC LIMIT 2 "
        "RETURN t.`$dtId` AS id, toInteger(t.x) AS x ORDER BY id",
    )
    assert [(r["id"], r["x"]) for r in out] == [("t3", 3), ("t4", 4)]
    # DISTINCT over entities (variant doc rides along, identity dedupes)
    [r] = rows(store, "MATCH (a)-[:next]->(b) WITH DISTINCT a RETURN count(*) AS n")
    assert r["n"] == 5
    # pattern continues from the projected node
    out = rows(
        store,
        "MATCH (t:Twin) WITH t ORDER BY toInteger(t.x) DESC LIMIT 1 "
        "MATCH (t)-[:next]->(b) RETURN b.`$dtId` AS nxt",
    )
    assert [r["nxt"] for r in out] == ["t0"]  # t4 wraps to t0
    # WHERE on passthrough properties + mixed value items
    out = rows(
        store,
        "MATCH (t:Twin) WITH t, toInteger(t.x) * 2 AS d WHERE d > 4 "
        "RETURN t.`$dtId` AS id, d ORDER BY id",
    )
    assert [(r["id"], r["d"]) for r in out] == [("t3", 6), ("t4", 8)]


def test_with_entity_keyed_aggregation(spark):
    """r7: aggregating WITH with an entity grouping key — identity-keyed
    groupBy, frame columns carried, HAVING via WHERE, ORDER BY over
    aggregate outputs, and continuing MATCH afterwards."""
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:wa:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3",
               "contents": [{"@type": "Property", "name": "x", "schema": "integer"}]}]
    twins = [{"$dtId": f"t{i}", "$metadata": {"$model": "dtmi:wa:T;1"}, "x": i}
             for i in range(3)]
    rels = [{"$relationshipId": f"r{i}{j}", "$sourceId": f"t{i}",
             "$targetId": f"t{j}", "$relationshipName": "next"}
            for i in range(3) for j in range(3) if j > i]
    store = GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models)
    out = rows(store,
               "MATCH (a)-[r:next]->(b) WITH a, count(r) AS n WHERE n > 1 "
               "RETURN a.`$dtId` AS id, n")
    assert [(r["id"], r["n"]) for r in out] == [("t0", 2)]
    out = rows(store,
               "MATCH (a)-[r:next]->(b) WITH a, count(r) AS n "
               "ORDER BY n DESC, a.`$dtId` LIMIT 2 RETURN a.`$dtId` AS id, n")
    assert [(r["id"], r["n"]) for r in out] == [("t0", 2), ("t1", 1)]
    out = rows(store,
               "MATCH (a)-[r:next]->(b) WITH a, collect(b.`$dtId`) AS bs "
               "WHERE size(bs) > 1 MATCH (a)-[:next]->(c) "
               "RETURN a.`$dtId` AS id, count(c) AS n2")
    assert [(r["id"], r["n2"]) for r in out] == [("t0", 2)]


# ---------------------------------------------------------------------------
# r8: pattern predicates, =~ regex, list comprehension, reduce
# ---------------------------------------------------------------------------

def test_pattern_predicate_semi_and_anti(spark):
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:pp:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3", "contents": []}]
    twins = [
        {"$dtId": f"n{i}", "$metadata": {"$model": "dtmi:pp:T;1"}}
        for i in range(4)
    ]
    rels = [
        {"$relationshipId": "e1", "$sourceId": "n0", "$targetId": "n1",
         "$relationshipName": "knows"},
        {"$relationshipId": "e2", "$sourceId": "n1", "$targetId": "n2",
         "$relationshipName": "knows"},
    ]
    store = GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models)
    out = rows(store, "MATCH (a) WHERE (a)-[:knows]->() "
                      "RETURN a.`$dtId` AS id ORDER BY id")
    assert [r["id"] for r in out] == ["n0", "n1"]
    out = rows(store, "MATCH (a) WHERE NOT (a)-[:knows]->() "
                      "RETURN a.`$dtId` AS id ORDER BY id")
    assert [r["id"] for r in out] == ["n2", "n3"]
    # reverse direction + far-node property map
    out = rows(store, "MATCH (a) WHERE (a)<-[:knows]-({`$dtId`: 'n0'}) "
                      "RETURN a.`$dtId` AS id")
    assert [r["id"] for r in out] == ["n1"]
    # 2-hop existential
    out = rows(store, "MATCH (a) WHERE (a)-[:knows]->()-[:knows]->() "
                      "RETURN a.`$dtId` AS id")
    assert [r["id"] for r in out] == ["n0"]


def test_pattern_predicate_rejections(fixture_store):
    import pytest as _pytest

    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError

    with _pytest.raises(CypherCompileError, match="top-level WHERE conjuncts"):
        rows(fixture_store,
             "MATCH (c) WHERE (c)-[:locatedIn]->() OR c.acctbal > 0 "
             "RETURN count(*) AS n")
    with _pytest.raises(CypherCompileError, match="second bound variable"):
        rows(fixture_store,
             "MATCH (c), (d {`$dtId`: 'x'}) WHERE (c)-[:r]->(d) "
             "RETURN count(*) AS n")
    with _pytest.raises(CypherCompileError, match="fixed-length"):
        rows(fixture_store,
             "MATCH (c) WHERE (c)-[:r*1..2]->() RETURN count(*) AS n")


def test_regex_match_is_full_string(fixture_store):
    """Cypher =~ is a FULL-string match: 'Room' alone must not match
    'Room 1' (rlike would); 'Room.*' does."""
    [r] = rows(fixture_store,
               "MATCH (t:Twin) RETURN "
               "sum(CASE WHEN t.name =~ 'Room' THEN 1 ELSE 0 END) AS exact, "
               "sum(CASE WHEN t.name =~ 'Room.*' THEN 1 ELSE 0 END) AS part")
    assert r["exact"] == 0 and r["part"] == 2


def test_list_comprehension_filter_and_map(fixture_store):
    [r] = rows(fixture_store,
               "MATCH (t:Twin) RETURN "
               "[x IN [1,2,3,4] WHERE x % 2 = 0 | x * 10] AS fm, "
               "[x IN [1,2,3] | x + 1] AS m, "
               "[x IN [1,2,3,4] WHERE x > 2] AS f LIMIT 1")
    assert r["fm"] == [20.0, 40.0]
    assert r["m"] == [2.0, 3.0, 4.0]
    assert r["f"] == [3.0, 4.0]


def test_reduce_fold(spark):
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:rd:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3", "contents": []}]
    twins = [{"$dtId": "a", "$metadata": {"$model": "dtmi:rd:T;1"},
              "xs": [2, 3, 4], "tags": ["ab", "cde"]}]
    store = GraphStore.from_documents(spark, twin_docs=twins, model_docs=models)
    [r] = rows(store,
               "MATCH (t) RETURN reduce(s = 0, x IN [1,2,3] | s + x) AS lit, "
               "reduce(s = 1, x IN t.xs | s * x) AS prod, "
               "reduce(s = 0, x IN t.tags | s + size(x)) AS lens")
    assert r["lit"] == 6.0
    assert r["prod"] == 24.0
    assert r["lens"] == 5.0


# ---------------------------------------------------------------------------
# r8 (cont.): EXISTS { … } / COUNT { … } pattern subqueries
# ---------------------------------------------------------------------------

def _subquery_store(spark):
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:sq:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3", "contents": []}]
    twins = [
        {"$dtId": f"n{i}", "$metadata": {"$model": "dtmi:sq:T;1"},
         "w": i * 10}
        for i in range(5)
    ]
    rels = [
        {"$relationshipId": "e1", "$sourceId": "n0", "$targetId": "n1",
         "$relationshipName": "knows"},
        {"$relationshipId": "e2", "$sourceId": "n0", "$targetId": "n2",
         "$relationshipName": "knows"},
        {"$relationshipId": "e3", "$sourceId": "n0", "$targetId": "n3",
         "$relationshipName": "knows"},
        {"$relationshipId": "e4", "$sourceId": "n1", "$targetId": "n2",
         "$relationshipName": "knows"},
    ]
    return GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models)


def test_exists_subquery_with_where(spark):
    store = _subquery_store(spark)
    # bare EXISTS { } == pattern predicate
    out = rows(store, "MATCH (a) WHERE EXISTS { (a)-[:knows]->() } "
                      "RETURN a.`$dtId` AS id ORDER BY id")
    assert [r["id"] for r in out] == ["n0", "n1"]
    # optional MATCH keyword + inner WHERE filtering the far node
    out = rows(store,
               "MATCH (a) WHERE EXISTS { MATCH (a)-[:knows]->(b) "
               "WHERE b.w >= 20 } RETURN a.`$dtId` AS id ORDER BY id")
    assert [r["id"] for r in out] == ["n0", "n1"]
    out = rows(store,
               "MATCH (a) WHERE EXISTS { (a)-[:knows]->(b) WHERE b.w >= 30 } "
               "RETURN a.`$dtId` AS id ORDER BY id")
    assert [r["id"] for r in out] == ["n0"]
    # negated form
    out = rows(store,
               "MATCH (a) WHERE NOT EXISTS { (a)-[:knows]->(b) "
               "WHERE b.w >= 30 } RETURN a.`$dtId` AS id ORDER BY id")
    assert [r["id"] for r in out] == ["n1", "n2", "n3", "n4"]


def test_count_subquery_in_return_and_order(spark):
    store = _subquery_store(spark)
    out = rows(store,
               "MATCH (a) RETURN a.`$dtId` AS id, "
               "COUNT { (a)-[:knows]->() } AS deg ORDER BY id")
    assert [(r["id"], r["deg"]) for r in out] == [
        ("n0", 3), ("n1", 1), ("n2", 0), ("n3", 0), ("n4", 0)]
    # inner WHERE + use inside an expression
    out = rows(store,
               "MATCH (a) RETURN a.`$dtId` AS id, "
               "COUNT { (a)-[:knows]->(b) WHERE b.w >= 20 } + 100 AS x "
               "ORDER BY id LIMIT 2")
    assert [(r["id"], r["x"]) for r in out] == [("n0", 102.0), ("n1", 101.0)]
    # COUNT subquery in ORDER BY only
    out = rows(store,
               "MATCH (a) RETURN a.`$dtId` AS id "
               "ORDER BY COUNT { (a)-[:knows]->() } DESC, id LIMIT 2")
    assert [r["id"] for r in out] == ["n0", "n1"]


def test_count_subquery_rejections(spark):
    import pytest as _pytest

    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError

    store = _subquery_store(spark)
    with _pytest.raises(CypherCompileError, match="bound by MATCH"):
        rows(store, "MATCH (a) RETURN COUNT { (z)-[:knows]->() } AS n")
    with _pytest.raises(CypherCompileError, match="second bound"):
        rows(store, "MATCH (a), (b {`$dtId`: 'n1'}) "
                    "RETURN COUNT { (a)-[:knows]->(b) } AS n")


# ---------------------------------------------------------------------------
# r8 (cont.): CALL { … } subqueries
# ---------------------------------------------------------------------------

def test_call_subquery_correlated_aggregate(spark):
    store = _subquery_store(spark)
    out = rows(store,
               "MATCH (a) CALL { WITH a MATCH (a)-[:knows]->(b) "
               "RETURN count(b) AS deg } "
               "RETURN a.`$dtId` AS id, deg ORDER BY id")
    assert [(r["id"], r["deg"]) for r in out] == [
        ("n0", 3), ("n1", 1), ("n2", 0), ("n3", 0), ("n4", 0)]
    # grouped aggregation (extra non-aggregate key) drops empty anchors
    out = rows(store,
               "MATCH (a) CALL { WITH a MATCH (a)-[:knows]->(b) "
               "RETURN b.`$dtId` AS nb, count(*) AS c } "
               "RETURN a.`$dtId` AS id, nb, c ORDER BY id, nb")
    assert [(r["id"], r["nb"]) for r in out] == [
        ("n0", "n1"), ("n0", "n2"), ("n0", "n3"), ("n1", "n2")]


def test_call_subquery_per_anchor_topk(spark):
    store = _subquery_store(spark)
    # top-1 neighbor by property, PER anchor (not a global LIMIT 1)
    out = rows(store,
               "MATCH (a) CALL { WITH a MATCH (a)-[:knows]->(b) "
               "RETURN b.`$dtId` AS best ORDER BY b.w DESC LIMIT 1 } "
               "RETURN a.`$dtId` AS id, best ORDER BY id")
    assert [(r["id"], r["best"]) for r in out] == [("n0", "n3"), ("n1", "n2")]
    # SKIP inside CALL pages per anchor too
    out = rows(store,
               "MATCH (a {`$dtId`: 'n0'}) CALL { WITH a "
               "MATCH (a)-[:knows]->(b) RETURN b.`$dtId` AS nb "
               "ORDER BY nb SKIP 1 LIMIT 2 } RETURN nb ORDER BY nb")
    assert [r["nb"] for r in out] == ["n2", "n3"]
    # returned whole entity stays usable after the CALL
    out = rows(store,
               "MATCH (a {`$dtId`: 'n0'}) CALL { WITH a "
               "MATCH (a)-[:knows]->(b) RETURN b ORDER BY b.w DESC LIMIT 2 } "
               "RETURN b.`$dtId` AS nb ORDER BY nb")
    assert [r["nb"] for r in out] == ["n2", "n3"]


def test_call_subquery_optional_and_uncorrelated(spark):
    store = _subquery_store(spark)
    out = rows(store,
               "MATCH (a) OPTIONAL CALL { WITH a MATCH (a)-[:knows]->(b) "
               "RETURN b.`$dtId` AS nb ORDER BY nb LIMIT 1 } "
               "RETURN a.`$dtId` AS id, nb ORDER BY id")
    assert [(r["id"], r["nb"]) for r in out] == [
        ("n0", "n1"), ("n1", "n2"), ("n2", None), ("n3", None), ("n4", None)]
    out = rows(store,
               "MATCH (a) CALL { MATCH (x) RETURN count(x) AS total } "
               "RETURN a.`$dtId` AS id, total ORDER BY id LIMIT 2")
    assert [(r["id"], r["total"]) for r in out] == [("n0", 5), ("n1", 5)]


def test_call_subquery_rejections(spark):
    import pytest as _pytest

    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError
    from pg_age_digitaltwins_spark.cypher.parser import CypherParseError

    store = _subquery_store(spark)
    with _pytest.raises(CypherCompileError, match="not bound"):
        rows(store, "MATCH (a) CALL { WITH z MATCH (z)-->(b) "
                    "RETURN count(b) AS n } RETURN n")
    with _pytest.raises(CypherCompileError, match="already bound"):
        rows(store, "MATCH (a) CALL { WITH a MATCH (a)-->(b) "
                    "RETURN count(b) AS a } RETURN a")
    with _pytest.raises(CypherCompileError, match="aggregating CALL"):
        rows(store, "MATCH (a) CALL { WITH a MATCH (a)-->(b) "
                    "RETURN count(b) AS n ORDER BY n LIMIT 1 } RETURN n")
    with _pytest.raises(CypherParseError, match="CREATE"):
        rows(store, "MATCH (a) CALL { WITH a CREATE (b) RETURN b } RETURN 1")


# ---------------------------------------------------------------------------
# r8 (cont.): nodes(p) / relationships(p) path accessors
# ---------------------------------------------------------------------------

def test_path_nodes_and_relationships_fixed(spark):
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:pf:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3", "contents": []}]
    twins = [{"$dtId": f"n{i}", "$metadata": {"$model": "dtmi:pf:T;1"}}
             for i in range(3)]
    rels = [
        {"$relationshipId": "e01", "$sourceId": "n0", "$targetId": "n1",
         "$relationshipName": "next"},
        {"$relationshipId": "e12", "$sourceId": "n1", "$targetId": "n2",
         "$relationshipName": "next"},
    ]
    store = GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models)
    [r] = rows(store,
               "MATCH p = (a {`$dtId`: 'n0'})-[:next]->(b)-[:next]->(c) "
               "RETURN nodes(p) AS ns, relationships(p) AS rs, "
               "length(p) AS len")
    assert r["ns"] == ["n0", "n1", "n2"]
    assert r["rs"] == ["e01", "e12"]
    assert r["len"] == 2
    # anonymous middle node still lands in the array (join elimination
    # rides the edge frame; the key col is its id)
    [r] = rows(store,
               "MATCH p = (a {`$dtId`: 'n0'})-[:next]->()-[:next]->(c) "
               "RETURN nodes(p) AS ns")
    assert r["ns"] == ["n0", "n1", "n2"]


def test_path_accessor_rejections(spark):
    import pytest as _pytest

    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError

    store = _subquery_store(spark)
    with _pytest.raises(CypherCompileError, match="FIXED-length"):
        rows(store,
             "MATCH p = shortestPath((a {`$dtId`: 'n0'})-[:knows*1..2]->(x)) "
             "RETURN nodes(p) AS ns")
    with _pytest.raises(CypherCompileError, match="FIXED-length"):
        rows(store, "MATCH (a) RETURN nodes(a) AS ns")


# ---------------------------------------------------------------------------
# AGE surface parity: bracket property access, per-graph helper functions,
# RETURN *, bare $-prefixed property names — the exact shapes the reference
# test suite sends (QueryTests.cs; GraphInitialization.cs:50-264)
# ---------------------------------------------------------------------------

def test_bracket_string_property_access(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (t:Twin) WHERE t['$dtId'] = 'room1' RETURN t.name AS name",
    )
    assert out == [{"name": "Room 1"}]


def test_bracket_access_chained_and_projected(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (t:Twin) WHERE t['$metadata']['$model'] = "
        "'dtmi:com:adt:dtsample:room;1' RETURN t['$dtId'] AS id",
    )
    assert sorted(r["id"] for r in out) == [
        "b1", "b2", "room1", "room2", "root2", "root3", "shapes",
        "x", "y", "z",
    ]


def test_bracket_access_on_relationships(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (:Twin)-[R]->(:Twin) WHERE R['$sourceId'] IN ['root2', 'b1'] "
        "AND R['$relationshipName'] = 'has' "
        "RETURN R['$sourceId'], R['$targetId']",
    )
    assert sorted((r["sourceId"], r["targetId"]) for r in out) == [
        ("b1", "x"), ("root2", "b1"), ("root2", "b2"),
    ]


def test_bracket_access_does_not_break_list_literals(fixture_store):
    # `IN ['a','b']` after a path must still parse as a list literal
    out = rows(
        fixture_store,
        "MATCH (t:Twin) WHERE t.name IN ['Room 1', 'Room 2'] "
        "RETURN t.name AS name",
    )
    assert sorted(r["name"] for r in out) == ["Room 1", "Room 2"]


def test_bare_dollar_property_name(fixture_store):
    # `T.$dtId` without backticks (real customer query in the reference
    # test corpus)
    out = rows(
        fixture_store,
        "MATCH (t:Twin) WHERE t.name = 'Room 1' RETURN t.$dtId AS Id",
    )
    assert out == [{"Id": "room1"}]


def test_graph_qualified_is_of_model(fixture_store):
    # any graph-name prefix resolves the installed helper
    for g in ("testgraph", "digitaltwins", "mygraph123"):
        out = rows(
            fixture_store,
            f"MATCH (t:Twin) WHERE {g}.is_of_model(t, "
            "'dtmi:com:contoso:CelestialBody;1') RETURN t.`$dtId` AS id",
        )
        assert sorted(r["id"] for r in out) == ["cb1", "hp1", "p1"]


def test_is_of_model_with_model_and_descendants(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (t:Twin) WHERE testgraph.is_of_model(t, "
        "testgraph.model_and_descendants('dtmi:com:contoso:Planet;1')) "
        "RETURN t.`$dtId` AS id",
    )
    assert sorted(r["id"] for r in out) == ["hp1", "p1"]


def test_is_of_model_with_literal_list(fixture_store):
    # list arg = direct containment, NO closure expansion
    # (GraphInitialization.cs:77-84 checks the array before traversal)
    out = rows(
        fixture_store,
        "MATCH (t:Twin) WHERE testgraph.is_of_model(t, "
        "['dtmi:com:contoso:Planet;1', 'dtmi:com:contoso:CelestialBody;1']) "
        "RETURN t.`$dtId` AS id",
    )
    assert sorted(r["id"] for r in out) == ["cb1", "p1"]


def test_model_and_descendants_standalone(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (t:Twin) WHERE t.`$dtId` = 'room1' "
        "RETURN testgraph.model_and_descendants("
        "'dtmi:com:contoso:CelestialBody;1') AS ms",
    )
    assert out == [{"ms": [
        "dtmi:com:contoso:CelestialBody;1",
        "dtmi:com:contoso:HabitablePlanet;1",
        "dtmi:com:contoso:Planet;1",
    ]}]


def test_graph_qualified_type_introspection(fixture_store):
    # is_number / is_string / is_object / is_primitive with a graph
    # prefix — numeric strings are NOT numbers
    q = (
        "MATCH (t:Twin) WHERE t.`$dtId` = 'shapes' RETURN "
        "g.is_number(t.someScalar) AS num, "
        "g.is_number(t.numstr) AS numstr, "
        "g.is_string(t.someString) AS str, "
        "g.is_object(t.someMap) AS obj, "
        "g.is_object(t.someScalar) AS notobj, "
        "g.is_primitive(t.someScalar) AS prim, "
        "g.is_primitive(t.someMap) AS notprim"
    )
    out = rows(fixture_store, q)
    assert out == [{
        "num": True, "numstr": False, "str": True, "obj": True,
        "notobj": False, "prim": True, "notprim": False,
    }]


def test_graph_fn_in_where_filters(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (t:Twin) WHERE testgraph.is_number(t.temperature) "
        "AND t.temperature > 20 RETURN t.`$dtId` AS id",
    )
    assert sorted(r["id"] for r in out) == ["room1"]


def test_return_star_single_var(fixture_store):
    import json

    out = rows(
        fixture_store,
        "MATCH (t:Twin) WHERE t.`$dtId` = 'room1' RETURN *",
    )
    assert len(out) == 1 and set(out[0]) == {"t"}
    doc = json.loads(out[0]["t"])
    assert doc["$dtId"] == "room1" and doc["name"] == "Room 1"


def test_return_star_multiple_vars(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (a:Twin)-[r:has]->(b:Twin) WHERE a.`$dtId` = 'root2' "
        "RETURN *",
    )
    # binding order: a, r, b
    assert len(out) == 2
    assert list(out[0]) == ["a", "r", "b"]


def test_return_star_skips_anonymous(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (:Twin)-[R:has]->(:Twin) WHERE R['$sourceId'] = 'root2' "
        "RETURN *",
    )
    assert len(out) == 2 and set(out[0]) == {"R"}


def test_return_star_with_extra_items(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (t:Twin) WHERE t.`$dtId` = 'room1' RETURN *, t.name AS nm",
    )
    assert len(out) == 1
    assert list(out[0]) == ["t", "nm"] and out[0]["nm"] == "Room 1"


def test_return_star_order_and_limit(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (t:Twin)-[:has]->(b:Twin) RETURN * ORDER BY b.`$dtId` LIMIT 2",
    )
    assert len(out) == 2


def test_with_star_passthrough(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (a:Twin)-[r:has]->(b:Twin) WITH * WHERE a.`$dtId` = 'root2' "
        "RETURN a.`$dtId` AS src, b.`$dtId` AS dst ORDER BY dst",
    )
    assert [(o["src"], o["dst"]) for o in out] == [
        ("root2", "b1"), ("root2", "b2"),
    ]


def test_with_star_plus_aggregate(fixture_store):
    # WITH *, count(...) groups by every carried variable
    out = rows(
        fixture_store,
        "MATCH (a:Twin)-[r:has]->(b:Twin) WITH a, count(b) AS n "
        "WITH * WHERE n >= 2 RETURN a.`$dtId` AS id, n",
    )
    assert out == [{"id": "root2", "n": 2}]


def test_with_star_order_limit(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (t:Twin) WHERE t.temperature IS NOT NULL "
        "WITH * ORDER BY t.temperature DESC LIMIT 1 "
        "RETURN t.`$dtId` AS id",
    )
    assert out == [{"id": "room1"}]


def test_labels_and_elementid(fixture_store):
    out = rows(
        fixture_store,
        "MATCH (a:Twin)-[r:has]->(b:Twin) WHERE a.`$dtId` = 'root2' "
        "RETURN labels(a) AS la, labels(r) AS lr, "
        "elementId(a) AS ea, elementId(r) AS er ORDER BY er",
    )
    assert out[0]["la"] == ["Twin"] and out[0]["lr"] == ["has"]
    assert out[0]["ea"] == "root2" and out[0]["er"] == "r1"
    out = rows(
        fixture_store,
        "MATCH (m:Model) WHERE m.id = 'dtmi:com:contoso:Planet;1' "
        "RETURN labels(m) AS lm",
    )
    assert out == [{"lm": ["Model"]}]


def test_temporal_constructors(fixture_store):
    import datetime

    out = rows(
        fixture_store,
        "MATCH (t:Twin) WHERE t.`$dtId` = 'room1' "
        "RETURN date('2024-01-02') AS d, "
        "datetime('2015-06-24T12:50:35') AS dt, "
        "date('nope') AS bad, "
        "date(t.`$metadata`.`$lastUpdateTime`) AS lu",
    )
    assert out[0]["d"] == datetime.date(2024, 1, 2)
    assert out[0]["dt"] == datetime.datetime(2015, 6, 24, 12, 50, 35)
    assert out[0]["bad"] is None
    assert out[0]["lu"] is None  # fixture docs carry no $lastUpdateTime
    # typed comparisons work
    out = rows(
        fixture_store,
        "MATCH (t:Twin) WHERE t.`$dtId` = 'room1' "
        "AND date('2024-01-02') > date('2000-01-01') "
        "RETURN t.`$dtId` AS id",
    )
    assert out == [{"id": "room1"}]


# ---------------------------------------------------------------------------
# r9: ADVICE regressions — CALL imports match the binding's kind; EXISTS
# rejects outer-bound relationship variables; is_string/is_primitive on
# a promoted BOOLEAN column
# ---------------------------------------------------------------------------

def test_call_subquery_imports_relationship(spark):
    store = _subquery_store(spark)
    out = rows(store,
               "MATCH (a {`$dtId`: 'n0'})-[r:knows]->(b) "
               "CALL { WITH r RETURN r.`$targetId` AS tgt } "
               "RETURN tgt ORDER BY tgt")
    assert [r["tgt"] for r in out] == ["n1", "n2", "n3"]


def _dup_relid_store(spark):
    # ADT's relationship PK is (source_id, relationship_id):
    # $relationshipId is only unique PER SOURCE TWIN, so several source
    # twins legally reuse the same id (both naming an edge 'contains')
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:sq:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3", "contents": []}]
    twins = [
        {"$dtId": f"n{i}", "$metadata": {"$model": "dtmi:sq:T;1"}}
        for i in range(4)
    ]
    rels = [
        {"$relationshipId": "contains", "$sourceId": "n0",
         "$targetId": "n1", "$relationshipName": "knows"},
        {"$relationshipId": "contains", "$sourceId": "n1",
         "$targetId": "n2", "$relationshipName": "knows"},
        {"$relationshipId": "contains", "$sourceId": "n2",
         "$targetId": "n3", "$relationshipName": "knows"},
    ]
    return GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models)


def test_call_rel_import_composite_key_no_fanout(spark):
    # r10 ADVICE regression: the CALL join-back keys rels on the
    # COMPOSITE (source_id, relationship_id) — joining on the bare id
    # would fan 3 outer rows × 3 same-id sub rows = 9 mixed rows
    store = _dup_relid_store(spark)
    out = rows(store,
               "MATCH (a)-[r:knows]->(b) "
               "CALL { WITH r RETURN r.`$targetId` AS tgt } "
               "RETURN a.`$dtId` AS src, tgt ORDER BY src")
    assert out == [
        {"src": "n0", "tgt": "n1"},
        {"src": "n1", "tgt": "n2"},
        {"src": "n2", "tgt": "n3"},
    ]


def test_call_rel_import_composite_key_aggregate(spark):
    # aggregating CALL path: per-rel counts must not merge across
    # source twins sharing a relationship id
    store = _dup_relid_store(spark)
    out = rows(store,
               "MATCH (a)-[r:knows]->() "
               "CALL { WITH r RETURN count(r) AS n } "
               "RETURN a.`$dtId` AS src, n ORDER BY src")
    assert out == [
        {"src": "n0", "n": 1},
        {"src": "n1", "n": 1},
        {"src": "n2", "n": 1},
    ]


def test_call_rel_import_per_anchor_limit_composite(spark):
    # _call_project's per-anchor window partitions by the composite rel
    # key: each (source, rel) keeps its own LIMIT-1 row
    store = _dup_relid_store(spark)
    out = rows(store,
               "MATCH (a)-[r:knows]->() "
               "CALL { WITH r RETURN r.`$targetId` AS tgt "
               "ORDER BY tgt LIMIT 1 } "
               "RETURN a.`$dtId` AS src, tgt ORDER BY src")
    assert out == [
        {"src": "n0", "tgt": "n1"},
        {"src": "n1", "tgt": "n2"},
        {"src": "n2", "tgt": "n3"},
    ]


def test_call_subquery_imports_model(fixture_store):
    # a model import must seed the MODELS frame (not a twin scan) —
    # counting each model's _extends parents
    out = rows(fixture_store,
               "MATCH (m:Model) CALL { WITH m "
               "MATCH (m)-[:_extends]->(b) RETURN count(b) AS nb } "
               "RETURN m.id AS id, nb ORDER BY id")
    got = {r["id"]: r["nb"] for r in out}
    assert got == {
        "dtmi:com:adt:dtsample:room;1": 0,
        "dtmi:com:contoso:CelestialBody;1": 0,
        "dtmi:com:contoso:Planet;1": 1,
        "dtmi:com:contoso:HabitablePlanet;1": 1,
    }


def test_exists_subquery_rejects_bound_relationship(spark):
    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError

    store = _subquery_store(spark)
    with pytest.raises(CypherCompileError, match="bound relationship"):
        rows(store,
             "MATCH (a)-[r:knows]->(b) WHERE EXISTS { (a)-[r]->() } "
             "RETURN a.`$dtId` AS id")


def test_is_string_on_promoted_boolean(fixture_store):
    # model.decommissioned is a promoted BOOLEAN column: a boolean is
    # primitive but NOT a string (agtype semantics)
    out = rows(fixture_store,
               "MATCH (m:Model) WHERE m.id = 'dtmi:com:contoso:Planet;1' "
               "RETURN is_string(m.decommissioned) AS s, "
               "is_primitive(m.decommissioned) AS p, "
               "is_number(m.decommissioned) AS n, "
               "is_string(m.id) AS sid")
    assert out == [{"s": False, "p": True, "n": False, "sid": True}]


# ---------------------------------------------------------------------------
# r9: temporal algebra — duration(), component access, date arithmetic
# ---------------------------------------------------------------------------

def _temporal_store(spark):
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:tmp:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3"}]
    twins = [
        {"$dtId": "a", "$metadata": {"$model": "dtmi:tmp:T;1"},
         "ts": "1997-03-15T10:30:45"},
        {"$dtId": "b", "$metadata": {"$model": "dtmi:tmp:T;1"},
         "ts": "1998-12-31T23:59:59"},
        {"$dtId": "c", "$metadata": {"$model": "dtmi:tmp:T;1"},
         "ts": "nope"},
    ]
    return GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=[], model_docs=models)


def test_temporal_component_access(spark):
    store = _temporal_store(spark)
    out = rows(store,
               "MATCH (t) WITH t.`$dtId` AS id, datetime(t.ts) AS d "
               "RETURN id, d.year AS y, d.month AS m, d.day AS day, "
               "d.dayOfWeek AS dow, d.hour AS h, d.epochSeconds AS es "
               "ORDER BY id")
    assert out[0] == {"id": "a", "y": 1997, "m": 3, "day": 15,
                      "dow": 6, "h": 10, "es": 858421845}
    assert out[1]["y"] == 1998 and out[1]["dow"] == 4
    # unparsable → NULL components, not an error
    assert out[2] == {"id": "c", "y": None, "m": None, "day": None,
                      "dow": None, "h": None, "es": None}
    # date() components work too
    out = rows(store,
               "MATCH (t {`$dtId`: 'a'}) WITH date(t.ts) AS d "
               "RETURN d.year AS y, d.ordinalDay AS doy")
    assert out == [{"y": 1997, "doy": 74}]


def test_temporal_duration_arithmetic(spark):
    import datetime

    store = _temporal_store(spark)
    out = rows(store,
               "MATCH (t) WITH t.`$dtId` AS id, datetime(t.ts) AS d "
               "WHERE d + duration('P30D') > datetime('1998-04-10T00:00:00') "
               "RETURN id, d - duration('PT1H30M') AS earlier ORDER BY id")
    assert [r["id"] for r in out] == ["b"]
    assert out[0]["earlier"] == datetime.datetime(1998, 12, 31, 22, 29, 59)
    # calendar durations (year-month family) + chaining through WITH
    out = rows(store,
               "MATCH (t {`$dtId`: 'a'}) WITH datetime(t.ts) AS d "
               "WITH d + duration('P1M') + duration('P2D') AS d2 "
               "RETURN d2.month AS m, d2.day AS day")
    assert out == [{"m": 4, "day": 17}]
    # weeks normalize to days; seconds accepted
    out = rows(store,
               "MATCH (t {`$dtId`: 'a'}) WITH datetime(t.ts) AS d "
               "WITH d + duration('P1W') AS d2, d + duration('PT5S') AS d3 "
               "RETURN d2.day AS day, d3.second AS s")
    assert out == [{"day": 22, "s": 50}]


def test_temporal_duration_rejections(spark):
    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError

    store = _temporal_store(spark)
    with pytest.raises(CypherCompileError, match="cannot mix"):
        rows(store, "MATCH (t) RETURN datetime(t.ts) + duration('P1M2D') AS x")
    with pytest.raises(CypherCompileError, match="unparsable"):
        rows(store, "MATCH (t) RETURN datetime(t.ts) + duration('30 days') AS x")
    with pytest.raises(CypherCompileError, match="string literal"):
        rows(store, "MATCH (t) RETURN datetime(t.ts) + duration(t.ts) AS x")
    with pytest.raises(CypherCompileError, match="unknown temporal component"):
        rows(store, "MATCH (t) WITH datetime(t.ts) AS d RETURN d.century AS c")


def test_temporal_registry_cleared_on_reprojection(spark):
    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError

    store = _temporal_store(spark)
    # d is temporal in the first WITH, re-projected as a NUMBER in the
    # second — component access must now fail cleanly, not compile
    # year() against a double
    with pytest.raises(CypherCompileError):
        rows(store,
             "MATCH (t {`$dtId`: 'a'}) WITH datetime(t.ts) AS d "
             "WITH d.year + 0 AS d RETURN d.year AS y")
    # and the re-projected value still works as a plain number
    out = rows(store,
               "MATCH (t {`$dtId`: 'a'}) WITH datetime(t.ts) AS d "
               "WITH d.year + 0 AS d RETURN d AS y")
    assert out == [{"y": 1997.0}]


def test_temporal_value_through_call_subquery(spark):
    store = _temporal_store(spark)
    out = rows(store,
               "MATCH (t {`$dtId`: 'a'}) "
               "CALL { WITH t RETURN datetime(t.ts) AS d } "
               "RETURN d.year AS y")
    assert out == [{"y": 1997}]


def test_duration_between_and_interval_components(spark):
    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError

    store = _temporal_store(spark)
    out = rows(store,
               "MATCH (t {`$dtId`: 'a'}) WITH datetime(t.ts) AS d "
               "WITH duration.between(d, datetime('1997-03-20T12:00:45')) AS el "
               "RETURN el.days AS days, el.hours AS h, el.minutes AS m, "
               "el.seconds AS s, el.weeks AS w")
    # 1997-03-15T10:30:45 → 1997-03-20T12:00:45 = 5 days + 1:30:00.
    # Neo4j GROUP-TOTAL accessors (r10): the seconds group is 1h30m, so
    # .minutes == 90 (total minutes of the group), .hours == 1,
    # .seconds == 5400; the days group gives .days == 5, .weeks == 0
    assert out == [{"days": 5, "h": 1, "m": 90, "s": 5400, "w": 0}]
    # duration.between composes with duration arithmetic through WITH
    out = rows(store,
               "MATCH (t {`$dtId`: 'a'}) WITH datetime(t.ts) AS d "
               "WITH duration.between(d, datetime('1997-03-20T10:30:45')) "
               "+ duration('P1D') AS el RETURN el.days AS days")
    assert out == [{"days": 6}]
    # calendar components only exist on calendar durations
    with pytest.raises(CypherCompileError, match="does not exist"):
        rows(store,
             "MATCH (t {`$dtId`: 'a'}) WITH datetime(t.ts) AS d "
             "WITH duration.between(d, datetime('1998-01-01T00:00:00')) AS el "
             "RETURN el.months AS mo")
    out = rows(store,
               "MATCH (t {`$dtId`: 'a'}) "
               "WITH duration('P2Y3M') AS ym "
               "RETURN ym.years AS y, ym.months AS mo, ym.quarters AS q")
    # Neo4j group totals: .months is the TOTAL month count (27), not
    # the within-year remainder; .quarters = total months / 3
    assert out == [{"y": 2, "mo": 27, "q": 9}]
    with pytest.raises(CypherCompileError, match="two temporal"):
        rows(store, "MATCH (t) RETURN duration.between(datetime(t.ts)) AS x")


def test_temporal_truncate_time_and_duration_scaling(spark):
    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError

    store = _temporal_store(spark)
    # datetime.truncate zeroes below the unit; date.truncate returns a
    # date; week truncates to Monday (1997-03-15 is a Saturday)
    out = rows(store,
               "MATCH (t {`$dtId`: 'a'}) WITH datetime(t.ts) AS d "
               "RETURN toString(datetime.truncate('month', d)) AS m, "
               "toString(date.truncate('week', d)) AS w, "
               "toString(date.truncate('day', d)) AS dd")
    assert out == [{"m": "1997-03-01 00:00:00", "w": "1997-03-10",
                    "dd": "1997-03-15"}]
    # truncate composes with component access and grouping
    out = rows(store,
               "MATCH (t) WHERE t.ts <> 'nope' "
               "WITH datetime.truncate('year', datetime(t.ts)) AS y "
               "RETURN y.year AS yy, count(*) AS n ORDER BY yy")
    assert out == [{"yy": 1997, "n": 1}, {"yy": 1998, "n": 1}]
    # time()/localtime(): fixed-width HH:mm:ss strings (lexicographic
    # == chronological; documented Spark-has-no-time-type divergence)
    out = rows(store,
               "MATCH (t {`$dtId`: 'a'}) "
               "RETURN time(t.ts) AS tm, localtime(t.ts) AS lt")
    assert out == [{"tm": "10:30:45", "lt": "10:30:45"}]
    # duration scaling: duration * k, k * duration, duration / k —
    # family preserved, components still group-total
    out = rows(store,
               "MATCH (t {`$dtId`: 'a'}) WITH datetime(t.ts) AS d "
               "RETURN toString((d + duration('P1D') * 3).day) AS d3, "
               "toString((d + 2 * duration('PT12H')).day) AS h24, "
               "(duration('P10D') / 2).days AS half, "
               "(duration('P1Y3M') * 2).months AS mo")
    assert out == [{"d3": "18", "h24": "16", "half": 5, "mo": 30}]
    with pytest.raises(CypherCompileError, match="unsupported unit"):
        rows(store,
             "MATCH (t {`$dtId`: 'a'}) WITH date(t.ts) AS d "
             "RETURN date.truncate('minute', d) AS x")
    with pytest.raises(CypherCompileError, match="unit string literal"):
        rows(store,
             "MATCH (t {`$dtId`: 'a'}) "
             "RETURN datetime.truncate(t.ts) AS x")


def test_postfix_temporal_component_access(spark):
    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError

    store = _temporal_store(spark)
    out = rows(store,
               "MATCH (t {`$dtId`: 'a'}) "
               "RETURN datetime(t.ts).year AS y, date(t.ts).ordinalDay AS doy, "
               "duration.between(datetime(t.ts), "
               "datetime('1997-03-20T12:00:45')).days AS days, "
               "duration('P2Y3M').months AS mo")
    assert out == [{"y": 1997, "doy": 74, "days": 5, "mo": 27}]
    # parenthesized arithmetic result
    out = rows(store,
               "MATCH (t {`$dtId`: 'a'}) WITH datetime(t.ts) AS d "
               "RETURN (d + duration('P1D')).day AS nd")
    assert out == [{"nd": 16}]
    # var base renormalizes to plain property access
    out = rows(store,
               "MATCH (t {`$dtId`: 'a'}) RETURN (t).ts AS ts")
    assert out[0]["ts"] == "1997-03-15T10:30:45"
    # non-temporal computed base rejected with a clear error
    with pytest.raises(CypherCompileError, match="temporal expressions"):
        rows(store, "MATCH (t) RETURN toLower(t.ts).year AS y")


# ---------------------------------------------------------------------------
# r12: any/all/none/single list predicates
# ---------------------------------------------------------------------------

def test_list_predicates(spark):
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:lp:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3", "contents": []}]
    twins = [{"$dtId": "a", "$metadata": {"$model": "dtmi:lp:T;1"},
              "xs": [1, 2, 3], "tags": ["ab", "cde", "cd"]}]
    store = GraphStore.from_documents(spark, twin_docs=twins, model_docs=models)
    [r] = rows(store,
               "MATCH (t) RETURN "
               "any(x IN t.xs WHERE x > 2) AS a1, "
               "any(x IN t.xs WHERE x > 5) AS a0, "
               "all(x IN t.xs WHERE x > 0) AS l1, "
               "all(x IN t.xs WHERE x > 1) AS l0, "
               "none(x IN t.xs WHERE x = 9) AS n1, "
               "single(x IN t.xs WHERE x = 2) AS s1, "
               "single(x IN t.tags WHERE x STARTS WITH 'c') AS s0, "
               "any(x IN [1, 2] WHERE x = 2) AS lit")
    assert (r["a1"], r["a0"]) == (True, False)
    assert (r["l1"], r["l0"]) == (True, False)
    assert r["n1"] is True
    # exactly-one semantics: two 'c' tags fail single
    assert (r["s1"], r["s0"]) == (True, False)
    assert r["lit"] is True


def test_list_predicates_in_where_and_plain_calls_unharmed(spark):
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:lp:T;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3", "contents": []}]
    twins = [
        {"$dtId": "a", "$metadata": {"$model": "dtmi:lp:T;1"}, "xs": [1, 2]},
        {"$dtId": "b", "$metadata": {"$model": "dtmi:lp:T;1"}, "xs": [5]},
    ]
    store = GraphStore.from_documents(spark, twin_docs=twins, model_docs=models)
    got = rows(store,
               "MATCH (t) WHERE all(x IN t.xs WHERE x < 3) "
               "RETURN t.`$dtId` AS id")
    assert [r["id"] for r in got] == ["a"]
    # NOT none(...) == any(...)
    got = rows(store,
               "MATCH (t) WHERE NOT none(x IN t.xs WHERE x = 5) "
               "RETURN t.`$dtId` AS id")
    assert [r["id"] for r in got] == ["b"]
    # aggregate calls named like predicates still parse as functions
    [r] = rows(store, "MATCH (t) RETURN count(t) AS n")
    assert r["n"] == 2


def _weighted_client(spark):
    """a->b->c->d chain (w 1,1,1) plus heavy shortcuts a->c (10) and
    a->d (3): weighted shortest to c is 2 hops/cost 2 (beats the 1-hop
    cost-10 shortcut); to d it's the 1-hop cost-3 shortcut."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:sp:W;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3", "contents": []}]
    twins = [{"$dtId": x, "$metadata": {"$model": "dtmi:sp:W;1"}}
             for x in "abcd"]
    edges = [("a", "b", 1), ("b", "c", 1), ("c", "d", 1),
             ("a", "c", 10), ("a", "d", 3)]
    rels = [
        {"$relationshipId": f"r{i}", "$sourceId": s, "$targetId": t,
         "$relationshipName": "next", "w": w}
        for i, (s, t, w) in enumerate(edges)
    ]
    return DigitalTwinsSparkClient(GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models))


def test_weighted_shortest_path_costs(spark):
    """r13: [* WEIGHT expr] — per endpoint pair the minimum total
    weight over paths of <= hi hops; cost(p) is the total, length(p)
    the hop count of the (cost, hops)-lexicographic minimum."""
    c = _weighted_client(spark)
    rows = c.query(
        "MATCH p = shortestPath((a {`$dtId`: 'a'})"
        "-[r:next*1..4 WEIGHT toInteger(r.w)]->(x)) "
        "RETURN x.`$dtId` AS dst, cost(p) AS cost, length(p) AS len "
        "ORDER BY dst"
    ).rows
    # b: 1 hop cost 1; c: 2 hops cost 2 (beats 1-hop cost 10);
    # d: 1-hop shortcut cost 3 == 3-hop chain cost 3 -> min hops wins
    assert rows == [
        {"dst": "b", "cost": 1, "len": 1},
        {"dst": "c", "cost": 2, "len": 2},
        {"dst": "d", "cost": 3, "len": 1},
    ]
    # zero lower bound adds the start at cost 0 / length 0
    rows0 = c.query(
        "MATCH p = shortestPath((a {`$dtId`: 'a'})"
        "-[r:next*0..4 WEIGHT toInteger(r.w)]->(x)) "
        "RETURN x.`$dtId` AS dst, cost(p) AS cost ORDER BY dst"
    ).rows
    assert rows0[0] == {"dst": "a", "cost": 0}
    assert len(rows0) == 4
    # hop bound binds: with at most 1 hop, c costs 10 (the shortcut)
    rows1 = c.query(
        "MATCH p = shortestPath((a {`$dtId`: 'a'})"
        "-[r:next*1..1 WEIGHT toInteger(r.w)]->(x {`$dtId`: 'c'})) "
        "RETURN cost(p) AS cost"
    ).rows
    assert rows1 == [{"cost": 10}]


def test_weighted_shortest_path_errors(spark):
    import pytest as _pytest

    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError
    from pg_age_digitaltwins_spark.cypher.parser import CypherParseError

    c = _weighted_client(spark)
    # WEIGHT requires a var-length relationship (parse-time)
    with _pytest.raises(CypherParseError, match="WEIGHT"):
        c.query("MATCH (a)-[r:next WEIGHT toInteger(r.w)]->(b) "
                "RETURN count(*) AS n")
    # WEIGHT outside shortestPath (compile-time)
    with _pytest.raises(CypherCompileError, match="WEIGHT"):
        c.query("MATCH (a)-[r:next*1..2 WEIGHT toInteger(r.w)]->(b) "
                "RETURN count(*) AS n")
    # allShortestPaths does not take WEIGHT
    with _pytest.raises(CypherCompileError, match="WEIGHT"):
        c.query("MATCH p = allShortestPaths((a)-[r:next*1..2 "
                "WEIGHT toInteger(r.w)]->(b)) RETURN count(*) AS n")
    # cost() needs a weighted path variable
    with _pytest.raises(CypherCompileError, match="cost"):
        c.query("MATCH p = shortestPath((a {`$dtId`: 'a'})-[*1..2]->(b)) "
                "RETURN cost(p) AS c")
    # negative weights fail loudly at runtime (in-plan assert)
    with _pytest.raises(Exception, match="negative or NULL"):
        c.query("MATCH p = shortestPath((a {`$dtId`: 'a'})"
                "-[r:next*1..2 WEIGHT toInteger(r.w) - 5]->(x)) "
                "RETURN cost(p) AS c")


def _crud_weighted_client(spark):
    """The ``_weighted_client`` graph plus a self-loop b->b with no
    weight, written from ``GraphStore.empty`` in one batch per table:
    the empty base drops out at plan time, so each table is a single
    in-memory ``LocalRelation``, over which the optimizer evaluates
    projections (weight checks included) before any later filter."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    c = DigitalTwinsSparkClient(GraphStore.empty(spark))
    c.create_models([{"@id": "dtmi:sp:W;1", "@type": "Interface",
                      "@context": "dtmi:dtdl:context;3", "contents": []}])
    c.create_or_replace_digital_twins(
        [{"$dtId": x, "$metadata": {"$model": "dtmi:sp:W;1"}} for x in "abcd"]
    )
    edges = [("a", "b", 1), ("b", "c", 1), ("c", "d", 1),
             ("a", "c", 10), ("a", "d", 3)]
    rels = [
        {"$relationshipId": f"r{i}", "$sourceId": s, "$targetId": t,
         "$relationshipName": "next", "w": w}
        for i, (s, t, w) in enumerate(edges)
    ]
    rels.append({"$relationshipId": "loop", "$sourceId": "b",
                 "$targetId": "b", "$relationshipName": "next"})
    rels.append({"$relationshipId": "loop", "$sourceId": "c",
                 "$targetId": "c", "$relationshipName": "next", "w": 0.5})
    c.create_or_replace_relationships(rels)
    return c


def test_weighted_shortest_path_ignores_self_loop_weights(spark):
    """A self-loop never lies on a shortest path, so its weight (none on
    b->b, fractional on c->c) is never checked — also on a store built
    from empty through CRUD writes."""
    c = _crud_weighted_client(spark)
    rows = c.query(
        "MATCH p = shortestPath((a {`$dtId`: 'a'})"
        "-[r:next*1..4 WEIGHT toInteger(r.w)]->(x)) "
        "RETURN x.`$dtId` AS dst, cost(p) AS cost ORDER BY dst"
    ).rows
    assert rows == [
        {"dst": "b", "cost": 1},
        {"dst": "c", "cost": 2},
        {"dst": "d", "cost": 3},
    ]


def test_weighted_louvain_ignores_bad_self_loop_weight(spark):
    """Louvain drops self-loops, so the fractional weight on c->c is not
    checked — also on a store built from empty through CRUD writes."""
    c = _crud_weighted_client(spark)
    rows = c.query("CALL graph.louvain(2, 1, 'w') YIELD node, community "
                   "RETURN count(*) AS n").rows
    assert rows == [{"n": 4}]


def _cyclic_weighted_client(spark):
    """a->b->a 2-cycle (w 1 each) plus a->c (w 5): a can walk back to
    itself in 2 hops at cost 2 — the r13 ADVICE lo==0 stressor."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:sp:WC;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3", "contents": []}]
    twins = [{"$dtId": x, "$metadata": {"$model": "dtmi:sp:WC;1"}}
             for x in "abc"]
    edges = [("a", "b", 1), ("b", "a", 1), ("a", "c", 5)]
    rels = [
        {"$relationshipId": f"r{i}", "$sourceId": s, "$targetId": t,
         "$relationshipName": "next", "w": w}
        for i, (s, t, w) in enumerate(edges)
    ]
    return DigitalTwinsSparkClient(GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models))


def test_weighted_shortest_path_zero_lo_cycle_no_duplicates(spark):
    """r13 ADVICE (high): with lo==0 on a cyclic graph, the cost-0
    self row must REPLACE the positive-cost cycle row back to the
    start — exactly one row per (src, dst) pair, never both."""
    c = _cyclic_weighted_client(spark)
    rows = c.query(
        "MATCH p = shortestPath((a {`$dtId`: 'a'})"
        "-[r:next*0..4 WEIGHT toInteger(r.w)]->(x)) "
        "RETURN x.`$dtId` AS dst, cost(p) AS cost, length(p) AS len "
        "ORDER BY dst"
    ).rows
    # one row per destination; a->a is the 0-cost self path, NOT the
    # cost-2 a->b->a cycle (which used to survive as a duplicate)
    assert rows == [
        {"dst": "a", "cost": 0, "len": 0},
        {"dst": "b", "cost": 1, "len": 1},
        {"dst": "c", "cost": 5, "len": 1},
    ]
    # undirected form: every edge is a 2-cycle — still one row per pair
    rows_u = c.query(
        "MATCH p = shortestPath((a {`$dtId`: 'a'})"
        "-[r:next*0..4 WEIGHT toInteger(r.w)]-(x)) "
        "RETURN x.`$dtId` AS dst, cost(p) AS cost ORDER BY dst"
    ).rows
    assert [r["dst"] for r in rows_u] == ["a", "b", "c"]
    assert rows_u[0]["cost"] == 0


def test_weighted_shortest_path_hi_zero(spark):
    """r13 ADVICE (low): [*0..0 WEIGHT w] runs zero relaxation rounds —
    only the cost-0 self row, never 1-hop neighbors."""
    c = _cyclic_weighted_client(spark)
    rows = c.query(
        "MATCH p = shortestPath((a {`$dtId`: 'a'})"
        "-[r:next*0..0 WEIGHT toInteger(r.w)]->(x)) "
        "RETURN x.`$dtId` AS dst, cost(p) AS cost, length(p) AS len"
    ).rows
    assert rows == [{"dst": "a", "cost": 0, "len": 0}]


def _proc_client(spark):
    """a->b, b->c, a->c, c->d — the procedure-surface fixture."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:sp:PC;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3", "contents": []}]
    twins = [{"$dtId": x, "$metadata": {"$model": "dtmi:sp:PC;1"}}
             for x in "abcd"]
    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    rels = [
        {"$relationshipId": f"r{i}", "$sourceId": s, "$targetId": t,
         "$relationshipName": "next"}
        for i, (s, t) in enumerate(edges)
    ]
    store = GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models)
    # r16: corpus datasets for the text.*/dedup.*/ann.* families —
    # doc 1/2 are near-dups (one substitution), 3 is an exact dup of 1
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta", "en", "s", 35),
         (2, "alpha beta gamma delta epsilon zetq", "en", "s", 35),
         (3, "alpha beta gamma delta epsilon zeta", "en", "s", 35),
         (4, "completely different text about spark plans here", "en",
          "s", 48)],
        "doc_id long, text string, lang string, source string, n_chars int",
    )
    embs = spark.createDataFrame(
        [(i, [float(i == j) for j in range(8)], "l") for i in range(6)],
        "vec_id long, embedding array<float>, label string",
    )
    store.with_datasets(documents=docs, embeddings=embs)
    return DigitalTwinsSparkClient(store)


def test_call_procedure_degree_and_components(spark):
    """r14: CALL ns.proc(args) YIELD — the GDS/AGE procedure-call
    shape.  Degree counts are exact; YIELD renames bind as variables;
    WHERE directly after YIELD filters; the yielded frame feeds
    ORDER BY / aggregation like any other source."""
    c = _proc_client(spark)
    rows = c.query(
        "CALL graph.degree() YIELD node, out_degree, in_degree "
        "RETURN node, out_degree, in_degree ORDER BY node"
    ).rows
    assert rows == [
        {"node": "a", "out_degree": 2, "in_degree": 0},
        {"node": "b", "out_degree": 1, "in_degree": 1},
        {"node": "c", "out_degree": 1, "in_degree": 2},
        {"node": "d", "out_degree": 0, "in_degree": 1},
    ]
    rows2 = c.query(
        "CALL graph.degree() YIELD node AS id, out_degree "
        "WHERE out_degree >= 1 RETURN id ORDER BY id"
    ).rows
    assert [r["id"] for r in rows2] == ["a", "b", "c"]
    # undirected reachability: one component
    rows3 = c.query(
        "CALL graph.connectedComponents() YIELD node, component "
        "RETURN count(DISTINCT component) AS nc"
    ).rows
    assert rows3 == [{"nc": 1}]
    # a->b->c->a would be a triangle; this fixture's a->b,b->c,a->c IS
    # one as an undirected triangle
    assert c.query(
        "CALL graph.triangleCount() YIELD triangles RETURN triangles"
    ).rows == [{"triangles": 1}]
    # harmonic from 'a', depth 2: b,c at d=1 (12 each), d at d=2 (6)
    h = c.query(
        "CALL graph.harmonicCentrality(['a'], 2) YIELD node, h12 "
        "RETURN node, h12 ORDER BY node"
    ).rows
    assert h == [{"node": "b", "h12": 12}, {"node": "c", "h12": 12},
                 {"node": "d", "h12": 6}]
    # local clustering: a,b close their one wedge; c has 3 wedges
    lcc = c.query(
        "CALL graph.localClustering() YIELD node, lcc_micro "
        "WHERE lcc_micro IS NOT NULL RETURN node, lcc_micro ORDER BY node"
    ).rows
    assert lcc == [{"node": "a", "lcc_micro": 1_000_000},
                   {"node": "b", "lcc_micro": 1_000_000},
                   {"node": "c", "lcc_micro": 333_333}]


def test_call_procedure_pagerank_replay(spark):
    """CALL graph.pageRank(iters) matches a pure-Python power-iteration
    replay (dangling mass redistributed uniformly) to 1e-12."""
    c = _proc_client(spark)
    got = {
        r["node"]: r["rank"]
        for r in c.query(
            "CALL graph.pageRank(5) YIELD node, rank RETURN node, rank"
        ).rows
    }
    verts = ["a", "b", "c", "d"]
    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")]
    out = {v: sum(1 for s, _ in edges if s == v) for v in verts}
    d, n = 0.85, 4
    rank = {v: 1.0 / n for v in verts}
    for _ in range(5):
        dang = sum(rank[v] for v in verts if out[v] == 0)
        nxt = {}
        for v in verts:
            in_sum = sum(rank[s] / out[s] for s, t in edges if t == v)
            nxt[v] = (1 - d) / n + d * dang / n + d * in_sum
        rank = nxt
    for v in verts:
        # the operator rounds rank to 8 decimals (oracle discipline)
        assert abs(got[v] - rank[v]) < 1e-7, v
    # personalized variant: mass stays on vertices reachable from seed
    ppr = c.query(
        "CALL graph.personalizedPageRank(['c'], 3) YIELD node, rank "
        "WHERE rank > 0 RETURN node ORDER BY node"
    ).rows
    assert [r["node"] for r in ppr] == ["c", "d"]


def test_call_procedure_composition(spark):
    """CALL ... YIELD composes with WITH / aggregates / UNION like any
    other source clause."""
    c = _proc_client(spark)
    rows = c.query(
        "CALL graph.degree() YIELD node, out_degree "
        "WITH node, out_degree * 2 AS dd WHERE dd > 0 "
        "RETURN node, dd ORDER BY node"
    ).rows
    assert rows == [{"node": "a", "dd": 4}, {"node": "b", "dd": 2},
                    {"node": "c", "dd": 2}]
    agg = c.query(
        "CALL graph.degree() YIELD node, out_degree, in_degree "
        "RETURN sum(out_degree) AS total_out, sum(in_degree) AS total_in"
    ).rows
    assert agg == [{"total_out": 4, "total_in": 4}]
    u = c.query(
        "CALL graph.degree() YIELD node RETURN node "
        "UNION CALL graph.connectedComponents() YIELD node RETURN node"
    ).rows
    assert sorted(r["node"] for r in u) == ["a", "b", "c", "d"]


def test_call_procedure_rel_types_projection(spark):
    """r14: a trailing string-list literal in a non-list slot projects
    the procedure onto edges of those relationship names (GDS-style
    typed-subgraph analytics); vertices are not filtered."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    import pytest as _pytest

    models = [{"@id": "dtmi:sp:RT;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3", "contents": []}]
    twins = [{"$dtId": x, "$metadata": {"$model": "dtmi:sp:RT;1"}}
             for x in "abcd"]
    rels = (
        [{"$relationshipId": f"n{i}", "$sourceId": s, "$targetId": t,
          "$relationshipName": "next"}
         for i, (s, t) in enumerate([("a", "b"), ("b", "c")])]
        + [{"$relationshipId": f"o{i}", "$sourceId": s, "$targetId": t,
            "$relationshipName": "other"}
           for i, (s, t) in enumerate([("c", "d"), ("a", "c")])]
    )
    c = DigitalTwinsSparkClient(GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models))
    got = c.query(
        "CALL graph.degree(['next']) YIELD node, out_degree, in_degree "
        "WHERE out_degree + in_degree > 0 "
        "RETURN node, out_degree, in_degree ORDER BY node"
    ).rows
    assert got == [
        {"node": "a", "out_degree": 1, "in_degree": 0},
        {"node": "b", "out_degree": 1, "in_degree": 1},
        {"node": "c", "out_degree": 0, "in_degree": 1},
    ]
    # typed CC splits {a,b,c} from {d}; the full graph is one component
    nc = lambda q: c.query(q).rows[0]["nc"]  # noqa: E731
    assert nc("CALL graph.connectedComponents(['next']) YIELD node, "
              "component RETURN count(DISTINCT component) AS nc") == 2
    assert nc("CALL graph.connectedComponents() YIELD node, component "
              "RETURN count(DISTINCT component) AS nc") == 1
    # after full positional args, and directly after a typed list slot
    assert c.query(
        "CALL graph.pageRank(3, 0.85, ['next']) YIELD node, rank "
        "RETURN count(*) AS n"
    ).rows == [{"n": 4}]
    assert c.query(
        "CALL graph.personalizedPageRank(['a'], ['next']) "
        "YIELD node, rank WHERE rank > 0 RETURN count(*) AS n"
    ).rows == [{"n": 3}]
    with _pytest.raises(CypherCompileError, match="at least one"):
        c.query("CALL graph.degree([]) YIELD node RETURN node")
    with _pytest.raises(CypherCompileError, match="at most"):
        c.query("CALL graph.pageRank(1, 2, ['x'], ['y']) "
                "YIELD node RETURN node")


def test_call_procedure_registry_full_coverage(spark):
    """Every registered procedure runs end-to-end through the client
    with its full canonical YIELD list — a canon-map drift (yield name
    that doesn't match the operator's output column) fails here, not
    in a user query."""
    c = _proc_client(spark)
    cls = __import__(
        "pg_age_digitaltwins_spark.cypher.compiler", fromlist=["CypherCompiler"]
    ).CypherCompiler
    compiler_registry = cls(c.store)._proc_registry()
    seeds = "['a']"
    for name, (arg_spec, canon, _build) in sorted(compiler_registry.items()):
        # pass only the REQUIRED args (seed lists, query ids); rely on
        # defaults for the rest
        args = []
        for _aname, kind, default in arg_spec:
            if kind == "list[str]":
                args.append(seeds)
            elif default is cls._REQUIRED:
                args.append("0")
        q = (
            f"CALL {name}({', '.join(args)}) "
            f"YIELD {', '.join(canon)} RETURN count(*) AS n"
        )
        rows = c.query(q).rows
        assert rows and rows[0]["n"] >= 1, name


def test_call_procedure_errors(spark):
    import pytest as _pytest

    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError
    from pg_age_digitaltwins_spark.cypher.parser import CypherParseError

    c = _proc_client(spark)
    with _pytest.raises(CypherCompileError, match="available"):
        c.query("CALL graph.nope() YIELD x RETURN x")
    with _pytest.raises(CypherCompileError, match="not one of them"):
        c.query("CALL graph.degree() YIELD wat RETURN wat")
    with _pytest.raises(CypherCompileError, match="at most 2"):
        c.query("CALL graph.pageRank(1, 2, 3, 4) YIELD node RETURN node")
    with _pytest.raises(CypherCompileError, match="literal list"):
        c.query("CALL graph.personalizedPageRank(5) YIELD node RETURN node")
    with _pytest.raises(CypherCompileError, match="required"):
        c.query("CALL graph.personalizedPageRank() YIELD node RETURN node")
    with _pytest.raises(CypherCompileError, match="FIRST clause"):
        c.query("MATCH (a) CALL graph.degree() YIELD node RETURN node")
    with _pytest.raises(CypherCompileError, match="Duplicate YIELD"):
        c.query("CALL graph.degree() YIELD node, node RETURN node")
    with _pytest.raises(CypherParseError, match="YIELD"):
        c.query("CALL graph.degree() RETURN 1 AS x")
    with _pytest.raises(CypherParseError, match="OPTIONAL CALL"):
        c.query("OPTIONAL CALL graph.degree() YIELD node RETURN node")


def test_var_length_edge_prop_map_filters_every_hop(spark):
    """r13 fix: a prop map on a var-length edge constrains EVERY
    traversed relationship (it used to be silently ignored) — in
    plain var-length hops, shortestPath, and weighted shortestPath."""
    c = _weighted_client(spark)
    # only w=1 edges traversable: a->b->c->d chain; shortcuts (10, 3)
    # are filtered out, so d is 3 hops from a
    rows = c.query(
        "MATCH (a {`$dtId`: 'a'})-[r:next*1..3 {w: 1}]->(x) "
        "RETURN x.`$dtId` AS dst ORDER BY dst"
    ).rows
    assert [r["dst"] for r in rows] == ["b", "c", "d"]
    # without the prop map the shortcuts ARE traversable
    rows2 = c.query(
        "MATCH (a {`$dtId`: 'a'})-[r:next*1..1]->(x) "
        "RETURN x.`$dtId` AS dst ORDER BY dst"
    ).rows
    assert [r["dst"] for r in rows2] == ["b", "c", "d"]
    # shortestPath: with only w=1 edges, d is at length 3 (not 1)
    [r] = c.query(
        "MATCH p = shortestPath((a {`$dtId`: 'a'})"
        "-[r:next*1..4 {w: 1}]->(x {`$dtId`: 'd'})) "
        "RETURN length(p) AS len"
    ).rows
    assert r["len"] == 3
    # weighted shortestPath composes with the prop map too
    [r] = c.query(
        "MATCH p = shortestPath((a {`$dtId`: 'a'})"
        "-[r:next*1..4 {w: 1} WEIGHT toInteger(r.w)]->(x {`$dtId`: 'd'})) "
        "RETURN cost(p) AS cost, length(p) AS len"
    ).rows
    assert (r["cost"], r["len"]) == (3, 3)


def test_var_length_alias_reference_targeted_error(spark):
    """r13: referencing a var-length relationship alias in
    WHERE/RETURN raises the LIST-semantics explanation, not a generic
    unknown-variable error (the alias is real, just unmaterialized)."""
    import pytest as _pytest

    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError

    c = _weighted_client(spark)
    with _pytest.raises(CypherCompileError, match="LIST of relationships"):
        c.query("MATCH (a)-[r:next*1..2]->(x) RETURN r.w AS w")
    with _pytest.raises(CypherCompileError, match="LIST of relationships"):
        c.query(
            "MATCH p = shortestPath((a {`$dtId`: 'a'})-[r:next*1..2]->(x)) "
            "WHERE r.w = 1 RETURN length(p) AS l"
        )
    # inside WEIGHT the alias IS bound (per-edge scope) — no error
    [row] = c.query(
        "MATCH p = shortestPath((a {`$dtId`: 'a'})"
        "-[r:next*1..2 WEIGHT toInteger(r.w)]->(x {`$dtId`: 'b'})) "
        "RETURN cost(p) AS cost"
    ).rows
    assert row["cost"] == 1
    # a genuinely unknown name still says so
    with _pytest.raises(CypherCompileError, match="Unknown variable"):
        c.query("MATCH (a) RETURN zz.w AS w")


def test_call_procedure_pagerank_weighted(spark):
    """r15: a trailing string literal in a non-string slot is the GDS
    relationshipWeightProperty projection — rank flows w(u,v)/W(u),
    missing property defaults to 1.0, matches a pure-Python replay;
    composes with relTypes in either order."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:sp:W;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3",
               "contents": [{"@type": "Property", "name": "q",
                             "schema": "double"}]}]
    twins = [{"$dtId": x, "$metadata": {"$model": "dtmi:sp:W;1"}}
             for x in "abcd"]
    edges = [("a", "b", 3.0), ("b", "c", None), ("a", "c", 1.0),
             ("c", "d", 2.0)]
    rels = []
    for i, (s, t, w) in enumerate(edges):
        doc = {"$relationshipId": f"r{i}", "$sourceId": s, "$targetId": t,
               "$relationshipName": "next"}
        if w is not None:
            doc["q"] = w
        rels.append(doc)
    c = DigitalTwinsSparkClient(GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models))
    got = {
        r["node"]: r["rank"]
        for r in c.query(
            "CALL graph.pageRank(4, 0.85, 'q') YIELD node, rank "
            "RETURN node, rank"
        ).rows
    }
    # pure-Python weighted replay (missing q -> 1.0)
    verts = list("abcd")
    we = [(s, t, w if w is not None else 1.0) for s, t, w in edges]
    W = {v: sum(w for s, _, w in we if s == v) for v in verts}
    d, n = 0.85, 4
    rank = {v: 1.0 / n for v in verts}
    for _ in range(4):
        dang = sum(rank[v] for v in verts if W[v] == 0)
        rank = {
            v: (1 - d) / n + d * dang / n
            + d * sum(rank[s] * w / W[s] for s, t, w in we if t == v)
            for v in verts
        }
    for v in verts:
        assert abs(got[v] - rank[v]) < 1e-7, v
    # either projection order, same answer
    for qstr in (
        "CALL graph.pageRank(4, 0.85, 'q', ['next']) YIELD node, rank "
        "RETURN node, rank",
        "CALL graph.pageRank(4, 0.85, ['next'], 'q') YIELD node, rank "
        "RETURN node, rank",
    ):
        got2 = {r["node"]: r["rank"] for r in c.query(qstr).rows}
        assert got2 == got
    # only _WEIGHTED_PROCS accept a weight property (louvain gained
    # weight support in r15 — use a structurally unweighted procedure)
    with pytest.raises(CypherCompileError, match="relationshipWeightProperty"):
        c.query("CALL graph.triangleCount('q') YIELD triangles "
                "RETURN triangles")
    # negative weights fail at runtime with a named error
    bad = DigitalTwinsSparkClient(GraphStore.from_documents(
        spark, twin_docs=twins[:2],
        relationship_docs=[{"$relationshipId": "r0", "$sourceId": "a",
                            "$targetId": "b", "$relationshipName": "next",
                            "q": -1.0}],
        model_docs=models))
    with pytest.raises(Exception, match="negative edge weight"):
        bad.query("CALL graph.pageRank(2, 0.85, 'q') YIELD node, rank "
                  "RETURN count(*) AS n")


def test_call_procedure_weighted_degree_and_ppr(spark):
    """r15: the weight projection generalizes — graph.degree sums edge
    weights (DOUBLE; missing property -> 1.0) and personalizedPageRank
    carries rank*w/W(u); both through the public client."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:sp:W2;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3",
               "contents": [{"@type": "Property", "name": "q",
                             "schema": "double"}]}]
    twins = [{"$dtId": x, "$metadata": {"$model": "dtmi:sp:W2;1"}}
             for x in "abcd"]
    edges = [("a", "b", 3.0), ("b", "c", None), ("a", "c", 1.0),
             ("c", "d", 2.0)]
    rels = []
    for i, (s, t, w) in enumerate(edges):
        doc = {"$relationshipId": f"r{i}", "$sourceId": s, "$targetId": t,
               "$relationshipName": "next"}
        if w is not None:
            doc["q"] = w
        rels.append(doc)
    c = DigitalTwinsSparkClient(GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models))
    rows = c.query(
        "CALL graph.degree('q') YIELD node, out_degree, in_degree "
        "RETURN node, out_degree, in_degree ORDER BY node"
    ).rows
    assert rows == [
        {"node": "a", "out_degree": 4.0, "in_degree": 0.0},
        {"node": "b", "out_degree": 1.0, "in_degree": 3.0},
        {"node": "c", "out_degree": 2.0, "in_degree": 2.0},
        {"node": "d", "out_degree": 0.0, "in_degree": 2.0},
    ]
    # weighted PPR from 'a' matches a pure-Python replay
    ppr = {
        r["node"]: r["rank"]
        for r in c.query(
            "CALL graph.personalizedPageRank(['a'], 3, 0.85, 'q') "
            "YIELD node, rank WHERE rank > 0 RETURN node, rank"
        ).rows
    }
    verts = list("abcd")
    we = [(s, t, w if w is not None else 1.0) for s, t, w in edges]
    W = {v: sum(w for s, _, w in we if s == v) for v in verts}
    d, sv = 0.85, {v: (1.0 if v == "a" else 0.0) for v in verts}
    rank = dict(sv)
    for _ in range(3):
        dang = sum(rank[v] for v in verts if W[v] == 0)
        rank = {
            v: sv[v] * ((1 - d) + d * dang)
            + d * sum(rank[s] * w / W[s] for s, t, w in we if t == v)
            for v in verts
        }
    assert set(ppr) == {v for v in verts if round(rank[v], 8) > 0}
    for v in ppr:
        assert abs(ppr[v] - rank[v]) < 1e-7, v


def test_call_procedure_weight_non_numeric_errors(spark):
    """r15: a DEFINED-but-non-numeric weight property is a runtime
    error naming the type — never a silent 1.0 default (only a MISSING
    property defaults)."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:sp:W3;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3",
               "contents": [{"@type": "Property", "name": "q",
                             "schema": "string"}]}]
    twins = [{"$dtId": x, "$metadata": {"$model": "dtmi:sp:W3;1"}}
             for x in "ab"]
    rels = [{"$relationshipId": "r0", "$sourceId": "a", "$targetId": "b",
             "$relationshipName": "next", "q": "heavy"}]
    c = DigitalTwinsSparkClient(GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models))
    with pytest.raises(Exception, match="non-numeric value of type"):
        c.query("CALL graph.pageRank(2, 0.85, 'q') YIELD node, rank "
                "RETURN count(*) AS n")


def test_call_procedure_help_notes_surface_gds_divergence(spark):
    """r16 (ADVICE r15): graph.nodeSimilarity's registry defaults
    (topK=20/upperDegreeCutoff=25) DIVERGE from GDS — the divergence
    must surface in the procedure's arg/yield-shaped CompileErrors,
    not only in PARITY.md, so ported queries aren't silently
    re-scored."""
    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError

    c = _proc_client(spark)
    with pytest.raises(CypherCompileError, match="DIVERGE"):
        c.query("CALL graph.nodeSimilarity(1, 2, 3) YIELD a RETURN a")
    with pytest.raises(CypherCompileError, match="upperDegreeCutoff=25"):
        c.query("CALL graph.nodeSimilarity() YIELD nope RETURN nope")
    with pytest.raises(CypherCompileError, match="maxWedgeDegree"):
        c.query("CALL graph.linkPrediction() YIELD nope RETURN nope")


def test_call_procedure_fractional_weight_integer_procs_error(spark):
    """r16 (ADVICE r15): graph.shortestPaths / graph.louvain run exact
    BIGINT weight arithmetic — a fractional property used to floor to
    0 silently (zero-cost edges / dropped modularity mass).  The
    projection now asserts integrality for those procedures at
    runtime, while pageRank/PPR/degree keep honoring doubles through
    the same syntax."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:sp:W4;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3",
               "contents": [{"@type": "Property", "name": "q",
                             "schema": "double"}]}]
    twins = [{"$dtId": x, "$metadata": {"$model": "dtmi:sp:W4;1"}}
             for x in "ab"]
    rels = [{"$relationshipId": "r0", "$sourceId": "a", "$targetId": "b",
             "$relationshipName": "next", "q": 0.04}]
    c = DigitalTwinsSparkClient(GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models))
    with pytest.raises(Exception, match="non-integral edge weight"):
        c.query("CALL graph.shortestPaths(['a'], 2, 'q') "
                "YIELD node, dist RETURN count(*) AS n")
    with pytest.raises(Exception, match="non-integral edge weight"):
        c.query("CALL graph.louvain(2, 1, 'q') "
                "YIELD node, community RETURN count(*) AS n")
    # the double-honoring procedures still accept the same property
    rows = c.query("CALL graph.degree('q') YIELD node, out_degree "
                   "RETURN node, out_degree ORDER BY node").rows
    assert rows == [{"node": "a", "out_degree": 0.04},
                    {"node": "b", "out_degree": 0.0}]
    # integral-valued DOUBLES pass the integer procedures (2.0 == 2)
    rels2 = [{"$relationshipId": "r0", "$sourceId": "a",
              "$targetId": "b", "$relationshipName": "next", "q": 2.0}]
    c2 = DigitalTwinsSparkClient(GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels2,
        model_docs=models))
    rows = c2.query("CALL graph.shortestPaths(['a'], 2, 'q') "
                    "YIELD node, dist RETURN node, dist ORDER BY node").rows
    assert rows == [{"node": "a", "dist": 0}, {"node": "b", "dist": 2}]


def test_call_procedure_dedup_ann_text_families(spark):
    """r16 (r15 verdict #3): the LLM-pipeline library reaches the
    query endpoint — dedup.*/ann.*/text.* procedures run on the
    corpus datasets the loader attaches, with hand-checkable rows;
    a store without datasets raises a targeted compile error."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    c = _proc_client(spark)
    # exact dup group: docs 1 and 3 share a fingerprint, keep min id
    rows = c.query(
        "CALL dedup.exactGroups() YIELD fp, n_docs, keep_doc_id "
        "RETURN n_docs, keep_doc_id"
    ).rows
    assert rows == [{"n_docs": 2, "keep_doc_id": 1}]
    # near-dup pairs: (1,2) jaccard 0.6, (1,3) exact 1.0, (2,3) 0.6
    rows = c.query(
        "CALL dedup.minhashVerified(0.5) YIELD doc_a, doc_b, jaccard "
        "RETURN doc_a, doc_b, jaccard ORDER BY doc_a, doc_b"
    ).rows
    assert [(r["doc_a"], r["doc_b"]) for r in rows] == [(1, 2), (1, 3), (2, 3)]
    assert rows[1]["jaccard"] == 1.0
    # threshold is a real argument: 0.9 keeps only the exact pair
    rows = c.query(
        "CALL dedup.minhashVerified(0.9) YIELD doc_a, doc_b "
        "RETURN doc_a, doc_b"
    ).rows
    assert rows == [{"doc_a": 1, "doc_b": 3}]
    # one-hot embeddings: every non-query vector has cosine 0 to vec 0,
    # so top-2 is vec_ids 1,2 on the (sim desc, vec_id) tiebreak
    rows = c.query(
        "CALL ann.cosine(0, 2) YIELD vec_id, sim RETURN vec_id, sim "
        "ORDER BY vec_id"
    ).rows
    assert [r["vec_id"] for r in rows] == [1, 2]
    assert all(r["sim"] == 0.0 for r in rows)
    rows = c.query(
        "CALL ann.hamming(0, 3) YIELD vec_id, sim RETURN vec_id "
        "ORDER BY vec_id"
    ).rows
    assert [r["vec_id"] for r in rows] == [1, 2, 3]
    # text.profile: one row per documents column
    rows = c.query(
        "CALL text.profile() YIELD column, n_null, n_distinct "
        "RETURN column, n_null, n_distinct ORDER BY column"
    ).rows
    assert [r["column"] for r in rows] == [
        "doc_id", "lang", "n_chars", "source", "text"]
    assert all(r["n_null"] == 0 for r in rows)
    assert rows[0]["n_distinct"] == 4  # doc_id
    rows = c.query(
        "CALL text.quality() YIELD doc, stopword_ratio "
        "RETURN count(*) AS n"
    ).rows
    assert rows == [{"n": 4}]
    # YIELD filtering composes like any other procedure
    rows = c.query(
        "CALL dedup.minhashVerified() YIELD doc_a, doc_b, jaccard "
        "WHERE jaccard < 1.0 RETURN count(*) AS n"
    ).rows
    assert rows == [{"n": 2}]
    # a store WITHOUT datasets: targeted compile error, not a stack
    models = [{"@id": "dtmi:sp:ND;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3", "contents": []}]
    bare = DigitalTwinsSparkClient(GraphStore.from_documents(
        spark,
        twin_docs=[{"$dtId": "x",
                    "$metadata": {"$model": "dtmi:sp:ND;1"}}],
        relationship_docs=[], model_docs=models))
    with pytest.raises(CypherCompileError, match="corpus dataset"):
        bare.query("CALL text.profile() YIELD column RETURN column")


def test_call_procedure_unknown_seed_errors(spark):
    """r15 (review): a seed id that is not a twin raises a targeted
    compile error naming it — GDS parity; silently dropping a typo'd
    seed made a misspelling indistinguishable from 'no paths found'."""
    import pytest as _pytest

    from pg_age_digitaltwins_spark.cypher.compiler import CypherCompileError

    c = _proc_client(spark)
    with _pytest.raises(CypherCompileError, match="unknown twin id.*nope"):
        c.query("CALL graph.shortestPaths(['a', 'nope'], 2) "
                "YIELD node, dist RETURN count(*) AS n")
    with _pytest.raises(CypherCompileError, match="unknown twin id"):
        c.query("CALL graph.personalizedPageRank(['zzz'], 2) "
                "YIELD node, rank RETURN count(*) AS n")
    # valid seeds still run
    rows = c.query("CALL graph.shortestPaths(['a'], 2) "
                   "YIELD node, dist RETURN node, dist ORDER BY node").rows
    assert rows == [{"node": "a", "dist": 0}, {"node": "b", "dist": 1},
                    {"node": "c", "dist": 1}, {"node": "d", "dist": 2}]


def test_call_procedure_louvain_weighted(spark):
    """r15: graph.louvain accepts the weight projection — a heavy
    bridge pulls its endpoints into one community on a topology where
    the unweighted run separates them."""
    from pg_age_digitaltwins_spark.client import DigitalTwinsSparkClient
    from pg_age_digitaltwins_spark.store.graph_store import GraphStore

    models = [{"@id": "dtmi:sp:W4;1", "@type": "Interface",
               "@context": "dtmi:dtdl:context;3",
               "contents": [{"@type": "Property", "name": "q",
                             "schema": "double"}]}]
    a, b = list("abcd"), list("efgh")
    edges = [(x, y) for i, x in enumerate(a) for y in a[i + 1:]]
    edges += [(x, y) for i, x in enumerate(b) for y in b[i + 1:]]
    edges.append(("d", "e"))
    twins = [{"$dtId": x, "$metadata": {"$model": "dtmi:sp:W4;1"}}
             for x in a + b]
    rels = [
        {"$relationshipId": f"r{i}", "$sourceId": s, "$targetId": t,
         "$relationshipName": "next",
         "q": 50.0 if (s, t) == ("d", "e") else 1.0}
        for i, (s, t) in enumerate(edges)
    ]
    c = DigitalTwinsSparkClient(GraphStore.from_documents(
        spark, twin_docs=twins, relationship_docs=rels, model_docs=models))
    got = {
        r["node"]: r["community"]
        for r in c.query(
            "CALL graph.louvain(4, 2, 'q') YIELD node, community "
            "RETURN node, community"
        ).rows
    }
    assert got["d"] == got["e"]
    un = {
        r["node"]: r["community"]
        for r in c.query(
            "CALL graph.louvain(4, 2) YIELD node, community "
            "RETURN node, community"
        ).rows
    }
    assert un["d"] != un["e"]
