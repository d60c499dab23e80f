"""``local_frame``: store frames of Python rows as ``LocalRelation`` leaves.

The helper replaces ``createDataFrame(<list>, schema)`` for every frame
the store builds from Python rows (CRUD overlays, empty stores, model dims,
change-log frames).  It must collect exactly what the list path collects
for every store schema, keep the list path's checks, and plan as a
``LocalRelation`` rather than a statistics-free ``LogicalRDD``.
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

import pytest

from pg_age_digitaltwins_spark.store.graph_store import (
    MODEL_EDGE_SCHEMA,
    MODEL_SCHEMA,
    REL_SCHEMA,
    TWIN_SCHEMA,
    local_frame,
)
from pg_age_digitaltwins_spark.streaming.changes import EVENT_DATA_SCHEMA


@pytest.fixture
def non_utc_tz(monkeypatch):
    """Run the process in a non-UTC zone: the list path reads a naive
    datetime as local wall-clock time, and the helper must agree."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


NAIVE = datetime(2024, 3, 10, 7, 30, 15, 123456)  # a DST-change day
AWARE = datetime(2024, 11, 3, 5, 59, 59, 1, tzinfo=timezone.utc)

ROWS = {
    "twin": (
        TWIN_SCHEMA,
        [
            ("t1", "dtmi:a;1", 'W/"e1"', NAIVE, '{"$dtId":"t1"}'),
            ("t2", None, None, AWARE, None),
            ("t3", "dtmi:ü;1", "", None, '{"k":"ü\\u0000"}'),
        ],
    ),
    "rel": (
        REL_SCHEMA,
        [
            ("r1", "t1", "t2", "contains", 'W/"e"', '{"$relationshipId":"r1"}'),
            ("r2", "t2", "t1", "locatedIn", None, None),
        ],
    ),
    "model": (
        MODEL_SCHEMA,
        [
            (
                "dtmi:a;1", "{}", {"en": "A", "de": "Ä"}, None, NAIVE,
                False, ["dtmi:b;1"], [], [0.5, -1.25, 3.0e-8],
            ),
            ("dtmi:b;1", None, None, {"en": ""}, None, None, None, None, None),
            ("dtmi:c;1", "{}", {}, {}, AWARE, True, [], ["x", "y"], []),
        ],
    ),
    "model_edge": (
        MODEL_EDGE_SCHEMA,
        [("dtmi:a;1", "dtmi:b;1", "_extends"), ("dtmi:c;1", "dtmi:a;1", "_hasComponent")],
    ),
    "event": (
        EVENT_DATA_SCHEMA,
        [
            ("t1", "digitaltwins", "Twin", None, '{"a":1}', "Insert", NAIVE, 1, 0, 0),
            ("t1", "digitaltwins", "Twin", '{"a":1}', None, "Delete", AWARE, 2, 7, None),
        ],
    ),
}


@pytest.mark.parametrize("name", sorted(ROWS))
def test_collects_equal_to_list_path(spark, non_utc_tz, name):
    schema, rows = ROWS[name]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema == schema
    assert got.collect() == want.collect()


@pytest.mark.parametrize("name", sorted(ROWS))
def test_empty_frame_keeps_schema(spark, name):
    schema, _ = ROWS[name]
    df = local_frame(spark, [], schema)
    assert df.schema == schema
    assert df.collect() == []


def test_plans_a_local_relation(spark):
    _, rows = ROWS["twin"]
    plan = local_frame(spark, rows, TWIN_SCHEMA)._jdf.queryExecution()
    assert "LocalRelation" in plan.optimizedPlan().toString()
    assert "LogicalRDD" not in plan.optimizedPlan().toString()


def test_none_in_non_nullable_column_raises(spark):
    with pytest.raises(ValueError, match="dt_id"):
        local_frame(spark, [(None, "m", None, None, "{}")], TWIN_SCHEMA)
    with pytest.raises(ValueError, match="timestamp"):
        local_frame(
            spark,
            [("e", "g", "Twin", None, None, "Insert", None, 0, 0, 0)],
            EVENT_DATA_SCHEMA,
        )


@pytest.mark.parametrize(
    "schema,row",
    [
        (TWIN_SCHEMA, (1, "m", None, None, "{}")),
        (TWIN_SCHEMA, ("t", "m", None, "2024-01-01", "{}")),
        (MODEL_EDGE_SCHEMA, ("a", "b", 3.5)),
        (MODEL_SCHEMA, ("m", None, None, None, None, "yes", None, None, None)),
        (MODEL_SCHEMA, ("m", None, None, None, None, None, "ab", None, None)),
        (EVENT_DATA_SCHEMA, ("e", "g", "Twin", None, None, "Insert", NAIVE, "1", 0, 0)),
    ],
)
def test_wrong_typed_value_raises(spark, schema, row):
    with pytest.raises(TypeError):
        local_frame(spark, [row], schema)


def test_wrong_row_width_raises(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [("t1", "m", None, None)], TWIN_SCHEMA)
    with pytest.raises(ValueError):
        local_frame(
            spark, [("t1", "m", None, None, "{}"), ("t2",)], TWIN_SCHEMA
        )
