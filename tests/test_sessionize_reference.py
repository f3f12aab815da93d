"""The reference's four unit scenarios, ported as behavior specs.

Source: ``/root/reference/src/test/scala/sessionization/
SessionizationBuiltInTest.scala`` (scenarios at :23-129, :131-183, :185-264,
:266-357) — fixtures re-expressed, assertions kept semantically identical.
"""

from __future__ import annotations

import hashlib
from datetime import datetime

import pytest

from commerce_sessionization_spark.operators.sessionize import (
    augment_session_id,
    load_prev_active_sessions,
)
from commerce_sessionization_spark.schemas import BEHAVIOR_SCHEMA, SESSION_SCHEMA


def behavior_row(event_time, user_id, event_type="click", product_id=1,
                 category_id=1, category_code="electronics.smartphone",
                 brand="BrandA", price=100.0):
    date_part, time_part = event_time.split(" ")[0], event_time.split(" ")[1]
    return (
        event_time, event_type, product_id, category_id, category_code,
        brand, price, user_id, date_part, time_part[:2],
    )


def session_row(event_time, user_id, session_id, **kw):
    r = behavior_row(event_time, user_id, **kw)
    return r[:8] + (session_id,) + r[8:]


def expected_sha(user_id: int, ts: str) -> str:
    """Reference id: sha256("{user_id}-{timestamp_string}")
    (``SessionizationBuiltIn.scala:76-77``)."""
    return hashlib.sha256(f"{user_id}-{ts}".encode()).hexdigest()


def ids_by_time(rows):
    return {r["event_time"]: r["session_id"] for r in rows}


def test_gap_splitting(spark):
    """Scenario 1 (:23-129): gaps ≤30 min share an id; >30 min splits; no
    cross-user collisions."""
    # user 1: 10:00, 10:10(+10m), 10:41(+31m → split), 10:50(+9m)
    # user 2: 10:00, 10:20(+20m), 10:55(+35m → split)
    data = [
        behavior_row("2019-10-01 10:00:00 UTC", 1),
        behavior_row("2019-10-01 10:10:00 UTC", 1),
        behavior_row("2019-10-01 10:41:00 UTC", 1),
        behavior_row("2019-10-01 10:50:00 UTC", 1),
        behavior_row("2019-10-01 10:00:00 UTC", 2),
        behavior_row("2019-10-01 10:20:00 UTC", 2),
        behavior_row("2019-10-01 10:55:00 UTC", 2),
    ]
    df = spark.createDataFrame(data, BEHAVIOR_SCHEMA)
    out = augment_session_id(df, datetime(2019, 10, 1, 10)).collect()

    assert len(out) == 7
    assert [f.name for f in SESSION_SCHEMA.fields][8] == "session_id"
    u1 = {r["event_time"]: r["session_id"] for r in out if r["user_id"] == 1}
    u2 = {r["event_time"]: r["session_id"] for r in out if r["user_id"] == 2}

    assert u1["2019-10-01 10:00:00 UTC"] == u1["2019-10-01 10:10:00 UTC"]
    assert u1["2019-10-01 10:41:00 UTC"] == u1["2019-10-01 10:50:00 UTC"]
    assert u1["2019-10-01 10:00:00 UTC"] != u1["2019-10-01 10:41:00 UTC"]
    assert u2["2019-10-01 10:00:00 UTC"] == u2["2019-10-01 10:20:00 UTC"]
    assert u2["2019-10-01 10:55:00 UTC"] != u2["2019-10-01 10:00:00 UTC"]
    assert u1["2019-10-01 10:00:00 UTC"] != u2["2019-10-01 10:00:00 UTC"]
    # deterministic preimage: "{user_id}-{string timestamp}"
    assert u1["2019-10-01 10:00:00 UTC"] == expected_sha(1, "2019-10-01 10:00:00")
    assert u1["2019-10-01 10:41:00 UTC"] == expected_sha(1, "2019-10-01 10:41:00")


def test_out_of_order_input(spark):
    """Scenario 2 (:131-183): sessionization orders by timestamp, not input
    order — (10:00, 10:15) share; 10:55 differs."""
    data = [
        behavior_row("2019-10-01 10:00:00 UTC", 1),
        behavior_row("2019-10-01 10:55:00 UTC", 1),
        behavior_row("2019-10-01 10:15:00 UTC", 1),
    ]
    df = spark.createDataFrame(data, BEHAVIOR_SCHEMA)
    out = augment_session_id(df, datetime(2019, 10, 1, 10)).collect()
    ids = ids_by_time(out)
    assert ids["2019-10-01 10:00:00 UTC"] == ids["2019-10-01 10:15:00 UTC"]
    assert ids["2019-10-01 10:55:00 UTC"] != ids["2019-10-01 10:00:00 UTC"]
    # each partition ascends by time, so each written file does (O1); one
    # user is one window partition, so here the whole output does
    assert [r["event_time"] for r in out] == [
        "2019-10-01 10:00:00 UTC",
        "2019-10-01 10:15:00 UTC",
        "2019-10-01 10:55:00 UTC",
    ]


def test_carry_in_across_hour_boundary(spark):
    """Scenario 3 (:185-264): an expired prev-hour session (>30 min gap)
    mints a fresh sha2 id; a live one survives *verbatim*; carrier rows are
    excluded from output."""
    prev = [
        session_row("2019-10-01 09:35:00 UTC", 1, "session1"),  # expires vs 10:06
        session_row("2019-10-01 09:45:00 UTC", 2, "session2"),  # survives to 10:10
    ]
    cur = [
        behavior_row("2019-10-01 10:06:00 UTC", 1),
        behavior_row("2019-10-01 10:10:00 UTC", 2),
        behavior_row("2019-10-01 10:20:00 UTC", 2),
    ]
    prev_df = spark.createDataFrame(prev, SESSION_SCHEMA)
    cur_df = spark.createDataFrame(cur, BEHAVIOR_SCHEMA)
    unioned = prev_df.unionByName(cur_df, allowMissingColumns=True)
    out = augment_session_id(unioned, datetime(2019, 10, 1, 10)).collect()

    assert len(out) == 3  # carrier rows (09:xx) excluded by the hour filter
    ids = ids_by_time(out)
    assert ids["2019-10-01 10:06:00 UTC"] == expected_sha(1, "2019-10-01 10:06:00")
    assert ids["2019-10-01 10:10:00 UTC"] == "session2"
    assert ids["2019-10-01 10:20:00 UTC"] == "session2"
    assert all(r["session_id"] is not None for r in out)


def test_load_prev_active_sessions(spark):
    """Scenario 4 (:266-357): for a 01:00 run, rows older than 00:30 drop
    (00:30 inclusive kept); duplicate session_id keeps only the latest row."""
    prev = [
        session_row("2019-10-02 00:29:00 UTC", 1, "sessionA"),  # too old → dropped
        session_row("2019-10-02 00:30:00 UTC", 2, "sessionB"),  # boundary → kept
        session_row("2019-10-02 00:40:00 UTC", 3, "sessionC"),
        session_row("2019-10-02 00:45:00 UTC", 3, "sessionC"),  # latest wins
    ]
    df = spark.createDataFrame(prev, SESSION_SCHEMA)
    out = load_prev_active_sessions(df, datetime(2019, 10, 2, 1)).collect()

    by_sid = {r["session_id"]: r for r in out}
    assert "sessionA" not in by_sid
    assert by_sid["sessionB"]["event_time"] == "2019-10-02 00:30:00 UTC"
    assert by_sid["sessionC"]["event_time"] == "2019-10-02 00:45:00 UTC"
    assert len(out) == 2
    assert out[0].__fields__ == [f.name for f in SESSION_SCHEMA.fields]


def test_e2e_invariants_row_parity_and_nonnull(spark):
    """E2E invariants (``sessionization_batch_test.py:57-71``): output row
    count == input row count for the hour; session_id fully non-null."""
    data = [
        behavior_row(f"2019-10-01 10:{m:02d}:00 UTC", uid)
        for uid in (1, 2, 3)
        for m in (0, 5, 59)
    ]
    df = spark.createDataFrame(data, BEHAVIOR_SCHEMA)
    out = augment_session_id(df, datetime(2019, 10, 1, 10))
    assert out.count() == len(data)
    assert out.filter(out.session_id.isNull()).count() == 0
