"""Tests of the benchmark itself (no Spark): the output checker, the seeded
generators and the metric catalog.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
from metrics import (  # noqa: E402
    END_TO_END,
    PER_LAYER,
    TRACED_ONLY,
    WORKLOADS,
    traced_by,
)


def _loop_starts(user, ts):
    """Reference: the gap rule one event at a time."""
    last, start, out = {}, {}, {}
    for i in sorted(range(len(ts)), key=lambda i: (user[i], ts[i])):
        u, t = user[i], ts[i]
        if u not in last or t - last[u] > gen.GAP_US:
            start[u] = t
        last[u] = t
        out[i] = start[u]
    return np.array([out[i] for i in range(len(ts))])


def test_session_starts_match_loop_reference():
    t = gen.stream_traffic(7, 4, 18_000, 50)
    np.testing.assert_array_equal(
        oracle.session_starts(t.user_id, t.ts_us), _loop_starts(t.user_id, t.ts_us)
    )


def test_gap_rule_boundary_is_inclusive():
    user = np.array([1, 1, 1])
    ts = np.array([0, gen.GAP_US, 2 * gen.GAP_US + 1])
    assert oracle.session_starts(user, ts).tolist() == [0, 0, 2 * gen.GAP_US + 1]


def test_hourly_id_preimage():
    import hashlib

    ts = np.array([1_569_888_004_000_000])  # 2019-10-01 00:00:04 UTC
    want = hashlib.sha256(b"512000007-2019-10-01 00:00:04").hexdigest()
    assert oracle.hourly_ids(np.array([512000007]), ts).tolist() == [want]


def _expected_drops():
    t = gen.stream_traffic(3, 3, 12_000, 100)
    return pd.DataFrame({
        "drop": gen.drop_index(t),
        "event_id": np.arange(len(t.ts_us)),
        "session_id": oracle.micros_ids(t.user_id, t.ts_us),
    })


def test_checker_passes_identical_output():
    exp = _expected_drops()
    got = exp.sample(frac=1.0, random_state=0)
    assert oracle.failed_groups(exp, got, "drop", ["event_id", "session_id"]) == set()


def test_checker_catches_one_flipped_session_id():
    exp = _expected_drops()
    got = exp.copy()
    i = got.index[got["drop"] == 1][5]
    got.loc[i, "session_id"] = got.loc[i, "session_id"][::-1]
    assert oracle.failed_groups(exp, got, "drop", ["event_id", "session_id"]) == {1}


def test_checker_catches_one_dropped_row():
    exp = _expected_drops()
    got = exp.drop(exp.index[exp["drop"] == 2][0])
    assert oracle.failed_groups(exp, got, "drop", ["event_id", "session_id"]) == {2}


def test_checker_catches_duplicate_and_null_id():
    exp = _expected_drops()
    dup = pd.concat([exp, exp[exp["drop"] == 0].head(1)])
    assert oracle.failed_groups(exp, dup, "drop", ["event_id", "session_id"]) == {0}
    null = exp.copy()
    null.loc[null.index[null["drop"] == 1][0], "session_id"] = None
    assert oracle.failed_groups(exp, null, "drop", ["event_id", "session_id"]) == {1}


def test_same_rows_ignores_order_and_integral_float_width():
    a = pd.DataFrame({"k": ["x", "y"], "n": [1, 2]})
    b = pd.DataFrame({"n": [2.0, 1.0], "k": ["y", "x"]})
    assert oracle.same_rows(a, b)
    assert not oracle.same_rows(a, b.assign(n=[2.0, 1.5]))
    assert not oracle.same_rows(a, b.head(1))


def _write_all(out: str, seed: int) -> list[str]:
    t = gen.behavior_traffic(seed, 2, 400, 300)
    paths = [p for p, _ in gen.write_behavior_chunks(
        f"{out}/csv", gen.behavior_table(seed, t), gen.hour_index(t), [1, 1])]
    e = gen.events_traffic(seed, 2000, 100, 2)
    paths.append(gen.write_events(f"{out}/sf", gen.events_table(seed, e)))
    s = gen.stream_traffic(seed, 3, 12_000, 100)
    paths += gen.write_drops(f"{out}/drops", gen.stream_table(seed, s), gen.drop_index(s), 0, 3)
    return paths


def _read(paths):
    return [open(p, "rb").read() for p in paths]


def test_generators_are_byte_identical_per_seed_and_differ_across_seeds(tmp_path):
    a = _read(_write_all(str(tmp_path / "a"), 5))
    b = _read(_write_all(str(tmp_path / "b"), 5))
    c = _read(_write_all(str(tmp_path / "c"), 6))
    assert a == b
    assert len(a) == len(c) and all(x != y for x, y in zip(a, c))


def test_behavior_csv_has_kaggle_columns(tmp_path):
    t = gen.behavior_traffic(1, 1, 50, 20)
    ((path, hours),) = gen.write_behavior_chunks(
        str(tmp_path), gen.behavior_table(1, t), gen.hour_index(t), [1])
    header, first = open(path).read().splitlines()[:2]
    assert header.replace('"', "") == (
        "event_time,event_type,product_id,category_id,category_code,brand,price,user_id"
    )
    assert re.search(r'"2019-10-01 00:\d\d:\d\d UTC"', first)
    assert hours == [0]


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_every_metric_name_is_valid_and_unique():
    names = [m.name for m in END_TO_END] + [m.name for m in PER_LAYER]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))


def test_every_per_layer_metric_maps_to_an_end_to_end_metric_and_workload():
    e2e = {m.name for m in END_TO_END}
    known = set(WORKLOADS) | set(TRACED_ONLY)
    for m in PER_LAYER:
        assert m.moves in e2e, m
        assert m.workload in known, m
        assert set(m.quiet_on) <= known and m.workload not in m.quiet_on, m
    # every layer is measured by the traced run of some timed workload
    traced = set().union(*(traced_by(w) for w in WORKLOADS))
    assert {m.name for m in PER_LAYER} <= traced


def test_benchmark_json_matches_the_catalog():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert bench["end_to_end"] == [
        {"name": m.name, "unit": m.unit, "better": m.better, "bound": m.bound}
        for m in END_TO_END
    ]
    assert bench["per_layer"] == [
        {"name": m.name, "unit": m.unit, "better": "lower"} for m in PER_LAYER
    ]
    setup = [m for m in END_TO_END if m.name == "setup_s"]
    assert setup and setup[0].bound == max(m.bound for m in END_TO_END)


def test_cli_refuses_an_unknown_workload():
    import run

    with pytest.raises(SystemExit):
        run.parse_args(["--workload", "nope", "--seed", "1", "--seconds", "1"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_cli_accepts_each_workload(workload):
    import run

    assert run.parse_args(
        ["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "1"]
    ).trace == 1
