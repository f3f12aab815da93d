"""Seeded input generators for the three benchmark workloads.

The inputs are made here, with NumPy and Arrow, and never with the engine's
own ``commerce_events`` source, so that a change to the program cannot change
what the benchmark feeds it. The same seed gives byte-identical files.

Traffic model (shared by all three generators): sessions start uniformly over
the covered interval; each session belongs to a user drawn with
squared-uniform skew (``floor(n_users * u**2)``, so low ids are hot), holds
``1 + Geometric`` events spaced by exponential gaps below the 30-minute rule,
and sessions of one user may overlap and merge. Sessions that start before an
hour ends and continue after it are what the hourly job carries in.

The two timed workloads share one traffic profile (``EVENTS_PER_HOUR`` and
the three parameters below it), so the hourly job and the stream see the same
traffic, cut into hours or into one-minute drops.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

GAP_S = 1800
GAP_US = GAP_S * 1_000_000
HOUR_US = 3600 * 1_000_000

#: Kaggle "eCommerce behavior data" (October 2019) shape.
KAGGLE_START = datetime(2019, 10, 1, tzinfo=timezone.utc)
KAGGLE_EVENT_TYPES = np.array(["view", "cart", "remove_from_cart", "purchase"])
KAGGLE_EVENT_P = [0.90, 0.05, 0.02, 0.03]
CATEGORY_CODES = np.array(
    ["", "electronics.smartphone", "appliances.kitchen.washer",
     "computers.notebook", "apparel.shoes", "furniture.living_room.sofa"]
)
BRANDS = np.array(["", "samsung", "apple", "xiaomi", "huawei", "lucente", "acer"])

#: testdata ``events`` table vocabulary (initials are distinct: the
#: ``session_pattern_match`` query classifies journeys by them).
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
ANALYTICS_START = datetime(2024, 1, 1, tzinfo=timezone.utc)
STREAM_START = datetime(2024, 3, 1, tzinfo=timezone.utc)


#: Cited: the Kaggle 2019-Oct file holds about 42M rows (public dataset
#: card), and 42M / 744 hours is about 56k events per hour.
EVENTS_PER_HOUR = 56_000
#: Unverified: no sample of the real data is in the repository. These set
#: distinct users per hour or drop and the sessions carried across hours.
USERS = 200_000
EVENTS_PER_SESSION = 8.0
MEAN_GAP_S = 90.0


def _epoch_us(dt: datetime) -> int:
    return int(dt.timestamp()) * 1_000_000


@dataclass(frozen=True)
class Traffic:
    """Events as parallel arrays, sorted by (ts_us, user_id)."""

    ts_us: np.ndarray
    user_id: np.ndarray


def traffic(
    rng: np.random.Generator,
    start_us: int,
    span_us: int,
    n_events: int,
    n_users: int,
    mean_events_per_session: float,
    mean_gap_s: float,
    resolution_us: int,
) -> Traffic:
    """Draw about ``n_events`` events over ``[start_us, start_us + span_us)``.

    Sessions may begin up to one hour before the interval so that the first
    hour already holds sessions in progress; events outside it are dropped.
    """
    lead_us = HOUR_US
    n_sessions = int(n_events / mean_events_per_session * (span_us + lead_us) / span_us)
    starts = start_us - lead_us + rng.integers(0, span_us + lead_us, n_sessions)
    users = (n_users * rng.random(n_sessions) ** 2).astype(np.int64)
    lengths = rng.geometric(1.0 / mean_events_per_session, n_sessions)
    total = int(lengths.sum())
    gaps = np.minimum(rng.exponential(mean_gap_s, total), GAP_S - 60) * 1_000_000
    first = np.zeros(total, dtype=bool)
    first[np.cumsum(lengths)[:-1]] = True
    first[0] = True
    gaps[first] = 0
    owner = np.repeat(np.arange(n_sessions), lengths)
    offsets = np.cumsum(gaps) - np.repeat(np.cumsum(gaps)[first], lengths)
    ts = starts[owner] + offsets.astype(np.int64)
    ts -= ts % resolution_us
    uid = users[owner]
    keep = (ts >= start_us) & (ts < start_us + span_us)
    ts, uid = ts[keep], uid[keep]
    order = np.lexsort((uid, ts))
    return Traffic(ts_us=ts[order], user_id=uid[order])


def _timestamps(ts_us: np.ndarray, tz: str | None) -> pa.Array:
    return pa.array(ts_us, type=pa.timestamp("us", tz=tz))


# --------------------------------------------------------------------------
# hourly_backfill: Kaggle-shaped behavior CSV, one file per chunk of hours
# --------------------------------------------------------------------------

def behavior_traffic(seed: int, hours: int, events_per_hour: int = EVENTS_PER_HOUR,
                     n_users: int = USERS) -> Traffic:
    rng = np.random.default_rng([seed, 1])
    return traffic(
        rng,
        start_us=_epoch_us(KAGGLE_START),
        span_us=hours * HOUR_US,
        n_events=hours * events_per_hour,
        n_users=n_users,
        mean_events_per_session=EVENTS_PER_SESSION,
        mean_gap_s=MEAN_GAP_S,
        resolution_us=1_000_000,
    )


def behavior_table(seed: int, t: Traffic) -> pa.Table:
    """The eight columns of ``BEHAVIOR_SCHEMA`` in Kaggle CSV order."""
    rng = np.random.default_rng([seed, 2])
    n = len(t.ts_us)
    seconds = _timestamps(t.ts_us, "UTC").cast(pa.timestamp("s", tz="UTC"))
    event_time = pc.strftime(seconds, format="%Y-%m-%d %H:%M:%S UTC")
    product = 1_000_000 + (50_000 * rng.random(n) ** 3).astype(np.int64)
    return pa.table(
        {
            "event_time": event_time,
            "event_type": KAGGLE_EVENT_TYPES[rng.choice(4, n, p=KAGGLE_EVENT_P)],
            "product_id": product,
            "category_id": 2053013555631882655 + product % 997,
            "category_code": CATEGORY_CODES[product % len(CATEGORY_CODES)],
            "brand": BRANDS[(product // 7) % len(BRANDS)],
            "price": np.round(1.0 + 500.0 * rng.random(n), 2),
            "user_id": 512_000_000 + 7 * t.user_id,
        }
    )


def hour_index(t: Traffic) -> np.ndarray:
    return (t.ts_us - _epoch_us(KAGGLE_START)) // HOUR_US


def write_behavior_chunks(
    out_dir: str, table: pa.Table, hour: np.ndarray, chunk_hours: list[int]
) -> list[tuple[str, list[int]]]:
    """Write ``table`` (rows in hour order, ``hour`` their hour indices) as
    one CSV per chunk, the i-th holding ``chunk_hours[i]`` hours; return
    ``[(path, hour indices)]``."""
    os.makedirs(out_dir, exist_ok=True)
    chunks, h0 = [], 0
    for c, n in enumerate(chunk_hours):
        hs = list(range(h0, h0 + n))
        lo, hi = np.searchsorted(hour, [hs[0], hs[-1] + 1])
        path = os.path.join(out_dir, f"behavior_{c:03d}.csv")
        pacsv.write_csv(table.slice(lo, hi - lo), path)
        chunks.append((path, hs))
        h0 += n
    return chunks


def hour_partition(h: int) -> tuple[str, str]:
    """``(event_date, event_hour)`` strings of hour index ``h``."""
    dt = datetime.fromtimestamp(KAGGLE_START.timestamp() + 3600 * h, timezone.utc)
    return dt.strftime("%Y-%m-%d"), dt.strftime("%H")


# --------------------------------------------------------------------------
# session_analytics: the testdata ``events`` table, seeded
# --------------------------------------------------------------------------

def events_traffic(seed: int, n_events: int, n_users: int, days: int) -> Traffic:
    rng = np.random.default_rng([seed, 3])
    return traffic(
        rng,
        start_us=_epoch_us(ANALYTICS_START),
        span_us=days * 24 * HOUR_US,
        n_events=n_events,
        n_users=n_users,
        mean_events_per_session=6.0,
        mean_gap_s=240.0,
        resolution_us=1,
    )


def events_table(seed: int, t: Traffic) -> pa.Table:
    """``events`` as the testdata stores it: naive microsecond ``ts``."""
    rng = np.random.default_rng([seed, 4])
    n = len(t.ts_us)
    k = rng.integers(0, 100, n)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _timestamps(t.ts_us, None),
            "user_id": t.user_id,
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(50.0 * rng.random(n), 2),
            "props": pa.array([f'{{"k": {v}}}' for v in k.tolist()]),
        }
    )


def write_events(sf_dir: str, table: pa.Table) -> str:
    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(table, path)
    return path


# --------------------------------------------------------------------------
# stream_sessions: time-ordered parquet drops of one minute each
# --------------------------------------------------------------------------

DROP_US = 60 * 1_000_000


def stream_traffic(seed: int, drops: int, events_per_hour: int = EVENTS_PER_HOUR,
                   n_users: int = USERS) -> Traffic:
    rng = np.random.default_rng([seed, 5])
    return traffic(
        rng,
        start_us=_epoch_us(STREAM_START),
        span_us=drops * DROP_US,
        n_events=drops * events_per_hour * DROP_US // HOUR_US,
        n_users=n_users,
        mean_events_per_session=EVENTS_PER_SESSION,
        mean_gap_s=MEAN_GAP_S,
        resolution_us=1,
    )


def drop_index(t: Traffic) -> np.ndarray:
    return (t.ts_us - _epoch_us(STREAM_START)) // DROP_US


def stream_table(seed: int, t: Traffic) -> pa.Table:
    """``EVENT_STREAM_SCHEMA`` columns; ``ts`` is a UTC instant."""
    rng = np.random.default_rng([seed, 6])
    n = len(t.ts_us)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _timestamps(t.ts_us, "UTC"),
            "user_id": t.user_id,
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        }
    )


def write_drops(out_dir: str, table: pa.Table, drop: np.ndarray, first: int, last: int) -> list[str]:
    """Write drops ``first..last-1`` as one parquet file each.

    Modification times increase with the drop index, because the file source
    takes new files oldest first.
    """
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for d in range(first, last):
        lo, hi = np.searchsorted(drop, [d, d + 1])
        path = os.path.join(out_dir, f"drop_{d:04d}.parquet")
        pq.write_table(table.slice(lo, hi - lo), path)
        mtime = 1_700_000_000 + d
        os.utime(path, (mtime, mtime))
        paths.append(path)
    return paths
