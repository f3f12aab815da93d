"""Independent output checks: the 30-minute rule recomputed in NumPy.

Nothing here calls the program. The hourly job's ids hash
``"{user_id}-yyyy-MM-dd HH:mm:ss"`` of the session's first event; the stream
sessionizer and ``operators.sessions.sessionize`` hash
``"{user}-{epoch_micros}"`` of it.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timezone

import numpy as np
import pandas as pd

from gen import GAP_US


def session_starts(user: np.ndarray, ts_us: np.ndarray) -> np.ndarray:
    """Start time of each event's session under the gap rule.

    A user's events at most ``GAP_US`` apart share a session. Returns the
    starts in the input's order.
    """
    order = np.lexsort((ts_us, user))
    u, t = user[order], ts_us[order]
    new = np.ones(len(t), dtype=bool)
    new[1:] = (u[1:] != u[:-1]) | (t[1:] - t[:-1] > GAP_US)
    starts_sorted = t[new][np.cumsum(new) - 1]
    starts = np.empty_like(starts_sorted)
    starts[order] = starts_sorted
    return starts


def _ids(keys: pd.Series) -> np.ndarray:
    uniq = keys.unique()
    digest = {k: hashlib.sha256(k.encode()).hexdigest() for k in uniq}
    return keys.map(digest).to_numpy()


def hourly_ids(user: np.ndarray, ts_us: np.ndarray) -> np.ndarray:
    """Ids of the hourly job: ``sha256("{user}-yyyy-MM-dd HH:mm:ss")``."""
    starts = session_starts(user, ts_us) // 1_000_000
    text = [
        datetime.fromtimestamp(int(s), timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
        for s in np.unique(starts)
    ]
    rendered = dict(zip(np.unique(starts).tolist(), text))
    keys = pd.Series(
        [f"{u}-{rendered[s]}" for u, s in zip(user.tolist(), starts.tolist())]
    )
    return _ids(keys)


def micros_ids(user: np.ndarray, ts_us: np.ndarray) -> np.ndarray:
    """Ids of the stream sessionizer and ``sessionize``:
    ``sha256("{user}-{epoch_micros(start)}")``."""
    starts = session_starts(user, ts_us)
    keys = pd.Series([f"{u}-{s}" for u, s in zip(user.tolist(), starts.tolist())])
    return _ids(keys)


def failed_groups(expected: pd.DataFrame, got: pd.DataFrame, group: str,
                  cols: list[str]) -> set:
    """Groups (hours, drops) whose rows differ.

    A group fails when its row count differs (a dropped or duplicated row),
    when a ``session_id`` is null, or when the sorted multisets of ``cols``
    differ (a wrong id). Rows of ``got`` outside every expected group fail
    the group they carry.
    """
    failed = set(got.loc[got["session_id"].isna(), group])
    n_exp = expected.groupby(group).size()
    n_got = got.groupby(group).size()
    counts = pd.concat([n_exp, n_got], axis=1).fillna(0)
    failed |= set(counts.index[counts.iloc[:, 0] != counts.iloc[:, 1]])
    keep_e = expected[~expected[group].isin(failed)].sort_values([group, *cols])
    keep_g = got[~got[group].isin(failed)].sort_values([group, *cols])
    same = (keep_e[cols].to_numpy() == keep_g[cols].to_numpy()).all(axis=1)
    failed |= set(keep_e[group].to_numpy()[~same])
    return failed


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns in name order; instants as epoch microseconds and every
    number as float64 (DuckDB widens integer sums and returns decimals as
    doubles; Spark returns ``Decimal``), text as text, nulls as one token."""
    out = {}
    df = df.reset_index(drop=True)
    for c in sorted(df.columns):
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            s = pd.Series(s.astype("datetime64[us]").to_numpy().astype("int64"))
            out[c] = s.astype("float64")
        elif pd.api.types.is_numeric_dtype(s) or _is_decimal(s):
            out[c] = pd.to_numeric(s).astype("float64").fillna(np.inf)
        else:
            out[c] = s.astype(object).where(s.notna(), "\0null").astype(str)
    return pd.DataFrame(out)


def _is_decimal(s: pd.Series) -> bool:
    from decimal import Decimal

    first = s.dropna().head(1).tolist()
    return bool(first) and isinstance(first[0], Decimal)


def same_rows(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Equal column names and equal multisets of rows, in any order."""
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    ca, cb = _canon(a), _canon(b)
    if list(ca.dtypes) != list(cb.dtypes):
        return False
    cols = list(ca.columns)
    ca = ca.sort_values(cols, ignore_index=True)
    cb = cb.sort_values(cols, ignore_index=True)
    return bool((ca.to_numpy() == cb.to_numpy()).all())


def traffic_profile(user: np.ndarray, ts_us: np.ndarray, bucket: np.ndarray) -> dict:
    """Traffic properties per bucket (hour or drop) that the workloads'
    costs depend on: events, distinct users, sessions carried in from an
    earlier bucket, and the share of sessions spanning a bucket boundary."""
    starts = session_starts(user, ts_us)
    df = pd.DataFrame({"user": user, "start": starts, "bucket": bucket})
    first = df.groupby(["user", "start"])["bucket"].agg(["min", "max"])
    per = df.groupby("bucket")
    carried = (
        df.merge(first, left_on=["user", "start"], right_index=True)
        .query("min < bucket")
        .groupby("bucket")[["user", "start"]]
        .apply(lambda g: len(g.drop_duplicates()))
        .reindex(per.size().index, fill_value=0)
    )
    return {
        "events": int(len(user)),
        "users": int(len(np.unique(user))),
        "sessions": int(len(first)),
        "events_per_bucket_median": float(per.size().median()),
        "users_per_bucket_median": float(per["user"].nunique().median()),
        "carried_in_sessions_per_bucket_median": float(carried.median()),
        "cross_boundary_session_share": float((first["min"] != first["max"]).mean()),
    }
