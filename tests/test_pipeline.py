"""Pipeline-level tests: EP2 ingest → EP1 hourly chain → invariants.

Covers what the reference's E2E data-quality DAG checks in production
(``sessionization_batch_test.py:39-87``): row-count parity, non-null
session ids, idempotent re-runs — plus the hive layout contract and the
engine's generic sessionize on driver testdata.
"""

from __future__ import annotations

import glob
import hashlib
import random
from collections import defaultdict
from datetime import datetime

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from commerce_sessionization_spark.operators import divide_file, sessionize_hour
from commerce_sessionization_spark.operators.sessions import sessionize
from commerce_sessionization_spark.schemas import BEHAVIOR_SCHEMA, SESSION_SCHEMA
from commerce_sessionization_spark.sources import read_parquet
from commerce_sessionization_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"

CSV_HEADER = (
    "event_time,event_type,product_id,category_id,"
    "category_code,brand,price,user_id\n"
)


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("pipeline")
    csv = base / "raw.csv"
    rows = [
        # hour 10: u1 two events; u2 one near the boundary
        ("2019-10-01 10:00:00 UTC", "view", 1, 10, "c.a", "b1", 9.0, 1),
        ("2019-10-01 10:10:00 UTC", "cart", 2, 10, "c.a", "b1", 9.0, 1),
        ("2019-10-01 10:50:00 UTC", "view", 3, 11, "c.b", "b2", 5.0, 2),
        # hour 11: u2 continues (<30m); u1 returns (>30m)
        ("2019-10-01 11:10:00 UTC", "purchase", 3, 11, "c.b", "b2", 5.0, 2),
        ("2019-10-01 11:05:00 UTC", "view", 4, 12, "c.c", "b3", 2.0, 1),
    ]
    with open(csv, "w") as f:
        f.write(CSV_HEADER)
        for r in rows:
            f.write(",".join(str(x) for x in r) + "\n")
    out = str(base / "data")
    divide_file(spark, str(csv), out)
    sessionize_hour(spark, "2019-10-01", "10", out)
    sessionize_hour(spark, "2019-10-01", "11", out)
    return out


@pytest.fixture(scope="module")
def seeded_pipeline(spark, tmp_path_factory):
    """Two hours of seeded multi-user traffic, plus the carry-in edges: a
    1 800 s gap across the boundary (the prev-hour event sits on the
    hh:30:00 cutoff), a 1 801 s gap, and a same-second tie. Partition
    coalescing is off while the hours run, so an hour spans several
    window partitions and so several files."""
    base = tmp_path_factory.mktemp("seeded")
    rnd = random.Random(11)
    rows = [
        (f"2019-10-01 {rnd.choice((10, 11))}:{rnd.randrange(60):02d}:"
         f"{rnd.randrange(60):02d} UTC", rnd.randrange(40))
        for _ in range(400)
    ] + [
        ("2019-10-01 10:30:00 UTC", 1000),
        ("2019-10-01 11:00:00 UTC", 1000),
        ("2019-10-01 10:29:59 UTC", 1001),
        ("2019-10-01 11:00:00 UTC", 1001),
        ("2019-10-01 10:40:00 UTC", 1002),
        ("2019-10-01 10:40:00 UTC", 1002),
        ("2019-10-01 11:05:00 UTC", 1002),
    ]
    csv = base / "raw.csv"
    with open(csv, "w") as f:
        f.write(CSV_HEADER)
        for event_time, user in rows:
            f.write(f"{event_time},view,1,1,c.a,b1,1.0,{user}\n")
    out = str(base / "data")
    divide_file(spark, str(csv), out)
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        sessionize_hour(spark, "2019-10-01", "10", out)
        sessionize_hour(spark, "2019-10-01", "11", out)
    finally:
        spark.conf.set(key, prior)
    return out


def reference_sessions(events):
    """(user_id, event_time, session_id) by a per-user loop over the whole
    history: a gap over 1 800 s opens a session, whose id is
    ``sha256("{user}-yyyy-MM-dd HH:mm:ss")`` of its first event."""
    by_user = defaultdict(list)
    for user, event_time in events:
        by_user[user].append(event_time)
    out = []
    for user, times in by_user.items():
        prev = start = None
        for event_time in sorted(times):
            t = datetime.strptime(event_time, "%Y-%m-%d %H:%M:%S UTC")
            if prev is None or (t - prev).total_seconds() > 1800:
                start = t
            prev = t
            key = f"{user}-{start:%Y-%m-%d %H:%M:%S}"
            out.append((user, event_time, hashlib.sha256(key.encode()).hexdigest()))
    return sorted(out)


def test_ingest_layout_and_partitioning(spark, pipeline):
    logs = read_parquet(spark, f"{pipeline}/logs", BEHAVIOR_SCHEMA)
    assert logs.count() == 5
    hours = {r.event_hour for r in logs.select("event_hour").distinct().collect()}
    assert hours == {"10", "11"}
    files = glob.glob(f"{pipeline}/logs/event_date=*/event_hour=*/*.parquet")
    assert files, "hive-partitioned layout expected"


def test_hourly_chain_carry_and_parity(spark, pipeline):
    sess = read_parquet(spark, f"{pipeline}/sessions", SESSION_SCHEMA)
    rows = sess.collect()
    assert len(rows) == 5  # row parity with logs; no carrier leakage
    assert all(r.session_id is not None for r in rows)
    by_key = {(r.user_id, r.event_time): r.session_id for r in rows}
    # u2's session survives the hour boundary (20-min gap)
    assert (
        by_key[(2, "2019-10-01 10:50:00 UTC")]
        == by_key[(2, "2019-10-01 11:10:00 UTC")]
    )
    # u1's 55-min silence splits sessions
    assert (
        by_key[(1, "2019-10-01 10:10:00 UTC")]
        != by_key[(1, "2019-10-01 11:05:00 UTC")]
    )


def test_rerun_is_idempotent(spark, pipeline):
    before = sorted(
        (r.user_id, r.event_time, r.session_id)
        for r in read_parquet(spark, f"{pipeline}/sessions", SESSION_SCHEMA).collect()
    )
    sessionize_hour(spark, "2019-10-01", "11", pipeline)
    after = sorted(
        (r.user_id, r.event_time, r.session_id)
        for r in read_parquet(spark, f"{pipeline}/sessions", SESSION_SCHEMA).collect()
    )
    assert before == after


@pytest.mark.parametrize("fixture", ["pipeline", "seeded_pipeline"])
def test_ids_equal_a_per_user_reference_loop(spark, request, fixture):
    base = request.getfixturevalue(fixture)
    logs = read_parquet(spark, f"{base}/logs", BEHAVIOR_SCHEMA).collect()
    sess = read_parquet(spark, f"{base}/sessions", SESSION_SCHEMA).collect()
    got = sorted((r.user_id, r.event_time, r.session_id) for r in sess)
    assert got == reference_sessions((r.user_id, r.event_time) for r in logs)


def test_each_written_file_ascends_by_event_time(pipeline, seeded_pipeline):
    """The hourly job sorts each partition, not the whole hour: every file
    ascends by event_time, and one hour's files may overlap in time."""
    files_per_hour = {}
    for base in (pipeline, seeded_pipeline):
        for hour_dir in glob.glob(f"{base}/sessions/event_date=*/event_hour=*"):
            files = glob.glob(f"{hour_dir}/*.parquet")
            files_per_hour[hour_dir] = len(files)
            for path in files:
                times = pq.read_table(path, columns=["event_time"])
                times = times.column("event_time").to_pylist()
                assert times == sorted(times), path
    assert len(files_per_hour) == 4
    # the seeded hours span several files, so the check is per file
    assert max(files_per_hour.values()) >= 2


def test_hour_runs_three_jobs_without_range_exchange(spark, pipeline):
    """Hour 11 (carry-in present) runs 3 Spark jobs; with the reference's
    global sort it ran 5 (a range exchange plus its sampling job)."""
    sc = spark.sparkContext
    group = "test_pipeline.sessionize_hour"
    sc.setJobGroup(group, "sessionize_hour 2019-10-01 11")
    try:
        sessionize_hour(spark, "2019-10-01", "11", pipeline)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3
    hour = sessionize_hour(spark, "2019-10-01", "11", pipeline, write=False)
    plan = hour._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()


def test_missing_sessions_dir_is_the_only_empty_carry_in(
    spark, pipeline, tmp_path, monkeypatch
):
    """The first hour's carry-in is empty because the sessions dir is
    missing (PATH_NOT_FOUND); any other read failure must propagate, not
    silently become an empty carry-in that splits sessions."""
    import importlib

    from pyspark.errors import AnalysisException

    # the operators package re-exports a function named ``sessionize``,
    # which shadows the module on attribute access
    hourly = importlib.import_module(
        "commerce_sessionization_spark.operators.sessionize"
    )

    with pytest.raises(AnalysisException) as missing:
        read_parquet(spark, str(tmp_path / "no_sessions"), SESSION_SCHEMA)
    assert missing.value.getCondition() == "PATH_NOT_FOUND"

    def failing_read(spark, path, schema):
        if path.endswith("/sessions"):
            raise OSError("sessions listing failed")
        return read_parquet(spark, path, schema)

    monkeypatch.setattr(hourly, "read_parquet", failing_read)
    with pytest.raises(OSError, match="sessions listing failed"):
        sessionize_hour(spark, "2019-10-01", "11", pipeline, write=False)


def test_generic_sessionize_invariants_on_testdata(spark):
    ev = load_table(spark, SF_DIR, "events")
    n = ev.count()
    out = sessionize(ev, order_cols=("event_id",))
    assert out.count() == n
    assert out.filter(F.col("session_id").isNull()).count() == 0
    # every session's events belong to exactly one user
    bad = (
        out.groupBy("session_id")
        .agg(F.countDistinct("user_id").alias("u"))
        .filter(F.col("u") > 1)
        .count()
    )
    assert bad == 0
    # max intra-session gap ≤ 30 min
    from pyspark.sql import Window

    w = Window.partitionBy("session_id").orderBy("ts", "event_id")
    gaps = out.withColumn(
        "gap", F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts", 1).over(w))
    ).filter(F.col("gap") > 1800 * 1_000_000)
    assert gaps.count() == 0


def test_sql_surface_over_registered_views(spark):
    from commerce_sessionization_spark.sources.tables import register_views

    register_views(spark, SF_DIR)
    got = spark.sql(
        """
        SELECT e.event_type, count(*) AS n
        FROM events e
        GROUP BY e.event_type
        """
    ).collect()
    assert sum(r.n for r in got) == spark.table("events").count()
    # joins across registered views work too
    n = spark.sql(
        "SELECT count(*) AS n FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
    ).collect()[0].n
    assert n > 0


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_source_sink_roundtrip_all_formats(spark, tmp_path, fmt):
    """read_source/write_partitioned round-trip every supported format
    with schema-pinned reads and hive partitioning."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from commerce_sessionization_spark.sources import read_source, write_partitioned

    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("event_date", StringType()),
            StructField("event_hour", StringType()),
        ]
    )
    rows = [
        (1, 10, "view", "2024-01-01", "10"),
        (2, 10, "cart", "2024-01-01", "11"),
        (3, 20, "purchase", "2024-01-02", "10"),
    ]
    df = spark.createDataFrame(rows, schema)
    out = str(tmp_path / f"out_{fmt}")
    opts = {"header": "true"} if fmt == "csv" else {}
    write_partitioned(df, out, fmt=fmt, **opts)
    # partition cols come back through the directory layout; read them as
    # strings via basePath-less hive discovery on the pinned data schema
    data_schema = StructType(schema.fields[:3])
    got = read_source(spark, out, data_schema, fmt=fmt, **opts)
    back = {
        (r.event_id, r.user_id, r.event_type, str(r.event_date), f"{int(r.event_hour):02d}")
        for r in got.select(
            "event_id", "user_id", "event_type", "event_date", "event_hour"
        ).collect()
    }
    assert back == set(rows)
    # dynamic overwrite: rewriting one partition leaves the others alone
    # (fresh read — the first DataFrame caches the old file listing)
    write_partitioned(
        df.where("event_date = '2024-01-01' and event_hour = '10'"), out, fmt=fmt, **opts
    )
    assert read_source(spark, out, data_schema, fmt=fmt, **opts).count() == 3


class TestPermissiveIngest:
    """Malformed-row quarantine: a bad line lands in the corrupt column,
    never kills the scan, and re-parses losslessly from quarantine."""

    SCHEMA_COLS = [("id", "long"), ("name", "string"), ("score", "double")]

    def _schema(self):
        from pyspark.sql.types import (
            DoubleType, LongType, StringType, StructField, StructType,
        )
        types = {"long": LongType(), "string": StringType(), "double": DoubleType()}
        return StructType([StructField(n, types[t]) for n, t in self.SCHEMA_COLS])

    def test_csv_bad_rows_quarantined_not_fatal(self, spark, tmp_path):
        from commerce_sessionization_spark.sources import (
            read_source_permissive, split_corrupt,
        )
        p = tmp_path / "in"
        p.mkdir()
        (p / "d.csv").write_text(
            "1,alice,3.5\nnot-a-number,bob,oops\n3,carol,2.25\n"
        )
        good, bad = split_corrupt(
            read_source_permissive(spark, str(p), self._schema(), fmt="csv")
        )
        assert sorted(r["id"] for r in good.collect()) == [1, 3]
        raw = [r["_corrupt_record"] for r in bad.collect()]
        assert raw == ["not-a-number,bob,oops"]  # raw line kept verbatim

    def test_json_bad_rows_quarantined(self, spark, tmp_path):
        from commerce_sessionization_spark.sources import (
            read_source_permissive, split_corrupt,
        )
        p = tmp_path / "inj"
        p.mkdir()
        (p / "d.json").write_text(
            '{"id": 1, "name": "alice", "score": 3.5}\n'
            '{"id": broken!!\n'
            '{"id": 3, "name": "carol", "score": 2.25}\n'
        )
        good, bad = split_corrupt(
            read_source_permissive(spark, str(p), self._schema(), fmt="json")
        )
        assert sorted(r["id"] for r in good.collect()) == [1, 3]
        assert bad.count() == 1


def test_cli_query_subcommand(tmp_path):
    """`query` lists the catalog and runs a query to parquet end-to-end."""
    import subprocess
    import sys as _sys

    env_path = "/root/repo"
    ls = subprocess.run(
        [_sys.executable, "-m", "commerce_sessionization_spark", "query"],
        capture_output=True, text=True, cwd=env_path,
    )
    assert ls.returncode == 0 and "sessionize_events" in ls.stdout

    out = tmp_path / "res"
    run = subprocess.run(
        [_sys.executable, "-m", "commerce_sessionization_spark", "query",
         "event_type_stats", "--sf-dir", "/root/testdata/sf0.001",
         "--out", str(out), "--master", "local[2]"],
        capture_output=True, text=True, cwd=env_path,
    )
    assert run.returncode == 0, run.stderr[-500:]
    import duckdb
    n = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{out}/*.parquet')"
    ).fetchone()[0]
    assert n > 0


def test_cli_sql_subcommand(tmp_path):
    """`sql` registers the testdata tables as views and runs ad-hoc SQL."""
    import subprocess
    import sys as _sys

    out = tmp_path / "sqlres"
    run = subprocess.run(
        [_sys.executable, "-m", "commerce_sessionization_spark", "sql",
         "SELECT r_name, count(*) AS n FROM region GROUP BY 1",
         "--sf-dir", "/root/testdata/sf0.001",
         "--out", str(out), "--master", "local[2]"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert run.returncode == 0, run.stderr[-500:]
    import duckdb
    rows = duckdb.connect().execute(
        f"SELECT count(*) FROM read_parquet('{out}/*.parquet')"
    ).fetchone()[0]
    assert rows == 5  # five TPC-H regions


def test_cli_profile_subcommand():
    """`profile` prints the one-scan column profile for a testdata table."""
    import subprocess
    import sys as _sys

    run = subprocess.run(
        [_sys.executable, "-m", "commerce_sessionization_spark", "profile",
         "region", "--sf-dir", "/root/testdata/sf0.001",
         "--columns", "r_regionkey,r_name", "--master", "local[2]"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert run.returncode == 0, run.stderr[-500:]
    assert "r_regionkey" in run.stdout and "ndv" in run.stdout


def test_cli_skew_subcommand():
    """`skew` prints the key-distribution diagnostic for a prospective
    shuffle key."""
    import subprocess
    import sys as _sys

    run = subprocess.run(
        [_sys.executable, "-m", "commerce_sessionization_spark", "skew",
         "events", "user_id", "--sf-dir", "/root/testdata/sf0.001",
         "--top-k", "3", "--master", "local[2]"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert run.returncode == 0, run.stderr[-500:]
    assert "skew_factor_q6" in run.stdout and "top_keys" in run.stdout


def test_cli_mixture_subcommand():
    """`mixture` prints the waterfill plan: allocations are capped at
    availability and the budget column set is scalar-only."""
    import subprocess
    import sys as _sys

    run = subprocess.run(
        [_sys.executable, "-m", "commerce_sessionization_spark", "mixture",
         "documents", "lang", "n_chars", "50000",
         "--sf-dir", "/root/testdata/sf0.001", "--master", "local[2]"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert run.returncode == 0, run.stderr[-500:]
    assert "alloc_tokens" in run.stdout and "saturated" in run.stdout


def test_cli_split_subcommand(tmp_path):
    """`split --leakage-safe` writes component-keyed assignments."""
    import subprocess
    import sys as _sys

    out = str(tmp_path / "splits")
    run = subprocess.run(
        [_sys.executable, "-m", "commerce_sessionization_spark", "split",
         "documents", "--leakage-safe", "--sf-dir",
         "/root/testdata/sf0.001", "--out", out, "--master", "local[2]"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert run.returncode == 0, run.stderr[-500:]
    import duckdb

    got = duckdb.sql(
        f"SELECT count(*) AS n, count(DISTINCT split) AS s, "
        f"count(component_id) AS c FROM read_parquet('{out}/*.parquet')"
    ).fetchone()
    assert got[0] == 500 and got[1] >= 2 and got[2] == 500


def test_read_parquet_evolving_merges_added_column(spark, tmp_path):
    import pytest as _pytest

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from commerce_sessionization_spark.sources.io import read_parquet_evolving

    p = str(tmp_path / "evolve")
    spark.range(0, 10).selectExpr("id").write.parquet(p)  # v1: (id)
    spark.range(10, 20).selectExpr("id", "CAST(id AS STRING) AS tag").write.mode(
        "append"
    ).parquet(p)  # v2 adds tag

    df = read_parquet_evolving(spark, p)
    assert set(df.columns) == {"id", "tag"}
    assert df.count() == 20
    # old files surface the new column as NULL
    assert df.filter("tag IS NULL").count() == 10

    ok_schema = StructType([StructField("id", LongType()),
                            StructField("tag", StringType())])
    read_parquet_evolving(spark, p, ok_schema)
    with _pytest.raises(ValueError, match="lacks expected column"):
        read_parquet_evolving(
            spark, p,
            StructType([StructField("missing_col", LongType())]),
        )
    with _pytest.raises(ValueError, match="type drifted"):
        read_parquet_evolving(
            spark, p, StructType([StructField("tag", LongType())])
        )


def test_schema_diff_reports_contract_changes(spark):
    from commerce_sessionization_spark.sources.io import schema_diff

    old = spark.range(1).selectExpr("id", "CAST(1 AS INT) AS a", "'x' AS b")
    new = spark.range(1).selectExpr(
        "id", "CAST(1 AS BIGINT) AS a", "2.0 AS c"
    )
    d = schema_diff(old, new)
    assert d["added"] == ["c"] and d["removed"] == ["b"]
    assert d["changed"] == [("a", "IntegerType()", "LongType()")]
    same = schema_diff(new, new)
    assert same == {"added": [], "removed": [], "changed": []}


def test_cli_media_features_subcommand(tmp_path):
    """`media-features` ingests a media dir and writes per-modality
    feature parquet through the REAL decoders end to end."""
    import subprocess
    import sys as _sys

    import numpy as np

    from commerce_sessionization_spark.functions.codecs import (
        encode_gif,
        encode_jpeg,
        encode_wav,
    )

    d = tmp_path / "media"
    d.mkdir()
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[:8] = 255
    (d / "a.jpg").write_bytes(encode_jpeg(img))
    t = np.arange(1600) / 16000.0
    (d / "b.wav").write_bytes(encode_wav(0.5 * np.sin(2 * np.pi * 440 * t)))
    (d / "c.gif").write_bytes(
        encode_gif([np.full((8, 8), v, np.uint8) for v in (0, 100)])
    )
    out = tmp_path / "features"
    run = subprocess.run(
        [_sys.executable, "-m", "commerce_sessionization_spark",
         "media-features", str(d), "--out", str(out), "--master", "local[2]"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert run.returncode == 0, run.stderr[-500:]
    import duckdb

    con = duckdb.connect()
    img_rows = con.execute(
        f"SELECT width, height FROM '{out}/image_features/*.parquet'"
    ).fetchall()
    assert img_rows == [(16, 16)]
    mfcc = con.execute(
        f"SELECT n_frames, len(mfcc_mean) FROM '{out}/audio_mfcc/*.parquet'"
    ).fetchall()
    assert mfcc == [(8, 13)]
    frames = con.execute(
        f"SELECT count(*) FROM '{out}/video_frame_features/*.parquet'"
    ).fetchone()[0]
    assert frames == 2


def test_cli_media_features_near_dups_flag(tmp_path):
    """--near-dups writes the banded phash pair table: two identical
    JPEGs pair at hamming 0; the unrelated image stays out."""
    import subprocess
    import sys as _sys

    import numpy as np

    from commerce_sessionization_spark.functions.codecs import encode_jpeg

    d = tmp_path / "media"
    d.mkdir()
    img = np.zeros((16, 16, 3), dtype=np.uint8)
    img[:8] = 255
    (d / "a.jpg").write_bytes(encode_jpeg(img))
    (d / "b.jpg").write_bytes(encode_jpeg(img, subsample=True))
    rng = np.random.default_rng(5)
    (d / "c.jpg").write_bytes(
        encode_jpeg(rng.integers(0, 256, (16, 16, 3), dtype=np.uint8))
    )
    out = tmp_path / "features"
    run = subprocess.run(
        [_sys.executable, "-m", "commerce_sessionization_spark",
         "media-features", str(d), "--out", str(out),
         "--modality", "image", "--near-dups", "--master", "local[2]"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert run.returncode == 0, run.stderr[-500:]
    import duckdb

    pairs = duckdb.connect().execute(
        f"SELECT hamming FROM '{out}/near_dup_pairs/*.parquet'"
    ).fetchall()
    assert pairs == [(0,)]


def test_cli_crawl_robots_composed(tmp_path):
    """The composed crawl path the round-5 verdict asked for: WARC bytes
    + robots.txt bodies in, robots-disallowed documents absent from the
    corpus parquet — driven through the CLI end to end (RFC 9309
    longest-match-wins: the /private subtree drops but its /private/pub
    exception survives; hosts without a robots file keep everything)."""
    import subprocess
    import sys as _sys

    from commerce_sessionization_spark.functions.warc import (
        build_http_response,
        build_warc,
        build_warc_record,
    )

    warcs = tmp_path / "warcs"
    warcs.mkdir()
    pages = [
        ("https://site-a.net/ok", b"<p>front page content</p>"),
        ("https://site-a.net/private/x", b"<p>secret staging page</p>"),
        ("https://site-a.net/private/pub/y", b"<p>published report</p>"),
        ("https://site-b.org/anything", b"<p>no robots here</p>"),
    ]
    (warcs / "seg-0.warc").write_bytes(
        build_warc(
            [
                build_warc_record(
                    "response", build_http_response(body), target_uri=url
                )
                for url, body in pages
            ]
        )
    )
    robots = tmp_path / "robots"
    robots.mkdir()
    (robots / "site-a.net.txt").write_text(
        "User-agent: *\nDisallow: /private/\nAllow: /private/pub/\n"
    )
    out = tmp_path / "corpus"
    run = subprocess.run(
        [_sys.executable, "-m", "commerce_sessionization_spark",
         "crawl", str(warcs), "--out", str(out),
         "--robots", str(robots), "--master", "local[2]"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert run.returncode == 0, run.stderr[-800:]
    import duckdb

    urls = {
        r[0]
        for r in duckdb.connect()
        .execute(f"SELECT url FROM '{out}/*.parquet'")
        .fetchall()
    }
    assert urls == {
        "https://site-a.net/ok",
        "https://site-a.net/private/pub/y",
        "https://site-b.org/anything",
    }


def test_cli_corpus_subcommand(tmp_path):
    """`corpus` runs the training-corpus pipeline (with DSIR selection)
    over a documents parquet and writes corpus + drop_reasons; the
    audit statuses must tally with the kept set."""
    import subprocess
    import sys as _sys

    import duckdb

    out = tmp_path / "corpus_out"
    run = subprocess.run(
        [_sys.executable, "-m", "commerce_sessionization_spark", "corpus",
         "/root/testdata/sf0.001/documents.parquet",
         "--out", str(out), "--dsir-k", "20", "--master", "local[2]"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert run.returncode == 0, run.stderr[-800:]
    con = duckdb.connect()
    kept = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/corpus/*.parquet')"
    ).fetchone()[0]
    assert kept == 20  # DSIR top-k caps the corpus
    tally = dict(con.execute(
        "SELECT status, count(*) FROM "
        f"read_parquet('{out}/drop_reasons/*.parquet') GROUP BY 1"
    ).fetchall())
    assert tally.get("kept") == 20
    n_docs = con.execute(
        "SELECT count(*) FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    ).fetchone()[0]
    assert sum(tally.values()) == n_docs  # every doc attributed once
    # kept ids in the audit == the written corpus ids
    same = con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/corpus/*.parquet') c "
        f"JOIN read_parquet('{out}/drop_reasons/*.parquet') r USING (doc_id) "
        "WHERE r.status = 'kept'"
    ).fetchone()[0]
    assert same == 20
    assert "split" in [
        d[0] for d in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{out}/corpus/*.parquet')"
        ).fetchall()
    ]


def test_cli_corpus_shards(tmp_path):
    """`corpus --shards N` writes the kept corpus as N hash-partitioned
    shard directories whose union equals the flat output."""
    import subprocess
    import sys as _sys

    import duckdb

    out = tmp_path / "sharded"
    run = subprocess.run(
        [_sys.executable, "-m", "commerce_sessionization_spark", "corpus",
         "/root/testdata/sf0.001/documents.parquet",
         "--out", str(out), "--shards", "4", "--master", "local[2]"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert run.returncode == 0, run.stderr[-800:]
    con = duckdb.connect()
    shards = con.execute(
        "SELECT shard_id, count(*) FROM "
        f"read_parquet('{out}/corpus/*/*.parquet', hive_partitioning=1) "
        "GROUP BY 1 ORDER BY 1"
    ).fetchall()
    assert len(shards) == 4
    assert all(n > 0 for _, n in shards)
    # every kept doc lands in exactly one shard
    total = con.execute(
        f"SELECT count(*), count(DISTINCT doc_id) FROM "
        f"read_parquet('{out}/corpus/*/*.parquet', hive_partitioning=1)"
    ).fetchone()
    assert total[0] == total[1] == sum(n for _, n in shards)


def test_corpus_pipeline_dsir_attribution(spark):
    """The stage chain and drop attribution behind `corpus --dsir-k 20`,
    in the fast tier: DSIR caps the corpus at 20, every document is
    attributed exactly once, the 'kept' ids are the corpus ids, and
    survivors the top-k passed over are 'not_selected'."""
    from commerce_sessionization_spark.operators.sampling import (
        corpus_pipeline,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    stages = corpus_pipeline(docs, dsir_k=20, audit=True)
    corpus_ids = [r["doc_id"] for r in stages.corpus.collect()]
    assert len(corpus_ids) == 20  # DSIR top-k caps the corpus
    assert "split" in stages.corpus.columns
    status = stages.drop_status().collect()
    doc_ids = [r["doc_id"] for r in docs.select("doc_id").collect()]
    assert sorted(r["doc_id"] for r in status) == sorted(doc_ids)
    kept = {r["doc_id"] for r in status if r["status"] == "kept"}
    assert kept == set(corpus_ids)
    assert "not_selected" in {r["status"] for r in status}


def test_cli_crawl_frontier_composition(tmp_path):
    """`crawl --frontier-out` closes the crawl loop: the next fetch
    batch holds outlink targets NOT in the fetched set, in-degree
    scored, per-host capped."""
    import subprocess
    import sys as _sys

    import duckdb

    from commerce_sessionization_spark.functions.warc import (
        build_http_response,
        build_warc,
        build_warc_record,
    )

    pages = [
        ("https://site-a.net/one",
         b"<html><body>alpha beta gamma "
         b"<a href='https://hub.net/top'>t</a> "
         b"<a href='/two'>self</a></body></html>"),
        ("https://site-a.net/two",
         b"<html><body>delta epsilon zeta "
         b"<a href='https://hub.net/top'>t</a> "
         b"<a href='https://hub.net/other'>o</a></body></html>"),
    ]
    warcs = tmp_path / "warcs"
    warcs.mkdir()
    (warcs / "seg.warc").write_bytes(
        build_warc(
            [
                build_warc_record(
                    "response", build_http_response(body), target_uri=url
                )
                for url, body in pages
            ]
        )
    )
    out = tmp_path / "corpus"
    fr = tmp_path / "frontier"
    run = subprocess.run(
        [_sys.executable, "-m", "commerce_sessionization_spark",
         "crawl", str(warcs), "--out", str(out),
         "--frontier-out", str(fr), "--frontier-k", "1",
         "--master", "local[2]"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert run.returncode == 0, run.stderr[-800:]
    rows = duckdb.connect().execute(
        f"SELECT url, host, n_referrers, rank FROM '{fr}/*.parquet' "
        "ORDER BY host, rank"
    ).fetchall()
    # k=1: hub.net keeps only /top (2 referrers beats /other's 1);
    # site-a.net/two is already fetched, so site-a.net contributes
    # nothing — the politeness cap and the fetched gate both visible.
    assert rows == [("https://hub.net/top", "hub.net", 2, 1)]


def test_cli_crawl_two_round_loop_via_fetched(tmp_path):
    """Round N+1 of the crawl loop as a second CLI invocation: fetch
    round 1's frontier, pass round 1's corpus via --fetched, and the
    new frontier holds ONLY newly-discovered URLs — no round-1 page
    resurfaces even when round-2 pages link back to it."""
    import subprocess
    import sys as _sys

    import duckdb

    from commerce_sessionization_spark.functions.warc import (
        build_http_response,
        build_warc,
        build_warc_record,
    )

    def write_warc(dirname, pages):
        d = tmp_path / dirname
        d.mkdir()
        (d / "seg.warc").write_bytes(
            build_warc(
                [
                    build_warc_record(
                        "response", build_http_response(body), target_uri=url
                    )
                    for url, body in pages
                ]
            )
        )
        return d

    def crawl(warcs, out, frontier, fetched=None):
        cmd = [_sys.executable, "-m", "commerce_sessionization_spark",
               "crawl", str(warcs), "--out", str(out),
               "--frontier-out", str(frontier), "--master", "local[2]"]
        if fetched:
            cmd += ["--fetched", str(fetched)]
        run = subprocess.run(
            cmd, capture_output=True, text=True, cwd="/root/repo"
        )
        assert run.returncode == 0, run.stderr[-800:]

    # round 1: one seed linking to two hub pages
    warcs1 = write_warc("warcs1", [
        ("https://seed.net/",
         b"<html><body>seed text "
         b"<a href='https://hub.net/h1'>1</a> "
         b"<a href='https://hub.net/h2'>2</a></body></html>"),
    ])
    out1, fr1 = tmp_path / "corpus1", tmp_path / "frontier1"
    crawl(warcs1, out1, fr1)
    q = duckdb.connect()
    got1 = {r[0] for r in q.execute(
        f"SELECT url FROM '{fr1}/*.parquet'").fetchall()}
    assert got1 == {"https://hub.net/h1", "https://hub.net/h2"}

    # round 2: "fetch" the frontier — h1 links onward to deep.io AND
    # back to the seed; h2 links to its sibling h1 (both already seen)
    warcs2 = write_warc("warcs2", [
        ("https://hub.net/h1",
         b"<html><body>hub one "
         b"<a href='https://deep.io/d1'>d</a> "
         b"<a href='https://seed.net/'>back</a></body></html>"),
        ("https://hub.net/h2",
         b"<html><body>hub two "
         b"<a href='https://hub.net/h1'>sib</a></body></html>"),
    ])
    out2, fr2 = tmp_path / "corpus2", tmp_path / "frontier2"
    crawl(warcs2, out2, fr2, fetched=out1)
    got2 = {r[0] for r in q.execute(
        f"SELECT url FROM '{fr2}/*.parquet'").fetchall()}
    # only the newly-discovered leaf: the back-link to seed.net is
    # filtered by --fetched (round-1 corpus) and the sibling link to
    # h1 by this invocation's own fetched set
    assert got2 == {"https://deep.io/d1"}


def test_cli_crawl_sitemaps_join_the_frontier(tmp_path):
    """--sitemaps: sitemap-announced URLs enter the frontier with the
    sitemap as referrer — a URL both organically linked and
    sitemap-listed earns in-degree 2."""
    import subprocess
    import sys as _sys

    import duckdb

    from commerce_sessionization_spark.functions.warc import (
        build_http_response,
        build_warc,
        build_warc_record,
    )

    warcs = tmp_path / "warcs"
    warcs.mkdir()
    (warcs / "seg.warc").write_bytes(
        build_warc([
            build_warc_record(
                "response",
                build_http_response(
                    b"<html><body><a href='https://hub.net/h1'>1</a>"
                    b"</body></html>"
                ),
                target_uri="https://seed.net/",
            )
        ])
    )
    sitemaps = tmp_path / "sitemaps"
    sitemaps.mkdir()
    (sitemaps / "hub.xml").write_text(
        "<urlset><url><loc>https://hub.net/h1</loc></url>"
        "<url><loc>https://hub.net/h9</loc></url></urlset>"
    )
    out, fr = tmp_path / "corpus", tmp_path / "frontier"
    run = subprocess.run(
        [_sys.executable, "-m", "commerce_sessionization_spark",
         "crawl", str(warcs), "--out", str(out),
         "--frontier-out", str(fr), "--sitemaps", str(sitemaps),
         "--master", "local[2]"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert run.returncode == 0, run.stderr[-800:]
    rows = duckdb.connect().execute(
        f"SELECT url, n_referrers, rank FROM '{fr}/*.parquet' ORDER BY rank"
    ).fetchall()
    assert rows == [
        ("https://hub.net/h1", 2, 1),   # organic link + sitemap listing
        ("https://hub.net/h9", 1, 2),   # sitemap-only discovery
    ]


def test_cli_pca_subcommand(tmp_path):
    """`pca` fits on sufficient stats and writes projected vectors plus a
    model summary whose explained variances are descending."""
    import json
    import subprocess
    import sys as _sys

    out = tmp_path / "pca"
    run = subprocess.run(
        [_sys.executable, "-m", "commerce_sessionization_spark", "pca",
         "embeddings", "--sf-dir", "/root/testdata/sf0.001",
         "--k", "4", "--out", str(out), "--master", "local[2]"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert run.returncode == 0, run.stderr[-500:]
    model = json.load(open(out / "model.json"))
    assert model["k"] == 4 and model["dim"] == 64
    ev = model["explained_variance"]
    assert ev == sorted(ev, reverse=True) and ev[-1] > 0
    import duckdb
    n, d = duckdb.connect().execute(
        f"SELECT count(*), max(len(pca)) FROM "
        f"read_parquet('{out}/projected/*.parquet')"
    ).fetchone()
    assert n == 500 and d == 4


def test_cli_drift_subcommand():
    """`drift` prints the per-column PSI table; identical snapshots give
    psi == 0 for every audited column."""
    import subprocess
    import sys as _sys

    run = subprocess.run(
        [_sys.executable, "-m", "commerce_sessionization_spark", "drift",
         "orders", "orders", "o_totalprice,o_custkey",
         "--sf-dir", "/root/testdata/sf0.001", "--master", "local[2]"],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert run.returncode == 0, run.stderr[-500:]
    assert "o_totalprice" in run.stdout and "o_custkey" in run.stdout
    assert "|0.0" in run.stdout.replace(" ", "")  # zero drift rendered
