"""Source / sink adapters (SURVEY §2.1, S1-S6).

All reads take an explicit schema (never inferred — reference passes
``Encoders.product[T].schema`` everywhere, ``SessionizationBuiltIn.scala:42``),
so Catalyst gets exact column pruning and the scan never pays an inference
pass. Writes are hive-partitioned parquet with *dynamic* partition overwrite:
re-running an hour replaces only that hour's partition
(``SessionizationBuiltIn.scala:21,59-63``), which makes the hourly job
idempotent under scheduler retries/backfills — a correctness requirement,
not an optimization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from commerce_sessionization_spark.schemas import BEHAVIOR_SCHEMA


def read_behaviors_csv(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """S1 — monthly raw behavior CSV with header (``DailyFileDivider.scala:21-24``)."""
    return (
        spark.read.option("header", True)
        .schema(schema or BEHAVIOR_SCHEMA)
        .csv(path)
    )


def read_parquet(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """S2/S3/S4 — parquet scan with explicit schema.

    Passing the schema (instead of footer inference) keeps reads cheap on
    object stores with many partitions and pins the contract: a drifted file
    surfaces as nulls/errors at read, not silent schema widening.
    """
    return spark.read.schema(schema).parquet(path)


def write_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("event_date", "event_hour"),
    cluster_before_write: bool = True,
    max_records_per_file: int = 5_000_000,
) -> None:
    """S5/S6 — partitioned parquet sink with dynamic overwrite.

    ``repartition(*partition_cols)`` before the write clusters each output
    partition into one task's files (``DailyFileDivider.scala:42-48``),
    avoiding the small-files explosion of N tasks × M partitions. At 100 TB
    pair this with AQE (coalesces the shuffle) and ``maxRecordsPerFile``
    (splits oversized partitions instead of emitting single multi-GB files).

    Requires ``spark.sql.sources.partitionOverwriteMode=dynamic`` (set by
    ``session.get_spark``) so only touched partitions are replaced.
    """
    write_partitioned(
        df,
        path,
        partition_cols,
        cluster_before_write=cluster_before_write,
        max_records_per_file=max_records_per_file,
    )


def read_source(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "parquet",
    **options: str,
) -> DataFrame:
    """Format-generic scan (parquet / orc / json / csv) with explicit schema.

    One entry point for every batch source the engine supports; schema is
    mandatory for the same reasons as ``read_parquet`` (JSON/CSV inference
    additionally costs a full extra pass over the data — never at 100 TB).
    """
    reader = spark.read.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.format(fmt).load(path)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("event_date", "event_hour"),
    fmt: str = "parquet",
    cluster_before_write: bool = True,
    max_records_per_file: int = 5_000_000,
    **options: str,
) -> None:
    """Format-generic partitioned sink (same contract as
    ``write_partitioned_parquet``: clustered files, dynamic overwrite)."""
    if cluster_before_write:
        df = df.repartition(*[df[c] for c in partition_cols])
    writer = (
        df.write.partitionBy(*partition_cols)
        .mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.format(fmt).save(path)


#: extension → (modality, mime) for the media-directory source. Formats
#: with a dependency-free *sample* decode (functions.codecs) AND formats
#: with container-level demux only (functions.containers — duration/codec/
#: stream metadata without decoding) both map to their modality; whether a
#: payload's samples decode here is a mime_type question (see
#: operators.multimodal.DECODABLE_*_MIMES). Anything else lands as
#: modality "other" so downstream per-modality pipelines skip it by
#: partition filter, not by crashing.
MEDIA_EXTENSIONS: dict[str, tuple[str, str]] = {
    "bmp": ("image", "image/bmp"),
    "png": ("image", "image/png"),
    "jpg": ("image", "image/jpeg"),
    "jpeg": ("image", "image/jpeg"),
    "webp": ("image", "image/webp"),
    "avif": ("image", "image/avif"),
    "heic": ("image", "image/heic"),
    "tif": ("image", "image/tiff"),
    "tiff": ("image", "image/tiff"),
    "pdf": ("document", "application/pdf"),
    "docx": ("document", "application/vnd.openxmlformats-officedocument"
             ".wordprocessingml.document"),
    "txt": ("document", "text/plain"),
    "md": ("document", "text/markdown"),
    "wav": ("audio", "audio/wav"),
    "mp3": ("audio", "audio/mpeg"),
    "ogg": ("audio", "audio/ogg"),
    "opus": ("audio", "audio/ogg"),
    "flac": ("audio", "audio/flac"),
    "m4a": ("audio", "audio/mp4"),
    "gif": ("video", "image/gif"),
    "mp4": ("video", "video/mp4"),
    "m4v": ("video", "video/mp4"),
    "mov": ("video", "video/quicktime"),
}


def read_media_dir(
    spark: SparkSession, path: str, recursive: bool = True, glob: str | None = None
) -> DataFrame:
    """Ingest a directory of media files into the MEDIA_SCHEMA shape via
    Spark's ``binaryFile`` source.

    Output columns: ``asset_id`` (xxhash64 of the file path — stable across
    re-runs so downstream joins and dedups are reproducible), ``modality``
    / ``mime_type`` from the extension, ``content`` payload bytes, and a
    ``metadata`` map carrying ``source_path`` and ``length``
    (modificationTime is deliberately dropped: it makes re-ingests
    non-deterministic).

    Scale notes: binary files are not splittable — one file is one task, so
    at 100 TB the parallelism unit is the file count, and millions of tiny
    files want packing into this table (parquet, payload column) exactly
    once, after which every downstream pass reads the columnar form with
    metadata-only projections free of payload IO. ``pathGlobFilter`` pushes
    the extension filter into the file listing itself.
    """
    from pyspark.sql import functions as F

    from commerce_sessionization_spark.schemas import MEDIA_SCHEMA

    reader = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true" if recursive else "false")
    )
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    raw = reader.load(path)

    ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    modality = F.lit("other")
    mime = F.lit("application/octet-stream")
    for e, (mod, mt) in MEDIA_EXTENSIONS.items():
        modality = F.when(ext == e, F.lit(mod)).otherwise(modality)
        mime = F.when(ext == e, F.lit(mt)).otherwise(mime)
    out = raw.select(
        F.xxhash64(F.col("path")).alias("asset_id"),
        modality.alias("modality"),
        F.col("content"),
        mime.alias("mime_type"),
        F.create_map(
            F.lit("source_path"), F.col("path"),
            F.lit("length"), F.col("length").cast("string"),
        ).alias("metadata"),
    )
    # pin the declared contract (cheap structural assert, no data pass)
    assert [f.name for f in out.schema.fields] == [
        f.name for f in MEDIA_SCHEMA.fields
    ]
    return out


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...],
    num_buckets: int = 32,
    sort_cols: tuple[str, ...] | None = None,
    fmt: str = "parquet",
) -> None:
    """Persist a table hash-bucketed (and optionally sorted) by join key.

    The 100 TB co-location primitive: two tables bucketed by the same key
    into the same bucket count join with ZERO shuffle — Spark matches
    bucket i to bucket i, and with ``sort_cols`` the sort-merge join skips
    its sort too. Pre-paying one write-side shuffle instead of re-paying
    an exchange on every join/agg is the right trade whenever a fact
    table is joined on the same key repeatedly (plan-asserted in
    ``tests/test_bucketing.py``). Datasource-table bucketing only — works
    on the in-memory catalog, no Hive metastore required.
    """
    writer = df.write.format(fmt).mode("overwrite").bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_source_permissive(
    spark: SparkSession,
    path: str,
    schema: StructType,
    fmt: str = "csv",
    corrupt_col: str = "_corrupt_record",
    **options: str,
) -> DataFrame:
    """Malformed-row-tolerant scan for text formats (csv / json).

    At 100 TB a single mangled line must not kill the job at hour 17:
    PERMISSIVE parsing keeps what it can and lands the raw text of every
    unparseable row in ``corrupt_col``, so the pipeline quarantines
    garbage instead of dying — pair with ``split_corrupt`` to fork the
    good/bad streams. Parquet/ORC don't take this path: their footers
    make corruption structural, not per-row.

    Implementation deliberately goes ``text`` source → ``from_csv`` /
    ``from_json`` rather than the csv/json *source* in PERMISSIVE mode:
    the source's internal corrupt column carries a planner restriction
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN — any plan that
    prunes down to it alone, e.g. ``bad.count()``, is rejected unless the
    scan is cached first). Parsing the line as a normal column expression
    has no such restriction, costs the same single pass, and still prunes
    to one string column at the scan.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType, StructField

    if fmt not in ("csv", "json"):
        raise ValueError(f"permissive path is for text formats, got {fmt!r}")
    full = StructType(list(schema.fields) + [StructField(corrupt_col, StringType())])
    opts = {
        "mode": "PERMISSIVE",
        "columnNameOfCorruptRecord": corrupt_col,
        **options,
    }
    raw = spark.read.text(path)
    if fmt == "csv":
        parsed = raw.select(
            F.from_csv(F.col("value"), full.simpleString(), opts).alias("_r")
        )
    else:
        parsed = raw.select(F.from_json(F.col("value"), full, opts).alias("_r"))
    return parsed.select("_r.*")


def split_corrupt(
    df: DataFrame, corrupt_col: str = "_corrupt_record"
) -> tuple[DataFrame, DataFrame]:
    """(clean rows without the marker column, quarantined rows).

    The quarantine side keeps the full row (partially-parsed fields + the
    raw line) rather than the marker column alone — Spark disallows
    queries that reference ONLY the internal corrupt-record column of a
    raw text scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN),
    and the parsed fragments are what an operator debugging the quarantine
    wants anyway.
    """
    from pyspark.sql import functions as F

    good = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull())
    return good, bad


def compact_partition(
    spark: SparkSession,
    path: str,
    schema: StructType,
    target_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """Small-file compaction for one table/partition directory.

    The 100 TB operational reality: streaming sinks and hourly jobs leave
    thousands of KB-sized files per partition, and at some point listing +
    footer reads dominate scan time. This rewrites the directory into
    ``ceil(bytes / target_bytes)`` files via an atomic swap:

    1. read with the explicit schema, ``repartition`` to the target count
       (a full shuffle — intentional: ``coalesce`` would fuse upstream
       into few tasks AND can't split large inputs),
    2. write to a staging sibling (``<path>.__compact__``),
    3. verify row count parity, then swap directories.

    The swap uses the Hadoop FileSystem API, so it works on any FS Spark
    can write (rename is atomic on HDFS/local; on object stores the
    pattern still bounds the non-atomic window to two renames). Returns
    the new file count. Idempotent: re-running compacts to the same
    layout; a crash before the swap leaves the original intact (stale
    staging dirs are cleaned on the next run).
    """
    import math

    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hconf = jsc.hadoopConfiguration()
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(hconf)
    if not fs.exists(hpath):
        raise FileNotFoundError(path)

    total = 0
    for st in fs.listStatus(hpath):
        if st.isFile() and not st.getPath().getName().startswith(("_", ".")):
            total += st.getLen()
    n_files = max(1, math.ceil(total / target_bytes))

    df = spark.read.schema(schema).format(fmt).load(path)
    before = df.count()
    staging = path.rstrip("/") + ".__compact__"
    spath = jvm.org.apache.hadoop.fs.Path(staging)
    if fs.exists(spath):  # stale staging from a crashed prior run
        fs.delete(spath, True)
    df.repartition(n_files).write.format(fmt).mode("errorifexists").save(staging)

    after = spark.read.schema(schema).format(fmt).load(staging).count()
    if after != before:
        fs.delete(spath, True)
        raise RuntimeError(
            f"compaction row-count mismatch: {before} -> {after}; aborted"
        )
    backup = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + ".__old__")
    if fs.exists(backup):
        fs.delete(backup, True)
    fs.rename(hpath, backup)
    fs.rename(spath, hpath)
    fs.delete(backup, True)
    return n_files


def write_parquet_with_bloom(
    df,
    path: str,
    bloom_cols: dict[str, int],
    mode: str = "overwrite",
) -> None:
    """Parquet sink with writer-side bloom filters on selected columns.

    ``bloom_cols`` maps column name → expected NDV (sizes the filter;
    parquet-mr needs it to hit its false-positive target). The filters
    live in the file footer region and cost bytes at write time only —
    readers that understand them (parquet-mr predicate pushdown, Trino,
    Impala, Spark's own scan with ``spark.sql.parquet.filterPushdown``)
    skip whole row groups on point lookups over high-NDV columns where
    min/max ranges are useless (UUIDs, hashes: every row group spans
    the full value range, so only a bloom can prove absence). The
    complement of z-ordering, which makes min/max ranges tight for
    RANGE predicates.
    """
    w = df.write.mode(mode)
    for col, ndv in bloom_cols.items():
        w = w.option(f"parquet.bloom.filter.enabled#{col}", "true")
        w = w.option(f"parquet.bloom.filter.expected.ndv#{col}", str(int(ndv)))
    w.parquet(path)


def read_parquet_evolving(spark, path: str, expected_schema=None):
    """Read a parquet directory whose files were written under EVOLVING
    schemas (columns added over time): ``mergeSchema`` unions all file
    footers, older files surface the new columns as NULL.

    At 100 TB footer merging is a real cost (one footer read per file),
    which is why it is opt-in here and NOT the default in
    ``read_parquet`` — steady-state readers should pin the current
    schema (free) and only the backfill/migration path pays the merge.
    Pass ``expected_schema`` to assert the merged result covers it
    (older files missing a column are fine; a TYPE conflict or a
    missing expected column fails loudly rather than silently casting).
    """
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if expected_schema is not None:
        have = {f.name: f.dataType for f in df.schema.fields}
        for f in expected_schema.fields:
            if f.name not in have:
                raise ValueError(
                    f"evolved table at {path} lacks expected column {f.name!r}"
                )
            if have[f.name] != f.dataType:
                raise ValueError(
                    f"column {f.name!r} type drifted: "
                    f"{have[f.name]} != expected {f.dataType}"
                )
    return df


def schema_diff(old, new) -> dict:
    """Structural diff of two schemas (or DataFrames): added / removed /
    type-changed columns — the data-contract check a publisher runs
    before replacing a table version (pairs with
    ``read_parquet_evolving``'s read-side assertions and
    ``operators.merge.snapshot_diff``'s row-level change feed).

    Returns {"added": [...], "removed": [...], "changed": [(name,
    old_type, new_type), ...]}; empty lists ⇔ contract unchanged.
    """
    o = old.schema if hasattr(old, "schema") else old
    n = new.schema if hasattr(new, "schema") else new
    of = {f.name: f.dataType for f in o.fields}
    nf = {f.name: f.dataType for f in n.fields}
    return {
        "added": sorted(set(nf) - set(of)),
        "removed": sorted(set(of) - set(nf)),
        "changed": sorted(
            (c, str(of[c]), str(nf[c]))
            for c in set(of) & set(nf)
            if of[c] != nf[c]
        ),
    }


WARC_SCHEMA_DDL = (
    "warc_file string, record_idx int, warc_type string, "
    "target_uri string, warc_date string, record_id string, "
    "http_status int, http_content_type string, payload binary"
)


def read_warc_dir(
    spark: SparkSession, path: str, glob: str = "*.warc*"
) -> DataFrame:
    """Ingest a directory of WARC files (plain or per-record-gzipped —
    the CommonCrawl layout) into one row per record.

    ``binaryFile`` scan → Arrow-batched ``mapInPandas`` running the
    dependency-free ISO 28500 parser (``functions.warc.parse_warc``):
    each task holds exactly one WARC file, so memory is bounded by the
    largest file, and the parallelism unit is the file count — the same
    contract CommonCrawl's own tooling assumes (crawls ship as ~1 GB
    segment files precisely so per-file parallelism saturates a
    cluster). Truncated/damaged files yield their salvageable prefix of
    records rather than failing the job; downstream passes project the
    metadata columns without touching ``payload`` (columnar pruning).
    """
    import pandas as pd

    from commerce_sessionization_spark.functions.codecs import (
        UnsupportedMediaError,
    )
    from commerce_sessionization_spark.functions.warc import parse_warc

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("path", "content")
    )

    def batches(it):
        for pdf in it:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                try:
                    recs = parse_warc(bytes(content))
                except UnsupportedMediaError:
                    continue  # not a WARC: skip the file, not the job
                for i, r in enumerate(recs):
                    rows.append(
                        {
                            "warc_file": p,
                            "record_idx": i,
                            "warc_type": r["warc_type"],
                            "target_uri": r["target_uri"],
                            "warc_date": r["warc_date"],
                            "record_id": r["record_id"],
                            "http_status": r["http_status"],
                            "http_content_type": r["http_content_type"],
                            "payload": r["payload"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "warc_file", "record_idx", "warc_type", "target_uri",
                    "warc_date", "record_id", "http_status",
                    "http_content_type", "payload",
                ],
            )

    return raw.mapInPandas(batches, WARC_SCHEMA_DDL)


def write_wet(
    df: DataFrame,
    out_dir: str,
    url_col: str = "url",
    text_col: str = "text",
    date_col: str | None = "fetched_at",
    gzip_per_record: bool = True,
) -> DataFrame:
    """Write extracted text as WET (WARC ``conversion`` records) — the
    format CommonCrawl publishes its text extracts in, so downstream
    consumers that already speak WET can read this engine's output.

    One ``part-<pid>.warc.gz`` per partition, each opening with a
    ``warcinfo`` record then one ``conversion`` record per document
    (UTF-8 text payload, ``WARC-Target-URI`` = the document URL).
    Executes as ``mapInPandas`` doing direct file writes — one file per
    task, the same non-splittable contract as reading; returns the
    manifest (file, n_records, bytes) AFTER materializing it, so the
    write has happened when this function returns. Paths are local-FS
    here; an object-store deployment swaps the ``open()`` for its FS
    client, the framing bytes are identical.

    Round-trip contract: ``read_warc_dir`` parses WET files back
    (conversion records carry no HTTP block, so ``http_status`` is NULL
    and ``payload`` is the text bytes) — pinned by test.
    """
    import os

    import pandas as pd

    from commerce_sessionization_spark.functions.warc import (
        build_warc,
        build_warc_record,
    )

    os.makedirs(out_dir, exist_ok=True)
    cols = [url_col, text_col] + ([date_col] if date_col else [])
    slim = df.select(*cols)

    def batches(it):
        from pyspark import TaskContext

        # Record IDs must be globally unique (ISO 28500 §5.2): fold the
        # partition id into the high 64 bits so a per-partition counter
        # cannot collide across output files.
        pid = TaskContext.get().partitionId()
        first = None
        records = []
        n = 0
        for pdf in it:
            for row in pdf.itertuples(index=False):
                url = getattr(row, url_col)
                text = getattr(row, text_col) or ""
                date = (
                    getattr(row, date_col)
                    if date_col
                    else "2024-01-01T00:00:00Z"
                ) or "2024-01-01T00:00:00Z"
                if first is None:
                    first = url
                    records.append(
                        build_warc_record(
                            "warcinfo",
                            b"software: commerce-sessionization-spark\r\n"
                            b"format: WARC File Format 1.0\r\n",
                            content_type="application/warc-fields",
                            record_id=(
                                f"<urn:uuid:{pid:016x}{(1 << 63):016x}>"
                            ),
                        )
                    )
                records.append(
                    build_warc_record(
                        "conversion",
                        text.encode("utf-8"),
                        target_uri=url,
                        date=str(date),
                        content_type="text/plain",
                        record_id=f"<urn:uuid:{pid:016x}{n:016x}>",
                    )
                )
                n += 1
        if not records:
            yield pd.DataFrame(
                [], columns=["file", "n_records", "n_bytes"]
            ).astype({"n_records": "int64", "n_bytes": "int64"})
            return
        ext = ".warc.gz" if gzip_per_record else ".warc"
        path = os.path.join(out_dir, f"part-{pid:05d}{ext}")
        data = build_warc(records, gzip_per_record=gzip_per_record)
        with open(path, "wb") as f:
            f.write(data)
        yield pd.DataFrame(
            [{"file": path, "n_records": n, "n_bytes": len(data)}]
        )

    manifest = slim.mapInPandas(
        batches, "file string, n_records long, n_bytes long"
    )
    rows = manifest.collect()  # materialize => files exist on return
    return df.sparkSession.createDataFrame(
        rows or [], "file string, n_records long, n_bytes long"
    )
