"""CLI — the engine's scheduler-facing surface (SURVEY §2.10).

The reference is driven by Airflow submitting a jar with positional args
(``sessionization_batch.py:21-25`` passes ``{{ ds }}``, ``{{ logical_date
.strftime('%H') }}``, base path); any scheduler can drive this engine the
same way:

    python -m commerce_sessionization_spark divide --input raw.csv --path BASE
    python -m commerce_sessionization_spark sessionize --date 2019-10-01 \
        --hour 10 --path BASE
    python -m commerce_sessionization_spark backfill --start "2019-10-01 00" \
        --end "2019-10-02 23" --path BASE

``backfill`` replays hours strictly in order — the batch analogue of the
DAG's ``catchup=True, max_active_runs=1, depends_on_past=True``
(``sessionization_batch.py:36-39``): hour t's carry-in reads hour t-1's
output, so ordering is a correctness constraint, not a preference.
"""

from __future__ import annotations

import argparse
import sys
from datetime import datetime, timedelta

from commerce_sessionization_spark.operators.sessions import DEFAULT_GAP_SECONDS
from commerce_sessionization_spark.session import get_spark


def _add_common(p: argparse.ArgumentParser) -> None:
    p.add_argument("--path", required=True, help="pipeline base dir (logs/ + sessions/)")
    p.add_argument("--master", default=None, help="spark master (default local[CPUS])")


def main(argv: list[str] | None = None) -> int:
    top = argparse.ArgumentParser(prog="commerce_sessionization_spark")
    sub = top.add_subparsers(dest="cmd", required=True)

    d = sub.add_parser("divide", help="EP2: raw CSV -> hourly logs/ partitions")
    d.add_argument("--input", required=True, help="raw behavior CSV (with header)")
    d.add_argument(
        "--shift-days",
        type=int,
        default=0,
        help="date-shift replay offset (reference README.md:19-30 uses 1877)",
    )
    _add_common(d)

    s = sub.add_parser("sessionize", help="EP1: one incremental hour")
    s.add_argument("--date", required=True, help="event_date YYYY-MM-DD")
    s.add_argument("--hour", required=True, help="event_hour HH")
    _add_common(s)

    b = sub.add_parser("backfill", help="ordered EP1 over an hour range")
    b.add_argument("--start", required=True, help='"YYYY-MM-DD HH" first hour')
    b.add_argument("--end", required=True, help='"YYYY-MM-DD HH" last hour (inclusive)')
    _add_common(b)

    st = sub.add_parser(
        "stream",
        help="streaming sessionize: event parquet drops -> sessions/ "
        "(exactly-once, resumable via --checkpoint)",
    )
    st.add_argument("--source", required=True, help="input glob of parquet drops")
    st.add_argument("--checkpoint", required=True, help="checkpoint dir")
    st.add_argument(
        "--follow",
        action="store_true",
        help="keep running on new files (default drains the backlog and exits)",
    )
    st.add_argument("--gap-seconds", type=int, default=DEFAULT_GAP_SECONDS)
    st.add_argument("--watermark", default="30 minutes")
    _add_common(st)

    q = sub.add_parser(
        "query",
        help="run any catalog query (plans.queries) against a testdata dir",
    )
    q.add_argument("name", nargs="?", help="query name; omit to list all")
    q.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                   help="table directory (parquet per table)")
    q.add_argument("--out", default=None,
                   help="write result parquet here (default: show 20 rows)")
    q.add_argument("--master", default=None)

    ex = sub.add_parser(
        "explain",
        help="print a catalog query's optimized physical plan "
             "(the scale audit: pushdown, broadcasts, exchanges)",
    )
    ex.add_argument("name", help="query name from `query` listing")
    ex.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ex.add_argument("--mode", default="formatted",
                    choices=["simple", "extended", "formatted", "cost"])
    ex.add_argument("--master", default=None)

    co = sub.add_parser(
        "compact",
        help="rewrite a table/partition directory into few large files "
             "(atomic swap, row-count verified)",
    )
    co.add_argument("path", help="parquet directory to compact")
    co.add_argument("--target-mb", type=int, default=128,
                    help="target file size in MiB (default 128)")
    co.add_argument("--master", default=None)

    sq = sub.add_parser(
        "sql",
        help="run ad-hoc SQL with the testdata tables registered as views",
    )
    sq.add_argument("statement", help="a single SQL statement")
    sq.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    sq.add_argument("--out", default=None,
                    help="write result parquet here instead of showing")
    sq.add_argument("--limit", type=int, default=20)
    sq.add_argument("--master", default=None)

    pr = sub.add_parser(
        "profile",
        help="one-scan column profile (rows/nulls/ndv/min/max) of a "
             "parquet table or testdata table name",
    )
    pr.add_argument("table", help="parquet path, or a testdata table name "
                                  "when --sf-dir is given")
    pr.add_argument("--sf-dir", default=None,
                    help="resolve `table` inside this testdata dir")
    pr.add_argument("--columns", default=None,
                    help="comma-separated subset (default: all columns)")
    pr.add_argument("--approx", action="store_true",
                    help="approx_count_distinct (HLL++) instead of exact NDV")
    pr.add_argument("--master", default=None)

    sk = sub.add_parser(
        "skew",
        help="pre-flight join/groupBy key skew diagnostic: per-key "
             "count distribution + heavy-hitter list (the salting "
             "candidates) for a prospective shuffle key",
    )
    sk.add_argument("table", help="parquet path, or a testdata table name "
                                  "when --sf-dir is given")
    sk.add_argument("key", help="comma-separated key column(s) under test")
    sk.add_argument("--sf-dir", default=None,
                    help="resolve `table` inside this testdata dir")
    sk.add_argument("--top-k", type=int, default=10)
    sk.add_argument("--blocking-audit", action="store_true",
                    help="also price the key as an ER blocking key: "
                         "exact candidate-pair bound sum(C(block,2)) "
                         "and per-record verify multiplier, from the "
                         "same one groupBy (run BEFORE committing a "
                         "100 TB corpus to a blocking key)")
    sk.add_argument("--master", default=None)

    sp = sub.add_parser(
        "split",
        help="train/val/test assignment; --leakage-safe resolves the "
             "near-dup pair graph first and splits on the component "
             "representative so duplicate clusters never straddle "
             "train/test",
    )
    sp.add_argument("table", help="parquet path, or a testdata table name "
                                  "when --sf-dir is given")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--sf-dir", default=None,
                    help="resolve `table` inside this testdata dir")
    sp.add_argument("--out", default=None,
                    help="write assignments parquet here (default: show)")
    sp.add_argument("--leakage-safe", action="store_true",
                    help="split on near-dup components (3-gram Jaccard "
                         ">= --threshold pair graph over --text-col)")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--threshold", type=float, default=0.8)
    sp.add_argument("--master", default=None)

    mx = sub.add_parser(
        "mixture",
        help="token-budget waterfill plan: per-domain allocation under "
             "integer target weights with availability caps (run "
             "BEFORE committing sampler rates — temperature targets "
             "overshoot low-resource domains)",
    )
    mx.add_argument("table", help="parquet path, or a testdata table name "
                                  "when --sf-dir is given")
    mx.add_argument("domain", help="domain column (e.g. lang, source)")
    mx.add_argument("size", help="per-row size column to sum as "
                                 "availability (e.g. n_chars)")
    mx.add_argument("budget", type=int, help="total token budget")
    mx.add_argument("--sf-dir", default=None,
                    help="resolve `table` inside this testdata dir")
    mx.add_argument("--temperature", type=float, default=0.5,
                    help="target weight ∝ count^T (1.0 = proportional, "
                         "0.0 = uniform; default the multilingual-LM "
                         "0.5)")
    mx.add_argument("--master", default=None)

    dr = sub.add_parser(
        "drift",
        help="PSI distribution-drift audit between two snapshots of a "
             "table (reference defines the bin edges)",
    )
    dr.add_argument("ref", help="reference parquet path, or a testdata "
                                "table name when --sf-dir is given")
    dr.add_argument("cur", help="current parquet path / table name")
    dr.add_argument("columns", help="comma-separated numeric columns")
    dr.add_argument("--sf-dir", default=None)
    dr.add_argument("--buckets", type=int, default=10)
    dr.add_argument("--master", default=None)

    pc = sub.add_parser(
        "pca",
        help="one-pass PCA over a vector column: fit on exact-decimal "
             "sufficient statistics, write projected vectors + a model "
             "summary (components/mean/explained variance)",
    )
    pc.add_argument("table", help="parquet path, or a testdata table name "
                                  "when --sf-dir is given")
    pc.add_argument("--sf-dir", default=None)
    pc.add_argument("--vec-col", default="embedding")
    pc.add_argument("--k", type=int, default=8)
    pc.add_argument("--out", required=True,
                    help="output dir: projected/ parquet + model.json")
    pc.add_argument("--whiten", action="store_true")
    pc.add_argument("--no-center", action="store_true",
                    help="skip the mean shift (cosine-search projection)")
    pc.add_argument("--master", default=None)

    ck = sub.add_parser(
        "checksum",
        help="order/layout-independent content fingerprint of a parquet "
             "table (count + modular sum of per-row SHA hashes)",
    )
    ck.add_argument("table", help="parquet path, or a testdata table name "
                                  "when --sf-dir is given")
    ck.add_argument("--sf-dir", default=None)
    ck.add_argument("--columns", default=None,
                    help="comma-separated subset (default: all columns)")
    ck.add_argument("--master", default=None)

    me = sub.add_parser(
        "media-features",
        help="ingest a media directory (binaryFile) and write per-modality "
             "feature parquet: image luma/phash (BMP/PNG/baseline JPEG), "
             "audio RMS/spectral/MFCC (PCM WAV), video per-frame pixel "
             "features (GIF)",
    )
    me.add_argument("path", help="media directory")
    me.add_argument("--out", required=True, help="output directory (one "
                                                 "parquet per modality)")
    me.add_argument("--modality", default="all",
                    choices=["all", "image", "audio", "video", "document"])
    me.add_argument("--glob", default=None, help="filename glob pushdown")
    me.add_argument("--fake", action="store_true",
                    help="deterministic stand-in features (no real decode)")
    me.add_argument("--near-dups", action="store_true",
                    help="also write near_dup_pairs: banded phash join "
                         "across image features and video frames")
    me.add_argument("--max-hamming", type=int, default=3)
    me.add_argument("--master", default=None)

    cr = sub.add_parser(
        "crawl",
        help="ingest a directory of WARC files (plain or CommonCrawl "
             "per-record gzip) and write a documents-shaped corpus "
             "parquet: canonical URL key, extracted visible text, "
             "link-density/tag boilerplate signals",
    )
    cr.add_argument("path", help="WARC directory")
    cr.add_argument("--out", required=True, help="output parquet path")
    cr.add_argument("--glob", default="*.warc*")
    cr.add_argument("--min-chars", type=int, default=1)
    cr.add_argument("--max-link-density", type=float, default=None)
    cr.add_argument("--wet-out", default=None,
                    help="also write the extracted text as WET "
                         "(WARC conversion records) to this directory")
    cr.add_argument("--boilerplate", action="store_true",
                    help="per-block content classification instead of "
                         "whole-page tag stripping")
    cr.add_argument("--robots", default=None,
                    help="directory of robots.txt bodies, one file per "
                         "host named <host>.txt; documents whose URL the "
                         "host disallows (RFC 9309, longest match wins) "
                         "are dropped from the corpus")
    cr.add_argument("--user-agent", default="*",
                    help="product token for robots group selection")
    cr.add_argument("--frontier-out", default=None,
                    help="also write the next fetch batch (outlink "
                         "targets not yet fetched, in-degree priority, "
                         "per-host politeness cap) to this parquet path")
    cr.add_argument("--frontier-k", type=int, default=100,
                    help="frontier politeness cap: max URLs per host")
    cr.add_argument("--sitemaps", default=None,
                    help="directory of sitemap XML files (urlset or "
                         "sitemapindex); listed URLs join the frontier "
                         "candidates with the sitemap as referrer, so "
                         "they ride the same in-degree scoring and "
                         "politeness cap as organic links")
    cr.add_argument("--fetched", default=None,
                    help="parquet of previously fetched URLs (a `url` "
                         "column — e.g. prior rounds' --out corpora) to "
                         "exclude from the frontier, closing the crawl "
                         "loop across invocations: round N+1 passes "
                         "round N's output here")
    cr.add_argument("--master", default=None)

    cp = sub.add_parser(
        "corpus",
        help="training-corpus pipeline over a documents parquet "
             "(e.g. `crawl` output): quality gate -> exact dedup -> "
             "near-dup prune [-> DSIR top-k selection] -> split labels; "
             "writes corpus/ plus a per-document drop_reasons/ audit",
    )
    cp.add_argument("input", help="documents parquet (doc_id, text[, lang])")
    cp.add_argument("--out", required=True, help="output directory")
    cp.add_argument("--min-quality", type=float, default=0.5)
    cp.add_argument("--jaccard", type=float, default=0.8,
                    help="near-dup prune threshold")
    cp.add_argument("--dsir-k", type=int, default=None,
                    help="keep only the top-k DSIR importance resample "
                         "toward the --target-lang subcorpus")
    cp.add_argument("--target-lang", default="en",
                    help="DSIR target subcorpus (lang column value)")
    cp.add_argument("--shards", type=int, default=0,
                    help="write corpus/ as N deterministic hash shards "
                         "(shard_id=K/ dirs, within-shard order by the "
                         "sha2 shard key) instead of one flat parquet")
    cp.add_argument("--master", default=None)

    ge = sub.add_parser(
        "generate",
        help="write deterministic synthetic events via the "
             "commerce_events Python DataSource",
    )
    ge.add_argument("--rows", type=int, default=100_000)
    ge.add_argument("--partitions", type=int, default=32)
    ge.add_argument("--users", type=int, default=1000)
    ge.add_argument("--seed", default="gen")
    ge.add_argument("--out", required=True, help="output parquet directory")
    ge.add_argument("--master", default=None)

    args = top.parse_args(argv)
    if args.cmd == "query" and not args.name:
        from commerce_sessionization_spark.plans.queries import FULL_CATALOG

        for qd in FULL_CATALOG:
            print(f"{qd.name:32s} {qd.doc}")
        return 0
    spark = get_spark(app_name=f"csz-{args.cmd}", master=args.master)

    def load(table: str):
        """``table`` by name under ``--sf-dir``, else a parquet path."""
        if args.sf_dir:
            from commerce_sessionization_spark.sources.tables import load_table

            return load_table(spark, args.sf_dir, table)
        return spark.read.parquet(table)

    try:
        if args.cmd == "divide":
            from commerce_sessionization_spark.operators import divide_file

            divide_file(spark, args.input, args.path, shift_days=args.shift_days)
        elif args.cmd == "sessionize":
            from commerce_sessionization_spark.operators import sessionize_hour

            sessionize_hour(spark, args.date, args.hour, args.path)
        elif args.cmd == "backfill":
            from commerce_sessionization_spark.operators import sessionize_hour

            t = datetime.strptime(args.start, "%Y-%m-%d %H")
            end = datetime.strptime(args.end, "%Y-%m-%d %H")
            if end < t:
                top.error("--end before --start")
            while t <= end:
                sessionize_hour(
                    spark, t.strftime("%Y-%m-%d"), t.strftime("%H"), args.path
                )
                t += timedelta(hours=1)
        elif args.cmd == "stream":
            from commerce_sessionization_spark.streaming.pipeline import (
                stream_sessions_to_parquet,
            )

            q = stream_sessions_to_parquet(
                spark,
                args.source,
                args.path,
                args.checkpoint,
                gap_seconds=args.gap_seconds,
                watermark=args.watermark,
                available_now=not args.follow,
            )
            q.awaitTermination()
        elif args.cmd == "query":
            from commerce_sessionization_spark.plans.queries import all_spark_queries

            queries = all_spark_queries()
            if args.name not in queries:
                top.error(f"unknown query {args.name!r} (run with no name to list)")
            df = queries[args.name](spark, args.sf_dir)
            if args.out:
                df.write.mode("overwrite").parquet(args.out)
            else:
                df.show(20, truncate=False)
        elif args.cmd == "explain":
            from commerce_sessionization_spark.plans.queries import all_spark_queries

            queries = all_spark_queries()
            if args.name not in queries:
                top.error(f"unknown query {args.name!r} (run `query` to list)")
            queries[args.name](spark, args.sf_dir).explain(mode=args.mode)
        elif args.cmd == "sql":
            from commerce_sessionization_spark.sources.tables import (
                register_views,
            )

            register_views(spark, args.sf_dir)
            df = spark.sql(args.statement)
            if args.out:
                df.write.mode("overwrite").parquet(args.out)
            else:
                df.show(args.limit, truncate=False)
        elif args.cmd == "crawl":
            from commerce_sessionization_spark.operators.crawl import (
                crawl_to_corpus,
            )
            from commerce_sessionization_spark.sources.io import read_warc_dir

            docs = crawl_to_corpus(
                read_warc_dir(spark, args.path, glob=args.glob),
                min_text_chars=args.min_chars,
                max_link_density=args.max_link_density,
                boilerplate=args.boilerplate,
            )
            if args.robots:
                from pyspark.sql import functions as F

                from commerce_sessionization_spark.operators.robots import (
                    filter_by_robots,
                    parse_robots_df,
                )

                bodies = (
                    spark.read.format("binaryFile")
                    .load(args.robots)
                    .select(
                        F.lower(
                            F.regexp_replace(
                                F.element_at(
                                    F.split(F.col("path"), "/"), -1
                                ),
                                r"\.txt$",
                                "",
                            )
                        ).alias("host"),
                        F.col("content"),
                    )
                )
                rules = parse_robots_df(
                    bodies, user_agent=args.user_agent
                )
                docs = filter_by_robots(docs, rules)
            docs.write.mode("overwrite").parquet(args.out)
            n = spark.read.parquet(args.out).count()
            print(f"wrote {n} documents to {args.out}")
            if args.wet_out:
                from commerce_sessionization_spark.sources.io import (
                    write_wet,
                )

                m = write_wet(
                    spark.read.parquet(args.out), args.wet_out
                ).collect()
                print(
                    f"wrote {sum(r['n_records'] for r in m)} WET records "
                    f"in {len(m)} files to {args.wet_out}"
                )
            if args.frontier_out:
                from pyspark.sql import functions as F

                from commerce_sessionization_spark.operators.crawl import (
                    crawl_frontier,
                    extract_links,
                )
                from commerce_sessionization_spark.operators.urls import (
                    canonical_url,
                )

                pages = read_warc_dir(spark, args.path, glob=args.glob).filter(
                    (F.col("warc_type") == "response")
                    & (F.col("http_status") == 200)
                    & F.col("http_content_type").startswith("text/html")
                ).select(
                    canonical_url(F.col("target_uri")).alias("url"),
                    F.make_valid_utf8(
                        F.col("payload").cast("string")
                    ).alias("html"),
                )
                seen = pages.select("url")
                if args.fetched:
                    # prior rounds' fetches join the anti-join side so a
                    # multi-invocation crawl never re-emits an old URL
                    seen = seen.unionByName(
                        spark.read.parquet(args.fetched).select("url")
                    )
                cand = extract_links(pages, "html", "url").select(
                    "src", "dst"
                )
                if args.sitemaps:
                    from pyspark.sql import functions as _SF

                    from commerce_sessionization_spark.operators.sitemaps import (  # noqa: E501
                        parse_sitemaps,
                        sitemap_frontier_candidates,
                    )

                    bodies = (
                        spark.read.option("wholetext", "true")
                        .text(args.sitemaps)
                        .select(
                            _SF.input_file_name().alias("sitemap_url"),
                            _SF.col("value").alias("content"),
                        )
                    )
                    cand = cand.unionByName(
                        sitemap_frontier_candidates(parse_sitemaps(bodies))
                    )
                frontier = crawl_frontier(
                    cand,
                    seen,
                    per_host_k=args.frontier_k,
                )
                frontier.write.mode("overwrite").parquet(args.frontier_out)
                nf = spark.read.parquet(args.frontier_out).count()
                print(f"wrote {nf} frontier URLs to {args.frontier_out}")
        elif args.cmd == "corpus":
            from pyspark.sql import functions as F

            from commerce_sessionization_spark.operators.sampling import (
                corpus_pipeline,
            )

            docs = spark.read.parquet(args.input)
            if args.dsir_k and "lang" not in docs.columns:
                top.error("--dsir-k needs a `lang` column for the target")
            stages = corpus_pipeline(
                docs,
                min_quality=args.min_quality,
                jaccard=args.jaccard,
                dsir_k=args.dsir_k,
                target_lang=args.target_lang,
                audit=True,
            )
            # the input's columns and the label, without DSIR's weights
            corpus = stages.corpus.select(*docs.columns, "split")
            if args.shards:
                from commerce_sessionization_spark.operators.layout import (
                    write_shards,
                )

                write_shards(corpus, f"{args.out}/corpus",
                             n_shards=args.shards)
            else:
                corpus.write.mode("overwrite").parquet(f"{args.out}/corpus")
            reasons = stages.drop_status()
            reasons.write.mode("overwrite").parquet(
                f"{args.out}/drop_reasons"
            )
            tally = {
                r["status"]: r["n"]
                for r in reasons.groupBy("status")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            print(f"corpus: {corpus.count()} docs kept; drops: {tally}")
        elif args.cmd == "generate":
            from commerce_sessionization_spark.sources.generator import (
                register as register_generator,
            )

            register_generator(spark)
            (
                spark.read.format("commerce_events")
                .option("rows", args.rows)
                .option("partitions", args.partitions)
                .option("users", args.users)
                .option("seed", args.seed)
                .load()
                .write.mode("overwrite")
                .parquet(args.out)
            )
            print(f"generated {args.rows} events -> {args.out}")
        elif args.cmd == "checksum":
            from pyspark.sql import functions as F

            from commerce_sessionization_spark.functions.hashing import (
                hex_to_long,
            )

            df = load(args.table)
            names = (
                [c.strip() for c in args.columns.split(",")]
                if args.columns
                else df.columns
            )
            pre = F.concat_ws(
                "\x01",
                *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                  for c in names],
            )
            row = df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.pmod(
                    F.sum(hex_to_long(F.sha2(pre, 256)).cast("decimal(38,0)")),
                    F.lit(2 ** 60).cast("decimal(38,0)"),
                ).cast("long").alias("checksum"),
            ).collect()[0]
            print(f"rows={row['n_rows']} checksum={row['checksum']} "
                  f"columns={','.join(names)}")
        elif args.cmd == "profile":
            from pyspark.sql import functions as F

            from commerce_sessionization_spark.operators.dq import profile_columns

            df = load(args.table)
            names = (
                [c.strip() for c in args.columns.split(",")]
                if args.columns
                else df.columns
            )
            prof = profile_columns(
                df, [(c, F.col(c)) for c in names], approx_ndv=args.approx
            )
            prof.show(len(names) + 1, truncate=False)
        elif args.cmd == "skew":
            from commerce_sessionization_spark.operators.dq import (
                key_skew_stats,
            )

            df = load(args.table)
            keys = [c.strip() for c in args.key.split(",")]
            key_skew_stats(df, keys, top_k=args.top_k).show(
                1, truncate=False, vertical=True
            )
            if args.blocking_audit:
                from commerce_sessionization_spark.operators.dq import (
                    blocking_key_audit,
                )

                blocking_key_audit(df, keys).show(
                    1, truncate=False, vertical=True
                )
        elif args.cmd == "split":
            from commerce_sessionization_spark.operators.dedup import (
                ngram_jaccard_pairs,
            )
            from commerce_sessionization_spark.operators.sampling import (
                hash_split,
                leakage_safe_split,
            )

            df = load(args.table)
            if args.leakage_safe:
                pairs = ngram_jaccard_pairs(
                    df, n=3, threshold=args.threshold,
                    id_col=args.id_col, text_col=args.text_col,
                )
                out = leakage_safe_split(df, pairs, id_col=args.id_col)
                cols = [args.id_col, "component_id", "split"]
            else:
                out = hash_split(df, args.id_col)
                cols = [args.id_col, "split"]
            result = out.select(*cols)
            if args.out:
                result.write.mode("overwrite").parquet(args.out)
                print(f"wrote {args.out}")
            else:
                result.groupBy("split").count().orderBy("split").show()
        elif args.cmd == "mixture":
            from pyspark.sql import functions as F

            from commerce_sessionization_spark.operators.sampling import (
                mixture_waterfill,
            )

            df = load(args.table)
            avail = df.groupBy(F.col(args.domain).alias("domain")).agg(
                F.sum(args.size).alias("available"),
                F.count(F.lit(1)).alias("_c"),
            )
            # integer ppm targets ∝ count^T via the decimal-snapped
            # pow/sum (the domain_temperature_sample float discipline)
            denom = avail.agg(
                F.sum(
                    F.pow(F.col("_c").cast("double"), F.lit(args.temperature))
                    .cast("decimal(28,12)")
                ).cast("double").alias("_s")
            )
            targets = avail.crossJoin(F.broadcast(denom)).select(
                "domain",
                "available",
                F.floor(
                    F.lit(1000000.0)
                    * F.pow(F.col("_c").cast("double"),
                            F.lit(args.temperature))
                    / F.col("_s")
                ).cast("long").alias("target_ppm"),
            )
            budget = spark.range(1).select(
                F.lit(args.budget).cast("long").alias("budget")
            )
            mixture_waterfill(targets, budget).orderBy(
                F.desc("alloc_tokens")
            ).show(truncate=False)
        elif args.cmd == "drift":
            from commerce_sessionization_spark.operators.dq import (
                data_drift_psi,
            )

            cols = [c.strip() for c in args.columns.split(",")]
            data_drift_psi(
                load(args.ref), load(args.cur), cols, buckets=args.buckets
            ).orderBy("column").show(truncate=False)
        elif args.cmd == "pca":
            import json as _json

            from commerce_sessionization_spark.operators.ml import (
                pca_fit,
                pca_project,
            )

            df = load(args.table)
            comps, mean, ev = pca_fit(df, vec_col=args.vec_col, k=args.k)
            projected = pca_project(
                df,
                comps,
                mean,
                vec_col=args.vec_col,
                center=not args.no_center,
                explained_variance=ev if args.whiten else None,
            )
            projected.write.mode("overwrite").parquet(f"{args.out}/projected")
            total_var = float(ev.sum())
            model = {
                "k": int(args.k),
                "dim": len(mean),
                "components": [[float(x) for x in c] for c in comps],
                "mean": [float(m) for m in mean],
                "explained_variance": [float(v) for v in ev],
                "whiten": bool(args.whiten),
                "center": not args.no_center,
            }
            import pathlib

            pathlib.Path(args.out).mkdir(parents=True, exist_ok=True)
            with open(f"{args.out}/model.json", "w") as fh:
                _json.dump(model, fh)
            print(
                f"pca: k={args.k} dim={len(mean)} "
                f"top_ev={float(ev[0]):.6g} sum_ev={total_var:.6g} "
                f"-> {args.out}"
            )
        elif args.cmd == "media-features":
            from pyspark.sql import functions as F

            from commerce_sessionization_spark.operators import (
                extract_audio_features,
                extract_audio_mfcc,
                extract_container_metadata,
                extract_image_features,
                extract_image_metadata,
                extract_video_frame_features,
                sample_video_frames,
            )
            from commerce_sessionization_spark.operators.multimodal import (
                DECODABLE_AUDIO_MIMES,
                DECODABLE_IMAGE_MIMES,
                DECODABLE_VIDEO_MIMES,
            )
            from commerce_sessionization_spark.sources import read_media_dir

            media = read_media_dir(spark, args.path, glob=args.glob)
            media.persist()

            def decodable(mimes):
                # sample decode is mime-gated; container metadata is not
                if args.fake:
                    return media
                return media.filter(F.col("mime_type").isin(*mimes))

            try:
                wrote = []
                extract_container_metadata(media, fake=args.fake)\
                    .write.mode("overwrite")\
                    .parquet(f"{args.out}/container_metadata")
                wrote.append("container_metadata")
                if args.modality in ("all", "image"):
                    extract_image_features(
                        decodable(DECODABLE_IMAGE_MIMES), fake=args.fake
                    ).write.mode("overwrite")\
                        .parquet(f"{args.out}/image_features")
                    extract_image_metadata(media, fake=args.fake)\
                        .write.mode("overwrite")\
                        .parquet(f"{args.out}/image_metadata")
                    wrote += ["image_features", "image_metadata"]
                if args.modality in ("all", "audio"):
                    extract_audio_features(
                        decodable(DECODABLE_AUDIO_MIMES), fake=args.fake
                    ).write.mode("overwrite")\
                        .parquet(f"{args.out}/audio_features")
                    extract_audio_mfcc(
                        decodable(DECODABLE_AUDIO_MIMES), fake=args.fake
                    ).write.mode("overwrite")\
                        .parquet(f"{args.out}/audio_mfcc")
                    wrote += ["audio_features", "audio_mfcc"]
                if args.modality in ("all", "video"):
                    extract_video_frame_features(
                        decodable(DECODABLE_VIDEO_MIMES), fake=args.fake
                    ).write.mode("overwrite")\
                        .parquet(f"{args.out}/video_frame_features")
                    # fingerprint sampling additionally handles MP4 sync
                    # samples (stbl index), no pixel decode required
                    sample_video_frames(
                        decodable(
                            DECODABLE_VIDEO_MIMES
                            | {"video/mp4", "video/quicktime"}
                        ),
                        fake=args.fake,
                    ).write.mode("overwrite")\
                        .parquet(f"{args.out}/video_frame_samples")
                    wrote += ["video_frame_features", "video_frame_samples"]
                if args.modality in ("all", "document") and not args.fake:
                    from commerce_sessionization_spark.operators import (
                        extract_document_text,
                    )

                    extract_document_text(media)\
                        .write.mode("overwrite")\
                        .parquet(f"{args.out}/document_text")
                    wrote.append("document_text")
                if args.near_dups:
                    from pyspark.sql import functions as F

                    from commerce_sessionization_spark.operators import (
                        phash_near_dup_pairs,
                    )

                    hashes = []
                    if "image_features" in wrote:
                        hashes.append(
                            spark.read.parquet(f"{args.out}/image_features")
                            .select("asset_id", "phash")
                        )
                    if "video_frame_features" in wrote:
                        hashes.append(
                            spark.read.parquet(
                                f"{args.out}/video_frame_features"
                            ).select(
                                F.xxhash64("asset_id", "frame_idx").alias(
                                    "asset_id"
                                ),
                                "phash",
                            )
                        )
                    if hashes:
                        allhash = hashes[0]
                        for h in hashes[1:]:
                            allhash = allhash.unionByName(h)
                        phash_near_dup_pairs(
                            allhash, max_hamming=args.max_hamming
                        ).write.mode("overwrite").parquet(
                            f"{args.out}/near_dup_pairs"
                        )
                        wrote.append("near_dup_pairs")
            finally:
                media.unpersist()
            print(f"wrote {', '.join(wrote)} under {args.out}")
        elif args.cmd == "compact":
            from commerce_sessionization_spark.sources.io import compact_partition

            schema = spark.read.parquet(args.path).schema
            n = compact_partition(
                spark, args.path, schema,
                target_bytes=args.target_mb * 1024 * 1024,
            )
            print(f"compacted {args.path} -> {n} file(s)")
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
