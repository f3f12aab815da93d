"""Physical-plan audits: the plan properties we rely on for 100 TB scale,
asserted on the real optimized plans so regressions fail CI, not the
cluster.

Each test captures ``df.explain(mode="formatted")`` and checks:
- filters reach the parquet scan (PushedFilters / PartitionFilters)
- scans read only referenced columns (ReadSchema)
- dimension joins broadcast (BroadcastHashJoin, no SortMergeJoin)
- the sessionization window chain costs exactly one exchange
- hot paths stay inside WholeStageCodegen
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from pyspark.sql import functions as F

from commerce_sessionization_spark.operators.sessions import sessionize
from commerce_sessionization_spark.plans.queries import all_spark_queries
from commerce_sessionization_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def node_count(plan: str, node: str) -> int:
    """Count physical nodes by their numbered detail header (formatted mode
    prints each node once in the tree and once in the details)."""
    return len(re.findall(rf"\(\d+\) {node}", plan))


@pytest.fixture(scope="module")
def queries():
    return all_spark_queries()


def test_filter_pushdown_reaches_scan(spark, queries):
    plan = plan_of(queries["pricing_summary"](spark, SF_DIR))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "l_shipdate" in m.group(1), plan


def test_column_pruning(spark, queries):
    plan = plan_of(queries["pricing_summary"](spark, SF_DIR))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    # Q1 needs 7 of lineitem's 16 columns — nothing else may be read
    assert cols == {
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }, cols


def test_star_join_broadcasts_dims(spark, queries):
    plan = plan_of(queries["revenue_by_nation"](spark, SF_DIR))
    assert node_count(plan, "BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan


def test_supplier_part_join_broadcasts_and_pushes_dim_filter(spark, queries):
    plan = plan_of(queries["supplier_part_join"](spark, SF_DIR))
    assert node_count(plan, "BroadcastHashJoin") == 2, plan
    assert re.search(r"PushedFilters: \[[^\]]*p_size[^\]]*\]", plan), plan


def test_sessionize_costs_one_exchange(spark):
    """The whole lag→seed→forward-fill chain must collapse into ONE window
    exchange on user_id (the reference relies on the same collapse,
    SURVEY §4 'Window execution')."""
    ev = load_table(spark, SF_DIR, "events")
    plan = plan_of(sessionize(ev, order_cols=("event_id",)))
    exchanges = re.findall(r"\(\d+\) Exchange\n[^\n]*\nArguments: (\w+)", plan)
    assert len(exchanges) == 1, plan
    assert "hashpartitioning" in exchanges[0], plan
    # two Window nodes are expected (the forward-fill consumes the lag
    # output so they cannot fuse) but they must share ONE exchange+sort
    assert node_count(plan, "Window") <= 2, plan
    assert node_count(plan, "Sort") == 1, plan


def test_partition_pruning_on_hive_layout(spark, tmp_path):
    """Equality filters on (event_date, event_hour) must become
    PartitionFilters — scanning one hour of a year-long table touches one
    directory, the property the hourly job's cost model depends on."""
    base = str(tmp_path / "part")
    rows = [(f"2019-10-0{d} 10:00:00 UTC", 1, f"2019-10-0{d}", "10") for d in (1, 2)]
    df = spark.createDataFrame(rows, "event_time string, user_id long, event_date string, event_hour string")
    df.write.partitionBy("event_date", "event_hour").parquet(base)
    got = (
        spark.read.parquet(base)
        .filter((F.col("event_date") == "2019-10-01") & (F.col("event_hour") == "10"))
    )
    plan = plan_of(got)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_date" in m.group(1) and "event_hour" in m.group(1), plan


def test_hot_paths_stay_jvm_side(spark, queries):
    """No Python evaluation nodes in the declared-query hot paths: a stray
    row-at-a-time UDF would appear as BatchEvalPython (or Arrow/Pandas
    variants) and cost 10-100x at scale. (AQE hides codegen stars until the
    final plan, so absence-of-Python is the statically checkable property.)"""
    python_nodes = ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
                    "MapInPandas", "PythonMapInArrow")
    for name in ("sessionize_events", "pricing_summary", "doc_stats",
                 "minhash_lsh_pairs", "knn_cosine"):
        plan = plan_of(queries[name](spark, SF_DIR))
        for node in python_nodes:
            assert node not in plan, f"{name} routes through {node}:\n{plan}"


def test_knn_does_not_shuffle_corpus(spark, queries):
    """Brute-force top-k must be scan → local TakeOrdered → single-partition
    merge; a hashpartitioning exchange of the corpus would be a bug."""
    plan = plan_of(queries["knn_cosine"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert not re.search(r"Exchange hashpartitioning\([^)]*vec_id", plan), plan


def test_decontam_broadcasts_benchmark_not_corpus(spark, queries):
    """The benchmark shingle set (bounded: it's an eval suite) broadcasts;
    the training corpus must NOT appear under a broadcast exchange — at
    100 TB the train side only streams map-side through the join."""
    plan = plan_of(queries["ngram_decontaminate"](spark, SF_DIR))
    assert node_count(plan, "BroadcastHashJoin") >= 1
    assert node_count(plan, "SortMergeJoin") == 0


def test_bloom_probe_broadcasts_bits(spark, queries):
    """The bloom bit table (≤ m rows by construction) broadcasts to the
    probe side; the probe side never sort-merge-joins the filter."""
    plan = plan_of(queries["bloom_membership"](spark, SF_DIR))
    assert node_count(plan, "BroadcastHashJoin") >= 1
    assert node_count(plan, "SortMergeJoin") == 0


def test_repetition_scores_single_scan(spark, queries):
    """All three gram sizes ride one tagged array: exactly ONE corpus scan
    reading only (doc_id, text) — no per-gram-size re-scan."""
    plan = plan_of(queries["repetition_scores"](spark, SF_DIR))
    assert node_count(plan, "Scan parquet") == 1
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(c.split(":")[0] for c in m.group(1).split(",")) == {
        "doc_id", "text"}


def test_pii_scrub_stays_jvm_side(spark, queries):
    """Regex scrub is pure column expressions — no Python eval nodes, no
    shuffle at all (scan → project)."""
    plan = plan_of(queries["pii_scrub"](spark, SF_DIR))
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan
    assert node_count(plan, "Exchange") == 0


def test_frontier_rank_prunes_map_side(spark, queries):
    """The frontier's per-host top-k relies on Catalyst's
    InferWindowGroupLimit for hot-host safety: a PARTIAL
    WindowGroupLimit must sit below the host exchange, so every map
    task pre-prunes its slice to k rows per host and a link-farm host
    never concentrates in one reducer (measured 1.01 vs 397× max/median
    shuffle-read with the rule excluded — tools/frontier_skew_probe.py).
    If a Spark upgrade renames or drops the rule, the operator's skew
    story is void and this fails."""
    plan = plan_of(queries["crawl_frontier"](spark, SF_DIR))
    assert "WindowGroupLimit" in plan, plan
    assert "row_number(), 5, Partial" in plan, plan


def test_window_value_suite_single_exchange_and_window(spark, queries):
    """Four window functions over two frame variants of one spec must fuse:
    one Exchange, one Sort, ONE Window node."""
    plan = plan_of(queries["window_value_suite"](spark, SF_DIR))
    assert node_count(plan, "Exchange") == 1
    assert node_count(plan, "Sort") == 1
    assert node_count(plan, "Window") == 1


#: queries that INTENTIONALLY contain a broadcast nested-loop / cross join
#: of a 1-row (or sketch-sized) side — scalar thresholds, corpus totals,
#: broadcast query vectors. Everything else must be free of cartesian
#: shapes: an unlisted BNLJ is an accidental cross join waiting for scale.
_INTENDED_LOOP_JOINS = {
    "knn_cosine",              # broadcast query vector vs corpus
    "centroid_topk",           # broadcast probe centroids
    "embedding_dedup_pairs",   # exhaustive verifier (documented baseline)
    "kmv_set_overlap",         # 1-row tau / exact scalars
    "histogram_quantile_sketch",  # 1-row total count
    "value_percentiles",       # 1-row percentile thresholds
    "small_quantity_revenue",  # Q17 scalar-average join-back
    "idle_rich_customers",     # Q22 scalar threshold
    "top_supplier_revenue",    # Q15 scalar max join-back
    "bigram_pmi",              # 1-row corpus totals
    "unigram_logprob",         # 1-row corpus totals
    "tf_idf",                  # 1-row corpus size
    "bloom_membership",        # bounded bit-table probe
    "lang_centroids",          # small centroid cross
    "promo_revenue",           # scalar ratio
    # synthetic-partsupp suite: each crossJoins the 1-row supplier-count
    # scalar (partsupp derivation); important_stock adds the 1-row
    # global-total threshold — all bounded broadcast scalars
    "min_cost_supplier",
    "product_type_profit",
    "important_stock",
    "promotable_suppliers",
    "market_share",            # per-year scalar share
    "session_funnel",          # scalar conversion base
    "rfm_segments",            # 1-row recency anchor (global max date)
    "decayed_popularity",      # 1-row decay anchor (global max ts)
    "market_basket_rules",     # 1-row basket-count scalar
    "kmv_distinct_users",      # sketch-sized
    "hll_distinct_users",      # sketch-sized
    "hll_union_types",         # sketch-sized
    "cms_heavy_hitters",       # sketch-sized cells
    "llm_corpus_pipeline",     # composes the above
    "embedding_bucket_pairs",  # plane matrix broadcast
    "pagerank_neardup",        # 1-row dangling mass per round
    "hits_copurchase",         # 1-row L1 normalizer, 2 per round
    "stratified_sample_docs",  # per-stratum scalar caps
    "order_count_distribution",  # Q13 scalar
    "hash_sample_docs",
    "train_test_split",
    "bm25_search",             # 1-row corpus stats (N, total_len) anchor
    "hybrid_search_rrf",       # the same anchor ×2 (bm25 + tfidf rankers)
    "bigram_logprob_scores",   # 1-row vocabulary-size anchor
    "event_gapfill_interp",    # 1-row global bucket-range anchor
    "domain_mixture_sample",   # 1-row corpus totals anchor
    "domain_temperature_sample",  # 1-row sqrt-denominator anchor
    "mixture_waterfill",       # 1-row denom / totals×budget / residual anchors
    "mixture_sample_plan",     # composes mixture_waterfill's scalar anchors
    "gdpr_purge_audit",        # three 1-row (total x purged) count crosses
    "semdedup_prune",          # broadcast 16-row seed centroids (×3 refs)
    "sq_topk",                 # 1-row bounds + 1-row query-code broadcasts
    "priority_target_encoding",  # 1-row global prior broadcast
    "bloom_pruned_order_revenue",  # 1-row bloom bitmap broadcast probe
    "cms_join_size",           # 1-row exact-size scalar rides along
    "priority_price_quantiles",  # percentile literals x per-group totals
    "events_key_skew",         # 1-row summary x 1-row top-k fold
    "dsir_weights",            # 1-row Nt / Nr corpus-total anchors
    "dsir_resample",           # same weights pass feeds the top-k
    "llm_corpus_dsir_pipeline",  # composes dsir_weights' scalar anchors
    "embedding_covariance",    # 1-row n (vector count) anchor
    "stream_vector_stats",     # the same 1-row n anchor on the maintained state
    "mmr_diverse_topk",        # broadcast 3-row query vectors (all_pairs_topk)
    "mmr_diverse_topk_fast",   # same broadcast queries, double-path twin
    "compressed_retrieval_pipeline",  # 1-row bounds + 8-row centroid +
    # 3-row query broadcasts (sq_encode / ivf_assign / probe ranking)
    "hard_negatives",          # broadcast 3-row anchor vectors
    "ivf_batch_topk",          # broadcast 3-row queries x 8-row centroid probe
    "centroid_confusion",      # broadcast 10-row label-centroid table
    # round-9 additions
    "semantic_decontaminate",  # broadcast bounded benchmark split
    "unigram_logprob_quality",  # 1-row corpus-total anchor
    "stream_centroid_refit",   # broadcast 8-row pinned seed centroids
    "lineitem_zorder_keys",    # 1-row per-column min/max bounds anchor
}


def test_no_accidental_cartesian_joins(spark):
    """Plan-lint EVERY catalog query: a CartesianProduct or
    BroadcastNestedLoopJoin outside the explicit allowlist is a scale
    accident (usually a missing join key or a silently-true condition).
    The same plans must also reproduce every committed PLANS.md row, so
    a plan change cannot land without regenerating the audit
    (`python tools/gen_plan_report.py`)."""
    import sys
    from pathlib import Path

    from commerce_sessionization_spark.plans.queries import FULL_CATALOG

    tools = Path(__file__).resolve().parent.parent / "tools"
    sys.path.insert(0, str(tools))
    from gen_plan_report import plan_row

    committed = {
        line.split("`")[1]: line
        for line in (tools.parent / "PLANS.md").read_text().splitlines()
        if line.startswith("| `")
    }
    offenders = {}
    stale = {}
    for q in FULL_CATALOG:
        plan = plan_of(q.spark(spark, SF_DIR))
        loops = node_count(plan, "CartesianProduct") + node_count(
            plan, "BroadcastNestedLoopJoin"
        )
        if loops and q.name not in _INTENDED_LOOP_JOINS:
            offenders[q.name] = loops
        row = plan_row(q.name, plan)
        if committed.get(q.name) != row:
            stale[q.name] = (committed.get(q.name), row)
    assert not offenders, f"unexpected cartesian shapes: {offenders}"
    assert not stale, f"PLANS.md rows differ from the plans: {stale}"
    assert set(committed) == {q.name for q in FULL_CATALOG}


def test_aqe_splits_skewed_join_partition(spark):
    """session.get_spark turns on AQE skew-join handling; this pins that
    it actually FIRES: a 90%-one-key join (thresholds lowered to unit-
    test scale) must show skew=true splits in the final adaptive plan.
    If a Spark upgrade renames the marker or the conf stops working,
    the engine's documented skew story is void and this fails."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "64k",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k"
        )
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2"
        )
        left = spark.range(200_000).select(
            F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("x" * 50), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), F.lit("r").alias("rv")
        )
        j = left.join(right, "k")
        j.collect()  # same DataFrame instance -> final adaptive plan
        plan = plan_of(j)
        assert "isFinalPlan=true" in plan
        assert plan.count("skew=true") >= 1, plan[:2000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_phrase_search_zero_shuffle(spark, queries):
    """Phrase matching must stay a pure narrow scan: positions filter
    inside the token array (higher-order function), nothing shuffles."""
    plan = plan_of(queries["phrase_search"](spark, SF_DIR))
    assert node_count(plan, "Exchange") == 0, plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan


def test_quality_classifier_broadcasts_model(spark, queries):
    """The 256-row weight table broadcasts; the corpus side never
    sort-merge-joins the model."""
    plan = plan_of(queries["quality_classifier_scores"](spark, SF_DIR))
    assert node_count(plan, "BroadcastHashJoin") >= 1
    assert node_count(plan, "SortMergeJoin") == 0


def test_domain_mixture_broadcasts_rate_table(spark, queries):
    """The S-row per-source rate table broadcasts back onto the corpus —
    the corpus itself must not shuffle for the gate."""
    plan = plan_of(queries["domain_mixture_sample"](spark, SF_DIR))
    assert node_count(plan, "BroadcastHashJoin") >= 1
    assert node_count(plan, "SortMergeJoin") == 0


def test_funnel_single_exchange(spark, queries):
    """The three funnel stages chain through windows over one user_id
    partitioning + a groupBy on the same key: exactly ONE exchange."""
    plan = plan_of(queries["conversion_funnel_24h"](spark, SF_DIR))
    assert node_count(plan, "Exchange") == 1, plan


def test_hopping_window_expands_before_partial_agg(spark, queries):
    """The 6h/2h hopping window assigns via ONE Expand node collapsed by
    a partial HashAggregate in the same stage — the shuffle carries
    (window, type) states, never the 3x-expanded events, and no self-
    union/join materializes the overlap."""
    plan = plan_of(queries["hopping_window_stats"](spark, SF_DIR))
    assert node_count(plan, "Expand") == 1, plan
    assert node_count(plan, "Exchange") == 1, plan
    # partial + final aggregate pair around the single exchange
    assert node_count(plan, "HashAggregate") == 2, plan
    assert "Join" not in plan and "Union" not in plan, plan


def test_filter_by_robots_no_corpus_shuffle(spark, queries):
    """The robots decision is per-row: the corpus side must not shuffle
    and must not sort. The ONLY Exchange allowed is the host-bounded
    rules aggregation (then broadcast); the per-row argmax is array-land
    higher-order functions, so zero Window nodes. This pins the round-6
    rewrite away from the Window.partitionBy(monotonically_increasing_id)
    shape, which exchanged the full corpus once per decision."""
    plan = plan_of(queries["robots_filtered_urls"](spark, SF_DIR))
    assert node_count(plan, "Window") == 0, plan
    assert node_count(plan, "BroadcastHashJoin") == 1, plan
    exchanges = re.findall(
        r"\(\d+\) Exchange\n[^\n]*\nArguments: ([^\n]*)", plan
    )
    assert len(exchanges) == 1, plan  # rules groupBy(host) only
    assert "host" in exchanges[0] and "doc_id" not in exchanges[0], plan
