"""Catalog contract guards: the driver grades exactly the first 50
entries of ``queries()``, so CATALOG's size and family coverage are
load-bearing — a careless reorder would silently drop an operator family
out of the graded window.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

from commerce_sessionization_spark.plans.queries import (
    CATALOG,
    EXTENDED_CATALOG,
    FULL_CATALOG,
)

#: one representative per operator family that must stay driver-visible
REQUIRED_IN_DRIVER_WINDOW = {
    "sessionize_events",          # flagship reference parity
    "user_event_sequence",        # A1 collect_list parity
    "asof_purchase_last_view",    # as-of join
    "order_lineitem_range_join",  # range join
    "pricing_summary",            # TPC-H scan+agg
    "revenue_by_nation",          # star join
    "order_cube",                 # grouping sets
    "language_id",                # language ID
    "tf_idf",                     # tokens
    # round-9 rotation: bigram_pmi + repetition_scores -> EXTENDED
    # after 6 green grades each; the token-statistics shape stays
    # graded via tf_idf (their slots fund the linear-algebra family).
    "pii_scrub",                  # PII scrubbing
    # round-9 rotation: ngram_decontaminate -> EXTENDED after 6 green
    # grades; round-10 rotation: substring_decontaminate -> EXTENDED
    # after its r9 green grade — the decontamination family's window
    # rep is now the embedding-space tier (paraphrase leakage).
    "semantic_decontaminate",     # decontamination (embedding tier)
    # round-8 second swap: exact_dedup_docs -> EXTENDED; the streaming
    # ingest maintainer grades a strict superset of its argmin shape
    "stream_ingest_dedup",        # exact dedup via the MVCC maintainer
    # round-9 rotation: minhash_lsh_pairs -> EXTENDED after 7 green
    # grades; round-10: prefix_jaccard_pairs -> EXTENDED after its r9
    # green grade (the exhaustive-Jaccard oracle stays checked there).
    # The near-dup similarity family's graded reps this round are the
    # ANN/retrieval tier below plus the dedup sentinels above.
    # round-9 rotation: dedup_components -> EXTENDED after 7 green
    # grades; the CC shape replays inside customer_entity_resolution's
    # graded oracle (blocking + verify + connected components).
    # round-8 third swap: segment_dedup_docs -> EXTENDED; the substring
    # tier grades a strict superset of its plan (dup-set agg + anti-join
    # + ordered reassembly, plus sliding-gram interval union).
    "exact_substring_dedup",      # ExactSubstr substring-level dedup
    # round-9 rotation: knn_cosine -> EXTENDED after 7 green grades;
    # round-10: hard_negatives -> EXTENDED after its r9 green grade —
    # its broadcast-anchor cosine top-k shape replays inside the two
    # graded retrieval queries below.
    "ivf_batch_topk",             # batched IVF == brute-force identity
    "compressed_retrieval_pipeline",  # composed SQ+IVF+MMR chain
    "cms_heavy_hitters",          # count-min sketch
    # round-8 third swap: stratified_sample_docs -> EXTENDED; the
    # temperature sampler is the same per-stratum hash gate with
    # temperature-scaled (non-uniform) keep rates — a strict
    # generalization.
    "domain_temperature_sample",  # sampling (temperature domain mixing)
    # round-6 rotation: the round-5 crawl/quality families rotate into
    # the graded window (displaced near-duplicates — quality_scores,
    # session_stats, value_percentiles, idle_rich_customers,
    # bloom_membership — stay oracle-checked in EXTENDED; the CATALOG
    # comment beside gopher_doc_flags maps each shape to where it
    # remains graded)
    "gopher_doc_flags",           # Gopher quality gates (text quality)
    "c4_filtered_docs",           # C4 line-level cleaning
    "robots_filtered_urls",       # RFC 9309 robots decision
    # round-8 third swap: doc_outlinks -> EXTENDED; crawl_frontier calls
    # extract_links on its page set so the edge-builder shape replays
    # verbatim inside a graded query.
    # round-9 rotation: sitemap_urls -> EXTENDED (graded r8); the crawl
    # family keeps warc/robots/html + the streaming frontier maintainer.
    # round-6 second swap: the WARC/WET IO loop graded by value
    # (event_props_extract to EXTENDED; JSON shape stays oracle-checked
    # via props_variant_stats)
    "warc_roundtrip_checksums",   # crawl IO round trip
    # round-3 rotation: families that had no driver-graded representative
    # (their near-duplicate predecessors moved to EXTENDED_CATALOG:
    # sql_session_stats ~ session_stats, lang_distribution ~ language_id,
    # doc_fingerprints ~ exact_dedup_docs, simhash_fingerprints is a
    # sub-computation of simhash_pairs)
    # round-8 third swap: pagerank_neardup -> EXTENDED (decimal
    # power-iteration shape stays oracle-checked there); HITS grades the
    # same loop plus dual-state alternating normalization. The family
    # keeps part_hop_distances + triangle_counts graded.
    # round-9 rotation: hits_copurchase -> EXTENDED (graded r8); the
    # decimal power-iteration loop stays graded via ppr + wpagerank,
    # which add seeded-teleport and edge-weight semantics.
    # round-10 rotation: ppr_copurchase + wpagerank_copurchase ->
    # EXTENDED after their r9 green grades; the iterative-graph family
    # keeps part_hop_distances + triangle_counts graded (below).
    # round-9 rotation: hourly_rollup_merge -> EXTENDED after 5 green
    # grades; the merge-law family stays graded via the three MVCC
    # streaming maintainers below.
    # round-10 rotation: orders_drift_psi -> EXTENDED after its r9
    # green grade; stream_drift_psi carries the IDENTICAL oracle SQL.
    "stream_drift_psi",           # PSI drift audit, MVCC-maintained
    "events_key_skew",            # join-key skew diagnostic (r9 red
                                  # fixed this round — must re-grade)
    # round-10 rotation: embedding_covariance / label_centroids /
    # centroid_confusion / stream_vector_stats -> EXTENDED after their
    # r9 green grades; the exact-decimal linear-algebra + maintainer
    # family's graded rep is the streaming refit (its oracle replays
    # the grouped-mean AND the cosine E-step).
    "stream_centroid_refit",      # streaming k-means/IVF refit
    "mmr_diverse_topk",           # MMR re-rank (value-oracled r10 —
                                  # r9 red fixed, must re-grade)
    "unigram_logprob_quality",    # CCNet unigram-LM quality proxy
    "blocking_key_audit",         # ER blocking pre-flight bound
    "lineitem_zorder_keys",       # z-order layout key math
    # round-10 rotation: corpus_shard_manifest + stream_crawl_frontier
    # -> EXTENDED after their r9 green grades (crawl family keeps
    # warc/robots/html sentinels; shard placement-key discipline
    # replays inside hash_sample_docs' gate).
    "hash_sample_docs",           # deterministic Bernoulli sampler
    "doc_encoding_readability",   # encoding/readability triage
    "hll_registers",              # mergeable HLL sketch state
    "returned_items",             # Q10 revenue top-k shape
    "market_share",               # Q8 snowflake, double-role dim join
    # round-3 continued rotation: four new first-class families promoted
    # (displacing near-duplicates: session_funnel ~ session_pattern_match
    # semantics via user_event_sequence, token_histogram ~ tf_idf,
    # embedding_dedup_pairs ~ knn/centroid ANN reps, hll_distinct_users ~
    # kmv_distinct_users estimate family — all still oracle-checked in
    # EXTENDED_CATALOG)
    # round-9 rotation: chunk_documents -> EXTENDED after 5 green
    # grades; chunking stays graded via sentence_chunks + pack_sequences.
    "pack_sequences",             # tier-b next-fit sequence packing
    "pq_adc_topk",                # product-quantization ANN
    "triangle_counts",            # graph analytics (clustering coeff)
    # second swap: search-ranking family in, Q19 to EXTENDED (the OR-of-
    # ANDs shape stays oracle-checked there; TPC-H keeps 10 graded reps)
    # round-8 third swap: bm25_search -> EXTENDED; RRF re-derives the
    # full BM25 ranking as one fused leg (strict superset) and adds the
    # rank-join fusion shape.
    "hybrid_search_rrf",          # BM25 + TF-IDF reciprocal-rank fusion
    # third swap: privacy family in, ngram_jaccard_pairs to EXTENDED
    # (minhash_lsh_pairs carries the identical exhaustive-Jaccard oracle,
    # so that shape stays driver-graded)
    "k_anonymized_customers",     # anonymization / privacy release
    # round-4 swap: centroid_topk to EXTENDED (its oracle and output are
    # identical to knn_cosine's — exhaustive probe == brute force), the
    # slot goes to the new time-series resampling family
    "event_gapfill_interp",       # gapfill / LOCF / interpolation
    # round-4 rotation: two families with ZERO driver-graded reps get
    # slots. customers_with_urgent_orders (plain semi join — EXISTS
    # shape also exercised inside idle_rich_customers' anti/scalar mix
    # and decontaminate's semi filter) and priority_line_counts (Q12
    # conditional agg — CASE-agg shape carried by pricing_summary +
    # revenue_by_nation) move to EXTENDED, still oracle-checked.
    "conversion_funnel_24h",      # commerce funnel analytics family
    "cdc_merge_apply",            # MERGE INTO / CDC apply family
    # second round-4 swap: data profiling (ANALYZE statistics) had no
    # graded rep; rolling_user_activity (RANGE time frame — the window
    # family keeps window_rank_suite graded and running_revenue +
    # rolling_user_activity oracle-checked in EXTENDED) moves out.
    "orders_profile",             # one-scan column profiling family
    # round-5 rotation: three families the gate had never graded
    # (displacing near-duplicates customer_order_counts /
    # forecast_revenue / shipping_priority — see CATALOG comments)
    # round-9 rotation: semdedup_prune -> EXTENDED after 4 green grades;
    # its nearest-centroid assign stage replays inside the graded
    # centroid_confusion + label_centroids pair.
    "pit_scd2_join",              # point-in-time SCD2 warehouse join
    "part_hop_distances",         # BFS graph traversal
    # round-5 second rotation: web-crawl preprocessing + basket mining in;
    # event_type_pivot (CASE-agg shape graded via conversion_funnel_24h),
    # lang_centroids (embedding shape graded via semdedup_prune/knn), and
    # kmv_distinct_users (NDV family graded via orders_profile + 3 other
    # sketches) move to EXTENDED, still oracle-checked.
    "html_extract_docs",          # HTML -> text extraction (crawl step 0)
    "brand_basket_rules",         # market-basket association rules
    # round-7 rotation: the last three oracle-paired families the gate
    # had never graded. Displaced near-duplicates — window_rank_suite
    # (window shape graded via conversion_funnel_24h / asof / scd2),
    # simhash_pairs (banded-pair shape via minhash_lsh_pairs),
    # histogram_quantile_sketch (mergeable-sketch family via
    # cms_heavy_hitters + orders_profile) — stay oracle-checked in
    # EXTENDED_CATALOG.
    # round-8 second swap: dsir_weights -> EXTENDED (its weight law
    # replays in full inside llm_corpus_dsir_pipeline's oracle); the
    # slot grades the streaming DSIR statistics maintainer by value
    # round-9 rotation: dsir_stream_stats -> EXTENDED (graded r8); the
    # DSIR weight law stays graded via llm_corpus_dsir_pipeline and the
    # MVCC maintainer pattern via stream_vector_stats.
    "sentence_chunks",            # sentence-preserving RAG chunker
    # round-8 rotation: the four round-7 families rotate into the graded
    # window (displaced near-duplicates — dsir_resample's Gumbel stage
    # runs inside llm_corpus_dsir_pipeline, boilerplate_extract_docs'
    # shape stays via gopher/c4/html_extract, canonical_urls' rules
    # replay inside crawl_frontier, scd2_user_state's semantics via
    # pit_scd2_join — all stay oracle-checked in EXTENDED)
    "llm_corpus_dsir_pipeline",   # composed corpus pipeline + DSIR
    # round-9 rotation: corpus_drop_reasons (stage gates replay inside
    # llm_corpus_dsir_pipeline) and crawl_frontier (stream_crawl_frontier
    # carries the IDENTICAL oracle SQL) -> EXTENDED, both graded r8.
    "customer_entity_resolution", # blocking + fuzzy match + components
}


#: Committed catalog fingerprint: both name sequences and the sha256 of
#: every oracle string.
GOLDEN = Path(__file__).with_name("catalog_golden.json")

#: The gap-rule family, defined in plans/sessions.py.
SESSION_FAMILY = {
    "sessionize_events", "sessionize_events_bucketed", "prev_active_sessions",
    "session_stats", "sql_session_stats", "user_session_counts",
    "session_window_agg", "session_transitions", "session_funnel",
    "linear_attribution", "concurrent_sessions_peak",
    "session_pattern_match", "capped_sessionize_parity",
    "legacy_udf_sessions",
}

#: The co-purchase and part-graph queries defined in plans/graph.py
#: (pagerank_neardup and its _fast twin stay beside the dedup family).
GRAPH_FAMILY = {
    "pagerank_copurchase", "pagerank_copurchase_fast",
    "ppr_copurchase", "ppr_copurchase_fast",
    "wpagerank_copurchase", "wpagerank_copurchase_fast",
    "hits_copurchase", "hits_copurchase_fast",
    "triangle_counts", "kcore_parts", "lpa_communities",
    "part_hop_distances", "part_weighted_distances",
}


def catalog_fingerprint() -> dict:
    return {
        "catalog": [q.name for q in CATALOG],
        "extended_catalog": [q.name for q in EXTENDED_CATALOG],
        "oracle_sha256": {
            q.name: None if q.oracle is None
            else hashlib.sha256(q.oracle.encode()).hexdigest()
            for q in FULL_CATALOG
        },
    }


def test_catalog_matches_golden():
    """Moving queries between modules changes neither catalog order nor
    any oracle byte. An intended change rewrites tests/catalog_golden.json
    from ``catalog_fingerprint()`` in the same commit and says why."""
    golden = json.loads(GOLDEN.read_text())
    now = catalog_fingerprint()
    assert now["catalog"] == golden["catalog"]
    assert now["extended_catalog"] == golden["extended_catalog"]
    old, new = golden["oracle_sha256"], now["oracle_sha256"]
    changed = sorted(n for n in old.keys() | new.keys() if old.get(n) != new.get(n))
    assert not changed, f"oracle SQL changed: {changed}"

    def defined_in(module: str) -> set:
        return {
            q.name for q in FULL_CATALOG
            if q.spark.__module__ == f"commerce_sessionization_spark.plans.{module}"
        }

    assert defined_in("sessions") == SESSION_FAMILY
    assert defined_in("graph") == GRAPH_FAMILY


def test_driver_window_is_exactly_50():
    assert len(CATALOG) == 50


def test_no_duplicate_query_names():
    names = [q.name for q in FULL_CATALOG]
    assert len(names) == len(set(names))


def test_every_family_inside_driver_window():
    window = {q.name for q in CATALOG}
    missing = REQUIRED_IN_DRIVER_WINDOW - window
    assert not missing, f"families fell out of the graded window: {missing}"


#: The only entries allowed to ship without a value oracle, each with a
#: reason the driver/judge can audit. Everything else must stay
#: hash-comparable — additions here need the same justification bar.
ROWS_ONLY_ALLOWED = {
    # double-precision PageRank: float summation is order-dependent, so
    # no engine-independent value replay exists; pinned to the
    # decimal-exact oracle mode within 1e-9 in tests/test_graph.py
    "pagerank_neardup_fast",
    "pagerank_copurchase_fast",
    # round-9: the same double-vs-decimal argument for the rest of the
    # iterative family — parity with each decimal oracle mode is pinned
    # to 2e-6 in tests/test_graph.py
    "ppr_copurchase_fast",
    "wpagerank_copurchase_fast",
    "hits_copurchase_fast",
    # FFD packing keeps a bin-remainder multiset as it walks — no
    # window/recursive-CTE replay expresses it reasonably (the graded
    # next-fit twin IS hash-checked via its recursive CTE); FFD's laws
    # (each id once, bin sums <= budget, placement-order offsets,
    # waste <= next-fit, repartition invariance) are pinned in
    # tests/test_chunking.py
    "pack_sequences_ffd",
    # HLL++ ndv estimates are engine-specific — no DuckDB value replay
    # exists; accuracy is pinned within the rsd bound by tests/test_dq.py
    # and every non-ndv column is value-pinned through the exact twin
    # (orders_profile, driver-graded)
    "orders_profile_approx",
    # double-precision MMR twin: numpy BLAS pairwise sims have no
    # engine-independent accumulation order, so no value replay exists;
    # its laws (lam=1 == score order, redundancy demotion, per-group
    # caps, rank-1 score identity) are pinned in
    # tests/test_ml.py::TestMMRRerank. The graded window runs the
    # integer-exact twin (mmr_diverse_topk), value-matched against a
    # 5-step unrolled greedy CTE.
    "mmr_diverse_topk_fast",
    # LSH band keys are xxhash64 (both the MinHash slot mixes and the
    # band key hash) — DuckDB has no xxhash64, so the kept set has no
    # engine-independent value replay; the no-candidate-pair invariant
    # and crash-replay idempotency are pinned in tests/test_ingest_dedup
    # and the exact-dedup twin (stream_ingest_dedup) is value-graded
    "stream_neardup_ingest",
}


def test_every_catalog_query_has_an_oracle():
    for q in FULL_CATALOG:
        if q.name in ROWS_ONLY_ALLOWED:
            continue
        assert q.oracle is not None, f"{q.name} lost its oracle"


def test_rows_only_list_is_tight():
    rows_only = {q.name for q in FULL_CATALOG if q.oracle is None}
    assert rows_only == ROWS_ONLY_ALLOWED


def test_extended_catalog_names_disjoint_from_driver_window():
    assert not ({q.name for q in CATALOG} & {q.name for q in EXTENDED_CATALOG})


def test_driver_window_queries_all_have_oracles():
    """Window contract (round-9 verdict item 2): the driver grades an
    oracle-less window row `err: no_oracle` — a permanent red slot
    (mmr_diverse_topk, round 9). Rows-only queries belong in
    EXTENDED_CATALOG, where the weaker rows-only check is fine."""
    missing = [q.name for q in CATALOG if q.oracle is None]
    assert not missing, (
        "oracle-less queries in the graded driver window (guaranteed "
        f"red rows): {missing} — move to EXTENDED_CATALOG or add a "
        "DuckDB oracle"
    )


def test_driver_window_outputs_are_scalar_only(spark):
    """Window contract (round-9 verdict item 2): the driver
    canonicalizes results with pandas sort_values, which crashes on
    Array/Map/Struct cells (`TypeError: unhashable type: 'list'` —
    events_key_skew, round 9). Serialize arrays with array_join (the
    user_event_sequence convention) before rotating a query in."""
    import os

    from pyspark.sql.types import ArrayType, MapType, StructType

    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
    offenders = {}
    for q in CATALOG:
        schema = q.spark(spark, sf_dir).schema
        bad = [
            f.name
            for f in schema.fields
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
        ]
        if bad:
            offenders[q.name] = bad
    assert not offenders, (
        "non-scalar output columns in the graded driver window (the "
        f"driver's pandas canonicalization crashes on these): {offenders}"
    )


def test_oracle_sql_types_have_no_hugeint():
    """Execute every oracle SQL in DuckDB and reject HUGEINT/UHUGEINT
    result columns. DuckDB types sum() over integers as int128, which
    the driver's value-hash canonicalization renders differently from
    Spark's BIGINT even when the values are identical — this silently
    hash-failed a driver row in rounds 1 and 4 (orders_profile). The fix
    is always an explicit CAST(... AS BIGINT) in the oracle SQL; this
    lint makes the regression impossible. DuckDB-only (no Spark), so the
    whole 179-oracle sweep runs in well under a minute at sf0.001.
    """
    import os

    import duckdb

    from commerce_sessionization_spark.schemas import ALL_TESTDATA_TABLES

    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.001")
    con = duckdb.connect()
    for t in ALL_TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    offenders = []
    for q in FULL_CATALOG:
        if q.oracle is None:
            continue
        cur = con.execute(q.oracle)
        cur.fetchall()
        huge = [
            (d[0], str(d[1]))
            for d in cur.description
            if "HUGEINT" in str(d[1]).upper()
        ]
        if huge:
            offenders.append((q.name, huge))
    assert not offenders, (
        "oracle SQL produced int128 columns the driver hash can't "
        f"canonicalize against Spark BIGINT — add CAST(... AS BIGINT): {offenders}"
    )


def test_catalog_md_is_current():
    """CATALOG.md is generated from the QueryDef list and the graded
    rounds; regenerate with `python tools/gen_catalog_md.py` whenever
    either changes."""
    import sys
    from pathlib import Path

    sys.path.insert(
        0, str(Path(__file__).resolve().parent.parent / "tools")
    )
    import gen_catalog_md

    assert gen_catalog_md.OUT.read_text() == gen_catalog_md.render()


def test_rotation_tool_contract():
    """tools/gen_rotation.py: sentinels must exist in the catalog, the
    proposal must be exactly window-sized with no duplicates, keep
    every sentinel, and spend rotating slots on the least-graded
    queries (priority families first among ties)."""
    import sys
    from pathlib import Path

    sys.path.insert(
        0, str(Path(__file__).resolve().parent.parent / "tools")
    )
    import gen_rotation as gr

    names = {q.name for q in FULL_CATALOG}
    assert set(gr.SENTINELS) <= names
    assert set(gr.PRIORITY) <= names
    window = gr.propose_window()
    assert len(window) == 50 and len(set(window)) == 50
    assert set(gr.SENTINELS) <= set(window)
    counts = gr.grade_counts()
    rotating = [n for n in window if n not in set(gr.SENTINELS)]
    # rows-only queries never enter the proposal (they'd be permanent
    # red rows under the window contract)
    oracled = {q.name for q in FULL_CATALOG if q.oracle is not None}
    assert set(rotating) <= oracled
    # every rotating slot goes to a query graded no more often than any
    # sql-oracled non-sentinel left outside the window
    max_in = max(counts.get(n, {}).get("graded", 0) for n in rotating)
    outside = (names & oracled) - set(window) - set(gr.SENTINELS)
    min_out = min(counts.get(n, {}).get("graded", 0) for n in outside)
    assert max_in <= min_out or max_in == 0
