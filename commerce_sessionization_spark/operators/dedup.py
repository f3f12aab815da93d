"""Deduplication operators for large text corpora (north-star surface).

The tiers, all shuffle-conscious:

- ``exact_dedup``          — hash-groupBy on a content fingerprint; keeps the
  smallest id per group (deterministic winner). One shuffle on a 64-hex key.
- ``ngram_jaccard_pairs``  — exact Jaccard over word n-gram shingle sets via
  shingle-explode + self-join on shingle. Quadratic only within a shingle
  bucket, not the corpus; this is also the *verifier* for the LSH path.
- ``prefix_jaccard_pairs`` — the SAME exact output via PPJoin prefix
  filtering: only each doc's globally-rarest shingles become join keys,
  so shared boilerplate never bucket-explodes — the exact path that
  survives skew (receipt in tools/jaccard_skew_probe.py).
- ``minhash_lsh_dedup``    — MinHash signatures + banded LSH: candidate pairs
  only where a band matches (one shuffle on band key), then exact-Jaccard
  verification of candidates. At 100 TB this is the scale path: cost is
  O(docs × bands) + verification of the (tiny) candidate set.
- ``simhash``              — 60-bit SimHash fingerprint; near-dups differ in
  few bits. Provided as a column op + banded candidate pairing.
- ``exact_substring_dedup`` / ``exact_substring_decontaminate`` —
  token-level duplicated-span removal (Lee et al. 2022), corpus-wide or
  against a broadcast benchmark gram set (eval-leak excision).

Hashes derive from SHA-256 (``functions.hashing``) so results are
deterministic and reproducible across engines (oracle-checkable); pass
``fast=True`` for xxhash64 where parity doesn't matter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from commerce_sessionization_spark.functions.hashing import hex_to_long
from commerce_sessionization_spark.session import pin

#: Mersenne prime 2^61 - 1: modulus for the MinHash permutation family.
MERSENNE_61 = (1 << 61) - 1


def normalized_words(text: Column) -> Column:
    return F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda w: w != "")


def shingles_from_words(words: Column, n: int = 3, distinct: bool = True) -> Column:
    """Word n-gram shingles from a words array, as array<string>.

    ``words`` MUST be a materialized array column (a plain attribute), not
    an expression tree: Catalyst re-evaluates outer subtrees referenced
    inside a higher-order-function lambda once PER ELEMENT, so passing
    ``split(...)`` directly turns shingling into O(words²) per document
    (measured 8.7× slower at sf0.1). Project ``normalized_words`` into a
    column first; ``word_shingles`` below does exactly that pattern for
    single-expression contexts that cannot.

    ``distinct=True`` gives the set semantics Jaccard needs; MinHash callers
    pass ``distinct=False`` — min() is idempotent under duplicates and
    ``array_distinct`` is O(s²) per doc.
    """
    count = F.size(words)
    idx = F.when(count >= n, F.sequence(F.lit(0), count - n)).otherwise(
        F.array()
    )
    out = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)))
    return F.array_distinct(out) if distinct else out


def word_shingles(text: Column, n: int = 3, distinct: bool = True) -> Column:
    """Single-expression shingles (slow path — see ``shingles_from_words``).

    Kept for expression-only contexts; every DataFrame-level operator in
    this module projects the words array first and calls
    ``shingles_from_words`` instead.
    """
    return shingles_from_words(normalized_words(text), n, distinct)


def spread(df: DataFrame) -> DataFrame:
    """Scan-parallelism guard for operators that multiply every scanned
    row before their first exchange (a per-doc word split + shingle
    explode, a k-distinct profile's Expand).

    That expansion costs 10-100x the raw scan. When the source provides
    fewer input splits than the cluster has slots — a single parquet
    row group is unsplittable, and testdata's tables are exactly that —
    all of it runs on those few tasks. Measured at sf0.1: gram
    operators on documents ran 4.5 of 10.8 s in one task; the orders
    profile gave one task 3.8 of 6.1 task-seconds. One defensive
    round-robin repartition of the RAW rows (cheap: just the scanned
    bytes, before any expansion) fixes it; when the scan is already at
    least slot-parallel — any sanely laid-out 100 TB corpus — this is a
    no-op costing one plan->RDD partition probe, so the big-data path
    keeps its shuffle-free scan. Callers must be order-independent.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _with_words(
    df: DataFrame, id_col: str, text_col: str, out: str = "_w"
) -> DataFrame:
    """(id, words) projection — the materialization step lambdas need."""
    return spread(df).select(
        F.col(id_col).alias("_id"),
        normalized_words(F.col(text_col)).alias(out),
    )


def exact_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """Keep one deterministic representative (min id) per identical text.

    window-argmin over the fingerprint (the generalized W5 pattern,
    cf. ``SessionizationBuiltIn.scala:121-132``). The shuffle key is the
    64-hex fingerprint — uniformly distributed, no skew by construction.
    """
    t = F.col(text_col)
    if normalize:
        t = F.regexp_replace(F.lower(F.trim(t)), r"\s+", " ")
    w = Window.partitionBy(F.sha2(t, 256)).orderBy(id_col)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    seen_hashes: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    normalize: bool = True,
    hash_col: str = "content_sha",
) -> DataFrame:
    """Exact dedup of a NEW batch against an existing corpus index.

    ``seen_hashes`` is the historical fingerprint table (one
    ``hash_col`` per already-ingested document). The batch is deduped
    within itself (min-id representative per fingerprint) and then
    anti-joined against the index — so re-crawled / re-delivered
    documents never re-enter the corpus. Returns the kept rows with
    their fingerprint attached; appending ``select(hash_col)`` to the
    index closes the loop, making corpus ingestion an idempotent
    incremental operation instead of a full-corpus recompute.

    100 TB shape: the index is far larger than any daily batch, so the
    index side must NOT reshuffle per run — persist it with
    ``sources.io.write_bucketed_table`` bucketed by ``hash_col`` and
    the anti-join reads its buckets in place (zero Exchange on the
    index side, proven in ``tests/test_bucketing.py``); only the
    (small) batch hashes shuffle. The fingerprint is sha256 —
    uniformly distributed, so bucket skew is impossible by
    construction.
    """
    t = F.col(text_col)
    if normalize:
        t = F.regexp_replace(F.lower(F.trim(t)), r"\s+", " ")
    fp = F.sha2(t, 256)
    w = Window.partitionBy(hash_col).orderBy(id_col)
    in_batch = (
        new_docs.withColumn(hash_col, fp)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return in_batch.join(
        seen_hashes.select(hash_col), hash_col, "left_anti"
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """All pairs (a < b) with Jaccard(word-n-gram sets) ≥ threshold.

    Explode distinct shingles → self-join on shingle → per-pair intersection
    count → |A∪B| = |A|+|B|−|A∩B|. The join key is the shingle string, so
    pairs sharing zero shingles are never materialized. Common-shingle skew
    (a shingle present in thousands of docs) is the known failure mode at
    scale — use ``minhash_lsh_dedup`` there.

    Output: (a, b, jaccard) with jaccard rounded to 6 decimals.

    Eager: building this DataFrame runs a Spark job (``session.pin``).
    """
    sh = _with_words(df, id_col, text_col).select(
        "_id",
        F.explode(shingles_from_words(F.col("_w"), n)).alias("shingle"),
    )
    # pinned: the shingle stream feeds the per-doc size aggregate AND the
    # self-join (whose two sides already share one exchange) — unpinned,
    # the tokenize+shingle pass executed twice (cf. the k-gram pin in
    # exact_substring_dedup).
    sh = pin(sh)
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("_n"))

    left = sh.alias("l")
    right = sh.alias("r")
    inter = (
        left.join(right, (F.col("l.shingle") == F.col("r.shingle")) & (F.col("l._id") < F.col("r._id")))
        .groupBy(F.col("l._id").alias("a"), F.col("r._id").alias("b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("_id", "a").withColumnRenamed("_n", "na"), "a")
        .join(sizes.withColumnRenamed("_id", "b").withColumnRenamed("_n", "nb"), "b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def lsh_band_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Per-document LSH band keys: (id, band, key), ``bands`` rows per doc.

    The MinHash signature is computed as a *flat aggregation*: explode
    shingles to (doc, hash) rows, then ``num_hashes`` ``min(xxhash64(
    slot, h))`` aggs. Two reasons over the array-expression formulation:
    (a) Catalyst's CollapseProject would inline the whole signature
    expression into each of the ``bands`` band-key expressions (observed
    ~bands× blowup); (b) the hash-agg gets map-side partial aggregation
    and whole-stage codegen, and at 100 TB the shuffle carries only
    (doc_id, 8·num_hashes bytes) rows.

    This table is the SHARED currency of near-dup detection: the batch
    pair finders self-join it, and the incremental ingest path persists
    it as the corpus near-dup index (union-mergeable — 3 fixed-width
    values per row, uniform keys by construction).
    """
    rows_per_band = num_hashes // bands
    sh = _with_words(df, id_col, text_col).select(
        "_id",
        F.explode(shingles_from_words(F.col("_w"), n, distinct=False)).alias("_s"),
    ).select("_id", F.xxhash64("_s").alias("_h"))
    sig = sh.groupBy("_id").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("_h"))).alias(f"_m{i}")
            for i in range(num_hashes)
        ]
    )
    return sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.xxhash64(
                            *[
                                F.col(f"_m{j}")
                                for j in range(
                                    i * rows_per_band, (i + 1) * rows_per_band
                                )
                            ]
                        ).alias("key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(F.col("_id").alias(id_col), "bk.band", "bk.key")


def incremental_neardup_dedup(
    new_docs: DataFrame,
    seen_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Near-dup-aware ingest: keep only batch docs that LSH-collide with
    neither the existing corpus nor a smaller-id batch doc.

    ``seen_bands`` is the historical (band, key) index of every KEPT
    document (``lsh_band_table`` rows; ids not needed for the filter).
    Two drops, both candidate-level (no exact-Jaccard verify — this is
    the aggressive CCNet-style ingest gate, and the false-positive rate
    is the standard S-curve 1−(1−j^r)^b at the band setting):

    - corpus hit: any band key already in the index;
    - batch loser: not the min id in some shared (band, key) group
      (min-id representative, the same convention as exact dedup —
      note this can drop BOTH ends of a collision chain a−b−c; a
      blocking gate prefers that to re-admitting a near-dup).

    Invariant (pinned by test): the kept corpus NEVER contains an LSH
    candidate pair — within a batch the per-band min rule leaves at
    most one owner per key, and across batches the index check blocks
    later colliders.

    100 TB shape: identical to ``incremental_exact_dedup`` — the index
    is far larger than a daily batch, so persist it bucketed by
    (band, key) (sha/xxhash-uniform, no skew) and only the small batch
    side shuffles; the within-batch rule is one map-side-combinable
    groupBy over batch×bands rows. Returns kept rows (original
    columns); append ``lsh_band_table(kept)`` to the index to close
    the loop.
    """
    bt = lsh_band_table(
        new_docs, id_col=id_col, text_col=text_col, n=n,
        num_hashes=num_hashes, bands=bands,
    )
    hit = (
        bt.join(seen_bands.select("band", "key"), ["band", "key"], "left_semi")
        .select(id_col)
        .distinct()
    )
    bmin = bt.groupBy("band", "key").agg(F.min(id_col).alias("_min"))
    losers = (
        bt.join(bmin, ["band", "key"])
        .filter(F.col(id_col) != F.col("_min"))
        .select(id_col)
        .distinct()
    )
    drop = hit.unionByName(losers).distinct()
    return new_docs.join(drop, id_col, "left_anti")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing ≥ 1 LSH band.

    Signature → ``bands`` slices of ``num_hashes/bands`` values → hash each
    slice to a band key → self-join on (band_idx, band_key). The join input
    has #docs × bands rows; matching probability follows the usual S-curve
    1−(1−j^r)^b. The band table comes from ``lsh_band_table`` (see there
    for the flat-aggregation signature rationale).
    """
    banded = lsh_band_table(
        df, id_col=id_col, text_col=text_col, n=n,
        num_hashes=num_hashes, bands=bands,
    ).withColumnRenamed(id_col, "_id")
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("a"), F.col("r._id").alias("b"))
        .distinct()
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard — same contract (and same
    exact output, barring LSH false-negative misses) as
    ``ngram_jaccard_pairs``, at a fraction of the join cost.
    """
    cands = minhash_lsh_candidates(
        df, id_col=id_col, text_col=text_col, n=n, num_hashes=num_hashes, bands=bands
    )
    # candidates feed two consumers (the id semi-join and the pair join);
    # materialize once so the signature/banding pipeline doesn't run twice
    cands = pin(cands)
    # shingle only docs that appear in a candidate pair (semi-join first):
    # the verification set is tiny relative to the corpus, so the expensive
    # array build runs on |candidates| docs, not 2×|corpus|
    cand_ids = (
        cands.select(F.col("a").alias("_id"))
        .unionByName(cands.select(F.col("b").alias("_id")))
        .distinct()
    )
    shingled = (
        _with_words(df, id_col, text_col)
        .join(cand_ids, "_id", "left_semi")
        .select("_id", shingles_from_words(F.col("_w"), n).alias("_sh"))
    )
    a = shingled.withColumnRenamed("_id", "a").withColumnRenamed("_sh", "sha_")
    b = shingled.withColumnRenamed("_id", "b").withColumnRenamed("_sh", "shb_")
    return (
        cands.join(a, "a")
        .join(b, "b")
        .withColumn("inter", F.size(F.array_intersect("sha_", "shb_")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.size("sha_") + F.size("shb_") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def dedup_components(
    pairs: DataFrame,
    ids: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup ``pairs`` (a, b): every document
    gets a ``component_id`` = the smallest doc id transitively reachable
    through dup pairs (singletons map to themselves). Keeping
    ``doc_id == component_id`` rows yields the canonical deduped corpus.

    Min-label propagation with pointer jumping: each round (1) takes the
    min label across the (symmetrized) edge list, then (2) compresses
    ``comp → comp_of(comp)`` — so convergence is O(log component-diameter),
    not O(diameter). Stops when a round changes nothing. Labels are
    pinned (``session.pin``) per round to cut lineage; every round works on
    the (tiny) pair set, never touching full documents.
    """
    edges = pin(
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(pairs.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .distinct()
    )
    labels = pin(
        ids.select(F.col(id_col).alias("node"), F.col(id_col).alias("comp"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("comp").alias("ncomp"))
        )
        propagated = labels.join(
            neighbor_min, labels["node"] == neighbor_min["src"], "left"
        ).select(
            "node",
            F.least(
                F.col("comp"), F.coalesce(F.col("ncomp"), F.col("comp"))
            ).alias("comp"),
        )
        # pointer jumping: follow comp one hop (comp values are node ids)
        hop = propagated.select(
            F.col("node").alias("c_node"), F.col("comp").alias("c_comp")
        )
        new_labels = pin(
            propagated.join(hop, propagated["comp"] == hop["c_node"], "left")
            .select(
                "node",
                F.coalesce(F.col("c_comp"), F.col("comp")).alias("comp"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("node").alias(id_col), F.col("comp").alias("component_id"))


def simhash_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    bits: int = 60,
    fast: bool = False,
) -> DataFrame:
    """SimHash fingerprint per row: (id_col, ``simhash`` bigint).

    Per bit position, the majority vote of that bit across the document's
    shingle hashes sets the output bit.

    Computed as a *flat aggregation* (the same pattern as
    ``minhash_lsh_candidates``): explode shingles to (doc, hash) rows, then
    ONE ``groupBy(doc)`` with ``bits`` ``sum((h >> i) & 1)`` aggregates, and
    assemble the fingerprint from the counts. An earlier array-expression
    formulation (``F.size(F.filter(hashes, bit_set(i)))`` per bit) rescanned
    the full hash array ``bits`` times per document and produced a giant
    codegen expression — ~25× slower. The hash-agg here is map-side
    combinable and the shuffle carries one (doc_id, 61 longs) row per doc.
    """
    from commerce_sessionization_spark.functions.hashing import stable_long_hash

    sh = _with_words(df, id_col, text_col).select(
        "_id",
        F.explode(shingles_from_words(F.col("_w"), n)).alias("_s"),
    ).select("_id", stable_long_hash(F.col("_s"), fast=fast).alias("_h"))
    counts = sh.groupBy("_id").agg(
        F.count(F.lit(1)).alias("_total"),
        *[
            F.sum(F.shiftright("_h", i).bitwiseAND(F.lit(1))).alias(f"_b{i}")
            for i in range(bits)
        ],
    )
    fp = F.lit(0)
    for i in range(bits):
        fp = fp + F.when(
            F.col(f"_b{i}") * 2 >= F.col("_total"), F.lit(1 << i)
        ).otherwise(F.lit(0))
    counts = counts.select("_id", fp.cast("long").alias("simhash"))
    # zero-shingle docs have no exploded rows; majority-of-empty (0 >= 0)
    # sets every bit, so restore them with the all-ones fingerprint
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(counts, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("simhash"), F.lit((1 << bits) - 1)).alias(
                "simhash"
            ),
        )
    )


def simhash_dedup_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    bits: int = 60,
    band_bits: int = 15,
) -> DataFrame:
    """Near-dup candidates where any ``band_bits``-wide SimHash band matches
    (docs within Hamming distance bits/band_bits − 1 are guaranteed caught).
    """
    nbands = bits // band_bits
    mask = (1 << band_bits) - 1
    sh = simhash_table(df, id_col=id_col, text_col=text_col, n=n, bits=bits).select(
        F.col(id_col).alias("_id"), F.col("simhash").alias("_sh")
    )
    banded = sh.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("_sh", i * band_bits).bitwiseAND(F.lit(mask)).alias("key"),
                    )
                    for i in range(nbands)
                ]
            )
        ).alias("bk"),
    ).select("_id", "bk.band", "bk.key")
    l, r = banded.alias("l"), banded.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("a"), F.col("r._id").alias("b"))
        .distinct()
    )


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_docs: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """Corpus-level duplicate-segment removal (boilerplate stripping).

    The line-dedup step of LLM data pipelines (CCNet-style): any segment
    (line/paragraph) occurring in ≥ ``min_docs`` *distinct* documents is
    boilerplate (headers, nav bars, license banners) and is dropped from
    every document; survivors are reassembled in original order. Adds
    ``out_col`` (cleaned text, '' when everything was boilerplate) and
    ``n_kept`` (surviving segment count) to ``df``.

    Plan shape: posexplode → groupBy(segment) count-distinct-docs →
    left_anti → groupBy(doc) ordered reassembly. Two shuffles keyed on the
    segment string and one on the doc id; partial aggregation applies to
    the frequency count. At 100 TB, key the frequency/anti-join on
    ``sha2(segment, 256)`` instead of the raw segment to bound shuffle
    row width — semantics are identical modulo SHA-256 collisions.
    """
    import re as _re

    segs = df.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias(
            "pos", "seg"
        ),
    )
    boilerplate = (
        segs.groupBy("seg")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("seg")
    )
    kept = segs.join(boilerplate, "seg", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda x: x["seg"],
            ),
            sep,
        ).alias(out_col),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        df.join(rebuilt, id_col, "left")
        .withColumn(out_col, F.coalesce(F.col(out_col), F.lit("")))
        .withColumn("n_kept", F.coalesce(F.col("n_kept"), F.lit(0)))
    )


def cdc_chunks(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 8,
) -> DataFrame:
    """Content-defined chunking on word anchors: token t is an anchor
    iff sha256-hash(t) % ``divisor`` == 0, and a chunk is the token run
    from one anchor (inclusive) to the token before the next. Expected
    chunk length ≈ ``divisor`` tokens, but boundaries move with
    CONTENT, not position — inserting or deleting words re-chunks only
    the run between the two surrounding anchors, so every other
    chunk's fingerprint survives the edit. Fixed-window segmentation
    (``segment_dedup``) loses ALL fingerprints downstream of an
    insertion because every window shifts by one; this is the
    word-level analogue of storage CDC (LBFS/rsync-style chunking)
    and the reason shifted boilerplate is still catchable at corpus
    scale.

    Returns one row per chunk: ``(id_col, chunk_idx, chunk_text,
    chunk_sha)`` with chunk_idx the 0-based chunk position within the
    document (a pre-anchor prefix, when the doc doesn't open on an
    anchor, is chunk 0). Joining a doc's chunk_texts in chunk_idx
    order with a single space reproduces its token stream exactly.

    Plan shape: chunking happens entirely array-land in one projection
    (anchor indexes via transform+filter, chunk slices via zip_with) —
    ZERO shuffle until the chunks themselves posexplode, so the
    per-token rows never reach an exchange. A window-cumsum-over-
    exploded-tokens formulation computes the same thing but shuffles
    the whole token stream (~515 B/record measured at sf0.1) just to
    regroup what was already co-located; at 100 TB that is the
    difference between shuffling the corpus and shuffling the chunk
    table. The anchor test is one JVM-side sha2 per token — no Python
    in the path.
    """
    d = F.lit(int(divisor))
    toked = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_t")
    )
    # anchor token indexes, 0-based (materialized stepwise: outer
    # expressions referenced inside higher-order lambdas re-evaluate
    # per element — see q_segment_dedup_docs)
    idxed = toked.select(
        id_col,
        "_t",
        F.filter(
            F.transform(
                "_t",
                lambda t, i: F.when(
                    hex_to_long(F.sha2(t, 256)) % d == 0, i
                ).otherwise(F.lit(-1)),
            ),
            lambda x: x >= 0,
        ).alias("_anchors"),
    )
    # chunk k spans [starts[k], ends[k]): starts = anchors, plus a
    # leading 0 when the doc doesn't open on an anchor (the chunk-0
    # prefix); ends = starts shifted left, closed by the token count.
    starts = F.when(
        F.coalesce(F.try_element_at("_anchors", F.lit(1)), F.lit(-1)) == 0,
        F.col("_anchors"),
    ).otherwise(F.concat(F.array(F.lit(0)), F.col("_anchors")))
    bounded = idxed.select(id_col, "_t", starts.alias("_starts"))
    ends = F.concat(
        F.slice(
            "_starts", 2, F.greatest(F.size("_starts") - 1, F.lit(0))
        ),
        F.array(F.size("_t")),
    )
    chunks = bounded.select(
        id_col,
        F.zip_with(
            "_starts",
            ends,
            lambda s, e: F.array_join(F.slice("_t", s + 1, e - s), " "),
        ).alias("_chunks"),
    )
    return chunks.select(
        id_col,
        F.posexplode("_chunks").alias("chunk_idx", "chunk_text"),
    ).withColumn("chunk_sha", F.sha2(F.col("chunk_text"), 256))


def cdc_chunk_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    divisor: int = 8,
    min_docs: int = 2,
    out_col: str = "clean_text",
) -> DataFrame:
    """Shift-resistant duplicate-chunk stripping: CDC-chunk every
    document (:func:`cdc_chunks`), drop any chunk occurring in ≥
    ``min_docs`` distinct documents, reassemble survivors in order.
    Same contract as :func:`segment_dedup` (adds ``out_col`` +
    ``n_kept``, plus ``n_chunks``) but catches boilerplate at ANY
    offset: a nav bar preceded by different headers in every page
    still chunks identically from its first anchor on, where fixed
    segmentation sees |header|-dependent windows and misses all of it.
    
    Eager: building this DataFrame runs a Spark job (``session.pin``).
    """
    # pinned: the chunk table feeds THREE consumers (the boilerplate
    # frequency count, the anti-join probe side, and the per-doc chunk
    # count), and its subtree prices one sha2 per TOKEN — unpinned, the
    # whole per-token hashing pass executes three times (cf. the
    # minhash_lsh_dedup_pairs cands pin).
    chunks = pin(cdc_chunks(df, id_col, text_col, divisor))
    boiler = (
        chunks.groupBy("chunk_sha")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .where(F.col("_nd") >= min_docs)
        .select("chunk_sha")
    )
    kept = chunks.join(boiler, "chunk_sha", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("chunk_idx", "chunk_text"))
                ),
                lambda x: x["chunk_text"],
            ),
            " ",
        ).alias(out_col),
        F.count(F.lit(1)).alias("n_kept"),
    )
    n_chunks = chunks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_chunks")
    )
    return (
        df.join(n_chunks, id_col, "left")
        .join(rebuilt, id_col, "left")
        .withColumn(out_col, F.coalesce(F.col(out_col), F.lit("")))
        .withColumn("n_kept", F.coalesce(F.col("n_kept"), F.lit(0)))
        .withColumn("n_chunks", F.coalesce(F.col("n_chunks"), F.lit(0)))
    )


def _word_tokens(df, id_col: str, text_col: str):
    """(_id, _w) projection on literal single-space word splits — the
    tokenization contract exact-substring dedup/decontam share."""
    return df.select(
        F.col(id_col).alias("_id"), F.split(F.col(text_col), " ").alias("_w")
    )


def _word_kgrams(toks, window: int):
    """(_id, _p, _h): every 1-based word k-gram start position with the
    60-bit hash of its space-joined window (docs shorter than the
    window emit none)."""
    w = F.col("_w")
    n = F.size(w)
    starts = F.when(
        n >= window, F.sequence(F.lit(1), n - window + 1)
    ).otherwise(F.array().cast("array<int>"))
    return toks.select(
        "_id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.alias("p"),
                    hex_to_long(
                        F.sha2(F.concat_ws(" ", F.slice(w, i, window)), 256)
                    ).alias("h"),
                ),
            )
        ).alias("_g"),
    ).select("_id", F.col("_g.p").alias("_p"), F.col("_g.h").alias("_h"))


def _rebuild_without(df, toks, covered, id_col: str, text_col: str,
                     out_col: str):
    """Drop the covered (doc, position) set and reassemble survivors in
    order; adds out_col / n_kept / n_words to ``df``."""
    words = toks.select(
        "_id", F.posexplode(F.col("_w")).alias("_i0", "_word")
    ).select("_id", (F.col("_i0") + 1).alias("_i"), "_word")
    kept = words.join(covered, ["_id", "_i"], "left_anti")
    rebuilt = kept.groupBy("_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_i", "_word"))),
                lambda x: x["_word"],
            ),
            " ",
        ).alias(out_col),
        F.count(F.lit(1)).alias("n_kept"),
    )
    n_words = F.size(F.split(F.col(text_col), " ")).cast("long")
    return (
        df.join(rebuilt, df[id_col] == rebuilt["_id"], "left")
        .drop("_id")
        .withColumn(out_col, F.coalesce(F.col(out_col), F.lit("")))
        .withColumn("n_kept", F.coalesce(F.col("n_kept"), F.lit(0)).cast("long"))
        .withColumn("n_words", n_words)
    )


def exact_substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    min_docs: int = 2,
    count_mode: str = "docs",
    out_col: str = "clean_text",
) -> DataFrame:
    """Token-level cross-document exact-substring removal (ExactSubstr).

    The substring-granularity tier below ``exact_dedup`` (whole doc),
    ``minhash_lsh_*`` (near-whole doc), and ``segment_dedup`` (fixed
    line/segment): remove every *word position* covered by any word
    ``window``-gram that is duplicated corpus-wide, then reassemble the
    survivors in order. This is exactly the "remove all maximal
    duplicated substrings of length ≥ k" semantics of suffix-array
    training-data dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): a position lies inside a duplicated
    substring of ≥ ``window`` tokens iff some duplicated ``window``-gram
    covers it, so the k-shingle formulation is EXACT — no suffix array
    needed, and the whole computation is built-in DataFrame ops.

    ``count_mode='docs'`` (default) marks a gram duplicated when it
    occurs in ≥ ``min_docs`` *distinct* documents (cross-doc mirrors /
    boilerplate; within-doc repetition is left to repetition_scores).
    ``count_mode='occurrences'`` marks on total occurrence count ≥
    ``min_docs`` — the literature-faithful variant that also collapses
    within-document repeats.

    Adds ``out_col`` (survivors joined by single spaces, '' when the
    whole doc was duplicated), ``n_words`` (original token count) and
    ``n_kept`` (surviving token count) to ``df``.

    Scale shape: one explode to (doc, pos, gram-hash); one corpus agg on
    the uniform 60-bit hash (map-side combinable, narrow: hash only);
    the duplicated-position expansion is ``window`` × (duplicated grams
    only), NOT window × corpus; the survivor anti-join keys on
    (doc, pos) — uniform, skew-free; ordered reassembly is the same
    groupBy(doc) array_sort(collect_list) shape as ``segment_dedup``.
    All built-ins, whole-stage codegen end to end.

    Eager: building this DataFrame runs a Spark job (``session.pin``).
    """
    if count_mode not in ("docs", "occurrences"):
        raise ValueError(f"count_mode must be docs|occurrences: {count_mode}")

    toks = _word_tokens(df, id_col, text_col)
    # pinned: the gram stream feeds BOTH the dup-frequency aggregate and
    # the covered-position probe join, and its subtree prices one sha2
    # per word k-gram — unpinned, the tokenize+hash pass executed twice
    # (cf. the cdc_chunk_dedup chunk pin). Narrow (_id, _p, _h) rows.
    grams = pin(_word_kgrams(toks, window))
    freq = (
        F.count_distinct(F.col("_id"))
        if count_mode == "docs"
        else F.count(F.lit(1))
    )
    dup = (
        grams.groupBy("_h")
        .agg(freq.alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_h")
    )
    covered = (
        grams.join(dup, "_h")
        .select(
            "_id",
            F.explode(
                F.sequence(F.col("_p"), F.col("_p") + window - 1)
            ).alias("_i"),
        )
        .distinct()
    )
    return _rebuild_without(df, toks, covered, id_col, text_col, out_col)


def exact_substring_decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    out_col: str = "clean_text",
) -> DataFrame:
    """Substring-level benchmark decontamination (the eval-leak variant
    of ``exact_substring_dedup``, per Lee et al. 2022 §4.2): remove
    from TRAIN every word position covered by a ``window``-gram that
    appears ANYWHERE in the benchmark corpus — verbatim eval text
    cannot survive in the training set, even embedded mid-document,
    which n-gram doc-level flagging (``ngram_contamination``) detects
    but does not excise.

    Scale shape: eval suites are bounded by construction, so the
    benchmark's distinct gram-hash set is BROADCAST — the 100 TB train
    side is one explode to (doc, pos, hash), a broadcast-hash-join
    probe, and the same skew-free (doc, pos) anti-join + ordered
    reassembly as the dedup twin. No shuffle of the train corpus except
    the per-doc rebuild.

    Adds ``out_col`` / ``n_kept`` / ``n_words`` to ``train``.
    """
    toks = _word_tokens(train, id_col, text_col)
    bench_hashes = (
        _word_kgrams(_word_tokens(bench, id_col, text_col), window)
        .select("_h")
        .distinct()
    )
    covered = (
        _word_kgrams(toks, window)
        .join(F.broadcast(bench_hashes), "_h")
        .select(
            "_id",
            F.explode(
                F.sequence(F.col("_p"), F.col("_p") + window - 1)
            ).alias("_i"),
        )
        .distinct()
    )
    return _rebuild_without(train, toks, covered, id_col, text_col, out_col)


def _prefix_ordered_and_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    threshold: float,
):
    """Shared candidate stage of the prefix-filtered join: returns
    ``(ordered, candidates)`` where ``ordered`` is one row per doc with
    its shingles in global (document-frequency, shingle) order plus set
    size, and ``candidates`` is the distinct (a, b) pair set the prefix
    join must verify. Exposed separately so the skew probe can count
    candidates at the real threshold without duplicating the logic."""
    sh = _with_words(df, id_col, text_col).select(
        "_id",
        F.explode(shingles_from_words(F.col("_w"), n)).alias("shingle"),
    )
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    ordered = (
        sh.join(dfreq, "shingle")
        .groupBy("_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_df", "shingle"))),
                lambda x: x["shingle"],
            ).alias("_set"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    # Prefix length p = s - ceil(t*s) + 1 (>=1 for s>=1). The ceil is
    # epsilon-guarded (ADVICE r8): if n*t lands one ulp ABOVE an exact
    # integer (100*0.55 = 55.000000000000007), a bare ceil overshoots,
    # the prefix loses a shingle, and a qualifying pair can be missed.
    # ceil(x - 1e-9) is identical for every non-pathological x and can
    # only LENGTHEN the prefix (still exact — verify filters false
    # candidates).
    prefix = ordered.select(
        "_id",
        "_n",
        F.explode(
            F.slice(
                F.col("_set"),
                1,
                (
                    F.col("_n")
                    - F.ceil(F.col("_n") * F.lit(threshold) - F.lit(1e-9))
                    + 1
                ).cast("int"),
            )
        ).alias("shingle"),
    )
    l, r = prefix.alias("l"), prefix.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l._id") < F.col("r._id"))
            # length filter: J >= t forces t*max(n_a,n_b) <= min(n_a,n_b).
            # Same ulp guard as the prefix ceil: 100*0.55 evaluates to
            # 55.000000000000007 in doubles, which would drop an
            # exactly-at-threshold pair with n=(100,55); the -1e-9 slack
            # only ever ADMITS borderline candidates (verify is exact).
            & (F.col("l._n") * F.lit(threshold) - F.lit(1e-9) <= F.col("r._n"))
            & (F.col("r._n") * F.lit(threshold) - F.lit(1e-9) <= F.col("l._n")),
        )
        .select(F.col("l._id").alias("a"), F.col("r._id").alias("b"))
        .distinct()
    )
    return ordered, cands


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard-threshold self-join via prefix filtering (PPJoin-style).

    Same output contract as ``ngram_jaccard_pairs`` — EVERY pair (a < b)
    with Jaccard(word-n-gram sets) ≥ threshold, exact values, no
    approximation — but candidate generation only explodes each document's
    *prefix*: its ``s − ceil(t·s) + 1`` globally-rarest shingles under one
    corpus-wide (document-frequency, shingle) ordering. Prefix-filtering
    principle (Chaudhuri et al., ICDE 2006; Xiao et al., WWW 2008 PPJoin):
    with all sets sorted by one global token order, J(A,B) ≥ t implies
    |A∩B| ≥ ceil(t·max(|A|,|B|)), and two sets whose intersection is that
    large must collide inside those prefixes — so joining on prefix tokens
    only, plus the length filter t·|A| ≤ |B| (wlog |A| ≤ |B|), loses no
    qualifying pair.

    Why this is the 100 TB shape while ``ngram_jaccard_pairs`` is not: the
    naive join's key is *every* shingle, so one boilerplate phrase shared
    by 10⁶ docs makes a 10¹²-row bucket. Here the join key is each doc's
    rarest-by-construction shingles — frequency-ordered prefixes
    concentrate candidates on exactly the tokens with the fewest
    occurrences corpus-wide — and the candidate set is deduplicated before
    the (arrays-carried, semi-join-pruned) exact verification, so hot
    shingles never pair-explode. The document-frequency table adds one
    map-side-combinable agg + one shuffle join on shingle.

    Plan: shingle-explode → df-count agg → per-doc ``array_sort`` on
    (df, shingle) → ``slice`` prefix → explode prefix → self-join on
    shingle (+ a<b + length filter) → distinct candidates → join back the
    two full shingle arrays → ``array_intersect`` exact verify. All
    built-ins, zero Python rows.

    Output: (a, b, jaccard), identical to ``ngram_jaccard_pairs``.
    """
    ordered, cands = _prefix_ordered_and_candidates(
        df, id_col, text_col, n, threshold
    )
    sets = ordered.select("_id", "_set", "_n")
    return (
        cands.join(
            sets.select(
                F.col("_id").alias("a"),
                F.col("_set").alias("_sa"),
                F.col("_n").alias("na"),
            ),
            "a",
        )
        .join(
            sets.select(
                F.col("_id").alias("b"),
                F.col("_set").alias("_sb"),
                F.col("_n").alias("nb"),
            ),
            "b",
        )
        .withColumn("inter", F.size(F.array_intersect("_sa", "_sb")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
