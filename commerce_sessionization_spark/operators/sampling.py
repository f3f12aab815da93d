"""Deterministic dataset splitting / sampling helpers.

The catalog's hash-mod Bernoulli and stratified samplers live in
``plans/queries.py``; this module adds the train/val/test split every
training-data pipeline ends with. Everything is keyed on a SHA-256 of
the row id — deterministic across runs, engines, and partitionings (no
``rand()`` state), join-stable (the same id always lands in the same
split, so features computed in separate jobs can't leak across splits),
and mergeable (new data splits independently of old).

``corpus_pipeline`` chains the whole training-corpus preparation
(quality gate → exact dedup → near-dup prune → optional DSIR top-k →
split) once, for the ``corpus`` CLI and every catalog query built on it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from commerce_sessionization_spark.functions.hashing import hex_to_long
from commerce_sessionization_spark.session import pin

#: Split-space resolution: weights are expressed in 1/10000ths.
SPLIT_BUCKETS = 10_000


def split_bucket(id_col: Column, seed: str = "split") -> Column:
    """Uniform bucket in [0, 10000) from sha256(seed ':' id)."""
    return (
        hex_to_long(F.sha2(F.concat(F.lit(f"{seed}:"), id_col.cast("string")), 256))
        % SPLIT_BUCKETS
    )


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    seed: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row a deterministic split label by hashed id.

    ``weights`` maps label → fraction (must sum to ≤ 1; any remainder
    falls into the last label). Default 90/5/5 train/val/test.
    """
    weights = weights or {"train": 0.90, "val": 0.05, "test": 0.05}
    b = split_bucket(F.col(id_col), seed)
    expr: Column | None = None
    acc = 0.0
    labels = list(weights.items())
    for name, w in labels[:-1]:
        acc += w
        cond = b < int(round(acc * SPLIT_BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = labels[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    weights: dict[str, float] | None = None,
    seed: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Train/val/test split that cannot leak near-duplicates across
    sides: hash the CLUSTER representative, not the document id.

    A plain hashed split (:func:`hash_split`) puts two near-identical
    documents on opposite sides of the split with probability
    2·p·(1-p) — at a 90/10 split, ~18% of every near-dup pair leaks
    the test set into training, which inflates eval exactly on the
    examples dedup was supposed to control. This operator first
    resolves ``pairs`` (any near-dup edge list: MinHash-LSH, SimHash,
    n-gram Jaccard, embedding cosine) into connected components
    (``dedup_components``: min-label propagation with pointer jumping),
    then splits on the component representative — every member of a
    near-dup cluster lands on the same side by construction, and
    singletons (component_id == own id) split identically to
    :func:`hash_split`, so a pair-free corpus degrades to the plain
    split bit-for-bit.

    Scale shape: the component loop touches only the (tiny) pair set;
    docs join components on the id (one shuffle) and the split label
    is one sha256 per row. Adds ``component_id`` and ``out_col``.
    """
    from commerce_sessionization_spark.operators.dedup import (
        dedup_components,
    )

    comps = dedup_components(pairs, docs.select(id_col), id_col)
    joined = docs.join(comps, id_col)
    return hash_split(
        joined, id_col="component_id", weights=weights, seed=seed,
        out_col=out_col,
    )


def weighted_priority(id_col: Column, weight_col: Column, seed: str = "ws") -> Column:
    """A-ES weighted-sampling priority: −ln(u)/w with u hash-derived.

    Efraimidis–Spirakis: taking the k SMALLEST priorities yields a
    weighted sample without replacement (inclusion odds ∝ weight).
    u = (sha-derived 52-bit int + 0.5) / 2^52 — strictly inside (0, 1)
    with EXACT double arithmetic (a 60-bit hash cast to double rounds,
    and any h within one ulp of 2^60 collapsed u onto 1.0, making the
    priority 0 — that doc would win a slot regardless of weight) —
    and deterministic across runs/engines (no rand() state), so the
    sample is reproducible and join-stable like every sampler here.
    The only non-integer step is ln(); selection flips require the k-th
    and (k+1)-th priorities within one ulp — vanishing for hash-random
    inputs.
    """
    h = hex_to_long(
        F.sha2(F.concat(F.lit(f"{seed}:"), id_col.cast("string")), 256),
        n_chars=13,
    )
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 52))
    return -F.log(u) / weight_col.cast("double")


def weighted_sample(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
    seed: str = "ws",
) -> DataFrame:
    """Deterministic weighted sample without replacement: k rows, chosen
    with probability proportional to ``weight_col`` (A-ES priorities +
    global top-k — TakeOrdered, no full sort materialization)."""
    p = weighted_priority(F.col(id_col), F.col(weight_col), seed)
    return (
        df.withColumn("_priority", p)
        .orderBy("_priority")
        .limit(k)
        .drop("_priority")
    )


def gumbel_top_k(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    weight_col: str = "dsir_w_q6",
    seed: str = "dsir",
) -> DataFrame:
    """Gumbel-top-k importance resample (Vieira 2014): the k largest
    ``w + Gumbel(u)`` keys are a sample ∝ exp(w) WITHOUT replacement.

    ``weight_col`` is a q6-quantized integer log-weight (see
    ``dsir_weights``); dividing it back to double makes the dominant
    key term bit-identical across engines, and the Gumbel noise
    ``-ln(-ln(u))`` uses hash-derived u strictly inside (0, 1), so the
    selection is deterministic, engine-replayable, and exp()-free (no
    overflow for any weight range). Global top-k = TakeOrdered, no full
    sort.

    The hash is truncated to 52 bits so ``(h + 0.5) / 2^52`` is EXACT
    double arithmetic: a 60-bit hash cast to double rounds, and every
    h within one ulp of 2^60 yielded u == 1.0, whose ``ln(-ln(u))`` is
    ln(0) → NULL in Spark — silently sorting that doc last regardless
    of weight. A secondary ascending id order breaks exact key ties the
    same way in every engine.
    """
    h = hex_to_long(
        F.sha2(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")), 256),
        n_chars=13,
    )
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 52))
    key = F.col(weight_col).cast("double") / F.lit(1_000_000.0) - F.log(
        -F.log(u)
    )
    return (
        weights.withColumn("_gumbel_key", key)
        .orderBy(F.desc("_gumbel_key"), F.asc(id_col))
        .limit(k)
        .drop("_gumbel_key")
    )


def gram_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    extra_cols: tuple = (),
) -> DataFrame:
    """One row per bigram occurrence: (id, bucket[, extra...]), with
    bucket = sha256(gram) mod ``n_buckets``. The shared tokenizer step
    of the DSIR batch operator and its streaming maintainer — both MUST
    hash grams identically or the maintained stats drift from the batch
    law."""
    from commerce_sessionization_spark.operators.text import TOKEN_PATTERN

    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(TOKEN_PATTERN), F.lit(0)
    )
    with_toks = df.select(F.col(id_col), *extra_cols, toks.alias("_toks"))
    grams = F.expr(
        "transform(slice(_toks, 1, greatest(size(_toks) - 1, 0)),"
        " (x, i) -> concat(x, ' ', _toks[i + 1]))"
    )
    keep = [id_col] + [c for c in with_toks.columns if c not in (id_col, "_toks")]
    return with_toks.select(
        *keep, F.explode(grams).alias("gram")
    ).select(
        *keep,
        F.pmod(
            hex_to_long(F.sha2(F.col("gram"), 256), 8), F.lit(int(n_buckets))
        ).alias("bucket"),
    )


def dsir_log_ratios(counts: DataFrame, n_buckets: int = 256) -> DataFrame:
    """The ``n_buckets``-row (bucket, rb) log-ratio table from a
    (bucket, ct, cr) count table (ct = target-corpus gram count,
    cr = raw-corpus gram count; missing buckets may be absent or null).

    rb = ln((ct+1)(Nr+B) / ((cr+1)(Nt+B))) with every factor cast to
    double before multiplying — ONE division, ONE ln per bucket, so the
    table is bit-identical across engines. This is the only piece of
    DSIR state a maintainer needs to persist: it is derived from two
    mergeable count vectors, so importance weights can refresh as a
    crawl lands (see streaming.rollup_stream.make_dsir_writer).
    """
    B = int(n_buckets)
    spark = counts.sparkSession
    nt = counts.agg(F.sum("ct").alias("nt"))
    nr = counts.agg(F.sum("cr").alias("nr"))
    buckets = spark.range(B).select(F.col("id").alias("bucket"))
    return (
        buckets.join(F.broadcast(counts), "bucket", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select(
            "bucket",
            F.log(
                (
                    (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                    * (F.col("nr") + B).cast("double")
                )
                / (
                    (F.coalesce(F.col("cr"), F.lit(0)) + 1).cast("double")
                    * (F.col("nt") + B).cast("double")
                )
            ).alias("rb"),
        )
    )


def dsir_score(
    raw: DataFrame,
    ratios: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """Score documents against a prebuilt (bucket, rb) log-ratio table —
    the serving half of DSIR, decoupled from the corpus-statistics half
    so a streaming maintainer's state can stand in for the batch pass.
    Output: (id, n_grams, dsir_w_q6). See ``dsir_weights`` for the
    determinism contract (bucket-ordered left fold)."""
    k = (
        gram_buckets(raw, text_col, id_col, n_buckets)
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    return (
        k.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("k").alias("n_grams"),
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("bucket"),
                        (F.col("k").cast("double") * F.col("rb")).alias("t"),
                    )
                )
            ).alias("_terms"),
        )
        .select(
            id_col,
            "n_grams",
            F.floor(
                F.aggregate(
                    "_terms",
                    F.lit(0.0),
                    lambda acc, x: acc + x["t"],
                )
                * F.lit(1_000_000.0)
            )
            .cast("long")
            .alias("dsir_w_q6"),
        )
    )


#: Rational-sort resolution for :func:`mixture_waterfill`: with integer
#: weights ≤ 1e6, two distinct ratios a1/w1 ≠ a2/w2 differ by at least
#: 1/(w1·w2) ≥ 1e-12, so floor(a·1e12/w) is a collision-free exact sort
#: key — no floating-point division anywhere in the pivot search.
_WATERFILL_KEY_SCALE = 10**12


def mixture_waterfill(
    avail: DataFrame,
    budget: DataFrame,
    domain_col: str = "domain",
    avail_col: str = "available",
    target_col: str = "target_ppm",
) -> DataFrame:
    """Token-budget waterfilling across domains: the mixture-planning
    step that runs BEFORE any sampler. Given per-domain availability
    ``A_d`` (tokens on disk), integer target weights ``w_d`` (ppm
    scale: each weight must be ≤ 1e6 — the collision-free sort key
    below is only exact under that bound), and a training budget ``B``,
    compute the unique allocation ``t_d = min(A_d, w_d·s)`` whose sum
    exhausts the budget — low-resource domains saturate at what they
    have, and the water level ``s`` (tokens per weight unit) rises until
    the remaining domains absorb the rest in target proportion. This is
    the standard feasibility solve behind temperature/mixture recipes
    (the "epochs over low-resource languages" tables in multilingual-LM
    papers): targets alone overshoot what small domains can supply, and
    naive renormalisation silently shifts the mixture.

    Exactness: domains sort by the collision-free integer key
    ``floor(A·1e12/w)`` (see ``_WATERFILL_KEY_SCALE``) — the saturated
    set is always a prefix of that order. The pivot test for position k
    ("does domain k still saturate?") is the cross-multiplied rational
    comparison ``A_k·(TW − prevW_k) < w_k·(B − prevA_k)`` in
    decimal(38,0), and unsaturated allocations are the exact integer
    division ``floor(w_d·R / W)`` via the subtract-modulo identity —
    no float enters the solve, so the result is reproducible across
    engines, partitionings, and scales.

    Scale shape: one groupBy has already reduced the corpus to ≤ |domains|
    rows before this operator runs; everything here is arithmetic over
    that tiny frame plus one broadcast of the 1-row (totals × budget)
    anchor and one broadcast of the 1-row saturated-prefix residual.
    Zero wide shuffles; the corpus itself never enters.

    ``budget`` is a 1-row DataFrame with a ``budget`` column (keep it a
    DataFrame so data-derived budgets stay inside the plan — no
    driver-side collect).

    Returns one row per input domain: ``domain, available, target_ppm,
    saturated (int), alloc_tokens, fill_ppm`` where fill_ppm =
    floor(alloc·1e6/available) (1e6 for empty domains).
    """
    from pyspark.sql import Window

    from pyspark import StorageLevel

    d38 = "decimal(38,0)"
    # persist the |domains|-row frame: the solve references it from
    # seven branches (live/zero_w/anchor/ranked/residual/filled), and
    # without the cache every branch re-runs the caller's corpus
    # aggregation — 12 parquet scans of the corpus instead of 1 in the
    # catalog query's plan (PLANS.md receipt). Model-sized, so the
    # leaked cache block is a few KB per call (the graph operators'
    # persist convention).
    base = avail.select(
        F.col(domain_col).alias("domain"),
        F.col(avail_col).cast("long").alias("_a"),
        F.col(target_col).cast("long").alias("_w"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # Zero-weight domains take no part in the fill: alloc = 0.
    zero_w = base.filter(F.col("_w") <= 0).select(
        "domain",
        F.col("_a").alias("available"),
        F.col("_w").alias("target_ppm"),
        F.lit(0).alias("saturated"),
        F.lit(0).cast("long").alias("alloc_tokens"),
        F.lit(0).cast("long").alias("fill_ppm"),
    )
    live = base.filter(F.col("_w") > 0)
    anchor = (
        live.agg(F.sum("_w").cast(d38).alias("_tw"))
        .crossJoin(budget.select(F.col("budget").cast(d38).alias("_b")))
    )
    p = (F.col("_a").cast(d38) * F.lit(_WATERFILL_KEY_SCALE).cast(d38))
    key = ((p - p % F.col("_w").cast(d38)) / F.col("_w").cast(d38)).cast(d38)
    win = Window.orderBy("_key", "domain")
    ranked = (
        live.withColumn("_key", key)
        .crossJoin(F.broadcast(anchor))
        .withColumn("_cuma", F.sum("_a").over(win).cast(d38))
        .withColumn("_cumw", F.sum("_w").over(win).cast(d38))
        .withColumn(
            "_sat",
            (
                F.col("_a").cast(d38)
                * (F.col("_tw") - (F.col("_cumw") - F.col("_w")))
                < F.col("_w").cast(d38)
                * (F.col("_b") - (F.col("_cuma") - F.col("_a")))
            ).cast("int"),
        )
    )
    residual = ranked.agg(
        (F.max("_b") - F.coalesce(
            F.sum(F.when(F.col("_sat") == 1, F.col("_a"))), F.lit(0)
        ).cast(d38)).alias("_r"),
        (F.max("_tw") - F.coalesce(
            F.sum(F.when(F.col("_sat") == 1, F.col("_w"))), F.lit(0)
        ).cast(d38)).alias("_rw"),
    )
    wr = F.col("_w").cast(d38) * F.col("_r")
    alloc = F.when(F.col("_sat") == 1, F.col("_a").cast(d38)).otherwise(
        F.when(
            F.col("_rw") > 0,
            (wr - wr % F.col("_rw")) / F.col("_rw"),
        ).otherwise(F.lit(0))
    ).cast("long")
    filled = (
        ranked.crossJoin(F.broadcast(residual))
        .withColumn("_alloc", F.greatest(F.lit(0).cast("long"), alloc))
        .select(
            "domain",
            F.col("_a").alias("available"),
            F.col("_w").alias("target_ppm"),
            F.col("_sat").alias("saturated"),
            F.col("_alloc").alias("alloc_tokens"),
            F.when(F.col("_a") <= 0, F.lit(1000000).cast("long"))
            .otherwise(
                # subtract-modulo exact floor division: Spark decimal
                # division HALF_UP-rounds at scale 6 before floor, so
                # frac >= 1-5e-7 would round up past the oracle's //
                (
                    (
                        F.col("_alloc").cast(d38) * F.lit(1000000).cast(d38)
                        - (F.col("_alloc").cast(d38)
                           * F.lit(1000000).cast(d38))
                        % F.col("_a").cast(d38)
                    )
                    / F.col("_a").cast(d38)
                ).cast("long")
            )
            .alias("fill_ppm"),
        )
    )
    return filled.unionByName(zero_w)


def dsir_weights(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR-style hashed-bigram importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling").

    Scores every ``raw`` document by how much its hashed-bigram profile
    looks like the ``target`` corpus: weight =
    Σ_b k_b · ln( (ct_b+1)(Nr+B) / (cr_b+1)(Nt+B) ), where k_b is the
    doc's gram count in bucket b, ct/cr the target/raw corpus bucket
    counts (add-one smoothed), Nt/Nr the corpus gram totals. Downstream
    selection = ``weighted_sample`` over ``exp(weight)`` or a plain
    top-k; this operator stops at the weights so the heavy passes stay
    deterministic and oracle-checkable.

    Scale shape: two corpus-stat aggregations collapse to ``n_buckets``
    rows each (map-side combinable, then broadcast); the per-doc pass is
    explode → groupBy(doc, bucket) — also combinable, bounded by
    ``n_buckets`` rows per doc — then one broadcast join against the
    bucket ratio table and a final per-doc sum. No window, no self-join;
    both shuffles key on (doc, bucket) / doc, uniform by construction.
    The per-bucket log ratio is computed ONCE in the 256-row table
    (each factor cast to double before multiplying, one division, one
    ln) so engine float parity holds to the quantization margin; the
    per-doc sum then left-folds the ≤256 k·rb terms in BUCKET ORDER
    (array_sort on the unique bucket key, then ``F.aggregate``) rather
    than a commutative ``sum()``, so the float total is bit-identical
    across engines and partitionings — a plain sum is order-dependent
    and can flip the q6 quantization on a 1e-6 boundary.
    """
    B = int(n_buckets)
    ct = (
        gram_buckets(target, text_col, id_col, B)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    cr = (
        gram_buckets(raw, text_col, id_col, B)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cr"))
    )
    counts = ct.join(cr, "bucket", "full")
    return dsir_score(
        raw, dsir_log_ratios(counts, B), text_col, id_col, B
    )


@dataclass(frozen=True)
class CorpusStages:
    """The stages of one :func:`corpus_pipeline` run that
    :meth:`drop_status` reads back to say where each document left."""

    scored: DataFrame  # every input row plus its quality_score
    uniq: DataFrame  # gate-passing exact-dedup representatives
    near_dups: DataFrame | None  # doc_id of each pruned near-duplicate
    corpus: DataFrame  # the kept rows with their split label
    min_quality: float
    selected: bool  # a DSIR top-k stage ran

    def drop_status(self) -> DataFrame:
        """(doc_id, status) for every input document, attributed to the
        first stage that dropped it: 'quality' (below the gate, or a
        NULL score from null/empty text), 'exact_dup' (lost the min-id
        representative), 'near_dup' (pruned as the larger id of a
        Jaccard pair), 'not_selected' (survived pruning, missed the
        DSIR top-k) or 'kept'. Needs the near-dup stage."""

        def ids(df: DataFrame, flag: str) -> DataFrame:
            return df.select("doc_id").withColumn(flag, F.lit(1))

        rows = (
            self.scored.select("doc_id", "quality_score")
            .join(ids(self.uniq, "_u"), "doc_id", "left")
            .join(ids(self.near_dups, "_nd"), "doc_id", "left")
        )
        if self.selected:
            rows = rows.join(ids(self.corpus, "_k"), "doc_id", "left")
        else:  # without a selection stage every survivor is kept
            rows = rows.withColumn("_k", F.lit(1))
        score = F.col("quality_score")
        return rows.select(
            "doc_id",
            F.when(score.isNull() | (score < self.min_quality), "quality")
            .when(F.col("_u").isNull(), "exact_dup")
            .when(F.col("_nd") == 1, "near_dup")
            .when(F.col("_k").isNull(), "not_selected")
            .otherwise("kept")
            .alias("status"),
        )


def corpus_pipeline(
    docs: DataFrame,
    min_quality: float = 0.5,
    jaccard: float | None = 0.8,
    dsir_k: int | None = None,
    target_lang: str = "en",
    audit: bool = False,
) -> CorpusStages:
    """Training-corpus preparation over (doc_id, text[, lang]) rows, in
    the order practitioners run the passes: quality gate (``quality_score``
    ≥ ``min_quality``) → exact dedup (min-id representative) → near-dup
    prune (drop the larger id of every 3-gram Jaccard ≥ ``jaccard`` pair
    among the representatives; skipped when ``jaccard`` is None) →
    optional DSIR Gumbel-top-``dsir_k`` toward the ``lang ==
    target_lang`` subcorpus → 90/5/5 ``hash_split`` labels.

    With DSIR the kept rows also carry their ``n_grams`` and
    ``dsir_w_q6`` (the selection's evidence), joined back from the
    k-row top-k by broadcast.

    A stage is pinned (``session.pin``) only where it is read twice:
    ``uniq`` feeds both the pair generation and the anti-join, the
    survivors feed both DSIR corpus statistics and the join back, and
    ``audit=True`` pins the near-dup ids and the corpus, which
    :meth:`CorpusStages.drop_status` and the caller's writes read again.
    """
    from commerce_sessionization_spark.operators.dedup import (
        exact_dedup,
        ngram_jaccard_pairs,
    )
    from commerce_sessionization_spark.operators.text import quality_score

    scored = quality_score(docs)
    gated = scored.where(F.col("quality_score") >= min_quality)
    uniq = exact_dedup(gated.select(*docs.columns))
    survivors, near_dups = uniq, None
    if jaccard is not None:
        uniq = pin(uniq)
        near_dups = (
            ngram_jaccard_pairs(uniq, n=3, threshold=jaccard)
            .select(F.col("b").alias("doc_id"))
            .distinct()
        )
        if audit:
            near_dups = pin(near_dups)
        survivors = uniq.join(near_dups, "doc_id", "left_anti")
    if dsir_k:
        survivors = pin(survivors)
        w = dsir_weights(
            survivors, survivors.filter(F.col("lang") == target_lang)
        )
        survivors = survivors.join(
            F.broadcast(gumbel_top_k(w, dsir_k)), "doc_id"
        )
    corpus = hash_split(survivors, "doc_id")
    if audit:
        corpus = pin(corpus)
    return CorpusStages(
        scored, uniq, near_dups, corpus, min_quality, bool(dsir_k)
    )
