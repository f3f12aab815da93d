"""Similarity search over an embedding column (north-star surface).

- ``brute_force_topk``    — exact cosine top-k: broadcast the query vector,
  score every row JVM-side (``functions.vectors``), take-ordered k. The
  correctness baseline; linear scan, no shuffle except the final top-k.
- ``all_pairs_topk``      — per-row k nearest neighbors among a (small)
  query set: broadcast the queries, one window per query id.
- ``ivf_build/ivf_search``— IVF-style ANN: k-means-ish centroid assignment
  (deterministic seed centroids = first vectors by id), search probes only
  the ``nprobe`` closest partitions — the 100 TB path: the bucket-join
  prunes (1 − nprobe/nlist) of the corpus from the scan.
- ``lsh_bucket_topk``     — random-hyperplane LSH bucketing (sign bits →
  bucket key) with exact re-scoring inside the probed bucket.
- ``embedding_dedup_pairs`` — near-duplicate vectors by cosine ≥ threshold
  within LSH buckets (embedding-space near-dup for the dedup suite).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from commerce_sessionization_spark.functions.vectors import (
    cosine_similarity,
    dot_product,
    l2_norm,
)
from commerce_sessionization_spark.session import pin

# Norm hoisting (used by every cross-scoring path below): cosine is
# dot(a,b) / (|a|·|b|), and computing it per PAIR re-derives both norms
# once per partner — |queries|× per corpus row. Hoisting |a| into a
# projection before the crossJoin and |b| into the broadcast side keeps
# the VALUES bit-identical (the same sqrt of the same left-to-right sum,
# divided by the same product, just computed once) while cutting the
# per-pair work to the dot product alone.


def brute_force_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of ``df`` against a single-row ``query_df``.

    The query side is crossJoin(broadcast(...)) — no collect, no shuffle of
    the corpus; ordering ties break on id for determinism.
    """
    q = F.broadcast(
        query_df.select(
            F.col(query_vec_col).alias("_qvec"),
            l2_norm(F.col(query_vec_col)).alias("_qn"),
        )
    )
    return (
        df.select(id_col, vec_col, l2_norm(F.col(vec_col)).alias("_vn"))
        .crossJoin(q)
        .select(
            id_col,
            (
                dot_product(F.col(vec_col), F.col("_qvec"))
                / (F.col("_vn") * F.col("_qn"))
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.col(id_col))
        .limit(k)
    )


def all_pairs_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """k nearest corpus rows per query row (queries broadcast)."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("_qid"),
            F.col(vec_col).alias("_qvec"),
            l2_norm(F.col(vec_col)).alias("_qn"),
        )
    )
    scored = (
        corpus.select(id_col, vec_col, l2_norm(F.col(vec_col)).alias("_vn"))
        .crossJoin(q)
        .select(
            F.col("_qid").alias(query_id_col),
            F.col(id_col),
            (
                dot_product(F.col(vec_col), F.col("_qvec"))
                / (F.col("_vn") * F.col("_qn"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("cosine"), F.col(id_col))
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
) -> DataFrame:
    """Assign each vector to its max-cosine centroid (centroids broadcast).

    This is the IVF "build": at scale, write the output partitioned by
    ``centroid_id`` so a search probes only matching partitions (partition
    pruning does the (1 − nprobe/nlist) skip for free).
    """
    # the max_by payload struct reserves these internal field names and
    # re-projects fields by name, so an input column that collides (or
    # contains the struct-path separator) would resolve ambiguously —
    # fail loudly instead (ADVICE r10 item 2)
    reserved = {"_cid", "_cvec", "_cn", "_vn", "_sim", "_gid", "_w", "_nc"}
    bad = [c for c in df.columns if c in reserved or "." in c or "`" in c]
    if bad:
        raise ValueError(
            f"ivf_assign: input columns {bad!r} collide with reserved "
            "internal names or contain struct-path characters; rename "
            "them before calling"
        )
    c = F.broadcast(
        centroids.select(
            F.col(centroid_id_col).alias("_cid"),
            F.col(vec_col).alias("_cvec"),
            l2_norm(F.col(vec_col)).alias("_cn"),
        )
    )
    # row norm hoisted before the crossJoin (see module note): the same
    # double as the per-pair formulation, computed once instead of nlist×
    scored = (
        df.withColumn("_vn", l2_norm(F.col(vec_col)))
        .crossJoin(c)
        .withColumn(
            "_sim",
            dot_product(F.col(vec_col), F.col("_cvec"))
            / (F.col("_vn") * F.col("_cn")),
        )
    )
    # argmax as ONE map-side-combinable aggregate, not a row_number
    # window: the window formulation shuffles n×nlist rows each carrying
    # the full vector payload just to rank them, while max_by collapses
    # every group to its winner inside the scan partition (the crossJoin
    # fanout never reaches the exchange — n rows cross, not n×nlist).
    # Ordering (_sim desc, then smallest _cid) is replicated exactly as
    # max of (_sim, −_cid): sims are computed by the identical codegen
    # expression per (row, centroid), so the winner — and therefore
    # every output value — is unchanged.
    payload = F.struct(
        *[F.col(col) for col in df.columns], F.col("_cid")
    )
    best = scored.groupBy(F.col(id_col).alias("_gid")).agg(
        F.max_by(
            payload, F.struct(F.col("_sim"), (-F.col("_cid")).alias("_nc"))
        ).alias("_w")
    )
    # getField (not a dotted f-string path) so field resolution never
    # re-parses column names as struct paths (ADVICE r10 item 2)
    w = F.col("_w")
    return best.select(
        *[w.getField(col).alias(col) for col in df.columns],
        w.getField("_cid").alias(centroid_id_col),
    )


def seed_centroids(
    df: DataFrame, nlist: int = 16, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic centroid seed: the ``nlist`` smallest-id vectors.

    (A full Lloyd's iteration is an easy extension; deterministic seeds keep
    tests and oracles reproducible.)
    """
    return (
        df.orderBy(id_col)
        .limit(nlist)
        .select(
            F.row_number().over(Window.orderBy(id_col)).alias("centroid_id"),
            F.col(vec_col),
        )
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 16,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tol: float = 1e-6,
) -> DataFrame:
    """Lloyd's k-means over an embedding column, all-DataFrame iterations.

    Per iteration: broadcast the k×dim centroids (tiny model state — held on
    the driver between rounds, as MLlib does), assign each vector to its
    nearest centroid by cosine, recompute centroids as element-wise means
    via posexplode + groupBy(cluster, pos) — a flat partial-aggregable agg,
    never a collect of vectors. Deterministic: seeds are the ``k``
    smallest-id vectors; ties break by centroid id.

    Returns a centroid DataFrame ``(centroid_id, {vec_col})`` compatible
    with ``ivf_assign`` / ``ivf_search``.
    """
    spark = df.sparkSession
    seeds = [
        (i + 1, [float(x) for x in r[1]])
        for i, r in enumerate(
            df.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
        )
    ]
    cent_schema = f"centroid_id int, {vec_col} array<double>"
    centroids = seeds
    for _ in range(max_iter):
        cdf = spark.createDataFrame(centroids, cent_schema)
        assigned = ivf_assign(df, cdf, id_col=id_col, vec_col=vec_col)
        means = (
            assigned.select(
                "centroid_id", F.posexplode(F.col(vec_col).cast("array<double>"))
            )
            .groupBy("centroid_id", "pos")
            .agg(F.avg("col").alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias(vec_col)
            )
        )
        new_centroids = {r["centroid_id"]: list(r[vec_col]) for r in means.collect()}
        # empty clusters keep their previous centroid
        updated = [
            (cid, new_centroids.get(cid, vec)) for cid, vec in centroids
        ]
        shift = max(
            sum((a - b) ** 2 for a, b in zip(old, new)) ** 0.5
            for (_, old), (_, new) in zip(centroids, updated)
        )
        centroids = updated
        if shift < tol:
            break
    return spark.createDataFrame(centroids, cent_schema)


def ivf_search(
    assigned: DataFrame,
    centroids: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k probing only the ``nprobe`` centroids closest to the query."""
    q = F.broadcast(query_df.select(F.col(vec_col).alias("_qvec")))
    c = F.broadcast(centroids.select("centroid_id", F.col(vec_col).alias("_cvec")))
    probe_ids = (
        q.crossJoin(c)
        .select(
            "centroid_id",
            cosine_similarity(F.col("_qvec"), F.col("_cvec")).alias("_sim"),
        )
        .orderBy(F.desc("_sim"), "centroid_id")
        .limit(nprobe)
        .select("centroid_id")
    )
    pruned = assigned.join(F.broadcast(probe_ids), "centroid_id")
    return brute_force_topk(pruned, query_df, k=k, id_col=id_col, vec_col=vec_col)


def hyperplane_bucket(
    vec_col: str = "embedding", n_planes: int = 8, dim: int | None = None, seed: int = 42
) -> "F.Column":
    """Random-hyperplane LSH bucket key (int) as a pure column expression.

    Hyperplane m's weight for dimension d derives from sha2(seed-m-d) — a
    deterministic ±1 Rademacher projection; sign bit m of the dot product
    contributes 2^m to the bucket key. Needs ``dim`` (vector length) at plan
    time to unroll JVM-side.
    """
    import hashlib

    assert dim is not None, "hyperplane_bucket needs the embedding dimension"
    v = F.col(vec_col).cast("array<double>")
    key = F.lit(0)
    for m in range(n_planes):
        signs = [
            1.0
            if int(hashlib.sha256(f"{seed}-{m}-{d}".encode()).hexdigest()[:8], 16) % 2
            else -1.0
            for d in range(dim)
        ]
        dot = F.aggregate(
            F.zip_with(
                v,
                F.array(*[F.lit(s) for s in signs]),
                lambda x, s: x * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        key = key + F.when(dot >= 0, F.lit(1 << m)).otherwise(F.lit(0))
    return key


def embedding_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate vector pairs (a < b, cosine ≥ threshold).

    Pairs are generated only within an LSH bucket (high-cosine pairs land in
    the same bucket with probability (1 − θ/π)^planes), then exact-verified.
    For exhaustive small-scale verification set ``n_planes=0`` (single
    bucket → all pairs).
    """
    if n_planes:
        bucketed = df.withColumn(
            "_bucket", hyperplane_bucket(vec_col, n_planes=n_planes, dim=dim)
        )
    else:
        bucketed = df.withColumn("_bucket", F.lit(0))
    # norm per VECTOR, not per verified pair (cf. the module note on
    # norm hoisting) — carried through both self-join sides
    bucketed = bucketed.withColumn("_nrm", l2_norm(F.col(vec_col)))
    l = bucketed.select(
        F.col("_bucket"),
        F.col(id_col).alias("a"),
        F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    r = bucketed.select(
        F.col("_bucket").alias("_bucket_r"),
        F.col(id_col).alias("b"),
        F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    return (
        l.join(r, (F.col("_bucket") == F.col("_bucket_r")) & (F.col("a") < F.col("b")))
        .withColumn(
            "cosine",
            dot_product(F.col("_va"), F.col("_vb"))
            / (F.col("_na") * F.col("_nb")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("a", "b", "cosine")
    )


def ivf_write_index(
    assigned: DataFrame,
    path: str,
    centroid_id_col: str = "centroid_id",
) -> None:
    """Persist an IVF build partitioned by centroid — the on-disk index.

    Probing then *is* partition pruning: a reader filtering on
    ``centroid_id`` scans only the matching directories, so a search
    touches ``nprobe/nlist`` of the corpus bytes and skips the rest at
    the file-listing level (asserted in ``tests/test_similarity_index``).
    One clustered task per centroid keeps file counts at O(nlist).
    """
    (
        assigned.repartition(F.col(centroid_id_col))
        .write.partitionBy(centroid_id_col)
        .mode("overwrite")
        .parquet(path)
    )


def ivf_search_on_disk(
    spark,
    index_path: str,
    centroids: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k against the on-disk IVF index via partition pruning.

    The ``nprobe`` probe centroids resolve driver-side (k×dim model state,
    same footprint as the k-means fit) so the partition filter is static —
    Catalyst prunes directories during file listing, before any scan task
    launches.
    """
    q = F.broadcast(query_df.select(F.col(vec_col).alias("_qvec")))
    c = F.broadcast(centroids.select("centroid_id", F.col(vec_col).alias("_cvec")))
    probe_ids = [
        r["centroid_id"]
        for r in (
            q.crossJoin(c)
            .select(
                "centroid_id",
                cosine_similarity(F.col("_qvec"), F.col("_cvec")).alias("_sim"),
            )
            .orderBy(F.desc("_sim"), "centroid_id")
            .limit(nprobe)
            .collect()
        )
    ]
    pruned = spark.read.parquet(index_path).where(
        F.col("centroid_id").isin(probe_ids)
    )
    return brute_force_topk(pruned, query_df, k=k, id_col=id_col, vec_col=vec_col)


def jl_signs(in_dim: int, out_dim: int, seed: str = "jl") -> list[list[float]]:
    """Deterministic ±1 Johnson-Lindenstrauss sign matrix, derived from
    sha256 so any engine (or the DuckDB oracle) regenerates the same
    matrix from the same seed. signs[j] is the in_dim coefficient row
    for output dimension j."""
    import hashlib

    return [
        [
            1.0
            if hashlib.sha256(f"{seed}:{i}:{j}".encode()).digest()[0] < 128
            else -1.0
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def jl_project(
    df,
    in_dim: int,
    out_dim: int = 16,
    vec_col: str = "embedding",
    out_col: str = "jl",
    seed: str = "jl",
):
    """Random-projection dimensionality reduction (sparse JL, ±1 signs):
    out[j] = (Σ_i s_ij·v[i]) / sqrt(out_dim·? ) — scaled by 1/sqrt(out_dim)
    so pairwise L2 distances are preserved in expectation (the JL lemma).

    Pure narrow plan: out_dim dot products against literal sign rows —
    whole-stage codegen, zero shuffles, in_dim·out_dim multiply-adds per
    row. The 4x (64→16) compressed vectors feed any downstream distance
    op; compose with PQ for compression × quantization. Distance
    preservation is measured (not assumed) by the ``jl_distance_ratios``
    catalog query and pinned in tests.
    """
    from commerce_sessionization_spark.functions.vectors import dot_product

    signs = jl_signs(in_dim, out_dim, seed)
    v = F.col(vec_col).cast("array<double>")
    scale = 1.0 / (out_dim ** 0.5)
    comps = [
        (
            dot_product(v, F.array(*[F.lit(s) for s in signs[j]]))
            * F.lit(scale)
        ).alias(f"_j{j}")
        for j in range(out_dim)
    ]
    return df.select("*", F.array(*comps).alias(out_col)).drop(
        *[f"_j{j}" for j in range(out_dim)]
    )


def sq_bounds(
    df: DataFrame, dim: int, vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension (min, max) corpus bounds as ONE 1-row aggregate.

    ``dim`` column-min/max aggregates in a single pass — map-side
    combinable, no explode (an (row × dim) explode would shuffle
    dim·n rows for the same two arrays). The 1-row result broadcasts
    into the encoder via crossJoin: no driver collect on the data path.
    """
    v = F.col(vec_col).cast("array<double>")
    return df.agg(
        F.array(*[F.min(v[i]) for i in range(dim)]).alias("_mn"),
        F.array(*[F.max(v[i]) for i in range(dim)]).alias("_mx"),
    )


def sq_encode(
    df: DataFrame,
    bounds: DataFrame,
    vec_col: str = "embedding",
    code_col: str = "sq_code",
    levels: int = 256,
) -> DataFrame:
    """int8-style scalar quantization: each dimension mapped to an
    integer code 0..levels-1 on the corpus min/max grid.

    code_i = clamp(floor((x_i − min_i) · (levels−1) / (max_i − min_i)))
    — the expression keeps ONE multiply before the divide, in that
    order, so any IEEE-double engine (the DuckDB oracle included)
    reproduces the codes bit-for-bit. Degenerate dims (min == max)
    encode as 0. 64 dims × int8 = a 4× compression over float32, and
    distance evaluation becomes small-integer arithmetic.
    """
    hi = F.lit(levels - 1)
    v = F.col(vec_col).cast("array<double>")
    code = F.transform(
        v,
        lambda x, i: F.when(
            F.element_at(F.col("_mx"), i + 1) == F.element_at(F.col("_mn"), i + 1),
            F.lit(0),
        ).otherwise(
            F.least(
                hi,
                F.greatest(
                    F.lit(0),
                    F.floor(
                        (x - F.element_at(F.col("_mn"), i + 1)) * hi
                        / (
                            F.element_at(F.col("_mx"), i + 1)
                            - F.element_at(F.col("_mn"), i + 1)
                        )
                    ).cast("int"),
                ),
            )
        ),
    )
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn(code_col, code)
        .drop("_mn", "_mx")
    )


def sq_topk(
    df: DataFrame,
    query_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "sq_code",
    levels: int = 256,
) -> DataFrame:
    """Symmetric SQ top-k: rank by the EXACT integer dot product of
    zero-centered codes, Σ (cx_i − L/2)(cq_i − L/2).

    The score is pure integer arithmetic (64 dims × 128² ≈ 10⁶ per
    term — far inside long range), so results hash-compare across
    engines with no float quantization step. Plan shape matches
    ``brute_force_topk``: broadcast the 1-row query codes, score every
    row in codegen, TakeOrdered k — the corpus never shuffles.
    """
    half = F.lit(levels // 2)
    q = F.broadcast(query_df.select(F.col(code_col).alias("_qc")))
    score = F.aggregate(
        F.zip_with(
            F.col(code_col), F.col("_qc"), lambda a, b: (a - half) * (b - half)
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        df.crossJoin(q)
        .select(F.col(id_col), score.alias("sq_score"))
        .orderBy(F.desc("sq_score"), F.col(id_col))
        .limit(k)
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.5,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    score_col: str = "cosine",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-rank of ANN candidates (Carbonell &
    Goldstein, SIGIR 1998): greedily pick
    argmax λ·score(q,d) − (1−λ)·max_{s∈selected} cos(d,s), trading
    relevance against redundancy — the diversified-retrieval /
    training-data-selection stage after any top-N.

    Scale shape: MMR is inherently sequential PER QUERY but the
    candidate set is the ANN stage's top-N (tens of rows), so this is
    the textbook ``applyInPandas`` case — one shuffle on the query key,
    then an N×d numpy block per group; the corpus itself never enters.
    λ=1 reduces to plain score order (pinned in tests); ties break on
    id for determinism.

    Input: one row per (query, candidate) with the candidate's vector
    and relevance score — i.e. ``all_pairs_topk(...)`` joined back to
    its vectors. Output: (query, id, mmr_rank, mmr_score), k rows per
    query.
    """
    import numpy as np
    import pandas as pd  # noqa: F401 — applyInPandas contract

    # Output key types follow the input (ADVICE r8): hardcoding `long`
    # broke string/int query or id columns despite configurable names.
    _qt = candidates.schema[query_col].dataType.simpleString()
    _it = candidates.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{query_col} {_qt}, {id_col} {_it}, mmr_rank int, mmr_score double"
    )

    def rerank(pdf):
        pdf = pdf.sort_values([score_col, id_col], ascending=[False, True])
        ids = pdf[id_col].to_numpy()
        scores = pdf[score_col].to_numpy(dtype=np.float64)
        V = np.array(list(pdf[vec_col]), dtype=np.float64)
        norms = np.linalg.norm(V, axis=1)
        norms[norms == 0] = 1.0
        V = V / norms[:, None]
        n = len(ids)
        picked: list[int] = []
        max_sim = np.zeros(n)
        free = np.ones(n, dtype=bool)
        for _ in range(min(k, n)):
            mmr = lam * scores - (1.0 - lam) * max_sim
            mmr[~free] = -np.inf
            best = int(np.argmax(mmr))  # argmax takes the first (lowest
            # id after the sort) on ties — deterministic
            picked.append(best)
            free[best] = False
            sims = V @ V[best]
            max_sim = np.maximum(max_sim, sims)
        qid = pdf.iloc[0][query_col]
        return pd.DataFrame(
            {
                query_col: [qid] * len(picked),
                id_col: ids[picked],
                "mmr_rank": np.arange(1, len(picked) + 1, dtype=np.int32),
                "mmr_score": [
                    float(
                        lam * scores[p]
                        - (1.0 - lam)
                        * (0.0 if i == 0 else
                           float(np.max(V[picked[:i]] @ V[p])))
                    )
                    for i, p in enumerate(picked)
                ],
            }
        )

    return candidates.groupBy(query_col).applyInPandas(rerank, out_schema)


def mmr_rerank_exact(
    candidates: DataFrame,
    k: int = 10,
    lam_num: int = 7,
    lam_den: int = 10,
    grid: int = 1_000_000,
    query_col: str = "query_id",
    id_col: str = "vec_id",
    score_col: str = "cosine",
    vec_col: str = "embedding",
) -> DataFrame:
    """Engine-replayable MMR: the same greedy as :func:`mmr_rerank` but
    run entirely on the ``floor(x·grid)`` integer lattice with a
    rational λ = ``lam_num / lam_den``, so any engine that reproduces
    the q-grid cosines reproduces the ranking bit-for-bit (the oracle
    discipline the rest of the catalog uses — see
    ``plans/queries.py::SQL_MMR_DIVERSE_TOPK``, an unrolled greedy CTE).

    Two differences vs the double-precision twin:

    - Relevance scores AND pairwise candidate similarities are
      quantized to ``floor(cos·grid)`` BIGINTs computed JVM-side with
      ``functions.vectors.cosine_similarity`` (left-to-right fold —
      the operand order DuckDB's ``list_dot_product`` uses), NOT with
      numpy BLAS (whose pairwise/SIMD accumulation order differs).
    - The greedy objective is the exact integer
      ``lam_num·sq − (lam_den−lam_num)·mq`` (scaled by
      ``lam_den·grid``); ties break on (objective desc, id asc) in
      both engines. No float enters the argmax.

    Scale shape: one within-query self-join of the candidate set
    (N ≈ ANN top-N rows per query, so N² stays tens-to-hundreds of
    rows per query), then one shuffle on the query key into an
    Arrow-batched integer greedy. The corpus never enters.

    Output: (query, id, mmr_rank, mmr_score_q) — mmr_score_q is the
    integer objective scaled by ``lam_den·grid``; k rows per query.
    Eager: building this DataFrame runs a Spark job (``session.pin``).
    """
    import numpy as np
    import pandas as pd

    # Pin the candidate set: the a/b sides of the within-query self-join
    # below are two consumers of this subtree, and in the composed
    # pipelines (mmr_diverse_topk's brute-force top-20, the retrieval
    # pipeline's IVF+SQ shortlist + exact refine) that subtree prices a
    # full corpus scoring pass — unpinned it executed twice. The pinned
    # frame is ANN-top-N-sized (tens of rows per query) by contract.
    candidates = pin(candidates)

    g = F.lit(float(grid))
    a = candidates.select(
        F.col(query_col).alias("_q"),
        F.col(id_col).alias("_aid"),
        F.floor(F.col(score_col) * g).cast("long").alias("_sq"),
        F.col(vec_col).alias("_avec"),
    )
    b = candidates.select(
        F.col(query_col).alias("_q"),
        F.col(id_col).alias("_bid"),
        F.col(vec_col).alias("_bvec"),
    )
    pairs = a.join(b, "_q").select(
        "_q",
        "_aid",
        "_bid",
        "_sq",
        F.floor(cosine_similarity(F.col("_avec"), F.col("_bvec")) * g)
        .cast("long")
        .alias("_pq"),
    )

    _qt = candidates.schema[query_col].dataType.simpleString()
    _it = candidates.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{query_col} {_qt}, {id_col} {_it}, mmr_rank int, mmr_score_q long"
    )
    neg = np.iinfo(np.int64).min // 4

    def rerank(pdf):
        ids = np.sort(pdf["_aid"].unique())
        idx = {v: i for i, v in enumerate(ids)}
        n = len(ids)
        scores = np.zeros(n, dtype=np.int64)
        sims = np.zeros((n, n), dtype=np.int64)
        ai = pdf["_aid"].map(idx).to_numpy()
        bi = pdf["_bid"].map(idx).to_numpy()
        sims[ai, bi] = pdf["_pq"].to_numpy(dtype=np.int64)
        scores[ai] = pdf["_sq"].to_numpy(dtype=np.int64)
        free = np.ones(n, dtype=bool)
        max_sim = np.zeros(n, dtype=np.int64)
        picked: list[int] = []
        objective: list[int] = []
        for _ in range(min(k, n)):
            mmr = lam_num * scores - (lam_den - lam_num) * max_sim
            mmr[~free] = neg
            # ids sorted ascending + argmax-first-max == tie on id asc
            best = int(np.argmax(mmr))
            picked.append(best)
            objective.append(int(mmr[best]))
            free[best] = False
            max_sim = np.maximum(max_sim, sims[:, best])
        qid = pdf["_q"].iloc[0]
        return pd.DataFrame(
            {
                query_col: [qid] * len(picked),
                id_col: ids[picked],
                "mmr_rank": np.arange(1, len(picked) + 1, dtype=np.int32),
                "mmr_score_q": objective,
            }
        )

    return pairs.groupBy("_q").applyInPandas(rerank, out_schema)


def hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    anchor_id_col: str = "anchor_id",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the k
    corpus rows MOST similar to it whose label differs — the negatives
    that actually move an embedding model, vs easy random ones
    (in-batch negatives miss them at any batch size).

    Plan shape matches ``all_pairs_topk``: anchors (queries, bounded)
    broadcast; the corpus is scored in codegen and never shuffles
    except the per-anchor top-k window on the anchor key. Self-matches
    are excluded by id, not by similarity == 1, so exact-duplicate
    vectors with different labels are kept — those are the hardest
    negatives of all.

    Output: (anchor_id, id, label, cosine) — k rows per anchor, ties
    broken on id.
    """
    from pyspark.sql import Window

    from commerce_sessionization_spark.functions.vectors import (
        cosine_similarity,
    )

    a = F.broadcast(
        anchors.select(
            F.col(id_col).alias(anchor_id_col),
            F.col(vec_col).alias("_avec"),
            F.col(label_col).alias("_albl"),
            l2_norm(F.col(vec_col)).alias("_an"),
        )
    )
    # norms hoisted (module note): corpus norm once per row instead of
    # once per (row, anchor) pair; values bit-unchanged
    scored = (
        corpus.withColumn("_vn", l2_norm(F.col(vec_col)))
        .crossJoin(a)
        .filter(
            (F.col(label_col) != F.col("_albl"))
            & (F.col(id_col) != F.col(anchor_id_col))
        )
        .select(
            anchor_id_col,
            id_col,
            label_col,
            (
                dot_product(F.col(vec_col), F.col("_avec"))
                / (F.col("_vn") * F.col("_an"))
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(anchor_id_col).orderBy(
        F.desc("cosine"), F.col(id_col)
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivf_search_many(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Batched IVF ANN: top-k per query row, probing only each query's
    ``nprobe`` nearest centroids — ``ivf_search`` for a query TABLE
    instead of one vector.

    One plan for the whole batch (vs. a driver loop of single-query
    jobs): the (query × centroid) probe ranking is broadcast-sized,
    the corpus joins it ON ``centroid_id`` — so a corpus row is scored
    once per query that probes its cell, never once per query — and
    the final top-k window runs per query key. Matches the looped
    single-query operator exactly (pinned in tests).

    Output: (query_id, id, cosine), k rows per query, ties on id.
    """
    from pyspark.sql import Window

    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("_qid"),
            F.col(vec_col).alias("_qvec"),
            l2_norm(F.col(vec_col)).alias("_qn"),
        )
    )
    c = F.broadcast(
        centroids.select("centroid_id", F.col(vec_col).alias("_cvec"))
    )
    pw = Window.partitionBy("_qid").orderBy(
        F.desc("_psim"), F.col("centroid_id")
    )
    probes = (
        q.crossJoin(c)
        .select(
            "_qid",
            "_qvec",
            "_qn",
            "centroid_id",
            cosine_similarity(F.col("_qvec"), F.col("_cvec")).alias("_psim"),
        )
        .withColumn("_rn", F.row_number().over(pw))
        .filter(F.col("_rn") <= nprobe)
        .select("_qid", "_qvec", "_qn", "centroid_id")
    )
    # only the QUERY norm is hoisted here: hoisting the corpus norm
    # would compute it before the cell-pruning join — i.e. for every
    # row the IVF prune is about to skip, which is exactly backwards at
    # scale. The corpus norm stays per scored pair; values unchanged.
    scored = assigned.join(F.broadcast(probes), "centroid_id").select(
        F.col("_qid").alias(query_id_col),
        F.col(id_col),
        (
            dot_product(F.col(vec_col), F.col("_qvec"))
            / (l2_norm(F.col(vec_col)) * F.col("_qn"))
        ).alias("cosine"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine"), F.col(id_col)
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def ivf_sq_search_many(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    levels: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "sq_code",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Compressed two-stage batched ANN: IVF coarse prune + exact
    integer SQ scoring — ``ivf_search_many`` where the survivors are
    scored through their int8 codes instead of raw vectors (the
    IVF+SQ index layout FAISS calls IVFSQ; 4× less corpus IO, and the
    score is ``sq_topk``'s centered-code dot, pure BIGINT arithmetic).

    ``assigned`` must carry ``code_col`` (run :func:`sq_encode` after
    :func:`ivf_assign`); ``queries`` must carry both the raw vector
    (probe ranking stays full-precision — it's broadcast-sized) and
    its code on the SAME corpus bounds.

    Plan shape: the (query × centroid) probe ranking is broadcast; the
    corpus joins it ON ``centroid_id`` so a corpus row is scored once
    per query that probes its cell — at scale with the corpus written
    partitioned by ``centroid_id``, partition pruning skips the
    (1 − nprobe/nlist) remainder before any IO. Output:
    (query_id, id, sq_score), k rows per query, ties on id.
    """
    from pyspark.sql import Window

    half = F.lit(levels // 2)
    c = F.broadcast(
        centroids.select("centroid_id", F.col(vec_col).alias("_cvec"))
    )
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("_qid"),
            F.col(vec_col).alias("_qvec"),
            F.col(code_col).alias("_qcode"),
        )
    )
    pw = Window.partitionBy("_qid").orderBy(
        F.desc("_psim"), F.col("centroid_id")
    )
    probes = (
        q.crossJoin(c)
        .select(
            "_qid",
            "_qcode",
            "centroid_id",
            cosine_similarity(F.col("_qvec"), F.col("_cvec")).alias("_psim"),
        )
        .withColumn("_rn", F.row_number().over(pw))
        .filter(F.col("_rn") <= nprobe)
        .select("_qid", "_qcode", "centroid_id")
    )
    score = F.aggregate(
        F.zip_with(
            F.col(code_col),
            F.col("_qcode"),
            lambda a, b: (a - half) * (b - half),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = assigned.join(F.broadcast(probes), "centroid_id").select(
        F.col("_qid").alias(query_id_col),
        F.col(id_col),
        score.alias("sq_score"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("sq_score"), F.col(id_col)
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
