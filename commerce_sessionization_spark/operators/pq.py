"""Product quantization (PQ) — compressed embeddings + ADC search.

The 100 TB ANN story has two halves: IVF partition pruning (see
``operators/similarity.py``) cuts how many vectors a query *touches*;
product quantization cuts how many bytes each touched vector *costs*.
A 64-dim float32 embedding is 256 bytes; its PQ code (8 subspaces × 16
centroids) is 8 nibbles — a 64× compression — and asymmetric-distance
(ADC) scoring replaces the 64-mult dot product with 8 table lookups
against a per-query lookup table (LUT) of 8×16 precomputed distances.
At cluster scale the codebook (m·k·d doubles ≈ 8 KB here) broadcasts to
every executor and scoring never shuffles the corpus: it is a scan over
the codes column, a literal-array lookup per subspace, and a top-k.

Design choices made for engine-parity (the point of this repo):

- **Deterministic codebook.** Real PQ trains k-means per subspace; the
  trainer exists (``similarity.kmeans_fit``). For the oracle-checked
  catalog path the codebook is seeded instead: the ``k`` corpus vectors
  with the smallest ``sha256("pq:" || id)`` rank supply the centroids
  (subvector ``j`` of seed ``c`` is centroid ``(j, c)``) — the identical
  selection replays in DuckDB, so encode AND search are hash-checked
  end-to-end, which a trained codebook could never be.
- **One arithmetic everywhere.** Squared L2 uses the dot-product
  identity d²(a,b) = a·a − 2·a·b + b·b, evaluated left-to-right; Spark's
  ``F.aggregate`` fold and DuckDB's ``list_dot_product`` accumulate in
  the same order, so argmins agree to the last bit (the same parity
  trick the cosine queries rely on).
- **Codes stay JVM-side.** Encoding is 16 fold-expressions per subspace
  feeding ``array_position(array_min)`` — whole-stage codegen, zero
  shuffles, no Python. ADC is literal-array ``element_at`` lookups; the
  only shuffle in search is the final per-query top-k window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import Column

from commerce_sessionization_spark.functions.hashing import hex_to_long

PQ_M = 8  #: subspaces
PQ_K = 16  #: centroids per subspace


def pq_codebook(
    df: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "pq",
) -> list[list[list[float]]]:
    """Seeded codebook: ``cents[j][c]`` = subvector ``j`` of the ``c``-th
    seed vector, seeds = k smallest by sha256 hash rank (deterministic,
    engine-replayable). Driver state is m·k·(dim/m) doubles — the same
    k×dim model-state footprint as ``kmeans_fit``, the accepted pattern.
    """
    h = hex_to_long(
        F.sha2(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")), 256)
    )
    seeds = (
        df.select(F.col(vec_col).cast("array<double>").alias("_v"), h.alias("_h"),
                  F.col(id_col).alias("_id"))
        .orderBy("_h", "_id")
        .limit(k)
        .collect()
    )
    if len(seeds) < k:
        raise ValueError(f"need at least {k} vectors to seed the codebook")
    dim = len(seeds[0]["_v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    return [
        [list(s["_v"][j * d : (j + 1) * d]) for s in seeds] for j in range(m)
    ]


def pq_encode(
    df: DataFrame,
    cents: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "codes",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Assign each subvector its nearest centroid id (ties → smallest id,
    via array_position's first-match) — pure column expressions, narrow.
    Output: (id, codes array<int> of length m)."""
    from commerce_sessionization_spark.functions.vectors import dot_product

    m, k = len(cents), len(cents[0])
    d = len(cents[0][0])
    v = F.col(vec_col).cast("array<double>")

    def py_dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    # d²(a, c) = a·a − 2·a·c + c·c per centroid, with the two loop
    # invariants hoisted OUT of the 16-way argmin: a·a is ONE shared fold
    # per subspace (not one per centroid) and c·c is a literal computed
    # driver-side with the identical left-to-right fold — same bits,
    # one-third the expression tree (measured: the full-form tree pushed
    # the task binary to ~4 MB and dominated this query's wall time).
    stage1 = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        v.alias("_v"),
        *[
            dot_product(F.slice(v, j * d + 1, d), F.slice(v, j * d + 1, d)).alias(
                f"_aa{j}"
            )
            for j in range(m)
        ],
    )
    # second tree shrink (this session): the centroid literals appear
    # ONCE per subspace as a nested array, and the 16 distance exprs
    # become one `transform` lambda indexing into it — same arithmetic
    # (the zip_with/aggregate dot fold is unchanged, element_at just
    # supplies its right operand), same first-match argmin, but the
    # analyzed tree drops from 16 expanded distance expressions per
    # subspace to one lambda + 128 literals; measured ~5 s → ~1 s of
    # per-run Catalyst/codegen constant at sf0.01
    codes = []
    for j in range(m):
        sub = F.slice(F.col("_v"), j * d + 1, d)
        cent_lit = F.array(
            *[
                F.array(*[F.lit(x) for x in cents[j][c]])
                for c in range(k)
            ]
        )
        cc_lit = F.array(
            *[F.lit(py_dot(cents[j][c], cents[j][c])) for c in range(k)]
        )
        def _dist_fn(jj: int, cl: Column, cc: Column, sb: Column):
            return lambda c: (
                F.col(f"_aa{jj}")
                - F.lit(2.0) * dot_product(sb, F.element_at(cl, c))
                + F.element_at(cc, c)
            )

        dists = F.transform(
            F.sequence(F.lit(1), F.lit(k)),
            _dist_fn(j, cent_lit, cc_lit, sub),
        )
        codes.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return stage1.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.array(*codes).alias(out_col),
    )


def pq_adc_topk(
    codes_df: DataFrame,
    cents: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """ADC search: approximate d²(query, v) = Σ_j LUT[j][codes[j]], where
    LUT[j][c] = d²(query_sub_j, cent[j][c]) is computed once driver-side
    (plain left-to-right double arithmetic — bit-identical to the
    engines') and shipped as literal arrays. One corpus scan, zero
    shuffles before the top-k."""
    m, kc = len(cents), len(cents[0])
    d = len(cents[0][0])
    if len(query_vec) != m * d:
        raise ValueError("query dim mismatch")

    def py_sq(a: list[float], b: list[float]) -> float:
        daa = 0.0
        for x in a:
            daa = daa + x * x
        dab = 0.0
        for x, y in zip(a, b):
            dab = dab + x * y
        dbb = 0.0
        for y in b:
            dbb = dbb + y * y
        return daa - 2.0 * dab + dbb

    lut = [
        [py_sq(query_vec[j * d : (j + 1) * d], cents[j][c]) for c in range(kc)]
        for j in range(m)
    ]
    dist = None
    for j in range(m):
        term = F.element_at(
            F.array(*[F.lit(x) for x in lut[j]]),
            F.element_at(F.col(codes_col), j + 1) + 1,
        )
        dist = term if dist is None else dist + term
    scored = codes_df.select(F.col(id_col), dist.alias("adc_dist"))
    return scored.orderBy("adc_dist", id_col).limit(k)


def pq_adc_multi(
    codes_df: DataFrame,
    cents: list[list[list[float]]],
    queries: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "codes",
) -> DataFrame:
    """Per-query ADC top-k for a small query batch: one scored scan per
    query (each with its own literal LUT), unioned, ranked by a window.
    Output: (query_id, id, adc_dist, rank)."""
    parts = []
    for qid, qv in queries:
        m = len(cents)
        d = len(cents[0][0])
        if len(qv) != m * d:
            raise ValueError("query dim mismatch")
        scored = pq_adc_topk(
            codes_df, cents, qv, k=k, id_col=id_col, codes_col=codes_col
        ).select(F.lit(qid).cast("long").alias("query_id"), id_col, "adc_dist")
        parts.append(scored)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    w = Window.partitionBy("query_id").orderBy("adc_dist", id_col)
    return out.withColumn("rank", F.row_number().over(w))
