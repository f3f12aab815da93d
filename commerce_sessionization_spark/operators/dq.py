"""Declarative data-quality checks (deequ/dbt-test-style) as one pass of
small aggregations.

Each rule compiles to a violation count; ``check_rules`` returns the
``(rule, n_violations)`` table a pipeline gates on before publishing a
partition. Counting (not row-materializing) keeps every check a
map-side-combinable aggregate — at 100 TB the checks add one scan over
the columns referenced, nothing more; the referential check is a
broadcast-or-shuffle anti join that AQE sizes like any other.

Rules:
- ``not_null(col)``            — NULLs in a required column
- ``unique(*cols)``            — rows beyond the first per duplicate key
- ``in_range(col, lo, hi)``    — values outside [lo, hi] (NULLs ignored)
- ``accepted_values(col, vs)`` — values outside the enum (NULLs ignored)
- ``foreign_key(col, dim, dim_col)`` — orphan keys with no dim match
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from commerce_sessionization_spark.operators.dedup import spread


@dataclass(frozen=True)
class Rule:
    name: str
    kind: str
    payload: tuple


def not_null(col: str) -> Rule:
    return Rule(f"not_null({col})", "not_null", (col,))


def unique(*cols: str) -> Rule:
    return Rule(f"unique({','.join(cols)})", "unique", tuple(cols))


def in_range(col: str, lo: Any, hi: Any) -> Rule:
    return Rule(f"in_range({col},{lo},{hi})", "in_range", (col, lo, hi))


def accepted_values(col: str, values: Sequence[Any]) -> Rule:
    return Rule(
        f"accepted_values({col})", "accepted_values", (col, tuple(values))
    )


def foreign_key(col: str, dim: DataFrame, dim_col: str) -> Rule:
    return Rule(f"foreign_key({col})", "foreign_key", (col, dim, dim_col))


def _violations(df: DataFrame, rule: Rule) -> DataFrame:
    if rule.kind == "not_null":
        (col,) = rule.payload
        out = df.agg(
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).alias("n")
        )
    elif rule.kind == "unique":
        cols = list(rule.payload)
        out = (
            df.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("_c"))
            .agg(F.coalesce(F.sum(F.col("_c") - 1), F.lit(0)).alias("n"))
        )
    elif rule.kind == "in_range":
        col, lo, hi = rule.payload
        out = df.agg(
            F.sum(
                F.when(
                    F.col(col).isNotNull()
                    & ((F.col(col) < lo) | (F.col(col) > hi)),
                    1,
                ).otherwise(0)
            ).alias("n")
        )
    elif rule.kind == "accepted_values":
        col, values = rule.payload
        out = df.agg(
            F.sum(
                F.when(
                    F.col(col).isNotNull() & ~F.col(col).isin(*values), 1
                ).otherwise(0)
            ).alias("n")
        )
    elif rule.kind == "foreign_key":
        col, dim, dim_col = rule.payload
        out = (
            df.select(F.col(col).alias("_k"))
            .filter(F.col("_k").isNotNull())
            .join(
                dim.select(F.col(dim_col).alias("_k")).distinct(),
                "_k",
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )
    else:  # pragma: no cover
        raise ValueError(f"unknown rule kind {rule.kind!r}")
    return out.select(
        F.lit(rule.name).alias("rule"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_violations"),
    )


def check_rules(df: DataFrame, rules: Sequence[Rule]) -> DataFrame:
    """(rule, n_violations) — one row per rule. ``n_violations == 0``
    everywhere ⇔ the frame passes the contract."""
    if not rules:
        raise ValueError("need at least one rule")
    acc = _violations(df, rules[0])
    for r in rules[1:]:
        acc = acc.unionByName(_violations(df, r))
    return acc


def observed_write(
    df: DataFrame,
    metrics: dict[str, F.Column] | None = None,
):
    """Attach zero-cost in-flight metrics to a DataFrame via Spark's
    ``Observation`` API and return ``(observed_df, observation)``.

    Unlike ``check_rules`` (a separate aggregation pass), an observation
    rides the SAME job that materializes ``df`` — at 100 TB the row
    counts / null counts / sums a publish step wants to assert cost ZERO
    extra scans: the metrics are accumulated inside the write job's
    tasks and read off the driver afterwards.

        obs_df, obs = observed_write(out, {
            "rows": F.count(F.lit(1)),
            "null_ids": F.count(F.when(F.col("id").isNull(), 1)),
        })
        obs_df.write.parquet(path)
        assert obs.get["null_ids"] == 0   # gate AFTER the pass, for free

    Default metrics: row count. Metric expressions must be aggregates
    over the observed plan's columns (Spark enforces this).
    """
    from pyspark.sql import Observation

    metrics = metrics or {"rows": F.count(F.lit(1))}
    obs = Observation()
    named = [c.alias(n) for n, c in metrics.items()]
    return df.observe(obs, *named), obs


def profile_columns(
    df: DataFrame,
    cols: Sequence[tuple[str, F.Column]],
    approx_ndv: bool = False,
) -> DataFrame:
    """ANALYZE-TABLE-style column profile in ONE scan: per column, row
    count, null count, distinct count, min and max.

    ``cols`` maps output column names to the expression to profile —
    pass a render-stable expression (cast doubles to a decimal scale,
    ``date_format`` timestamps) because min/max are returned as strings
    in the long-form output. All statistics for all columns ride a
    single aggregate: counts and min/max combine map-side; the 1-row
    result is exploded to (column, …) rows driver-free.

    ``approx_ndv=False`` uses exact ``count(DISTINCT)`` — Spark plans k
    distinct columns as one Expand (k× row fanout collapsed by partial
    aggregation), and a SQL oracle replays it exactly. At 100 TB flip
    ``approx_ndv=True``: ``approx_count_distinct`` (HLL++) drops the
    Expand entirely and every statistic becomes a plain mergeable
    aggregate; the plan is otherwise identical, which is the point of
    the flag living here and not in the caller.
    """
    if not cols:
        raise ValueError("need at least one column")
    # the k-distinct Expand multiplies every row (k+1)x before the first
    # exchange; every statistic is order-independent
    df = spread(df)
    aggs = [F.count(F.lit(1)).alias("_n")]
    for name, expr in cols:
        ndv = (
            F.approx_count_distinct(expr) if approx_ndv else F.countDistinct(expr)
        )
        aggs += [
            F.sum(expr.isNull().cast("long")).alias(f"_nulls_{name}"),
            ndv.alias(f"_ndv_{name}"),
            F.min(expr).cast("string").alias(f"_min_{name}"),
            F.max(expr).cast("string").alias(f"_max_{name}"),
        ]
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("col_name"),
                F.col("_n").alias("n_rows"),
                F.col(f"_nulls_{name}").alias("n_nulls"),
                F.col(f"_ndv_{name}").alias("ndv"),
                F.col(f"_min_{name}").alias("min_value"),
                F.col(f"_max_{name}").alias("max_value"),
            )
            for name, _ in cols
        ]
    )
    return one.select(F.explode(rows).alias("_p")).select("_p.*")


def key_skew_stats(
    df: DataFrame,
    key_cols: Sequence[str],
    top_k: int = 10,
) -> DataFrame:
    """Pre-flight skew diagnostic for a prospective join/groupBy key.

    Every shuffle keyed on ``key_cols`` inherits this distribution: the
    slowest task owns the heaviest key, so max/mean IS the parallelism
    ceiling (a skew_factor of 400 means 31 executors finish and wait on
    one). Run this BEFORE keying a 100 TB join to decide between a
    plain shuffle, salting (``operators.joins.salted_join``), or a
    broadcast.

    One row out: n_rows, n_keys, mean/p50/p90/p99/max per-key counts,
    skew_factor (max/mean, q6-quantized), and the ``top_k`` heaviest
    keys as an ordered array of (key, cnt) structs — the salting
    candidates.

    Plan shape: one map-side-combinable count per key (the only
    corpus-sized shuffle, on the key under test — unavoidable: the
    distribution IS the measurement), then a single-cell summary over
    the (much smaller) per-key counts. The heavy-hitter list is a
    TakeOrderedAndProject over the counts (each task keeps only its
    local ``top_k``, never a collect_list of every key) folded to one
    array row and cross-joined onto the 1-row summary — a 1×1 join.
    """
    # \x01 separator: a separator-less concat would alias composite
    # keys like ("a","b1") and ("ab","1") into one bucket
    key = F.concat_ws("\x01", *[F.col(c).cast("string") for c in key_cols])
    counts = (
        df.select(key.alias("_key"))
        .groupBy("_key")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    summary = counts.agg(
        F.sum("_cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.floor(F.avg("_cnt") * 1e6).cast("long").alias("mean_cnt_q6"),
        F.expr("percentile(_cnt, 0.5)").alias("p50_cnt"),
        F.expr("percentile(_cnt, 0.9)").alias("p90_cnt"),
        F.expr("percentile(_cnt, 0.99)").alias("p99_cnt"),
        F.max("_cnt").alias("max_cnt"),
        F.floor(
            F.max("_cnt") / (F.sum("_cnt") / F.count(F.lit(1))) * 1e6
        ).cast("long").alias("skew_factor_q6"),
    )
    topk = (
        counts.orderBy(F.col("_cnt").desc(), F.col("_key"))
        .limit(top_k)
        .agg(
            F.transform(
                # sort on (-cnt, key): display order == the limit's
                # (cnt desc, key asc), ties included
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            (-F.col("_cnt")).alias("_nc"), F.col("_key")
                        )
                    )
                ),
                lambda s: F.struct(
                    s["_key"].alias("key"), (-s["_nc"]).alias("cnt")
                ),
            ).alias("top_keys")
        )
    )
    return summary.crossJoin(F.broadcast(topk))


def blocking_key_audit(
    df: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """Analytic pre-flight for an entity-resolution blocking-key choice
    (promoted from tools/er_blocking_probe.py, round-9 verdict item 6).

    Blocked matching scores every within-block pair, so the cost of a
    key choice is exactly ``Σ_blocks C(|block|, 2)`` — computable from
    ONE cheap map-side-combinable groupBy, without running the join.
    The SCALE.md ER receipt (110× candidate cut from compounding a
    second key, and the caveat that fixed-cardinality keys only delay
    the quadratic) is priced by this number: run it BEFORE committing
    a 100 TB corpus to a blocking key, and re-run it as the corpus
    grows — ``cand_per_record`` creeping up means the key's cardinality
    stopped scaling with the data and the quadratic is back.

    One row out: n_rows, n_blocks, candidate_pair_bound (exact BIGINT —
    n·(n−1) is always even so integer DIV loses nothing), max_block,
    and cand_per_record_q6 (the per-record verify-stage multiplier).
    """
    # \x01 separator: same composite-key aliasing guard as
    # key_skew_stats above
    key = F.concat_ws("\x01", *[F.col(c).cast("string") for c in key_cols])
    counts = (
        df.select(key.alias("_key"))
        .groupBy("_key")
        .agg(F.count(F.lit(1)).alias("_cnt"))
    )
    return counts.agg(
        F.sum("_cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.expr("_cnt * (_cnt - 1) DIV 2")).alias(
            "candidate_pair_bound"
        ),
        F.max("_cnt").alias("max_block"),
    ).select(
        "n_rows",
        "n_blocks",
        "candidate_pair_bound",
        "max_block",
        F.floor(
            F.col("candidate_pair_bound").cast("double")
            / F.col("n_rows").cast("double")
            * 1e6
        ).cast("long").alias("cand_per_record_q6"),
    )


def data_drift_psi(
    ref: DataFrame,
    cur: DataFrame,
    cols: Sequence[str],
    buckets: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index per column between a reference and a
    current snapshot — the distribution-drift gate a training pipeline
    runs before trusting fresh data (PSI < 0.1 stable, 0.1–0.25 watch,
    > 0.25 drifted, the standard credit-scoring rubric).

    Buckets are ``buckets`` equal-width bins over the REFERENCE min/max
    (deterministic — no quantile estimation), out-of-range current
    values clamp into the edge bins, NULLs get their own bin, and both
    shares are ε-smoothed so empty bins don't produce ±∞:

        PSI(col) = Σ_b (p_ref(b) − p_cur(b)) · ln((p_ref(b)+ε)/(p_cur(b)+ε))

    Scale shape: both tables are melted to (column, value) long form in
    one projection (no per-column scans), bucketed against the
    broadcast per-column min/max, and reduced by ONE map-side-combined
    groupBy((column, bucket)) per side — cost is one pass over each
    table regardless of how many columns are audited.

    Output: (column, psi, n_ref, n_cur), one row per audited column.
    """
    bounds = drift_bounds(ref, cols)  # one reference melt+min/max scan,
    # shared by both sides (ADVICE r8: was computed twice per audit)
    counts_r = drift_bucket_counts(ref, bounds, cols, buckets)
    counts_c = drift_bucket_counts(cur, bounds, cols, buckets)
    return psi_from_counts(counts_r, counts_c, eps=eps)


def _melt(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    pairs = ", ".join(f"'{c}', CAST({c} AS DOUBLE)" for c in cols)
    return df.selectExpr(f"stack({len(cols)}, {pairs}) AS (_col, _x)")


def drift_bounds(ref: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-column (min, max) of the REFERENCE snapshot — the frozen bin
    edges every later drift comparison uses. (_col, _mn, _mx)."""
    cols = list(cols)
    if not cols:
        raise ValueError("need at least one column to audit")
    return (
        _melt(ref, cols)
        .groupBy("_col")
        .agg(F.min("_x").alias("_mn"), F.max("_x").alias("_mx"))
    )


def drift_bucket_counts(
    df: DataFrame,
    bounds: DataFrame,
    cols: Sequence[str],
    buckets: int = 10,
) -> DataFrame:
    """Bucket-count state for PSI: (_col, _b, n) with equal-width bins
    over the frozen reference bounds, bin -1 for NULLs, edge clamping
    for out-of-range values. Plain integer counts — associative and
    commutative under per-cell addition, so the state is mergeable
    (the streaming drift maintainer folds micro-batches with exactly
    this law)."""
    cols = list(cols)
    width = F.col("_mx") - F.col("_mn")
    raw = F.floor((F.col("_x") - F.col("_mn")) / width * buckets)
    b = (
        F.when(F.col("_x").isNull(), F.lit(-1))
        .when(width == 0, F.lit(0))
        .otherwise(F.greatest(F.lit(0), F.least(F.lit(buckets - 1), raw)))
        .cast("long")
    )
    return (
        _melt(df, cols)
        .join(F.broadcast(bounds), "_col")
        .select("_col", b.alias("_b"))
        .groupBy("_col", "_b")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def psi_from_counts(
    ref_counts: DataFrame, cur_counts: DataFrame, eps: float = 1e-6
) -> DataFrame:
    """Finalize PSI from two (_col, _b, n) count states (see
    ``data_drift_psi`` for the formula and determinism contract)."""
    r = ref_counts.withColumnRenamed("n", "_n_ref")
    c = cur_counts.withColumnRenamed("n", "_n_cur")
    totals_r = r.groupBy("_col").agg(F.sum("_n_ref").alias("_tr"))
    totals_c = c.groupBy("_col").agg(F.sum("_n_cur").alias("_tc"))
    cells = (
        r.join(c, ["_col", "_b"], "full")
        .select(
            "_col",
            "_b",
            F.coalesce(F.col("_n_ref"), F.lit(0)).alias("_n_ref"),
            F.coalesce(F.col("_n_cur"), F.lit(0)).alias("_n_cur"),
        )
        .join(F.broadcast(totals_r), "_col")
        .join(F.broadcast(totals_c), "_col")
    )
    p = F.col("_n_ref").cast("double") / F.col("_tr").cast("double")
    q = F.col("_n_cur").cast("double") / F.col("_tc").cast("double")
    term = (p - q) * F.log((p + F.lit(eps)) / (q + F.lit(eps)))
    return (
        cells.select("_col", "_tr", "_tc", term.alias("_t"))
        .groupBy(F.col("_col").alias("column"))
        .agg(
            # snap each (identical-in-any-IEEE-engine) term to decimal
            # before summing: the <= buckets+1 addends then accumulate
            # order-independently, so PSI is engine-replayable
            F.sum(F.col("_t").cast("decimal(38,18)"))
            .cast("double")
            .alias("psi"),
            F.max("_tr").alias("n_ref"),
            F.max("_tc").alias("n_cur"),
        )
    )
