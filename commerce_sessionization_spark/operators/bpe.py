"""BPE vocabulary induction — the distributed tokenizer-training loop.

``bpe_pair_counts`` (plans/queries.py) is the inner statistic; this
module closes the loop into an actual trainer: N rounds of

    count adjacent symbol pairs  →  pick the most frequent  →  merge

with the corpus held as a DataFrame of space-joined symbol sequences.
Every round is ONE explode + ONE map-side-combinable groupBy for the
count, and the merge is a pure ``F.aggregate`` fold (JVM, codegen) —
no Python touches a row. Driver state is the merge table (vocab-sized,
the same accepted footprint as k-means centroids / IVF probes).

Greedy-left merge semantics match the reference BPE formulation:
folding left-to-right, "a a a" under merge (a,a) becomes "aa a" — the
leftmost pair wins, then scanning continues AFTER the merged symbol
(the fold's accumulator tail is the merged symbol, and a following
"a" only re-merges if (aa, a) is itself the merge being applied).
Determinism: argmax ties break on the pair's lexical order, so the
merge sequence — and therefore the vocabulary — is reproducible on any
engine/partitioning.

Scale: per round the shuffle carries only (pair, partial count) rows —
vocabulary-bounded, not corpus-bounded — and the corpus rewrite is
narrow. ``iterations`` is the driver loop; each round
pins (``session.pin``) the re-segmented corpus so lineage stays O(1)
(the pagerank pattern).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from commerce_sessionization_spark.session import pin


def to_symbol_seqs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus words → one row per word occurrence, as a character-symbol
    array. (No end-of-word marker: the testdata vocabulary is
    whitespace-clean; add one upstream if word boundaries must survive
    detokenization.)"""
    return (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("_w"))
        .filter(F.length("_w") >= 1)
        .select(F.split(F.col("_w"), "").alias("syms"))
    )


def _pair_counts(seqs: DataFrame) -> DataFrame:
    """Adjacent-pair occurrence counts over the symbol arrays."""
    pairs = seqs.select(
        F.explode(
            # guard: sequence(1, 0) DESCENDS in Spark, so a 1-symbol word
            # would index out of bounds — emit no pairs instead
            F.expr(
                "CASE WHEN size(syms) > 1 THEN "
                "transform(sequence(1, size(syms) - 1), "
                "i -> struct(syms[i-1] AS a, syms[i] AS b)) "
                "ELSE array() END"
            )
        ).alias("p")
    ).filter(F.col("p.a").isNotNull() & (F.col("p.a") != ""))
    return pairs.groupBy("p.a", "p.b").agg(F.count(F.lit(1)).alias("n"))


def _merge_expr(syms: Column, a: str, b: str) -> Column:
    """Greedy-left merge of adjacent (a, b) → a||b via an array fold."""
    merged = F.lit(a + b)
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        # try_element_at: NULL (not an ANSI error) on the empty accumulator
        lambda acc, x: F.when(
            (F.try_element_at(acc, F.lit(-1)) == F.lit(a)) & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(
    df: DataFrame,
    n_merges: int = 10,
    text_col: str = "text",
) -> list[tuple[str, str, int]]:
    """Learn ``n_merges`` BPE merges from the corpus.

    Returns the ordered merge table [(a, b, count), ...] — count is the
    pair's corpus frequency at the round it was chosen. Ties break on
    (a, b) lexical order for cross-run determinism.
    """
    seqs = pin(to_symbol_seqs(df, text_col))
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (
            _pair_counts(seqs)
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top or top[0]["n"] < 2:
            break
        a, b, n = top[0]["a"], top[0]["b"], top[0]["n"]
        merges.append((a, b, int(n)))
        seqs = pin(seqs.select(_merge_expr(F.col("syms"), a, b).alias("syms")))
    return merges


def bpe_segment(
    df: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize documents with a learned merge table: one narrow pass
    applying the merges in training order per word. Output: (id, tokens
    array<string>) — the trained-tokenizer counterpart of the
    whitespace/BPE-ish regex tokenizers in ``operators/text.py``."""
    words = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("_i", "_w"),
    ).select(id_col, "_i", F.split(F.col("_w"), "").alias("syms"))
    col = F.col("syms")
    for a, b, _ in merges:
        col = _merge_expr(col, a, b)
    toks = words.select(id_col, "_i", col.alias("toks"))
    return (
        toks.groupBy(id_col)
        .agg(
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct("_i", "toks"))
                ).toks  # ordered by word position
            ).alias("tokens")
        )
    )
