"""Entity resolution: blocked fuzzy matching (record linkage).

The scale hazard in naive entity resolution is the blocking key. A
self-join on one exact key (phone, zip, last name) is only as good as
that key's cardinality: a fixed value space means block sizes grow
linearly with the corpus, and within-block pair generation is
quadratic — the exact failure mode the round-2 review found in the
``(lang, source)`` fuzzy-join and that ``q_fuzzy_prefix_pairs`` closed
with PassJoin segment blocking (Li et al., ICDE 2011).

``blocked_match_pairs`` composes BOTH scale guards behind one call:

1. **Block-size cap** (``max_block``): exact-key blocks holding more
   than ``max_block`` records are excluded from matching entirely — the
   standard junk-key guard (NULL-ish phones, placeholder emails, every
   "UNKNOWN" collapsing into one mega-block). The rule is deterministic
   (a count per key), so a SQL oracle replays it with a ``HAVING``.
2. **Content-derived candidate keys**: within surviving blocks,
   candidates must also agree on a PassJoin segment of the match
   column's padded prefix. Pigeonhole over ``max_dist + 1`` contiguous
   segments: an edit script of <= max_dist operations leaves at least
   one segment untouched, reappearing in the partner shifted by at most
   max_dist positions — so signature-vs-probe equi-joining has recall
   1.0 for the padded-prefix metric, and the final ``levenshtein``
   verify only discards. Block cardinality now grows WITH the corpus
   (keys are drawn from record content), bounding pair generation even
   inside legitimate hot exact-keys.

The distance semantics are the equal-length PassJoin formulation:
``levenshtein`` over the match column's first ``prefix_len`` chars,
right-padded with ``pad_char`` — identical in Spark and DuckDB, so
results stay oracle-replayable. Callers wanting case-insensitive
matching lower the column upstream (the operator never rewrites it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from commerce_sessionization_spark.session import pin


def passjoin_segments(
    prefix_len: int, max_dist: int
) -> list[tuple[int, int, int]]:
    """The PassJoin segment template: ``max_dist + 1`` contiguous
    segments covering a ``prefix_len``-char window, longer segments
    first. Returns ``(index, 1-based start, length)`` triples —
    (20, 5) yields the lengths 4,4,3,3,3,3 at starts 1,5,9,12,15,18.
    """
    n = max_dist + 1
    if prefix_len < n:
        raise ValueError(
            f"prefix_len={prefix_len} must be >= max_dist+1={n} "
            "(every segment needs at least one char)"
        )
    base, extra = divmod(prefix_len, n)
    segments = []
    start = 1
    for i in range(n):
        length = base + (1 if i < extra else 0)
        segments.append((i, start, length))
        start += length
    return segments


def blocked_match_pairs(
    df: DataFrame,
    id_col: str,
    match_col: str,
    block_keys: list[str],
    max_dist: int = 3,
    prefix_len: int = 20,
    max_block: int | None = None,
    pad_char: str = "\x01",
    return_candidates: bool = False,
) -> DataFrame:
    """Candidate pairs ``(a, b, dist)`` with ``a < b`` whose records
    agree exactly on every ``block_keys`` column and whose ``match_col``
    padded ``prefix_len``-char prefixes are within edit distance
    ``max_dist``.

    Equivalent (for exact-key blocks of <= ``max_block`` records, or
    all blocks when ``max_block`` is None) to the naive self-join
    ``ON all block_keys equal AND levenshtein(pad(l), pad(r)) <=
    max_dist`` — but never generates the naive join's quadratic
    within-block candidates: the segment equi-join only pairs records
    sharing a content substring, and the per-row key fan-out is a
    constant (``max_dist+1`` signatures, ~``(max_dist+1)(2·max_dist+1)``
    probes), so the plan is linear in the corpus plus the (content-
    bounded) candidate count. See the module docstring for why this
    survives both junk keys and legitimate hot keys at 100 TB.
    """
    if max_block is not None:
        # junk-key guard: a deterministic count-per-key rule, replayed
        # by the oracle as GROUP BY ... HAVING count(*) <= max_block
        small_blocks = (
            df.groupBy(*block_keys)
            .agg(F.count(F.lit(1)).alias("_bn"))
            .filter(F.col("_bn") <= max_block)
            .drop("_bn")
        )
        df = df.join(small_blocks, block_keys, "left_semi")

    segments = passjoin_segments(prefix_len, max_dist)
    pad = F.rpad(
        F.substring(F.col(match_col), 1, prefix_len), prefix_len, pad_char
    )
    # pinned (round-11): base feeds BOTH the signature and the probe
    # side, so its whole subtree — the input scan/union plus the
    # block-cap aggregate + semi-join above — executed twice. The
    # materialized rows are the narrow (_id, block keys, padded prefix)
    # projection, far cheaper to hold than the second cap pass they
    # replace.
    base = pin(
        df.select(F.col(id_col).alias("_id"), *block_keys, pad.alias("_p"))
    )

    # signature side: each record's max_dist+1 template segments at
    # their home slots
    sig = base.select(
        "_id", *block_keys, "_p",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("i"),
                F.substring(F.col("_p"), s, ln).alias("v"),
            )
            for i, s, ln in segments
        ])).alias("_seg"),
    ).select("_id", *block_keys, "_p",
             F.col("_seg.i").alias("_i"), F.col("_seg.v").alias("_v"))

    # probe side: every same-length substring within +-max_dist of each
    # segment's home slot (clamped to the window) — the shift window
    # that makes the pigeonhole exact under insertions/deletions
    probe_structs = []
    for i, s, ln in segments:
        for delta in range(-max_dist, max_dist + 1):
            start = s + delta
            if start >= 1 and start + ln - 1 <= prefix_len:
                probe_structs.append(F.struct(
                    F.lit(i).alias("i"),
                    F.substring(F.col("_p"), start, ln).alias("v"),
                ))
    probe = (
        base.select(
            "_id", *block_keys, "_p",
            F.explode(F.array(*probe_structs)).alias("_seg"),
        )
        .select("_id", *block_keys, "_p",
                F.col("_seg.i").alias("_i"), F.col("_seg.v").alias("_v"))
        # repetitive prefixes yield duplicate (i, v) probes; dedupe per
        # record so the candidate join fans out once per distinct key
        .dropDuplicates(["_id", "_i", "_v"])
    )

    # candidate generation on the content-derived key; _id < _id keeps
    # one orientation and loses nothing because edit distance is
    # symmetric (the pair matches in both orientations)
    cond = (
        (F.col("l._i") == F.col("r._i"))
        & (F.col("l._v") == F.col("r._v"))
        & (F.col("l._id") < F.col("r._id"))
    )
    for k in block_keys:
        cond = cond & (F.col(f"l.{k}") == F.col(f"r.{k}"))
    cand = (
        sig.alias("l")
        .join(probe.alias("r"), cond)
        .select(
            F.col("l._id").alias("a"),
            F.col("r._id").alias("b"),
            F.col("l._p").alias("_pa"),
            F.col("r._p").alias("_pb"),
        )
        .dropDuplicates(["a", "b"])
    )
    if return_candidates:
        # diagnostic mode: the deduped pre-verify candidate set — the
        # number that prices a blocking-key choice (the verify stage is
        # a per-candidate constant, so candidates ARE the cost model)
        return cand.select("a", "b")
    return (
        cand.select(
            "a", "b",
            F.levenshtein("_pa", "_pb").cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )
