"""Generalized suffix array over a document corpus — prefix doubling on
DataFrames — and exact long-match mining from it.

The north rule (BASELINE.json) names a "suffix-array substring-dedup
stage". operators/substring.py is the corpus-scale SCREEN for that stage
(winnowed content-defined anchors, probabilistic ≥0.9999 at defaults);
this module is the EXACT instrument: a true generalized suffix array
built with the classic prefix-doubling recurrence (Manber & Myers 1990),
re-expressed as iterative DataFrame rounds the same way
operators/cluster.py re-expresses large-star/small-star:

  round 0   rank⁰(d,p)   = dense rank of text[p]              (1 char)
  round k   rankᵏ(d,p)   = dense rank of (rankᵏ⁻¹(d,p), rankᵏ⁻¹(d,p+2ᵏ⁻¹))
                                                               (2ᵏ chars)

so after ⌈log₂ L⌉ rounds every suffix carries the dense rank of its first
L characters — equal ranks ⇔ byte-identical L-prefixes. Each round is

  * one self-join on (doc_id, pos+step) to fetch the partner rank
    (suffixes never cross documents — the generalized-SA convention), and
  * one GLOBAL dense rank, computed without any unbounded window:
    range-repartition on the key (equal keys land in one partition, range
    order is monotone in partition id), freeze partition ids with a
    localCheckpoint (the same multiply-consumed-subtree rule as
    operators/cluster.py), per-partition dense_rank over a BOUNDED
    pid-window, and a broadcast prefix-sum of per-partition distinct
    counts. Rounds stop early once every rank is unique (extending a
    prefix cannot reorder already-distinct suffixes).

:func:`sa_long_matches` then mines exact cross-document matches ≥ L:
suffixes sharing a rank at prefix length L are grouped (classes spanning
more than class_cap DISTINCT documents are dropped — the same
document-frequency boilerplate policy as the screen's df_cap), paired
cross-document, and runs of CONSECUTIVE matching positions at one offset
delta merge into maximal spans via gaps-and-islands over a bounded
(doc_a, doc_b, delta) window. Unlike the winnowed screen, every reported
span is exact (no sampling bound) and no match ≥ L below the df cap can
be missed; at equal caps the match set is a superset of the screen's.

100 TB posture: a global suffix array over the full corpus is the
published sharded pattern (Lee et al. 2022 build per-shard suffix arrays
and merge) — here the natural shard is the candidate group the screen or
the LSH tracks emit, and the operator is linear in the shard's character
count per round with ⌈log₂ L⌉ rounds. L is min_len (64 by default), so
the round count is 7 — independent of corpus size.
"""

from __future__ import annotations

import gc

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_MIN_LEN = 64     # report exact matches at least this long
DEFAULT_CLASS_CAP = 64   # drop rank classes larger than this (boilerplate)

# Bounded prefixes rank DIRECTLY: one global dense rank on
# substring(text, pos, max_prefix) is definitionally the same rank the
# doubling recurrence converges to (the DuckDB twin IS that one-window
# formulation), so for max_prefix <= this cap the operator runs ZERO
# doubling rounds. Wall time is ROUND-dominated (each round = a
# checkpointed global range sort + a self-join + a collect; CLAUDE.md),
# and the byte math favors direct ranking too: one range sort of a
# <=128 B key beats three extra rounds that each range-sort an (r1, r2)
# 16 B key AND self-join the full suffix table. Beyond the cap (or for
# max_prefix=None, full-suffix order) the shuffle width of a raw-text key
# would grow unboundedly — prefix doubling stays the scale path there.
DIRECT_RANK_MAX = 128


def _global_dense_rank(
    df: DataFrame, key_cols: list[str], checkpoint_result: bool = True
) -> tuple[DataFrame, int, int]:
    """Replace ``key_cols`` with one global dense ``rank`` column (1-based,
    ascending in key order), keeping all other columns. Returns
    ``(ranked, n_rows, n_distinct)`` — the totals fall out of the same
    per-partition aggregate the prefix sum needs, so the caller's
    all-distinct early exit costs no extra job.

    Two-phase distributed ranking: range-repartition on the key (Spark's
    RangePartitioner sends equal keys to one partition and orders ranges by
    partition id), then rank = broadcast prefix-sum of per-partition
    distinct-key counts + per-partition dense_rank. The pid column is
    frozen with a localCheckpoint so the offset aggregate and the window
    see the identical partitioning (AQE may otherwise re-plan the exchange
    between the two executions of a lazy subtree); the RANKED output is
    checkpointed too because every consumer reads it more than once (both
    branches of the next round's self-join) and the pid-window sort is the
    round's dominant cost — a lazy tail would re-run it per reference."""
    spark = df.sparkSession
    keyed = (
        df.repartitionByRange(*[F.col(c) for c in key_cols])
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = (
        keyed.groupBy("_pid")
        .agg(
            F.count_distinct(*[F.col(c) for c in key_cols]).alias("m"),
            F.count("*").alias("n"),
        )
        .collect()
    )
    off, offsets, n_rows = 0, [], 0
    for r in sorted(counts, key=lambda r: r["_pid"]):
        offsets.append((r["_pid"], off))
        off += r["m"]
        n_rows += r["n"]
    off_df = spark.createDataFrame(offsets, schema="_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in key_cols])
    ranked = (
        keyed.withColumn("_lr", F.dense_rank().over(w))
        .join(F.broadcast(off_df), "_pid")
        .withColumn("rank", (F.col("_off") + F.col("_lr")).cast("long"))
        .drop("_pid", "_lr", "_off", *key_cols)
    )
    if checkpoint_result:
        # inside the doubling loop both branches of the next round's
        # self-join re-read the ranked table, and the pid-window sort is
        # the round's dominant cost — a lazy tail would re-run it per
        # reference. A caller that consumes the result exactly once (the
        # direct bounded-prefix path) skips the materialization.
        ranked = ranked.localCheckpoint(eager=True)
    return ranked, n_rows, off


def suffix_ranks(
    docs: DataFrame,
    max_prefix: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, pos, rank)`` — one row per suffix (``pos`` 1-based),
    ``rank`` = global dense rank of the suffix compared by its first
    ``max_prefix`` characters (full suffix when None; shorter suffixes
    compare as shorter strings, the standard lexicographic rule). Equal
    ranks ⇔ identical (possibly truncated) prefixes, including across
    documents — ordering by ``rank`` IS the generalized suffix array.

    The DuckDB twin is one window expression over exploded positions:
    ``dense_rank() OVER (ORDER BY substring(text, pos, max_prefix))``.

    Consume once on the direct-rank path: when ``max_prefix`` ≤
    ``DIRECT_RANK_MAX`` the one global rank covers the whole prefix and
    the result is returned un-checkpointed, so every action on it re-runs
    the full range sort. A caller that reads the ranks more than once
    materializes them itself (``localCheckpoint(eager=True)``); the
    doubling path (longer prefixes) already returns checkpointed ranks.
    :func:`sa_long_matches`, and through it the curation plan's
    ``substring_exact`` stage, takes this direct path and reads the ranks
    exactly once.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    n = F.length(txt)
    if max_prefix is None:
        row = docs.select(F.max(n).alias("m")).collect()[0]
        max_prefix = int(row["m"] or 1)
    max_prefix = max(int(max_prefix), 1)

    # base rank covers the first min(DIRECT_RANK_MAX, max_prefix)
    # characters in ONE global rank: a bounded-width string key costs the
    # same range sort as a 1-char one, and when it covers max_prefix
    # entirely the doubling loop below never runs (round count dominates
    # wall time — see DIRECT_RANK_MAX note above). For longer / unbounded
    # prefixes the base still removes ⌈log₂ 128⌉ = 7 rounds before the
    # fixed-width doubling recurrence takes over.
    base_w = min(DIRECT_RANK_MAX, max_prefix)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
                F.array().cast("array<int>")
            )
        ).alias("pos"),
        txt.alias("_t"),
    ).select(
        "doc_id",
        "pos",
        F.substring(F.col("_t"), F.col("pos"), base_w).alias("_c"),
    )
    # when the base covers the whole bounded prefix the doubling loop below
    # cannot run and the caller consumes the ranks exactly once — skip the
    # result checkpoint (the docstring's ranked-reused-twice rationale only
    # applies inside the loop)
    sa, n_rows, n_distinct = _global_dense_rank(
        base, ["_c"], checkpoint_result=base_w < max_prefix
    )

    covered = base_w
    while covered < max_prefix and n_distinct < n_rows:
        step = min(covered, max_prefix - covered)
        partner = sa.select(
            "doc_id",
            (F.col("pos") - F.lit(step)).alias("pos"),
            F.col("rank").alias("_r2"),
        )
        joined = (
            sa.join(partner, ["doc_id", "pos"], "left")
            .withColumn("_r2", F.coalesce("_r2", F.lit(-1)))
            .withColumnRenamed("rank", "_r1")
        )
        prev = sa
        sa, n_rows, n_distinct = _global_dense_rank(joined, ["_r1", "_r2"])
        covered += step
        # all-distinct ⇒ further rounds are no-ops (extending a prefix
        # cannot reorder already-distinct suffixes) — checked from the
        # counts the rank pass already collected, zero extra actions.
        # Drop the previous round's references promptly (py4j refs pin the
        # JVM-side RDDs; once Python lets go, ContextCleaner can release
        # the superseded localCheckpoint blocks instead of accumulating
        # ~two checkpointed suffix-table copies per live round — r06
        # advice) — the new `sa` is already materialized at this point.
        del prev, joined, partner
        gc.collect()
    return sa.select("doc_id", "pos", "rank")


def sa_long_matches(
    docs: DataFrame,
    min_len: int = DEFAULT_MIN_LEN,
    class_cap: int = DEFAULT_CLASS_CAP,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact cross-document matches ≥ ``min_len`` chars via the suffix
    array — ``(doc_a, doc_b, a_start, b_start, n_grams, match_len)``, one
    row per maximal span per (pair, offset delta).

    Every suffix long enough to hold ``min_len`` characters is classed by
    its L-prefix rank; classes spanning more than ``class_cap`` DISTINCT
    documents are dropped (boilerplate guard — the same document-frequency
    policy as the winnowed screen's df_cap, so at equal caps this exact
    mode reports a superset of the screen's matches). Within a class,
    cross-document position pairs at one delta whose
    positions are CONSECUTIVE chain into a maximal exact span of length
    (run − 1) + L: every L-window inside the span matched, so the whole
    span is byte-identical — no sampling bound, unlike substring_matches.
    """
    ranks = suffix_ranks(docs, max_prefix=min_len, id_col=id_col, text_col=text_col)
    lens = docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(F.coalesce(F.col(text_col), F.lit(""))).alias("_n"),
    )
    # materialize: consumed by the class-size aggregate AND both sides of
    # the pair self-join — a lazy subtree would re-run the length join and
    # re-scan the corpus once per consumer (CLAUDE.md: multiply-consumed
    # DataFrames re-expand per reference)
    eligible = (
        ranks.join(lens, "doc_id")
        .where(F.col("pos") <= F.col("_n") - F.lit(min_len) + 1)
        .select("doc_id", "pos", "rank")
        .localCheckpoint(eager=True)
    )
    sizes = eligible.groupBy("rank").agg(F.count_distinct("doc_id").alias("_d"))
    # cap on DISTINCT DOCUMENTS — the identical document-frequency policy
    # as the winnowed screen's df_cap (substring.py), so at equal caps the
    # exact instrument's match set is a superset of the screen's. Within a
    # surviving class the occurrence count is data-dependent (a passage
    # repeated k times inside one doc contributes k suffixes) — the same
    # per-doc-repetition exposure the screen has, bounded upstream by the
    # curation plan's repetition/quality gates.
    # broadcast: the surviving-class list is small by construction (every
    # class spans ≥2 and ≤ class_cap documents) and the checkpointed
    # eligible table carries no Catalyst stats, so Catalyst would SMJ it
    ok = sizes.where((F.col("_d") >= 2) & (F.col("_d") <= class_cap)).select("rank")
    # materialize: both sides of the pair self-join consume classed — lazy,
    # the class-size aggregate would run once per side
    classed = eligible.join(F.broadcast(ok), "rank").localCheckpoint(eager=True)
    a = classed.select(
        "rank", F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a")
    )
    b = classed.select(
        "rank", F.col("doc_id").alias("doc_b"), F.col("pos").alias("pos_b")
    )
    pairs = a.join(b, "rank").where(F.col("doc_a") < F.col("doc_b"))
    w = Window.partitionBy(
        "doc_a", "doc_b", F.col("pos_a") - F.col("pos_b")
    ).orderBy("pos_a")
    runs = pairs.withColumn(
        "_new", (F.col("pos_a") - F.lag("pos_a").over(w) > 1).cast("int")
    ).withColumn("_isl", F.sum(F.coalesce("_new", F.lit(1))).over(w))
    return (
        runs.groupBy(
            "doc_a", "doc_b", (F.col("pos_a") - F.col("pos_b")).alias("_delta"), "_isl"
        )
        .agg(
            F.min("pos_a").alias("a_start"),
            F.min("pos_b").alias("b_start"),
            F.count("*").alias("n_grams"),
            (F.max("pos_a") - F.min("pos_a") + F.lit(min_len)).alias("match_len"),
        )
        .select("doc_a", "doc_b", "a_start", "b_start", "n_grams", "match_len")
    )
