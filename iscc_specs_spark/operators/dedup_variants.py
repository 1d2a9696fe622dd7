"""Deduplication variants for training-data curation.

Complements the ISCC MinHash/SimHash LSH pipeline (operators/lsh.py) with
the other standard dedup families, each as a composable DataFrame operator
over the ``documents`` / ``embeddings`` tables:

  * exact dedup           — hash-groupBy on a normalized content fingerprint
  * n-gram Jaccard        — word-shingle explode + shuffle join + exact
                            Jaccard (the verifier LSH approximates)
  * embedding near-dup    — cosine similarity over array<float> embeddings

Native Spark SQL except the blocked-GEMM verifier
(``embedding_neardup_pairs_gemm`` — one Arrow-batched float64 matmul per
vector-tile pair, the production implementation of the exact cosine
verifier). Exact Jaccard is intentionally the *verification* path: at
100 TB you run MinHash-LSH (operators/lsh.py) to get candidates and this
operator only on the candidate set; here it is also exposed stand-alone so
the DuckDB oracle can check it end-to-end.

Scale notes: ``exact_dups`` is one shuffle on the fingerprint (map-side
partial agg). ``ngram_jaccard_pairs`` shuffles on shingle — hot shingles are
capped (df-style stopword cap) exactly like LSH bucket capping, which bounds
the self-join at O(cap²) per shingle. ``embedding_neardup_pairs`` is the
brute-force verifier — quadratic, gate it behind candidates at scale (see
operators/ann.py for the LSH-bucketed scale path).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from iscc_specs_spark.operators.lsh import hot_buckets


def normalized_fp(col: str = "text"):
    """md5 of casefolded, whitespace-collapsed text (oracle-parity hash)."""
    return F.md5(
        F.regexp_replace(F.lower(F.trim(F.coalesce(F.col(col), F.lit("")))), "\\s+", " ")
    )


def exact_dups(docs: DataFrame) -> DataFrame:
    """Exact dedup via hash-groupBy: one row per document with its group.

    Columns: doc_id, content_fp, group_size, rep_doc_id (min doc_id in the
    group), is_dup (member of a >1 group that is not the representative).
    One shuffle on content_fp; map-side combine does the heavy lifting.
    """
    with_fp = docs.select("doc_id", normalized_fp().alias("content_fp"))
    groups = with_fp.groupBy("content_fp").agg(
        F.count("*").alias("group_size"),
        F.min("doc_id").alias("rep_doc_id"),
    )
    return (
        with_fp.join(groups, "content_fp")
        .select(
            "doc_id",
            "content_fp",
            "group_size",
            "rep_doc_id",
            ((F.col("group_size") > 1) & (F.col("doc_id") != F.col("rep_doc_id"))).alias(
                "is_dup"
            ),
        )
    )


def word_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """doc_id, shingle — distinct word n-grams (padded with the whole text
    when shorter than n words so every doc has ≥1 shingle).

    Codegen-resident build: posexplode_outer tokens → per-document window
    ``lead`` → ``concat_ws`` (the former ``transform``+``slice`` higher-
    order formulation evaluated its lambda interpreted per element — see
    textstats.repetition_stats for the measured 10×). concat_ws skips
    NULL leads, so the pos-0 row of a short document yields exactly the
    padded whole-text shingle, and the outer-null row of an empty document
    yields "". One shuffle keyed by doc_id; the per-doc distinct reuses
    that partitioning (doc_id is a subset of the grouping key — no second
    exchange).
    """
    from pyspark.sql import Window

    trimmed = F.trim(F.coalesce(F.col("text"), F.lit("")))
    toks = F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, "\\s+")
    )
    tok_rows = docs.select(
        "doc_id", F.posexplode_outer(toks).alias("pos", "t0")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = tok_rows.select(
        "doc_id",
        "pos",
        "t0",
        *[F.lead("t0", k).over(w).alias(f"t{k}") for k in range(1, n)],
    )
    full = F.col(f"t{n - 1}").isNotNull() if n > 1 else F.col("t0").isNotNull()
    return (
        leads.where(full | (F.coalesce(F.col("pos"), F.lit(0)) == 0))
        .select(
            "doc_id",
            F.concat_ws(" ", *[F.col(f"t{k}") for k in range(n)]).alias(
                "shingle"
            ),
        )
        .dropDuplicates(["doc_id", "shingle"])
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    shingle_df_cap: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs ≥ threshold.

    explode distinct shingles → self-join on shingle → |A∩B| per pair →
    jaccard = inter / (|A| + |B| − inter). ``shingle_df_cap`` drops shingles
    whose document frequency exceeds the cap (skew guard: a stopword shingle
    shared by 10⁶ docs would create 10¹² join rows; capped shingles cannot
    decide a ≥0.5-Jaccard pair on their own and the survivors still vote).
    The cap defaults ON (1000) — an uncapped self-join is quadratic in the
    hottest shingle's document frequency; pass None only for exact-Jaccard
    verification over pre-filtered candidate sets.
    """
    # materialize the exploded shingle table once: sizes, the df-cap count,
    # and both self-join sides consume it (4 consumers), and a lazy explode
    # would re-run per consumer. At warehouse scale this is a staged table.
    sh = word_shingles(docs, n).localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    if shingle_df_cap is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") > shingle_df_cap)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def cosine_expr(a, b):
    """Native cosine similarity over two array<double> columns.

    Left-to-right sequential folds (deterministic float order — matches the
    DuckDB oracle's list_* fold order).
    """
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def dot_expr(a, b):
    """Sequential-fold dot product (deterministic float order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def embedding_neardup_pairs(emb: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Brute-force cosine near-dup pairs over embeddings(vec_id, embedding).

    Norms are computed once per vector *before* the self-join (O(n) folds
    instead of O(n²)); the per-pair work is a single zip_with/aggregate dot.
    Bit-identical to dot/(sqrt(na)·sqrt(nb)) computed per pair — same values,
    same operation order. Quadratic verifier — at scale run it only on
    ann.py candidate buckets.
    """
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", F.sqrt(dot_expr(F.col("v"), F.col("v"))))
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    return (
        a.crossJoin(b)
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(
                dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def embedding_neardup_pairs_gemm(
    emb: DataFrame,
    threshold: float = 0.95,
    block: int = 4096,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Production brute-force cosine verifier: distributed blocked GEMM.

    Same pair semantics as :func:`embedding_neardup_pairs` (vec_a < vec_b,
    round-6 cosine ≥ threshold), ~100× faster: vectors are packed into
    ``block``-sized tiles (one groupBy), tile pairs (a ≤ b) cross-join —
    (n/block)² small rows, not n² — and one Arrow-batched pass runs a
    float64 matrix multiply per tile pair.  Scales as a verifier should:
    each tile pair ships 2·block vectors once, work distributes over
    (n/block)² tasks, no driver collect, no per-pair interpreted SQL
    lambda (the zip_with/aggregate fold costs ~50 µs/pair — this path
    ~0.05 µs/pair).

    Float caveat: BLAS reorders the dot-product summation, so a cosine can
    differ from the sequential-fold SQL sibling in the last ulp before
    round-6; the SQL sibling therefore remains the DuckDB-oracled
    correctness query and this is the benched production operator (same
    pattern as substring md5-oracle / xxh64-production).

    ``candidates`` (vec_a, vec_b with vec_a < vec_b) switches the verifier
    from all-tile-pairs to CANDIDATE-GATED mode: only tile pairs that hold
    at least one candidate are materialized (the tile-pair key set comes
    from the candidates themselves — a broadcast-sized distinct over
    (vec_a div block, vec_b div block)), and the scored output is
    semi-joined back to the candidate set, so the quadratic (n/block)²
    growth term disappears — work is O(|candidate tile pairs|). This is
    the composition ``embedding_neardup_gated`` wires end-to-end.
    """
    import pandas as pd

    e = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.floor(F.col("vec_id") / block).cast("long").alias("blk"),
    )
    packed = e.groupBy("blk").agg(
        F.collect_list(F.struct("vec_id", "v")).alias("rows")
    )
    if candidates is None:
        tile_pairs = (
            packed.select(
                F.col("blk").alias("blk_a"), F.col("rows").alias("rows_a")
            )
            .join(
                packed.select(
                    F.col("blk").alias("blk_b"), F.col("rows").alias("rows_b")
                ),
                F.col("blk_a") <= F.col("blk_b"),
            )
        )
    else:
        # vec_a < vec_b and floor is monotone, so blk_a <= blk_b — the
        # gated tile-pair keys line up with the a<=b tile enumeration
        cand_tiles = candidates.select(
            F.floor(F.col("vec_a") / block).cast("long").alias("blk_a"),
            F.floor(F.col("vec_b") / block).cast("long").alias("blk_b"),
        ).dropDuplicates()
        tile_pairs = (
            cand_tiles.join(
                packed.select(
                    F.col("blk").alias("blk_a"), F.col("rows").alias("rows_a")
                ),
                "blk_a",
            )
            .join(
                packed.select(
                    F.col("blk").alias("blk_b"), F.col("rows").alias("rows_b")
                ),
                "blk_b",
            )
        )

    def score(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for rows_a, rows_b in zip(pdf["rows_a"], pdf["rows_b"]):
                ids_a = np.array([r["vec_id"] for r in rows_a], dtype=np.int64)
                ids_b = np.array([r["vec_id"] for r in rows_b], dtype=np.int64)
                ma = np.array([r["v"] for r in rows_a], dtype=np.float64)
                mb = np.array([r["v"] for r in rows_b], dtype=np.float64)
                na = np.sqrt((ma * ma).sum(axis=1))
                nb = np.sqrt((mb * mb).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    # zero-norm vectors → NaN cosine → filtered, same as
                    # the SQL sibling's NULL/NaN comparison semantics
                    cos = np.round((ma @ mb.T) / np.outer(na, nb), 6)
                ia, ib = np.nonzero(
                    (cos >= threshold) & (ids_a[:, None] < ids_b[None, :])
                )
                out_a.append(ids_a[ia])
                out_b.append(ids_b[ib])
                out_c.append(cos[ia, ib])
            yield pd.DataFrame(
                {
                    "vec_a": np.concatenate(out_a) if out_a else [],
                    "vec_b": np.concatenate(out_b) if out_b else [],
                    "cosine": np.concatenate(out_c) if out_c else [],
                }
            )

    scored = tile_pairs.mapInPandas(
        score, "vec_a long, vec_b long, cosine double"
    )
    if candidates is not None:
        # a gated tile pair still scores every row pair inside it; keep
        # only the pairs the candidate generator actually proposed
        scored = scored.join(
            candidates.select("vec_a", "vec_b"), ["vec_a", "vec_b"], "left_semi"
        )
    return scored


def embedding_neardup_lsh(
    emb: DataFrame,
    threshold: float = 0.4,
    nbits: int = 4,
    ntables: int = 8,
    seed: int = 11,
    dim: int | None = None,
    bucket_cap: int = 1000,
    materialize: bool = True,
) -> DataFrame:
    """LSH-gated embedding near-dup pairs — the scale path the brute-force
    verifier above gates at 100 TB.

    Random-hyperplane bucketing (same family as operators/ann.py): each
    vector lands in one ``nbits``-bit bucket per table; only pairs sharing
    ≥1 bucket are scored, so the join is bucket-local (≈ n²/2^nbits per
    table instead of n² — and at scale the bucket table is written
    partitioned by (t, h) so the self-join co-locates without a shuffle).
    Exact cosine is computed on candidates only; no CartesianProduct /
    BroadcastNestedLoop anywhere in the plan.

    Candidate recall is 1 − (1 − p^nbits)^ntables with p = 1 − θ/π: the
    defaults give ≈0.998 for true near-dups (cosine ≥ 0.9); low-similarity
    pairs (≈0.4) are intentionally under-sampled — that is the pruning.

    Skew guard (same standard as the ISCC track, operators/lsh.py:192-246):
    a degenerate (t, h) bucket — a template farm of k near-identical
    embeddings — would make the self-join O(k²·ntables). Buckets larger
    than ``bucket_cap`` are therefore routed hub-and-spoke: the hot-key
    list is tiny by construction (one row per mega-bucket) and broadcasts;
    hot-bucket members are scored only against the bucket-min vector, O(k)
    edges that preserve connectivity for clustering (farm members are
    near-identical, so hub edges pass the threshold whenever member-member
    edges would). Size ``nbits`` so typical buckets stay under the cap;
    the cap is the guard for the skew tail, not the common case.
    """
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", F.sqrt(dot_expr(F.col("v"), F.col("v"))))
    cand = rhp_candidate_pairs(
        e, nbits=nbits, ntables=ntables, seed=seed, dim=dim,
        bucket_cap=bucket_cap, materialize=materialize,
    )
    # scoring happens exactly once per UNIQUE candidate pair (candidates
    # are deduped before the payload joins — previously each pair was
    # cosine-scored once per shared bucket, up to ntables×, and the
    # interpreted fold is the expensive part at ~50 µs/pair)
    return (
        cand.join(
            e.select(
                F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
                F.col("nrm").alias("na"),
            ),
            "vec_a",
        )
        .join(
            e.select(
                F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
                F.col("nrm").alias("nb"),
            ),
            "vec_b",
        )
        .select(
            "vec_a",
            "vec_b",
            F.round(
                dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )


def rhp_candidate_pairs(
    e: DataFrame,
    nbits: int = 4,
    ntables: int = 8,
    seed: int = 11,
    dim: int | None = None,
    bucket_cap: int = 1000,
    materialize: bool = True,
) -> DataFrame:
    """Keys-only RHP-LSH candidate pairs (vec_a < vec_b, deduped) over a
    prepared ``e`` (vec_id, v) — the shared candidate generator behind
    :func:`embedding_neardup_lsh` (SQL-fold scorer, the DuckDB-oracled
    sibling) and :func:`embedding_neardup_gated` (blocked-GEMM scorer, the
    production path).

    The band self-join ships KEYS ONLY (the 64-double vector payload would
    multiply shuffle bytes ~10×; scorers join payloads back by vec_id).
    Buckets over ``bucket_cap`` are hub-and-spoke routed: members pair only
    with the bucket-min vec_id — O(k) edges per mega-bucket that preserve
    connectivity for clustering (see embedding_neardup_lsh docstring).
    """
    from iscc_specs_spark.operators.ann import rhp_buckets_arrow

    if dim is None:
        # ArrayType has no static length; inferring dim would run a
        # plan-time job (same contract as ann.rhp_lsh_topk)
        raise ValueError(
            "rhp_candidate_pairs requires dim (embedding dimensionality)"
        )
    # keys-only signature table via ONE Arrow pass (bit-identical to the
    # SQL fold signatures — ann.rhp_buckets_arrow; the interpreted
    # per-plane folds were the corpus-side signature cost)
    bucketed = rhp_buckets_arrow(
        e, nbits, ntables, seed, dim, id_col="vec_id", vec_col="v"
    ).select("vec_id", F.posexplode("sigs").alias("band_id", "band_hash"))
    if materialize:
        # the signature subtree (ntables × nbits hyperplane dot products
        # per vector) has 4 consumers below (the router's count, cold and
        # hot joins, the spokes) — without materialization Spark re-expands
        # it once per consumer (same incident as lsh.dup_pairs' slim table;
        # CLAUDE.md). Keys-only now, so the checkpoint is ~10× slimmer than
        # when it carried the vector payloads. At warehouse scale this is a
        # written stage table bucketed by (band_id, band_hash).
        bucketed = bucketed.localCheckpoint(eager=True)

    keys = ["band_id", "band_hash"]
    cold, hubs = hot_buckets(bucketed, bucket_cap, F.col("vec_id"))
    cand_cold = (
        cold.select(F.col("vec_id").alias("vec_a"), *keys)
        .join(cold.select(F.col("vec_id").alias("vec_b"), *keys), keys)
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
    )
    cand_hot = (
        bucketed.join(F.broadcast(hubs), keys)
        .where(F.col("vec_id") != F.col("hub"))
        .select(
            F.least("vec_id", "hub").alias("vec_a"),
            F.greatest("vec_id", "hub").alias("vec_b"),
        )
    )
    return cand_cold.unionByName(cand_hot).dropDuplicates()


def embedding_neardup_gated(
    emb: DataFrame,
    threshold: float = 0.4,
    nbits: int = 4,
    ntables: int = 8,
    seed: int = 11,
    dim: int | None = None,
    bucket_cap: int = 1000,
    block: int = 4096,
    materialize: bool = True,
    boundary_eps: float = 2e-6,
) -> DataFrame:
    """The production embedding near-dup path: RHP-LSH candidate generation
    gated into the blocked-GEMM exact verifier — the composition the two
    component operators exist for. Candidate pairs (identical generator to
    :func:`embedding_neardup_lsh` — same buckets, same hub routing, same
    dedup) select which vector tiles the GEMM materializes and which scored
    pairs survive, so the scorer does O(|candidate tile pairs|) tile work
    instead of the full-table (n/block)² sweep, and the per-pair cost is
    BLAS (~0.05 µs) instead of the interpreted SQL fold (~50 µs).

    The pair SET is provably identical to embedding_neardup_lsh, not just
    empirically so: BLAS reorders the dot-product summation, so a GEMM
    cosine can land one round-6 step away from the sequential-fold value —
    a pair sitting exactly on the threshold boundary could flip. The GEMM
    cut therefore runs at ``threshold - boundary_eps``, and survivors whose
    GEMM cosine falls inside the ±``boundary_eps`` band are re-scored with
    the deterministic sequential fold (the exact expression the SQL
    sibling and its DuckDB twin use) before the true cut. The band is
    empty or tiny in practice — post-round-6 cosines are 1e-6-grid values,
    so ±2e-6 spans two grid steps around the threshold — making the
    re-verify a bounded join, while interior pairs keep the O(0.05 µs)
    BLAS cosine. Cosine VALUES still carry the one-ulp GEMM caveat for
    interior pairs; boundary pairs return the fold value.
    """
    e = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("nrm", F.sqrt(dot_expr(F.col("v"), F.col("v"))))
    cand = rhp_candidate_pairs(
        e, nbits=nbits, ntables=ntables, seed=seed, dim=dim,
        bucket_cap=bucket_cap, materialize=materialize,
    )
    if materialize:
        # two consumers (tile-pair keys + the post-score semi-join)
        cand = cand.localCheckpoint(eager=True)
    scored = embedding_neardup_pairs_gemm(
        emb, threshold=threshold - boundary_eps, block=block, candidates=cand
    )
    if materialize:
        # two consumers (interior keep + boundary re-verify) — a lazy
        # mapInPandas subtree would otherwise run the GEMM twice
        scored = scored.localCheckpoint(eager=True)
    interior = scored.where(F.col("cosine") >= threshold + boundary_eps)
    reverified = (
        scored.where(F.col("cosine") < threshold + boundary_eps)
        .select("vec_a", "vec_b")
        .join(
            e.select(
                F.col("vec_id").alias("vec_a"), F.col("v").alias("va"),
                F.col("nrm").alias("na"),
            ),
            "vec_a",
        )
        .join(
            e.select(
                F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"),
                F.col("nrm").alias("nb"),
            ),
            "vec_b",
        )
        .select(
            "vec_a",
            "vec_b",
            F.round(
                dot_expr(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    return interior.unionByName(reverified)


def line_dedup(
    docs: DataFrame,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style boilerplate line removal (Wenzek et al. 2019,
    arXiv:1911.00359 §3.1): drop every line that occurs in >= ``min_df``
    distinct documents, and report per-document removal metrics plus a
    fingerprint of the cleaned text.

    Per document: ``n_lines`` (lines in the input split on ``\\n``),
    ``n_kept`` / ``n_dropped``, ``chars_dropped``, ``clean_fp`` =
    md5(kept lines re-joined with ``\\n`` in original order). Lines that
    are empty after trim are never counted toward document frequency and
    never dropped (they carry formatting, not boilerplate). The drop
    decision is exact raw-line equality — at warehouse scale you would key
    the shuffle by xxh64(line) instead of the string (identical semantics
    modulo a 64-bit collision); the sandbox keeps the string so the DuckDB
    twin (oracles.py:line_dedup_sql) is collision-free identical.

    Scale: one explode, then two shuffles — a (line)-keyed two-stage
    countDistinct for document frequency (map-side partial agg) and the
    equi-join of occurrences against the >=min_df survivor set. Line keys
    hash uniformly; the one skew source is a viral boilerplate line on the
    probe side, which AQE's skew-join split handles (the build side is one
    row per line). Reassembly is a per-doc groupBy — bounded by a single
    document's line count. No UDFs anywhere.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(text, "\n")).alias("pos", "line"),
    )
    hot = (
        lines.where(F.trim(F.col("line")) != "")
        .groupBy("line")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") >= min_df)
        .select("line", F.lit(True).alias("hot"))
    )
    flagged = lines.join(hot, "line", "left").select(
        "doc_id",
        "pos",
        "line",
        F.coalesce(F.col("hot"), F.lit(False)).alias("dropped"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(~F.col("dropped"), 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("dropped"), 1).otherwise(0)).alias("n_dropped"),
            F.coalesce(
                F.sum(F.when(F.col("dropped"), F.length("line"))), F.lit(0)
            ).alias("chars_dropped"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.filter(
                            F.sort_array(
                                F.collect_list(
                                    F.struct("pos", "dropped", "line")
                                )
                            ),
                            lambda s: ~s["dropped"],
                        ),
                        lambda s: s["line"],
                    ),
                    "\n",
                )
            ).alias("clean_fp"),
        )
    )
