"""Candidate generation + verification.

Three candidate sources, one verification predicate:

  * exact:   Instance-ID tophash equality (cheap groupBy — removes the worst
             LSH skew up front: empty pages / byte-identical mirrors collapse
             to one representative before any banding).
  * minhash: LSH banding over the 64-value MinHash signature, b bands × r
             rows (16×4: P(collide) = 1-(1-s^4)^16 ≈ 0.996 at
             signature similarity s=0.75).
  * simhash: 4 × 16-bit sub-keys of the 64-bit text SimHash (pigeonhole:
             Hamming ≤ 3 ⇒ at least one sub-key collides exactly).

Everything here is native Spark SQL — band hashes via F.xxhash64 (JVM,
whole-stage codegen), verification via bit_count(XOR) — no Python UDFs.

Skew mitigation (explicit, per north_rule — AQE skew-join splits join
partitions but cannot fix an O(k²) hot LSH bucket): one router,
:func:`hot_buckets`, splits any band-row table into the rows of buckets
≤ cap and one min-url hub per oversized bucket — O(k) edges that preserve
connectivity for clustering instead of O(k²). The batch self-join
(:func:`verified_bucket_pairs`) pairs its cold buckets inline and spokes
every hot member to its hub; the streaming vs-history probe
(streaming/ingest.py) pairs new docs with cold history rows and with the
hubs of hot history buckets. Both verify residual candidates with the one
join verifier, :func:`verify_pairs`; every capped bucket is observable in
the metrics output.

Scale regime note (measured at the 4M-page size point): the simhash track's
key space is 4 sub-keys × 2^16, so by pigeonhole its AVERAGE bucket crosses
any fixed cap once n ≳ cap·2^16 (~4.2M pages at cap=64) — every sim bucket
goes hub-and-spoke and the track's candidate volume becomes a flat ~4 edges
per page, all exactly verified downstream (correctness unaffected; the
minhash track, whose 64-bit band keys never saturate, carries the targeted
recall). At 10^9+ pages the sim track should shard into p permuted tables
keyed on wider prefixes (Manku et al. 2007's rotation scheme) — table count
and prefix width are constants here, recorded in the run_dedup and
run_curation stage fingerprints (:func:`band_geometry`), not architecture;
the banding/bucket/verify machinery here is unchanged by that swap. A
change to how band keys are computed must change the recorded geometry,
so a batch out dir's stages are recomputed instead of resumed. The
streaming state keeps no band keys: its probe bands the codes history
with this build's geometry.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BANDS = 16
ROWS = 4
SIMHASH_SUBKEYS = 4

# verification thresholds (Hamming over 64-bit bodies; reference robustness
# envelope: 1-word edit → CID-T distance ≈ 2, tests/test_iscc.py:103-105)
CID_T_MAX_HAMMING = 10
SIMHASH_MAX_HAMMING = 3


def band_geometry() -> dict:
    """How band keys are built: MinHash bands × rows, SimHash sub-keys."""
    return {"bands": BANDS, "rows": ROWS, "subkeys": SIMHASH_SUBKEYS}


def exact_pairs(codes: DataFrame, reps: DataFrame) -> DataFrame:
    """Hub-and-spoke edges inside each exact-duplicate group.

    ``reps`` is the slim code table from :func:`rep_codes`, whose url IS
    the group representative — only its tophash→url mapping is consumed."""
    return (
        codes.select("tophash", "url")
        .join(reps.select("tophash", F.col("url").alias("_rep")), "tophash")
        .where(F.col("url") != F.col("_rep"))
        .select(
            F.col("_rep").alias("url_a"),
            F.col("url").alias("url_b"),
            F.lit("exact").alias("src"),
        )
    )


def rep_codes(codes: DataFrame) -> DataFrame:
    """Slim per-representative code table that feeds LSH (exact-dup groups
    collapse to their representative — degenerate-signature skew never
    reaches the band join).

    One ``min_by`` aggregation on tophash: the representative is the
    group's min url, carried with the fields LSH and verification read."""
    picked = codes.groupBy("tophash").agg(
        F.min_by(
            F.struct("url", "cid_body", "simhash", "minhash"), F.col("url")
        ).alias("m")
    )
    return picked.select(
        "m.url", "m.cid_body", "m.simhash", "m.minhash", "tophash"
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit LONG columns — ``bit_count(xor)``."""
    return F.bit_count(a.bitwiseXOR(b))


def is_dup(
    a: tuple[Column, Column, Column], b: tuple[Column, Column, Column]
) -> Column:
    """The engine's dup predicate over two sides' ``(cid_body, simhash,
    tophash)`` columns — shared by the inline bucket verifier and
    :func:`verify_pairs` (hub edges and the streaming vs-history probe):

        hamming(cid_body) ≤ CID_T_MAX_HAMMING
        OR hamming(simhash) ≤ SIMHASH_MAX_HAMMING OR tophash equal."""
    (cid_a, sim_a, top_a), (cid_b, sim_b, top_b) = a, b
    return (
        (hamming64(cid_a, cid_b) <= CID_T_MAX_HAMMING)
        | (hamming64(sim_a, sim_b) <= SIMHASH_MAX_HAMMING)
        | (top_a == top_b)
    )


def _minhash_band_structs() -> list[Column]:
    """struct(band_id, band_hash) per MinHash band: xxhash64 over the band's
    ROWS consecutive signature values, seeded with the band index."""
    return [
        F.struct(
            F.lit(i).alias("band_id"),
            F.xxhash64(
                F.lit(i), *[F.col("minhash")[j] for j in range(i * ROWS, (i + 1) * ROWS)]
            ).alias("band_hash"),
        )
        for i in range(BANDS)
    ]


def _simhash_band_structs() -> list[Column]:
    """struct(band_id, band_hash) per 64/SIMHASH_SUBKEYS-bit SimHash
    sub-key; band_id offset by 1000 to keep the key space disjoint from
    minhash bands."""
    width = 64 // SIMHASH_SUBKEYS
    mask = (1 << width) - 1
    return [
        F.struct(
            F.lit(1000 + i).alias("band_id"),
            (F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(F.lit(mask)))
            .cast("long").alias("band_hash"),
        )
        for i in range(SIMHASH_SUBKEYS)
    ]


def _band_structs() -> list[Column]:
    """MinHash band structs then SimHash sub-key structs — every band key
    of a row."""
    return _minhash_band_structs() + _simhash_band_structs()


def _explode_bands(df: DataFrame, lead: str, structs: list[Column]) -> DataFrame:
    """(lead, band_id, band_hash) — one native explode over the band-key
    structs."""
    return df.select(lead, F.explode(F.array(*structs)).alias("b")).select(
        lead, "b.band_id", "b.band_hash"
    )


def minhash_bands(codes: DataFrame) -> DataFrame:
    """(url, band_id, band_hash) — xxhash64 MinHash band keys."""
    return _explode_bands(codes, "url", _minhash_band_structs())


def simhash_bands(codes: DataFrame) -> DataFrame:
    """(url, band_id, band_hash) from 16-bit SimHash sub-keys."""
    return _explode_bands(codes, "url", _simhash_band_structs())


def band_keys(codes: DataFrame) -> DataFrame:
    """(url, band_id, band_hash) — the keys-only band rows, MinHash
    bands and SimHash sub-keys in one explode: the row set of
    ``minhash_bands ∪ simhash_bands``. The one shape of every band table:
    the batch ``bands`` stage (plans/dedup.py) and the streaming
    vs-history probe's rows, banded from the codes history
    (streaming/ingest.py)."""
    return _explode_bands(codes, "url", _band_structs())


def band_pfx():
    """A 64-value prefix of a (band_id, band_hash) row's key. No table at
    rest is partitioned by it; ``streaming.ingest.read_band_index`` takes
    a list of prefixes as a row filter."""
    return F.pmod(
        F.xxhash64(F.col("band_id"), F.col("band_hash")), F.lit(64)
    ).cast("int")


def band_rows_table(slim: DataFrame) -> DataFrame:
    """(m struct(url,cid_body,simhash,tophash), band_id, band_hash) — the
    banded representative table with the verification payload riding along
    (see verified_bucket_pairs): minhash LSH bands + simhash sub-key bands
    in a single projection pass. Exposed so plans/dedup.py can feed the
    SAME rows to the metrics pass and the pair generator; the stage it
    writes at rest holds only the keys (:func:`band_keys`)."""
    payload = F.struct(
        F.col("url"), F.col("cid_body"), F.col("simhash"), F.col("tophash")
    )
    return _explode_bands(slim.withColumn("m", payload), "m", _band_structs())


def hot_buckets(
    index_rows: DataFrame, bucket_cap: int, url: Column
) -> tuple[DataFrame, DataFrame]:
    """The skew split of a (band_id, band_hash, …) row table, shared by the
    batch self-join (:func:`verified_bucket_pairs`) and the streaming
    vs-history probe (streaming/ingest.py): returns ``(cold_rows, hubs)``,
    the rows of buckets with ≤ ``bucket_cap`` rows, and one
    (band_id, band_hash, hub) row per hotter bucket, ``hub`` its min
    ``url``.

    Hot buckets are FEW by construction — one row per mega-bucket — so
    their key list broadcasts at any corpus size. Routing rows via
    broadcast anti/semi joins means no shuffle ever hash-partitions by a
    hot key with unbounded rows behind it: the cold side has ≤ bucket_cap
    rows per key, and the hot side's only wide op is a partial-agg min
    over the hot rows. The count and the min stay two aggregates: the
    anti-join needs only the keys, and one ``count + min(url)`` aggregate
    (a SortAggregate over strings) defeats exchange reuse, costing jobs.

    Recall: a bucket only goes hot when > bucket_cap docs share a full
    band key, which at 16×4 MinHash banding means a template farm of
    near-identical docs — a doc that is a true near-dup of ANY farm member
    is a near-dup of the hub too, so the single hub edge preserves
    CLUSTER recall (connected components close the hull; the batch
    pipeline measures 1.0/1.0 at 400 k docs with a planted farm,
    RECALL.json). The residual miss class is a *heterogeneous* hot bucket
    (band-hash coincidence between unrelated docs) where a doc matches a
    non-hub member only — bounded by the cap choice, and mirrored exactly
    in the DuckDB twins (oracles.py) so parity never masks it."""
    keys = ["band_id", "band_hash"]
    hot_keys = F.broadcast(
        index_rows.groupBy(*keys).count()
        .where(F.col("count") > bucket_cap).select(*keys)
    )
    cold_rows = index_rows.join(hot_keys, keys, "left_anti")
    hubs = (
        index_rows.join(hot_keys, keys, "left_semi")
        .groupBy(*keys).agg(F.min(url).alias("hub"))
    )
    return cold_rows, hubs


def verified_bucket_pairs(
    slim: DataFrame, bucket_cap: int = 64, band_rows: DataFrame | None = None
) -> DataFrame:
    """Banding + candidate generation + exact verification in one shuffle
    chain — no post-hoc join back to the code table.

    The verification fields (cid_body, simhash, tophash ≈ 80 B) ride along
    with each band row, so in-bucket pairs come from an equi self-join of
    the capped buckets' rows on (band_id, band_hash), ``url_a < url_b``,
    verified inline by :func:`is_dup` — the shape of the DuckDB twin's
    ``cand_cold``. Only the band rows shuffle; the 512 B minhash column,
    which the dup predicate never reads, stays out of the payload.

    Oversized buckets (> bucket_cap, e.g. template farms): hub-and-spoke
    edges to the bucket-min url, O(k) not O(k²), never collected into one
    row; their verification happens on the (small) residual via
    verify_pairs. Returns (url_a, url_b, cid_hamming, simhash_hamming,
    exact_dup) for capped buckets plus unverified hub edges flagged
    verified=false. A pair that several bands find appears once per band
    on the inline side: :func:`dup_pairs` collapses the union once. The
    hub edges are deduped here, one per (hub, member).

    ``band_rows``: pass a precomputed band table (e.g. the one
    plans/dedup.py also feeds to its metrics pass) to skip the in-plan
    banding; must have band_rows_table's (m, band_id, band_hash) shape.
    """
    if band_rows is None:
        band_rows = band_rows_table(slim)
    else:
        band_rows = band_rows.select("m", "band_id", "band_hash")

    keys = ["band_id", "band_hash"]
    cold_rows, hubs = hot_buckets(band_rows, bucket_cap, F.col("m.url"))
    # cold buckets hold ≤ bucket_cap rows by construction, so the equi
    # self-join emits ≤ bucket_cap² rows per key; url_a < url_b drops each
    # row's pair with itself, and with the other crawl of its url (one
    # url, two tophash groups) — never a (url, url) pair
    x, y = F.col("x"), F.col("y")

    def side(m):
        return m["cid_body"], m["simhash"], m["tophash"]

    pairs_small = (
        cold_rows.select(F.col("m").alias("x"), *keys)
        .join(cold_rows.select(F.col("m").alias("y"), *keys), keys)
        .where((x["url"] < y["url"]) & is_dup(side(x), side(y)))
        .select(
            x["url"].alias("url_a"), y["url"].alias("url_b"),
            hamming64(x["cid_body"], y["cid_body"]).alias("cid_hamming"),
            hamming64(x["simhash"], y["simhash"]).alias("simhash_hamming"),
            (x["tophash"] == y["tophash"]).alias("exact_dup"),
            F.lit(True).alias("verified"),
        )
    )

    pairs_big = (
        band_rows.join(F.broadcast(hubs), keys)
        .where(F.col("m.url") != F.col("hub"))
        .select(
            F.col("hub").alias("url_a"), F.col("m.url").alias("url_b"),
            F.lit(None).cast("int").alias("cid_hamming"),
            F.lit(None).cast("int").alias("simhash_hamming"),
            F.lit(None).cast("boolean").alias("exact_dup"),
        )
        .dropDuplicates(["url_a", "url_b"])
        .withColumn("verified", F.lit(False))
    )
    return pairs_small.unionByName(pairs_big)


def verify_pairs(
    cand: DataFrame, codes_slim: DataFrame, codes_b: DataFrame | None = None
) -> DataFrame:
    """Exact verification of (url_a, url_b, src) candidate pairs: url_a's
    codes come from ``codes_slim``, url_b's from ``codes_b`` (default
    ``codes_slim``; the streaming probe passes the history table). Keeps
    the pairs of two different urls that pass :func:`is_dup` — a url
    re-crawled into history is never a dup of itself — as (url_a, url_b,
    src, cid_hamming, simhash_hamming, exact_dup)."""

    def side(table, s):
        return table.select(
            F.col("url").alias(f"url_{s}"),
            F.col("cid_body").alias(f"cid_{s}"),
            F.col("simhash").alias(f"sim_{s}"),
            F.col("tophash").alias(f"top_{s}"),
        )

    a = F.col("cid_a"), F.col("sim_a"), F.col("top_a")
    b = F.col("cid_b"), F.col("sim_b"), F.col("top_b")
    return (
        cand.join(side(codes_slim, "a"), "url_a")
        .join(side(codes_slim if codes_b is None else codes_b, "b"), "url_b")
        .where((F.col("url_a") != F.col("url_b")) & is_dup(a, b))
        .select(
            "url_a",
            "url_b",
            "src",
            hamming64(a[0], b[0]).alias("cid_hamming"),
            hamming64(a[1], b[1]).alias("simhash_hamming"),
            (a[2] == b[2]).alias("exact_dup"),
        )
    )


def dup_pairs(
    codes: DataFrame,
    bucket_cap: int = 64,
    slim: DataFrame | None = None,
    band_rows: DataFrame | None = None,
) -> DataFrame:
    """codes → verified duplicate pairs (exact ∪ minhash-LSH ∪ simhash), as
    (url_a, url_b, src, cid_hamming, simhash_hamming, exact_dup).

    Capped buckets verify inline during candidate generation
    (verified_bucket_pairs); only oversized-bucket hub edges take the
    residual join-verify path (verify_pairs). This is the one pair table:
    plans/dedup.py stores it as the ``dup_pairs`` stage unchanged, and the
    driver's ``dedup_pairs`` row selects the same six columns.

    One row per ``(url_a, url_b, src)``, the same at any partitioning: a
    pair found by several bands or crawls keeps its least
    ``(cid_hamming, simhash_hamming, exact_dup)``.

    ``slim``: pass a precomputed (ideally already-materialized)
    representative table to share it with other consumers (e.g. the
    lsh_metrics pass in plans/dedup.py) instead of re-aggregating. When
    None, the representative table is built and checkpointed here: it has
    several downstream consumers (banding, verify sides, exact pairs) and
    without materialization Spark re-expands — and re-shuffles — the
    full-corpus tophash aggregation once per consumer.
    """
    if slim is None:
        slim = rep_codes(codes).localCheckpoint(eager=True)
    vb = verified_bucket_pairs(slim, bucket_cap, band_rows)
    inline_ok = (
        vb.where(F.col("verified")).drop("verified").withColumn("src", F.lit("lsh"))
    )
    hub_ok = verify_pairs(
        vb.where(~F.col("verified")).select(
            "url_a", "url_b", F.lit("lsh").alias("src")
        ),
        slim,
    )
    exact = exact_pairs(codes, slim).select(
        "url_a", "url_b", "src",
        F.lit(0).alias("cid_hamming"), F.lit(0).alias("simhash_hamming"),
        F.lit(True).alias("exact_dup"),
    )
    dists = F.min(F.struct("cid_hamming", "simhash_hamming", "exact_dup"))
    return (
        inline_ok.unionByName(hub_ok).unionByName(exact)
        .groupBy("url_a", "url_b", "src").agg(dists.alias("d"))
        .select("url_a", "url_b", "src", "d.*")
    )
