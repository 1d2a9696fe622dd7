"""DuckDB oracle SQL builders for the driver's correctness gate.

The ISCC kernel (xxhash/MinHash/CDC/merkle) is not expressible in ANSI SQL,
so the kernel-derived ``codes`` table is *staged* to parquet by the Spark
query itself; the oracles here then recompute every Spark-side derivation —
LSH banding, bucket capping, pair verification, connected components,
per-bit Mixed-CID majority vote, base58 encoding — independently in DuckDB
from that staged parquet.  Kernel values themselves are pinned bit-for-bit
by tests/test_conformance.py (golden vectors), so the combination covers
both layers: conformance proves the kernel, these oracles prove everything
Spark does with it. Importing this module imports the ``kernel`` package,
which builds its C loops, so it needs ``cc`` on PATH (``kernel/native.py``).

Band buckets are grouped by the *raw* band value tuple here, while Spark
groups by ``xxhash64`` of the tuple — identical bucketing unless xxhash64
collides (≈ 2⁻⁶⁴ per bucket pair; acceptable for an oracle).

Base58-iscc encoding is unrolled divmod-58 arithmetic over HUGEINT —
see :func:`base58_body_sql`.
"""

from __future__ import annotations

from iscc_specs_spark.kernel.codec import encode
from iscc_specs_spark.kernel.constants import HEAD_CID_M, HEAD_CID_T, SYMBOLS

# printable-ASCII characters removed by ISCC text_normalize (Unicode
# categories in UNICODE_FILTER; kernel/textnorm.py) — the driver documents
# are printable-ASCII, so normalized length is SQL-expressible with this
# class (validated char-by-char against unicodedata in tests).
ASCII_FILTER_CLASS = r"""[\s!"#%&''()*,\-./:;?@\[\\\]_{}]"""

TWO64 = 1 << 64

# Spark stores 64-bit code bodies as signed longs; DuckDB side lifts them to
# unsigned HUGEINT for shift/divmod arithmetic.
_UNSIGNED = (
    "CAST({c} AS HUGEINT) + CASE WHEN {c} < 0 THEN {two64}::HUGEINT "
    "ELSE 0::HUGEINT END"
).format


def unsigned64(col: str) -> str:
    return _UNSIGNED(c=col, two64=TWO64)


def base58_body_sql(expr: str) -> str:
    """11-char base58-iscc encoding of an unsigned-64 HUGEINT expression
    (kernel/codec.py:15-32, unrolled divmod 58)."""
    chars = []
    for j in range(10, -1, -1):
        chars.append(
            f"substr('{SYMBOLS}', CAST((({expr}) // {58**j}::HUGEINT) % 58 AS INT) + 1, 1)"
        )
    return " || ".join(chars)


def band_structs_sql(bands: int = 16, rows: int = 4, subkeys: int = 4) -> list[str]:
    """Raw-value band-key struct literals mirroring operators/lsh.py banding
    (minhash LSH bands + simhash sub-key bands; requires a ``usim`` unsigned
    simhash column in scope)."""
    structs = []
    for i in range(bands):
        lo, hi = i * rows + 1, (i + 1) * rows
        structs.append(
            f"{{'band_id': {i}, "
            f"'band_key': array_to_string(minhash[{lo}:{hi}], ',')}}"
        )
    for i in range(subkeys):
        width = 64 // subkeys
        div = 1 << (i * width)
        mask = (1 << width) - 1
        structs.append(
            f"{{'band_id': {1000 + i}, "
            f"'band_key': CAST((usim // {div}::HUGEINT) % {mask + 1} AS VARCHAR)}}"
        )
    return structs


def bands_cte(codes_rel: str = "codes", bands: int = 16, rows: int = 4,
              subkeys: int = 4) -> str:
    """CTEs ``slim`` (one representative per tophash) and ``bandrows``
    (url, band_id, band_key) mirroring operators/lsh.py banding, with raw
    value tuples as band keys."""
    structs = band_structs_sql(bands, rows, subkeys)
    return f"""
slim AS (
    SELECT url, cid_body, simhash, minhash, tophash
    FROM (SELECT *, row_number() OVER (PARTITION BY tophash ORDER BY url) AS rn
          FROM {codes_rel})
    WHERE rn = 1
),
usim AS (SELECT *, {unsigned64('simhash')} AS usim FROM slim),
exploded AS (SELECT url, unnest([{", ".join(structs)}]) AS b FROM usim),
bandrows AS (SELECT url, b.band_id AS band_id, b.band_key AS band_key FROM exploded)
"""


def pairs_ctes(bucket_cap: int = 64, cid_max: int = 10, sim_max: int = 3) -> str:
    """CTEs from ``bandrows``/``slim``/``codes`` to ``final_pairs`` —
    mirrors lsh.dup_pairs: cold-bucket C(k,2) + hot-bucket hub-and-spoke,
    inline Hamming verification, union with exact tophash pairs; one row
    per (url_a, url_b, src), with its least distances struct."""
    return f"""
sized AS (SELECT band_id, band_key, count(*) AS n FROM bandrows GROUP BY 1, 2),
cold AS (
    SELECT b.url, b.band_id, b.band_key
    FROM bandrows b JOIN sized s USING (band_id, band_key)
    WHERE s.n BETWEEN 2 AND {bucket_cap}
),
cand_cold AS (
    SELECT DISTINCT least(a.url, b.url) AS url_a, greatest(a.url, b.url) AS url_b
    FROM cold a JOIN cold b USING (band_id, band_key)
    WHERE a.url < b.url
),
hotrows AS (
    SELECT b.url, b.band_id, b.band_key
    FROM bandrows b JOIN sized s USING (band_id, band_key)
    WHERE s.n > {bucket_cap}
),
hubs AS (SELECT band_id, band_key, min(url) AS hub FROM hotrows GROUP BY 1, 2),
cand_hot AS (
    SELECT DISTINCT hub AS url_a, url AS url_b
    FROM hotrows JOIN hubs USING (band_id, band_key)
    WHERE url <> hub
),
allcand AS (SELECT * FROM cand_cold UNION SELECT * FROM cand_hot),
verified AS (
    SELECT c.url_a, c.url_b, 'lsh' AS src, unnest(min({{
        'cid_hamming': CAST(bit_count(xor(a.cid_body, b.cid_body)) AS INT),
        'simhash_hamming': CAST(bit_count(xor(a.simhash, b.simhash)) AS INT),
        'exact_dup': a.tophash = b.tophash}}))
    FROM allcand c
    JOIN slim a ON c.url_a = a.url
    JOIN slim b ON c.url_b = b.url
    WHERE bit_count(xor(a.cid_body, b.cid_body)) <= {cid_max}
       OR bit_count(xor(a.simhash, b.simhash)) <= {sim_max}
       OR a.tophash = b.tophash
    GROUP BY 1, 2
),
reps AS (SELECT tophash, min(url) AS rep FROM codes GROUP BY tophash),
exact AS (
    SELECT DISTINCT r.rep AS url_a, c.url AS url_b, 'exact' AS src,
           CAST(0 AS INT) AS cid_hamming, CAST(0 AS INT) AS simhash_hamming,
           TRUE AS exact_dup
    FROM codes c JOIN reps r USING (tophash)
    WHERE c.url <> r.rep
),
final_pairs AS (SELECT * FROM verified UNION ALL SELECT * FROM exact)
"""


def cc_ctes() -> str:
    """Recursive min-label propagation over ``final_pairs`` edges →
    ``labels`` (url, cluster_id) for every url in ``codes`` (singletons map
    to themselves) — the oracle twin of operators/cluster.py."""
    return """
sym AS (
    SELECT url_a AS u, url_b AS v FROM final_pairs
    UNION
    SELECT url_b AS u, url_a AS v FROM final_pairs
),
cc AS (
    SELECT url, url AS lbl FROM codes
    UNION
    SELECT s.v AS url, cc.lbl FROM cc JOIN sym s ON cc.url = s.u
),
labels AS (SELECT url, min(lbl) AS cluster_id FROM cc GROUP BY url)
"""


def canonical_ctes() -> str:
    """``canon`` (url, cluster_id, is_canonical), one row per url of
    ``labels``, its champion the url of each cluster's min (warc_ts NULLS
    FIRST, url) ``codes`` crawl — the twin of plans/dedup.py:canonical_pick."""
    return """
champs AS (
    SELECT cluster_id, url AS champ FROM (
        SELECT l.cluster_id, c.url,
               row_number() OVER (PARTITION BY l.cluster_id
                                  ORDER BY c.warc_ts ASC NULLS FIRST, c.url) AS rn
        FROM codes c JOIN labels l USING (url))
    WHERE rn = 1
),
canon AS MATERIALIZED (
    SELECT l.url, l.cluster_id, l.url = h.champ AS is_canonical
    FROM labels l JOIN champs h USING (cluster_id)
)
"""


def dedup_pairs_sql(codes_path: str) -> str:
    return f"""
WITH codes AS (SELECT * FROM read_parquet('{codes_path}')),
{bands_cte()},
{pairs_ctes()}
SELECT url_a, url_b, src, cid_hamming, simhash_hamming, exact_dup
FROM final_pairs
"""


def dedup_clusters_sql(codes_path: str) -> str:
    return f"""
WITH RECURSIVE codes AS (SELECT * FROM read_parquet('{codes_path}')),
{bands_cte()},
{pairs_ctes()},
{cc_ctes()}
SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
FROM labels GROUP BY cluster_id
"""


def lsh_band_stats_sql(codes_path: str) -> str:
    return f"""
WITH codes AS (SELECT * FROM read_parquet('{codes_path}')),
{bands_cte()},
sized AS (SELECT band_id, band_key, count(*) AS n FROM bandrows GROUP BY 1, 2)
SELECT band_id, CAST(count(*) AS BIGINT) AS n_buckets,
       CAST(max(n) AS BIGINT) AS max_bucket
FROM sized GROUP BY band_id
"""


def cluster_mixed_cid_sql(codes_path: str) -> str:
    """Per-cluster Mixed Content-ID: per-bit majority (ties → 1) over the
    first 8 decoded bytes of each member's Content-ID = header byte
    (constant HEAD_CID_T) + top 7 bytes of cid_body; then base58-encode
    HEAD_CID_M + the 8-byte majority digest (kernel/codes.py:142-147)."""
    head_t = HEAD_CID_T[0]
    head_prefix = encode(HEAD_CID_M)  # 2-char header, e.g. "CM"
    bit_sums = ",\n        ".join(
        f"SUM(CAST((ucid // {1 << (63 - k)}::HUGEINT) % 2 AS BIGINT)) AS s{k}"
        for k in range(56)
    )
    sim_terms = " + ".join(
        f"CASE WHEN 2 * s{k} >= n THEN {1 << (55 - k)}::HUGEINT ELSE 0::HUGEINT END"
        for k in range(56)
    )
    return f"""
WITH RECURSIVE codes AS (SELECT * FROM read_parquet('{codes_path}')),
{bands_cte()},
{pairs_ctes()},
{cc_ctes()},
members AS (
    SELECT l.cluster_id, {unsigned64('c.cid_body')} AS ucid
    FROM codes c JOIN labels l USING (url)
    WHERE c.content_id IS NOT NULL
),
agg AS (
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS n,
        {bit_sums}
    FROM members GROUP BY cluster_id
    HAVING count(*) >= 2
),
sim AS (
    SELECT cluster_id, CAST(n AS INT) AS n_members,
           {head_t}::HUGEINT * {1 << 56}::HUGEINT + ({sim_terms}) AS sim64
    FROM agg
)
SELECT cluster_id,
       '{head_prefix}' || {base58_body_sql('sim64')} AS mixed_cid,
       n_members
FROM sim
"""


def iscc_codes_sql(codes_path: str) -> str:
    """Staged codes joined against independently recomputed columns: the url
    mapping, n_features (normalized-length arithmetic — printable-ASCII
    inputs only), n_bytes (rebuilt html length) and the composed ISCC come
    from ``documents`` directly; kernel-only columns (xxhash/minhash/merkle)
    are drift-checked against the staged parquet (pinned by conformance)."""
    return f"""
WITH staged AS (SELECT * FROM read_parquet('{codes_path}')),
docs2 AS (
    SELECT 'https://' || source || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
           'doc ' || lpad(CAST(doc_id AS VARCHAR), 10, '0') AS title,
           coalesce(text, '') AS text
    FROM documents
),
indep AS (
    SELECT url,
        CAST(greatest(length(regexp_replace(lower(trim(text)),
            '{ASCII_FILTER_CLASS}', '', 'g')) - 12, 1) AS INT) AS n_features,
        CAST(length('<html><head><title>' || title
            || '</title></head><body><p>' || text
            || '</p></body></html>') AS INT) AS n_bytes
    FROM docs2
)
SELECT s.url,
       -- || is NULL-strict, matching functions.iscc_compose (a missing
       -- component yields NULL, never a shortened 3-segment code)
       s.meta_id || '-' || s.content_id || '-' || s.data_id || '-'
           || s.instance_id AS iscc,
       s.meta_id, s.content_id, s.data_id, s.instance_id,
       s.tophash, s.simhash, i.n_features, i.n_bytes
FROM staged s JOIN indep i USING (url)
"""


# ---------------------------------------------------------------------------
# random-hyperplane LSH twins (hyperplanes are seeded driver-side constants,
# inlined as SQL literals — operators/ann.py:hyperplanes)
# ---------------------------------------------------------------------------

def _sig_sql(vec: str, planes: list[list[float]]) -> str:
    terms = []
    for i, h in enumerate(planes):
        lit = "[" + ", ".join(repr(x) for x in h) + "]"
        terms.append(
            f"CASE WHEN list_dot_product({vec}, {lit}) >= 0 "
            f"THEN {1 << i} ELSE 0 END"
        )
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def ann_lsh_topk_sql(
    dim: int = 64, k: int = 5, nbits: int = 8, ntables: int = 4,
    seed: int = 7, n_queries: int = 5,
) -> str:
    from iscc_specs_spark.operators.ann import hyperplanes

    sig_cols = ", ".join(
        _sig_sql("v", hyperplanes(dim, nbits, seed + 1000 * t)) + f" AS s{t}"
        for t in range(ntables)
    )
    c_structs = ", ".join(
        f"{{'t': {t}, 'h': s{t}}}" for t in range(ntables)
    )
    probe_structs = []
    for t in range(ntables):
        probe_structs.append(f"{{'t': {t}, 'h': s{t}}}")
        probe_structs += [
            f"{{'t': {t}, 'h': xor(s{t}, {1 << i})}}" for i in range(nbits)
        ]
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
base AS (
    SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, {sig_cols}
    FROM e
),
cb AS (SELECT vec_id AS neighbor_id, v AS vc, nrm AS nc,
              unnest([{c_structs}]) AS b FROM base),
corpus AS (SELECT neighbor_id, vc, nc, b.t AS t, b.h AS h FROM cb),
qp AS (SELECT vec_id AS query_id, v AS vq, nrm AS nq,
              unnest([{", ".join(probe_structs)}]) AS b
       FROM base WHERE vec_id < {n_queries}),
probes AS (SELECT query_id, vq, nq, b.t AS t, b.h AS h FROM qp),
cand AS (
    SELECT DISTINCT query_id, neighbor_id,
           round(list_dot_product(vq, vc) / (nq * nc), 6) AS cosine
    FROM corpus JOIN probes USING (t, h)
    WHERE neighbor_id <> query_id
),
ranked AS (
    SELECT query_id, neighbor_id, cosine,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
    FROM cand
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


def embedding_neardup_lsh_sql(
    dim: int = 64, threshold: float = 0.4, nbits: int = 4, ntables: int = 8,
    seed: int = 11, bucket_cap: int = 1000,
) -> str:
    """Twin of operators/dedup_variants.py:embedding_neardup_lsh including
    the hot-bucket hub-and-spoke skew guard: buckets with > bucket_cap
    members contribute only (member, bucket-min-vec_id) edges."""
    from iscc_specs_spark.operators.ann import hyperplanes

    sig_cols = ", ".join(
        _sig_sql("v", hyperplanes(dim, nbits, seed + 1000 * t)) + f" AS s{t}"
        for t in range(ntables)
    )
    structs = ", ".join(f"{{'t': {t}, 'h': s{t}}}" for t in range(ntables))
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
base AS (
    SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm, {sig_cols}
    FROM e
),
bk AS (SELECT vec_id, v, nrm, unnest([{structs}]) AS b FROM base),
buckets AS (SELECT vec_id, v, nrm, b.t AS t, b.h AS h FROM bk),
hot_keys AS (
    SELECT t, h FROM buckets GROUP BY t, h HAVING count(*) > {bucket_cap}
),
cold AS (
    SELECT * FROM buckets c
    WHERE NOT EXISTS (SELECT 1 FROM hot_keys k WHERE k.t = c.t AND k.h = c.h)
),
cand_cold AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
    FROM cold a JOIN cold b USING (t, h)
    WHERE a.vec_id < b.vec_id
),
hot AS (
    SELECT * FROM buckets c
    WHERE EXISTS (SELECT 1 FROM hot_keys k WHERE k.t = c.t AND k.h = c.h)
),
hubs AS (
    SELECT t, h, min(vec_id) AS hub_id FROM hot GROUP BY t, h
),
cand_hot AS (
    SELECT least(m.vec_id, hv.vec_id) AS vec_a,
           greatest(m.vec_id, hv.vec_id) AS vec_b,
           round(list_dot_product(m.v, hv.v) / (m.nrm * hv.nrm), 6) AS cosine
    FROM hot m
    JOIN hubs u ON u.t = m.t AND u.h = m.h
    JOIN hot hv ON hv.t = u.t AND hv.h = u.h AND hv.vec_id = u.hub_id
    WHERE m.vec_id <> u.hub_id
),
cand AS (
    SELECT DISTINCT vec_a, vec_b, cosine FROM (
        SELECT * FROM cand_cold UNION ALL SELECT * FROM cand_hot
    )
)
SELECT vec_a, vec_b, cosine FROM cand WHERE cosine >= {threshold}
"""


def semantic_dedup_sql(
    cent_path: str, asg_path: str, threshold: float = 0.4
) -> str:
    """Twin of operators/semantic.py:semantic_dedup, ranking from the STAGED
    quantizer model (centroids + assignments): recomputes round-6 centroid
    similarity, within-list thresholded pairs, duplicate groups via
    recursive min-label CC, and the keep-the-least-central representative
    pick (ORDER BY centroid_cos, vec_id — centroid_cos is never NULL, see
    the operator docstring, so Spark's nulls-first min_by struct order and
    this plain ORDER BY agree)."""
    return f"""
WITH RECURSIVE
cent AS (SELECT list_id, CAST(c AS DOUBLE[]) AS c
         FROM read_parquet('{cent_path}')),
asg AS (SELECT vec_id, list_id FROM read_parquet('{asg_path}')),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
m AS (SELECT e.vec_id, asg.list_id, e.v,
             round(CASE WHEN sqrt(list_dot_product(e.v, e.v)) *
                             sqrt(list_dot_product(cent.c, cent.c)) = 0
                        THEN 0.0
                        ELSE list_dot_product(e.v, cent.c) /
                             (sqrt(list_dot_product(e.v, e.v)) *
                              sqrt(list_dot_product(cent.c, cent.c)))
                   END, 6) AS centroid_cos
      FROM e JOIN asg USING (vec_id) JOIN cent USING (list_id)),
p AS (SELECT a.vec_id AS u, b.vec_id AS w
      FROM m a JOIN m b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
      WHERE round(CASE WHEN sqrt(list_dot_product(a.v, a.v)) *
                            sqrt(list_dot_product(b.v, b.v)) = 0
                       THEN 0.0
                       ELSE list_dot_product(a.v, b.v) /
                            (sqrt(list_dot_product(a.v, a.v)) *
                             sqrt(list_dot_product(b.v, b.v)))
                  END, 6) >= {threshold}),
sym AS (SELECT u, w FROM p UNION SELECT w AS u, u AS w FROM p),
cc AS (
    SELECT vec_id, vec_id AS lbl FROM m
    UNION
    SELECT s.w AS vec_id, cc.lbl FROM cc JOIN sym s ON cc.vec_id = s.u
),
labels AS (SELECT vec_id, min(lbl) AS sem_group FROM cc GROUP BY vec_id),
g AS (SELECT m.vec_id, m.list_id, m.centroid_cos, l.sem_group
      FROM m JOIN labels l USING (vec_id)),
reps AS (
    SELECT sem_group, vec_id AS rep_id FROM (
        SELECT sem_group, vec_id,
               row_number() OVER (PARTITION BY sem_group
                                  ORDER BY centroid_cos, vec_id) AS rn
        FROM g) WHERE rn = 1
),
sizes AS (SELECT sem_group, CAST(count(*) AS BIGINT) AS group_size
          FROM g GROUP BY sem_group)
SELECT g.vec_id, g.list_id, g.centroid_cos, g.sem_group,
       sizes.group_size, reps.rep_id, (g.vec_id = reps.rep_id) AS keep
FROM g JOIN reps USING (sem_group) JOIN sizes USING (sem_group)
"""


def suffix_ranks_sql(max_prefix: int = 64, mod: int = 10, rem: int = 3) -> str:
    """Twin of operators/suffixarray.py:suffix_ranks over a deterministic
    document slice: dense rank of each suffix by its first ``max_prefix``
    characters is ONE window expression here — the Spark side's prefix-
    doubling rounds and two-phase distributed dense rank must reproduce the
    identical total order (both engines compare UTF-8 bytes)."""
    return f"""
WITH d AS (
    SELECT doc_id, coalesce(text, '') AS t FROM documents
    WHERE doc_id % {mod} = {rem}
),
p AS (
    SELECT doc_id, unnest(generate_series(1, length(t))) AS pos, t FROM d
)
SELECT doc_id, CAST(pos AS BIGINT) AS pos,
       CAST(dense_rank() OVER (ORDER BY substring(t, pos, {max_prefix}))
            AS BIGINT) AS "rank"
FROM p
"""


def sa_matches_sql(min_len: int = 48, class_cap: int = 64) -> str:
    """Twin of operators/suffixarray.py:sa_long_matches: the L-prefix rank
    classes reduce to direct L-gram equality in SQL (equal suffix-array
    ranks at prefix L ⇔ equal L-grams), then the same distinct-document
    class cap, cross-document pairing, and consecutive-position
    gaps-and-islands span merge."""
    L = min_len
    return f"""
WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
g AS (
    SELECT doc_id, unnest(generate_series(1, length(t) - {L} + 1)) AS pos, t
    FROM d WHERE length(t) >= {L}
),
gg AS (SELECT doc_id, pos, substring(t, pos, {L}) AS gram FROM g),
ok AS (SELECT gram FROM gg GROUP BY gram
       HAVING count(DISTINCT doc_id) BETWEEN 2 AND {class_cap}),
cg AS (SELECT gg.doc_id, gg.pos, gg.gram FROM gg JOIN ok USING (gram)),
pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS delta
       FROM cg a JOIN cg b ON a.gram = b.gram AND a.doc_id < b.doc_id),
isl AS (
    SELECT doc_a, doc_b, pos_a, pos_b, delta,
           sum(CASE WHEN prev IS NULL OR pos_a - prev > 1 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_a, doc_b, delta ORDER BY pos_a) AS island
    FROM (SELECT pr.*, lag(pos_a) OVER (PARTITION BY doc_a, doc_b, delta
                                        ORDER BY pos_a) AS prev
          FROM pr)
)
SELECT doc_a, doc_b, CAST(min(pos_a) AS BIGINT) AS a_start,
       CAST(min(pos_b) AS BIGINT) AS b_start,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(max(pos_a) - min(pos_a) + {L} AS BIGINT) AS match_len
FROM isl GROUP BY doc_a, doc_b, delta, island
"""


def hot_ngrams_sql(n: int = 5, top_k: int = 100, min_docs: int = 2) -> str:
    """Twin of operators/textstats.py:hot_ngrams: same whitespace
    tokenization (with DuckDB's ['']-for-empty split quirk exempted, as in
    repetition_stats_sql), same per-doc collapse then corpus totals, same
    (n_total DESC, gram) total order and top-k cut. Integer sums CAST to
    BIGINT (DuckDB HUGEINT materializes as float64 and breaks the driver's
    value hash — the line_dedup round-5 lesson)."""
    return f"""
WITH d AS (
    SELECT doc_id, string_split_regex(trim(coalesce(text, '')), '\\s+') AS toks
    FROM documents
),
g AS (
    SELECT doc_id,
           unnest([array_to_string(toks[i:i+{n - 1}], ' ')
                   for i in generate_series(1, greatest(len(toks)-{n}+1, 0))]) AS gram
    FROM d WHERE len(toks) >= {n} AND NOT (len(toks) = 1 AND toks[1] = '')
),
pd AS (SELECT gram, doc_id, count(*) AS cnt FROM g GROUP BY gram, doc_id),
agg AS (SELECT gram, CAST(sum(cnt) AS BIGINT) AS n_total,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM pd GROUP BY gram)
SELECT gram, n_total, n_docs FROM agg
WHERE n_docs >= {min_docs}
ORDER BY n_total DESC, gram
LIMIT {top_k}
"""


def line_dedup_sql(min_df: int = 2, width: int = 8) -> str:
    """Twin of operators/dedup_variants.py:line_dedup over the driver row's
    deterministic reflow (every ``width`` tokens become one line): same
    raw-line document-frequency threshold, same trim-empty exemption, same
    ordered reassembly + md5 fingerprint, same zero-fill for all-dropped
    docs."""
    w = width
    return f"""
WITH d AS (
    SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
    FROM documents
),
dl AS (
    SELECT doc_id,
           [array_to_string(toks[(i-1)*{w}+1:(i-1)*{w}+{w}], ' ')
            for i in generate_series(1, greatest((len(toks)+{w - 1})//{w}, 1))] AS ls
    FROM d
),
lines AS (
    SELECT doc_id, unnest(generate_series(1, len(ls))) AS pos,
           unnest(ls) AS line
    FROM dl
),
hot AS (
    SELECT line FROM lines WHERE trim(line) <> ''
    GROUP BY line HAVING count(DISTINCT doc_id) >= {min_df}
),
flagged AS (
    SELECT l.doc_id, l.pos, l.line, (h.line IS NOT NULL) AS dropped
    FROM lines l LEFT JOIN hot h ON l.line = h.line
)
SELECT doc_id,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN NOT dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(coalesce(sum(CASE WHEN dropped THEN length(line) END), 0)
            AS BIGINT) AS chars_dropped,
       md5(coalesce(
           string_agg(CASE WHEN NOT dropped THEN line END, chr(10) ORDER BY pos),
           '')) AS clean_fp
FROM flagged GROUP BY doc_id
"""


def c4_filters_sql(width: int = 8, min_words: int = 3, min_sent: int = 5) -> str:
    """Twin of operators/textstats.py:c4_filters over the driver row's
    deterministic reflow + decoration: same 8-token lines, same
    (doc_id*31+i) % 5 punctuation/javascript decoration, same page-level
    lorem/brace marker lines, then the C4 line and page rules recomputed
    from scratch."""
    w = width
    return f"""
WITH d AS (
    SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks
    FROM documents
),
dl AS (
    SELECT doc_id,
           [array_to_string(toks[(i-1)*{w}+1:(i-1)*{w}+{w}], ' ')
            || CASE (doc_id*31 + i) % 5
                   WHEN 1 THEN '.' WHEN 2 THEN '!'
                   WHEN 3 THEN ' javascript.' WHEN 4 THEN '?'
                   ELSE '' END
            for i in generate_series(1, greatest((len(toks)+{w - 1})//{w}, 1))] AS ls0
    FROM d
),
dl2 AS (
    SELECT doc_id,
           list_concat(list_concat(ls0,
               CASE WHEN doc_id % 13 = 0
                    THEN ['lorem ipsum dolor sit amet.']
                    ELSE CAST([] AS VARCHAR[]) END),
               CASE WHEN doc_id % 17 = 0
                    THEN ['if (x) {{ return 1; }}']
                    ELSE CAST([] AS VARCHAR[]) END) AS ls
    FROM dl
),
flags AS (
    SELECT doc_id, ls,
           contains(lower(array_to_string(ls, chr(10))), 'lorem ipsum')
               AS has_lorem,
           contains(array_to_string(ls, chr(10)), '{{') AS has_brace
    FROM dl2
),
lines AS (
    SELECT doc_id, has_lorem, has_brace,
           unnest(generate_series(1, len(ls))) AS pos, unnest(ls) AS line
    FROM flags
),
k AS (
    SELECT doc_id, has_lorem, has_brace, pos, line,
           (regexp_matches(trim(line), '[.!?"]$')
            AND len(regexp_split_to_array(trim(line), '\\s+')) >= {min_words}
            AND NOT contains(lower(line), 'javascript')) AS kept
    FROM lines
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_lines,
       CAST(sum(CASE WHEN kept
                     THEN len(regexp_extract_all(trim(line), '[.!?]'))
                     ELSE 0 END) AS BIGINT) AS n_sentences,
       has_lorem, has_brace,
       (CAST(sum(CASE WHEN kept
                      THEN len(regexp_extract_all(trim(line), '[.!?]'))
                      ELSE 0 END) AS BIGINT) >= {min_sent}
        AND NOT has_lorem AND NOT has_brace) AS keep,
       md5(coalesce(
           string_agg(CASE WHEN kept THEN line END, chr(10) ORDER BY pos),
           '')) AS clean_fp
FROM k GROUP BY doc_id, has_lorem, has_brace
"""


def pii_scrub_sql() -> str:
    """Twin of operators/textstats.py:pii_scrub over the driver row's
    deterministic PII injection: same single-source patterns (RE2 here,
    Java regex on the Spark side — patterns restricted to the common
    dialect), same replacement order, same md5 of the redacted text."""
    from iscc_specs_spark.operators.textstats import PII_PATTERNS

    count_cols = ",\n       ".join(
        f"len(regexp_extract_all(t, '{pat}')) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    red = "t"
    for _, pat, repl in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    return f"""
WITH inj AS (
    SELECT doc_id,
           coalesce(text, '')
           || CASE WHEN doc_id % 7 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % 11 = 0
                   THEN ' tel +4930123' || CAST(doc_id % 1000 AS VARCHAR)
                   ELSE '' END
           || CASE WHEN doc_id % 13 = 0
                   THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                        || '.' || CAST(doc_id % 100 AS VARCHAR)
                   ELSE '' END AS t
    FROM documents
)
SELECT doc_id,
       {count_cols},
       md5({red}) AS clean_fp
FROM inj
"""


def repetition_stats_sql() -> str:
    """Twin of operators/textstats.py:repetition_stats (Gopher repetition
    rules): same single-source thresholds, same overlap-ignoring capped
    fractions, same (count, chars, gram) top-gram tie-break (which cannot
    change the fraction), same left-join-zero-fill for gram-less docs."""
    # import here, not at module level: operators/ pulls in pyspark, and
    # this module stays importable without a Spark installation
    from iscc_specs_spark.operators.textstats import (
        GOPHER_DUP_THRESHOLDS,
        GOPHER_TOP_THRESHOLDS,
    )

    tops = sorted(GOPHER_TOP_THRESHOLDS)
    dups = sorted(GOPHER_DUP_THRESHOLDS)
    names = [f"top{n}_frac" for n in tops] + [f"dup{n}_frac" for n in dups]
    thr = {f"top{n}_frac": t for n, t in GOPHER_TOP_THRESHOLDS.items()}
    thr |= {f"dup{n}_frac": t for n, t in GOPHER_DUP_THRESHOLDS.items()}
    top_cols = ",\n       ".join(
        f"max(CASE WHEN n = {n} THEN frac END) AS top{n}_frac" for n in tops
    )
    dup_cols = ",\n       ".join(
        f"max(CASE WHEN n = {n} THEN frac END) AS dup{n}_frac" for n in dups
    )
    filled = ",\n       ".join(
        f"coalesce(p.{name}, 0.0) AS {name}" for name in names
    )
    ok = " AND ".join(
        f"coalesce(p.{name}, 0.0) <= {thr[name]}" for name in names
    )
    return f"""
WITH d AS (
    SELECT doc_id, length(coalesce(text, '')) AS n_chars,
           string_split_regex(trim(coalesce(text, '')), '\\s+') AS toks
    FROM documents
),
g AS (
    SELECT doc_id, n_chars, n,
           unnest([array_to_string(toks[i:i+n-1], ' ')
                   for i in generate_series(1, greatest(len(toks)-n+1, 0))]) AS gram
    FROM d, generate_series({tops[0]}, {dups[-1]}) t(n)
    WHERE len(toks) >= n AND NOT (len(toks) = 1 AND toks[1] = '')
),
counts AS (
    SELECT doc_id, n_chars, n, gram, count(*) AS cnt, length(gram) AS charlen
    FROM g GROUP BY ALL
),
top_pick AS (
    SELECT doc_id, n,
           round(least(1.0, cnt * charlen / n_chars), 6) AS frac
    FROM (SELECT *, row_number() OVER (
              PARTITION BY doc_id, n
              ORDER BY cnt DESC, charlen DESC, gram DESC) AS rn
          FROM counts WHERE n <= {tops[-1]})
    WHERE rn = 1
),
dup_sum AS (
    SELECT doc_id, n,
           round(least(1.0, sum(cnt * charlen) / n_chars), 6) AS frac
    FROM counts WHERE n >= {dups[0]} AND cnt >= 2
    GROUP BY doc_id, n, n_chars
),
fracs AS (SELECT * FROM top_pick UNION ALL SELECT * FROM dup_sum),
p AS (
    SELECT doc_id,
       {top_cols},
       {dup_cols}
    FROM fracs GROUP BY doc_id
)
SELECT d.doc_id,
       {filled},
       ({ok}) AS repetition_ok
FROM (SELECT doc_id FROM documents) d LEFT JOIN p USING (doc_id)
"""


def _substring_runs_ctes(k: int, df_cap: int) -> str:
    """Shared CTE chain (documents → winnowed md5 anchors → df-cap →
    co-linear runs) used by both substring twins."""
    return f"""
WITH d AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
pos AS (SELECT doc_id, t,
               unnest(range(1, greatest(length(t) - {k} + 1, 0) + 1)) AS p
        FROM d),
anch AS (SELECT doc_id, CAST(p AS INT) AS pos,
                md5(substr(t, CAST(p AS INT), {k})) AS h
         FROM pos),
kept AS (SELECT * FROM anch WHERE substr(h, 32, 1) IN ('0', '4', '8', 'c')),
dfc AS (SELECT h FROM kept GROUP BY h
        HAVING count(DISTINCT doc_id) <= {df_cap}),
k2 AS (SELECT kept.* FROM kept JOIN dfc USING (h)),
shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, b.pos AS pos_b
    FROM k2 a JOIN k2 b USING (h)
    WHERE a.doc_id < b.doc_id
),
runs AS (
    SELECT doc_a, doc_b, pos_a - pos_b AS delta,
           CAST(count(*) AS BIGINT) AS n_anchors,
           min(pos_a) AS a_start, min(pos_b) AS b_start,
           max(pos_a) - min(pos_a) + {k} AS match_len_lb
    FROM shared GROUP BY 1, 2, 3
)"""


def substring_matches_sql(
    k: int = 24, min_len: int = 48, df_cap: int = 64, min_anchors: int = 2,
) -> str:
    """Full winnowed-anchor substring-dedup twin over ``documents`` — md5
    window hashes (both engines), keep windows whose last md5 hex nibble is
    ≡ 0 mod 4, df-cap, co-linear span merge (operators/substring.py)."""
    return f"""{_substring_runs_ctes(k, df_cap)}
SELECT doc_a, doc_b, a_start, b_start, n_anchors, match_len_lb
FROM runs
WHERE n_anchors >= {min_anchors} AND match_len_lb >= {min_len}
"""


def substring_cut_sql(
    k: int = 24, min_len: int = 48, df_cap: int = 64, min_anchors: int = 2,
) -> str:
    """Long-match REMOVAL twin (operators/substring.py:substring_cut):
    same runs chain, then keep-first spans into doc_b, interval merge
    (gaps-and-islands), and per-doc reassembly of the kept segments via
    ordered string_agg — all recomputed from raw documents text."""
    return f"""{_substring_runs_ctes(k, df_cap)},
spans AS (
    SELECT doc_b AS doc_id, b_start AS s, b_start + match_len_lb AS e
    FROM runs
    WHERE n_anchors >= {min_anchors} AND match_len_lb >= {min_len}
),
isl AS (
    SELECT doc_id, s, e,
           sum(CASE WHEN prev_e IS NULL OR s > prev_e THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e) AS island
    FROM (SELECT doc_id, s, e,
                 max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS prev_e
          FROM spans)
),
mrg AS (SELECT doc_id, island, min(s) AS s, max(e) AS e
        FROM isl GROUP BY 1, 2),
seg AS (
    SELECT doc_id,
           coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 1)
               AS seg_start,
           s AS seg_end
    FROM mrg
    UNION ALL
    SELECT doc_id, max(e) AS seg_start, NULL AS seg_end
    FROM mrg GROUP BY doc_id
),
clean AS (
    SELECT g.doc_id,
           string_agg(
               CASE WHEN seg_end IS NULL THEN substr(d.t, CAST(seg_start AS INT))
                    ELSE substr(d.t, CAST(seg_start AS INT),
                                CAST(seg_end - seg_start AS INT)) END,
               '' ORDER BY seg_start) AS clean_text
    FROM seg g JOIN d ON d.doc_id = g.doc_id
    GROUP BY g.doc_id
),
stats AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans_cut,
                 CAST(sum(e - s) AS BIGINT) AS chars_cut
          FROM mrg GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(st.n_spans_cut, 0) AS n_spans_cut,
       coalesce(st.chars_cut, 0) AS chars_cut,
       CAST(length(coalesce(c.clean_text, d.t)) AS BIGINT) AS clean_len,
       coalesce(c.clean_text, d.t) AS clean_text
FROM d
LEFT JOIN clean c USING (doc_id)
LEFT JOIN stats st USING (doc_id)
"""


def crawl_ctes() -> str:
    """Shared CTE pair rebuilding ``crawl_variants``' deterministic messy
    crawl records ``(doc_id, url, ts)`` from ``documents`` — used by the
    url_dedup and domain_stats twins."""
    return """
WITH v AS (
    SELECT doc_id, doc_id % 6 AS k,
           CAST((doc_id // 3) % 40 AS VARCHAR) AS site,
           CAST(doc_id // 3 AS VARCHAR) AS page,
           CAST(1700000000 + (doc_id * 37) % 100000 AS BIGINT) AS ts
    FROM documents
),
crawl AS (
    SELECT doc_id, CASE k
        WHEN 0 THEN 'https://site' || site || '.example/p/' || page
        WHEN 1 THEN 'HTTPS://WWW.Site' || site || '.EXAMPLE/p/' || page || '#frag'
        WHEN 2 THEN 'https://site' || site || '.example:443/p/' || page || '/'
        WHEN 3 THEN 'https://site' || site || '.example/p/' || page
                    || '?utm_source=feed&utm_campaign=x'
        WHEN 4 THEN 'https://site' || site || '.example/p/' || page || '?b=2&a=1'
        ELSE 'http://www.site' || site || '.example:80/p/' || page
             || '?a=1&gclid=g&b=2'
    END AS url, ts
    FROM v
)"""


def _canon_ctes(carry: str = "") -> str:
    """``parts`` + ``canon`` CTEs applying operators/urls.py:canonical_url
    rule-for-rule to a relation named ``crawl_in`` with columns
    ``(url, ts{carry})`` — extra columns named in ``carry`` (e.g. ``", b"``)
    ride through unchanged."""
    return f"""parts AS (
    SELECT url, ts{carry},
           lower(regexp_extract(u1, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           regexp_replace(lower(regexp_extract(u1, '^[^:/?#]+://([^/?#]*)', 1)),
                          '^www\\.', '') AS host0,
           regexp_replace(regexp_extract(u1, '^[^:/?#]+://[^/?#]*([^?#]*)', 1),
                          '/+$', '') AS path,
           list_sort(list_filter(
               regexp_split_to_array(regexp_extract(u1, '\\?([^#]*)', 1), '&'),
               x -> x <> '' AND NOT regexp_matches(
                   x, '^(utm_[^=]*|gclid|fbclid|ref|sessionid)(=.*)?$')
           )) AS params
    FROM (SELECT url, ts{carry}, regexp_replace(url, '#.*$', '') AS u1
          FROM crawl_in)
),
canon AS (
    SELECT url, ts{carry},
           scheme || '://'
           || CASE WHEN scheme = 'http' AND host0 LIKE '%:80'
                       THEN regexp_replace(host0, ':80$', '')
                   WHEN scheme = 'https' AND host0 LIKE '%:443'
                       THEN regexp_replace(host0, ':443$', '')
                   ELSE host0 END
           || path
           || CASE WHEN len(params) > 0
                       THEN '?' || array_to_string(params, '&')
                   ELSE '' END AS canon_url
    FROM parts
)"""


def url_dedup_sql() -> str:
    """URL canonicalization + crawl dedup twin (operators/urls.py): rebuild
    the deterministic messy crawl records from ``documents`` (same spelling
    classes and staggered ts as ``crawl_variants``), apply the identical
    canonical-form rules step by step in DuckDB SQL, then latest-ts-wins /
    min-url-tiebreak per canonical url."""
    return f"""{crawl_ctes()},
crawl_in AS (SELECT url, ts FROM crawl),
{_canon_ctes()},
latest AS (
    SELECT canon_url, max(ts) AS last_ts,
           CAST(count(*) AS BIGINT) AS n_variants
    FROM canon GROUP BY 1
)
SELECT c.canon_url, min(c.url) AS url, l.last_ts, l.n_variants
FROM canon c
JOIN latest l ON c.canon_url = l.canon_url AND c.ts = l.last_ts
GROUP BY 1, 3, 4
"""


def streaming_url_dedup_sql() -> str:
    """Twin of the driver's deterministic two-batch streaming URL-dedup
    replay (streaming/ingest.py:process_url_batch over crawl_variants split
    by doc_id parity): recompute every flag from ``documents`` — intra-batch
    keeper (latest ts, min-url tiebreak) per (batch, canonical url), then
    batch-1 keepers whose canonical url batch 0 already indexed flag
    ``vs_history`` against batch 0's keeper. A replay non-idempotence on
    the Spark side (self-matching, duplicated flags) would hash-mismatch."""
    return f"""{crawl_ctes()},
crawl_in AS (SELECT url, ts, doc_id % 2 AS b FROM crawl),
{_canon_ctes(", b")},
latest AS (
    SELECT b, canon_url, max(ts) AS last_ts
    FROM canon GROUP BY 1, 2
),
keeper AS (
    SELECT c.b, c.canon_url, min(c.url) AS keep_url, l.last_ts
    FROM canon c
    JOIN latest l ON c.b = l.b AND c.canon_url = l.canon_url
                 AND c.ts = l.last_ts
    GROUP BY 1, 2, 4
),
intra AS (
    SELECT c.url, k.keep_url AS dup_of, c.canon_url,
           'intra_batch' AS src, c.b AS ingest_batch
    FROM canon c
    JOIN keeper k ON c.b = k.b AND c.canon_url = k.canon_url
    WHERE c.url <> k.keep_url
),
recrawl AS (
    SELECT k.keep_url AS url, h.keep_url AS dup_of, k.canon_url,
           'vs_history' AS src, 1 AS ingest_batch
    FROM keeper k
    JOIN (SELECT canon_url, keep_url FROM keeper WHERE b = 0) h
      USING (canon_url)
    WHERE k.b = 1
)
SELECT url, dup_of, canon_url, src,
       CAST(ingest_batch AS BIGINT) AS ingest_batch
FROM (SELECT * FROM intra UNION ALL SELECT * FROM recrawl)
"""


def multimodal_features_sql(assets_path: str) -> str:
    """Independent recomputation of the byte-level features from the staged
    asset payloads: n_bytes, payload fingerprint (sha256 of the lowercase
    hex — DuckDB 1.0 sha256 only accepts VARCHAR) and byte entropy."""
    return f"""
WITH a AS (
    SELECT asset_id, kind, lower(hex(payload)) AS hx,
           octet_length(payload) AS n
    FROM read_parquet('{assets_path}')
),
bytes AS (SELECT asset_id, unnest(range(1, n + 1)) AS i, hx, n FROM a),
counts AS (
    SELECT asset_id, substr(hx, CAST(2 * i - 1 AS INT), 2) AS byte,
           count(*) AS cnt
    FROM bytes GROUP BY 1, 2
),
ent AS (
    SELECT c.asset_id,
           -sum((cnt::DOUBLE / a.n) * log2(cnt::DOUBLE / a.n)) AS entropy
    FROM counts c JOIN a USING (asset_id)
    GROUP BY c.asset_id
)
SELECT a.asset_id, a.kind, CAST(a.n AS BIGINT) AS n_bytes,
       sha256(a.hx) AS payload_fp,
       round(ent.entropy, 6) AS byte_entropy
FROM a JOIN ent USING (asset_id)
"""


def streaming_dedup_sql(
    state_codes_glob: str, bucket_cap: int = 64,
    cid_max: int = 10, sim_max: int = 3,
) -> str:
    """Twin of the incremental streaming dedup state
    (streaming/ingest.py:process_dedup_batch) recomputed from the staged
    ``state_dir/codes`` table (partition column ``ingest_batch``).

    Per batch: intra flags = lsh.dup_pairs within the batch (cold C(k,2) +
    hot hub-and-spoke + exact tophash pairs, flag url_b); cross flags = the
    batch's per-tophash representatives band-joined against strictly
    earlier batches with the hot-bucket cap (history buckets over
    bucket_cap rows route through their min-url hub instead of emitting
    every member), Hamming/tophash-verified against the matched url's
    crawls in those earlier batches only, flag the new url.
    The Spark query replays the last batch before reading the state, so any
    replay non-idempotence (e.g. self-matches against the batch's own prior
    write) shows up as a hash mismatch against this twin."""
    structs = ", ".join(band_structs_sql())
    return f"""
WITH codes AS (
    SELECT * REPLACE (CAST(ingest_batch AS BIGINT) AS ingest_batch)
    FROM read_parquet('{state_codes_glob}', hive_partitioning = 1)
),
slim AS (
    SELECT ingest_batch, url, cid_body, simhash, minhash, tophash
    FROM (SELECT *, row_number() OVER (
              PARTITION BY ingest_batch, tophash ORDER BY url) AS rn
          FROM codes)
    WHERE rn = 1
),
susim AS (SELECT *, {unsigned64('simhash')} AS usim FROM slim),
sb AS (SELECT ingest_batch, url, unnest([{structs}]) AS b FROM susim),
sbands AS (SELECT ingest_batch, url, b.band_id AS band_id,
                  b.band_key AS band_key FROM sb),
sized AS (SELECT ingest_batch, band_id, band_key, count(*) AS n
          FROM sbands GROUP BY 1, 2, 3),
cold AS (
    SELECT b.ingest_batch, b.url, b.band_id, b.band_key
    FROM sbands b JOIN sized s USING (ingest_batch, band_id, band_key)
    WHERE s.n BETWEEN 2 AND {bucket_cap}
),
cand_cold AS (
    SELECT DISTINCT a.ingest_batch, least(a.url, b.url) AS url_a,
           greatest(a.url, b.url) AS url_b
    FROM cold a JOIN cold b USING (ingest_batch, band_id, band_key)
    WHERE a.url < b.url
),
hotrows AS (
    SELECT b.ingest_batch, b.url, b.band_id, b.band_key
    FROM sbands b JOIN sized s USING (ingest_batch, band_id, band_key)
    WHERE s.n > {bucket_cap}
),
hubs AS (SELECT ingest_batch, band_id, band_key, min(url) AS hub
         FROM hotrows GROUP BY 1, 2, 3),
cand_hot AS (
    SELECT DISTINCT ingest_batch, hub AS url_a, url AS url_b
    FROM hotrows JOIN hubs USING (ingest_batch, band_id, band_key)
    WHERE url <> hub
),
allcand AS (SELECT * FROM cand_cold UNION SELECT * FROM cand_hot),
verified AS (
    SELECT DISTINCT c.ingest_batch, c.url_a, c.url_b
    FROM allcand c
    JOIN slim a ON c.ingest_batch = a.ingest_batch AND c.url_a = a.url
    JOIN slim b ON c.ingest_batch = b.ingest_batch AND c.url_b = b.url
    WHERE bit_count(xor(a.cid_body, b.cid_body)) <= {cid_max}
       OR bit_count(xor(a.simhash, b.simhash)) <= {sim_max}
       OR a.tophash = b.tophash
),
reps AS (SELECT ingest_batch, tophash, min(url) AS rep
         FROM codes GROUP BY 1, 2),
exact AS (
    SELECT DISTINCT c.ingest_batch, r.rep AS url_a, c.url AS url_b
    FROM codes c JOIN reps r USING (ingest_batch, tophash)
    WHERE c.url <> r.rep
),
intra_flags AS (
    SELECT url_b AS url, url_a AS dup_of, 'intra_batch' AS src, ingest_batch
    FROM (SELECT * FROM verified UNION ALL SELECT * FROM exact)
),
husim AS (SELECT *, {unsigned64('simhash')} AS usim FROM codes),
hb AS (SELECT ingest_batch, url, unnest([{structs}]) AS b FROM husim),
hbands AS (SELECT ingest_batch, url, b.band_id AS band_id,
                  b.band_key AS band_key FROM hb),
new_keys AS (SELECT DISTINCT ingest_batch, band_id, band_key FROM sbands),
hmatch AS (
    SELECT k.ingest_batch AS nbatch, h.band_id, h.band_key, h.url
    FROM new_keys k
    JOIN hbands h ON h.band_id = k.band_id AND h.band_key = k.band_key
                 AND h.ingest_batch < k.ingest_batch
),
hsized AS (
    SELECT nbatch, band_id, band_key, count(*) AS n, min(url) AS hub
    FROM hmatch GROUP BY 1, 2, 3
),
cross_cold AS (
    SELECT DISTINCT s.ingest_batch, s.url AS url_a, m.url AS url_b
    FROM sbands s
    JOIN hsized z ON z.nbatch = s.ingest_batch AND z.band_id = s.band_id
                 AND z.band_key = s.band_key AND z.n <= {bucket_cap}
    JOIN hmatch m ON m.nbatch = s.ingest_batch AND m.band_id = s.band_id
                 AND m.band_key = s.band_key
),
cross_hot AS (
    SELECT DISTINCT s.ingest_batch, s.url AS url_a, z.hub AS url_b
    FROM sbands s
    JOIN hsized z ON z.nbatch = s.ingest_batch AND z.band_id = s.band_id
                 AND z.band_key = s.band_key AND z.n > {bucket_cap}
),
cross_cand AS (
    SELECT * FROM cross_cold UNION SELECT * FROM cross_hot
),
cross_flags AS (
    SELECT c.url_a AS url, c.url_b AS dup_of, 'vs_history' AS src,
           c.ingest_batch
    FROM cross_cand c
    JOIN slim a ON c.ingest_batch = a.ingest_batch AND c.url_a = a.url
    JOIN codes b ON c.url_b = b.url AND b.ingest_batch < c.ingest_batch
    WHERE c.url_a <> c.url_b
      AND (bit_count(xor(a.cid_body, b.cid_body)) <= {cid_max}
           OR bit_count(xor(a.simhash, b.simhash)) <= {sim_max}
           OR a.tophash = b.tophash)
)
SELECT url, dup_of, src, ingest_batch FROM intra_flags
UNION ALL
SELECT url, dup_of, src, ingest_batch FROM cross_flags
"""


def image_codes_sql(staged_path: str) -> str:
    """Twin of the distributed image track (operators/multimodal.py:
    image_codes): the DCT digest itself is pinned by the golden-vector
    conformance suite; this twin independently re-derives the base58
    Content-ID-Image string and the hex form from the staged 64-bit
    digest body (same pattern as iscc_codes_sql)."""
    from iscc_specs_spark.kernel.constants import HEAD_CID_I

    prefix = encode(HEAD_CID_I)
    u = unsigned64("hash_body")
    return f"""
WITH s AS (SELECT * FROM read_parquet('{staged_path}'))
SELECT asset_id, payload_kind,
       '{prefix}' || {base58_body_sql(u)} AS image_cid,
       lower(lpad(hex({u}), 16, '0')) AS image_hash_hex,
       hash_body, decode_status
FROM s
"""


def av_codes_sql(staged_path: str) -> str:
    """Twin of the distributed A/V track (operators/multimodal.py:av_codes):
    the 64-bit fingerprint itself is pinned by the self-vector suite
    (tests/test_av.py); this twin independently re-derives the base58
    CID-A/CID-V code string (per-kind header byte) and the hex form from
    the staged signed fingerprint body, NULL-safe across the failure
    classes (same pattern as image_codes_sql)."""
    from iscc_specs_spark.kernel.constants import HEAD_CID_A, HEAD_CID_V

    pa, pv = encode(HEAD_CID_A), encode(HEAD_CID_V)
    u = unsigned64("fp_body")
    return f"""
WITH s AS (SELECT * FROM read_parquet('{staged_path}'))
SELECT asset_id, kind, container, duration_ms, n_samples,
       CASE WHEN fp_body IS NULL THEN NULL
            WHEN kind = 'audio' THEN '{pa}' || {base58_body_sql(u)}
            ELSE '{pv}' || {base58_body_sql(u)} END AS av_code,
       CASE WHEN fp_body IS NULL THEN NULL
            ELSE lower(lpad(hex({u}), 16, '0')) END AS av_hex,
       fp_body, decode_status
FROM s
"""


# ---------------------------------------------------------------------------
# end-to-end curation twins (plans/curate.py:run_curation): quality gate +
# dedup/CC/canonical + token accounting recomposed entirely in DuckDB from
# `documents` and the run's staged codes table
# ---------------------------------------------------------------------------

def _curation_base_ctes(codes_path: str, min_quality: float) -> str:
    """Shared CTEs: url-mapped documents, whitespace/BPE token features,
    round-6 quality score, quality-kept set, clusters + canonical pick over
    the staged curation codes (computed on kept pages only)."""
    from iscc_specs_spark.operators.textstats import (
        BPE_TOKEN_RE,
        PUNCT_RE,
        QUALITY_STOPWORDS,
    )

    bpe = BPE_TOKEN_RE.replace("'", "''")
    punct = PUNCT_RE.replace("'", "''")
    qsw = "[" + ",".join(
        "'" + w.replace("'", "''") + "'" for w in QUALITY_STOPWORDS
    ) + "]"
    toks = (
        "CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[]) "
        "ELSE regexp_split_to_array(trim(coalesce(text, '')), '\\s+') END"
    )
    return f"""codes AS (SELECT * FROM read_parquet('{codes_path}')),
{bands_cte()},
{pairs_ctes()},
{cc_ctes()},
docs2 AS (
    SELECT 'https://' || source || '.example/p/' || CAST(doc_id AS VARCHAR) AS url,
           coalesce(text, '') AS text, lang
    FROM documents
),
tok AS (
    SELECT url,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len({toks}) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '{bpe}')) AS BIGINT) AS n_bpe_tokens
    FROM docs2
),
qfeat AS (
    SELECT url,
           CAST(len(t) AS BIGINT) AS n_tok,
           CASE WHEN length(text) > 0
                THEN len(regexp_extract_all(text, '{punct}')) / length(text)
                ELSE 0.0 END AS praw,
           CAST(len(list_intersect(list_distinct(t), {qsw})) AS BIGINT) AS n_stop
    FROM (SELECT url, text, {toks} AS t FROM docs2)
),
qual AS (
    SELECT url,
           round(0.4 * (CASE WHEN n_tok >= 10 AND n_tok <= 100000
                             THEN 1.0 ELSE 0.0 END)
                 + 0.3 * (1.0 - least(praw * 5.0, 1.0))
                 + 0.3 * least(n_stop / 5.0, 1.0), 6) AS quality_score
    FROM qfeat
),
kept AS MATERIALIZED (SELECT url, quality_score FROM qual WHERE quality_score >= {min_quality}),
{canonical_ctes()}"""


def _curation_semantic_ctes(
    cent_path: str, asg_path: str, dim: int, threshold: float
) -> str:
    """Twin CTEs of the curation plan's ⑥ SemDeDup stage: hashed-BoW
    vectors RECOMPUTED from the canonical corpus text (md5-bucket
    featurizer — byte-identical to operators/semantic.py:featurize_text
    with hash_fn='md5'), centroid similarity + within-list pairs + CC
    groups + keep-the-novel pick recomputed from the STAGED quantizer
    model. Vector components are small integer counts, so every dot
    product is exact in float64 regardless of summation order."""
    return f"""
scent AS (SELECT list_id, CAST(c AS DOUBLE[]) AS c
          FROM read_parquet('{cent_path}')),
sasg AS (SELECT vec_id AS url, list_id FROM read_parquet('{asg_path}')),
-- MATERIALIZED is load-bearing on every multiply-referenced CTE below:
-- DuckDB 1.0 inlines plain CTEs per reference, so without it each of the
-- dozen+ transitive references to sm/curls re-evaluates the ENTIRE
-- upstream tree (including the recursive clustering CC over the staged
-- codes) — measured 300+ s vs ~5 s at sf0.01
curls AS MATERIALIZED (SELECT url FROM canon WHERE is_canonical),
stoks AS (
    SELECT c.url,
           unnest(regexp_split_to_array(lower(coalesce(d.text, '')), '\\s+'))
               AS tok
    FROM curls c JOIN docs2 d USING (url)
),
sbuck AS (
    SELECT url, ('0x' || substr(md5(tok), 1, 8))::UBIGINT % {dim} AS j,
           count(*) AS n
    FROM stoks WHERE tok <> '' GROUP BY url, j
),
sgrid AS (SELECT c.url, gs.i
          FROM curls c CROSS JOIN generate_series(0, {dim - 1}) AS gs(i)),
svec AS MATERIALIZED (
    SELECT g.url, list(coalesce(b.n, 0)::DOUBLE ORDER BY g.i) AS v
    FROM sgrid g LEFT JOIN sbuck b ON b.url = g.url AND b.j = g.i
    GROUP BY g.url
),
sm AS MATERIALIZED (SELECT s.url, a.list_id, s.v,
              round(list_dot_product(s.v, sc.c) /
                    (sqrt(list_dot_product(s.v, s.v)) *
                     sqrt(list_dot_product(sc.c, sc.c))), 6) AS centroid_cos
       FROM svec s JOIN sasg a USING (url) JOIN scent sc USING (list_id)),
sp AS MATERIALIZED (SELECT a.url AS u, b.url AS w
       FROM sm a JOIN sm b ON a.list_id = b.list_id AND a.url < b.url
       WHERE round(list_dot_product(a.v, b.v) /
                   (sqrt(list_dot_product(a.v, a.v)) *
                    sqrt(list_dot_product(b.v, b.v))), 6) >= {threshold}),
ssym AS MATERIALIZED (SELECT u, w FROM sp UNION SELECT w AS u, u AS w FROM sp),
scc AS (
    SELECT url, url AS lbl FROM sm
    UNION
    SELECT s.w AS url, scc.lbl FROM scc JOIN ssym s ON scc.url = s.u
),
slabels AS MATERIALIZED (SELECT url, min(lbl) AS sem_group FROM scc GROUP BY url),
sreps AS MATERIALIZED (
    SELECT sem_group, url AS rep_url FROM (
        SELECT l.sem_group, m.url,
               row_number() OVER (PARTITION BY l.sem_group
                                  ORDER BY m.centroid_cos, m.url) AS rn
        FROM sm m JOIN slabels l USING (url)) WHERE rn = 1
),
skeep AS MATERIALIZED (SELECT m.url FROM sm m JOIN slabels l USING (url)
          JOIN sreps r ON l.sem_group = r.sem_group AND m.url = r.rep_url)"""


def _curation_decontam_ctes(n: int, eval_where: str) -> str:
    """Twin CTEs of the curation plan's ⓪b decontamination gate: eval
    grams (padded-shingle construction shared with ngram_jaccard/
    decontaminate) over ``documents WHERE {eval_where}``, corpus grams
    over the quality-KEPT pages, dirty = any shared non-empty gram,
    clean = kept minus dirty."""
    toks = (
        "CASE WHEN trim(coalesce(text, '')) = '' THEN CAST([] AS VARCHAR[]) "
        "ELSE regexp_split_to_array(trim(coalesce(text, '')), '\\s+') END"
    )
    sh = (
        f"CASE WHEN len(t) >= {n} THEN "
        f"list_transform(range(0, len(t) - {n} + 1), "
        f"i -> array_to_string(t[i+1:i+{n}], ' ')) "
        f"ELSE [array_to_string(t, ' ')] END"
    )
    return f"""
dct AS (SELECT k.url, {toks} AS t
        FROM kept k JOIN docs2 USING (url)),
dcsh AS (SELECT url, unnest(list_distinct({sh})) AS shingle FROM dct),
dcev AS MATERIALIZED (
    SELECT DISTINCT shingle FROM (
        SELECT unnest(list_distinct({sh})) AS shingle
        FROM (SELECT {toks} AS t FROM documents WHERE {eval_where})
    ) WHERE shingle <> ''
),
dirty AS MATERIALIZED (
    SELECT DISTINCT d.url FROM dcsh d JOIN dcev USING (shingle)
),
clean AS MATERIALIZED (
    SELECT url FROM kept WHERE url NOT IN (SELECT url FROM dirty)
)"""


def _curation_sample_ctes(
    final_urls: str, thresholds: dict[str, int], default_threshold: int
) -> str:
    """Twin CTE of the curation plan's ⑦ stratified mixing sample over the
    final url set ``final_urls`` (a CTE name): md5-bucket hash threshold
    per language — byte-identical to operators/sampling.stratified_sample
    with hash_fn='md5'."""
    case = " ".join(
        f"WHEN '{s}' THEN {t}" for s, t in sorted(thresholds.items())
    )
    return f"""
smpl AS MATERIALIZED (
    SELECT f.url FROM {final_urls} f JOIN docs2 d USING (url)
    WHERE CAST(('0x' || substr(md5(f.url), 1, 8))::UBIGINT % 1000000
               AS BIGINT)
          < CASE d.lang {case} ELSE {default_threshold} END
)"""


def curation_corpus_sql(
    codes_path: str,
    min_quality: float = 0.35,
    semantic: dict | None = None,
    decontam: dict | None = None,
    sample: dict | None = None,
) -> str:
    """Per-url twin of the final curated corpus: quality-kept canonical
    cluster representatives with token accounting; with ``semantic``
    (cent_path/asg_path/dim/threshold), only SemDeDup-kept survivors; with
    ``sample`` (thresholds/default), only mixing-sample survivors.
    ``decontam`` (n/eval_where) does not change this row set — the staged
    codes were computed on decontaminated pages, so canon is clean by
    construction — but the funnel twin re-derives the drop count from raw
    text (see :func:`curation_funnel_sql`)."""
    base = _curation_base_ctes(codes_path, min_quality)
    sem = ""
    sem_join = ""
    if semantic is not None:
        sem = "," + _curation_semantic_ctes(
            semantic["cent_path"], semantic["asg_path"],
            semantic["dim"], semantic["threshold"],
        )
        sem_join = "JOIN skeep s ON s.url = c.url"
    smp = ""
    smp_join = ""
    if sample is not None:
        final_urls = (
            "skeep" if semantic is not None
            else "(SELECT url FROM canon WHERE is_canonical)"
        )
        smp = "," + _curation_sample_ctes(
            final_urls, sample["thresholds"], sample["default"]
        )
        smp_join = "JOIN smpl m ON m.url = c.url"
    return f"""
WITH RECURSIVE {base}{sem}{smp}
SELECT c.url, c.cluster_id, t.n_chars, t.n_tokens, t.n_bpe_tokens,
       k.quality_score
FROM canon c
JOIN tok t USING (url)
JOIN kept k USING (url)
{sem_join}
{smp_join}
WHERE c.is_canonical
"""


def curation_funnel_sql(
    codes_path: str,
    min_quality: float = 0.35,
    semantic: dict | None = None,
    decontam: dict | None = None,
    sample: dict | None = None,
) -> str:
    """Audited-funnel twin: docs in → dropped by quality → dropped as
    contaminated → dropped as duplicate → dropped as semantic duplicate →
    dropped by sampling → docs out → tokens out, each independently
    recomputed (the contamination drop from raw text + the eval predicate,
    the sampling drop from the md5 bucket formula)."""
    base = _curation_base_ctes(codes_path, min_quality)
    sem = ""
    if semantic is not None:
        sem = "," + _curation_semantic_ctes(
            semantic["cent_path"], semantic["asg_path"],
            semantic["dim"], semantic["threshold"],
        )
        sem_expr = "(SELECT count(*) FROM skeep)"
        final_urls = "skeep"
        final_tokens = (
            "(SELECT sum(t.n_tokens) FROM skeep s JOIN tok t USING (url))"
        )
    else:
        sem_expr = "(SELECT count(*) FROM canon WHERE is_canonical)"
        final_urls = "(SELECT url FROM canon WHERE is_canonical)"
        final_tokens = (
            "(SELECT sum(t.n_tokens) FROM canon c JOIN tok t USING (url) "
            "WHERE c.is_canonical)"
        )
    dec = ""
    if decontam is not None:
        dec = "," + _curation_decontam_ctes(
            decontam["n"], decontam["eval_where"]
        )
        clean_expr = "(SELECT count(*) FROM clean)"
    else:
        clean_expr = "(SELECT count(*) FROM kept)"
    smp = ""
    if sample is not None:
        smp = "," + _curation_sample_ctes(
            final_urls, sample["thresholds"], sample["default"]
        )
        out_expr = "(SELECT count(*) FROM smpl)"
        tokens_expr = (
            "(SELECT sum(t.n_tokens) FROM smpl s JOIN tok t USING (url))"
        )
    else:
        out_expr = sem_expr
        tokens_expr = final_tokens
    return f"""
WITH RECURSIVE {base}{sem}{dec}{smp},
stats AS (
    SELECT (SELECT count(*) FROM documents) AS docs_in,
           (SELECT count(*) FROM qual WHERE quality_score < {min_quality})
               AS dropped_quality,
           (SELECT count(*) FROM kept) AS n_kept,
           {clean_expr} AS n_clean,
           (SELECT count(*) FROM canon WHERE is_canonical) AS n_canon,
           {sem_expr} AS n_sem,
           {out_expr} AS docs_out,
           {tokens_expr} AS tokens_out
)
SELECT metric, CAST(value AS BIGINT) AS value FROM (
    SELECT 'docs_in' AS metric, docs_in AS value FROM stats
    UNION ALL SELECT 'docs_dropped_quality', dropped_quality FROM stats
    UNION ALL SELECT 'docs_dropped_contaminated', n_kept - n_clean FROM stats
    UNION ALL SELECT 'docs_dropped_duplicate', n_clean - n_canon FROM stats
    UNION ALL SELECT 'docs_dropped_semantic', n_canon - n_sem FROM stats
    UNION ALL SELECT 'docs_dropped_sampling', n_sem - docs_out FROM stats
    UNION ALL SELECT 'docs_out', docs_out FROM stats
    UNION ALL SELECT 'tokens_out', tokens_out FROM stats
)
"""


def streaming_canonical_sql(codes_glob: str, flags_glob: str) -> str:
    """Twin of streaming/ingest.py:curate_state over the staged streaming
    state: the dup flags ARE the edge list, so clusters come from
    recursive min-label propagation over them (plus singletons from the
    codes table), and the canonical member is the url of the min
    (warc_ts, url) crawl per cluster (:func:`canonical_ctes`) — one row
    per url, all recomputed independently in DuckDB."""
    return f"""
WITH RECURSIVE codes AS (
    SELECT url, warc_ts
    FROM read_parquet('{codes_glob}', hive_partitioning = 1)
),
flags AS (
    SELECT url, dup_of
    FROM read_parquet('{flags_glob}', hive_partitioning = 1)
),
sym AS (
    SELECT url AS u, dup_of AS v FROM flags
    UNION
    SELECT dup_of AS u, url AS v FROM flags
),
cc AS (
    SELECT url, url AS lbl FROM codes
    UNION
    SELECT s.v AS url, cc.lbl FROM cc JOIN sym s ON cc.url = s.u
),
labels AS (SELECT url, min(lbl) AS cluster_id FROM cc GROUP BY url),
{canonical_ctes()}
SELECT url, cluster_id, is_canonical FROM canon
"""


def compression_stats_sql(staged_path: str, lo: float, hi: float) -> str:
    """Twin of the compression_stats driver row: ratio + bounds flag
    recomputed from the staged (doc_id, n_bytes, z_bytes) parquet — the
    DEFLATE counts themselves are the non-SQL kernel step (zlib), pinned
    by unit tests; everything derivable is re-derived here. DuckDB ``/``
    on integers is float division (same as Spark's Column ``/``)."""
    ratio = "CASE WHEN n_bytes > 0 THEN round(z_bytes / n_bytes, 6) END"
    return f"""
SELECT doc_id, n_bytes, z_bytes,
       {ratio} AS compression_ratio,
       coalesce({ratio} >= {lo} AND {ratio} <= {hi}, false) AS compression_ok
FROM read_parquet('{staged_path}')
"""


def _dsir_ctes(buckets: int, target_mod: int) -> str:
    """Shared CTE chain for the DSIR twins (operators/dsir.py): hashed
    unigram+bigram counts, Laplace-smoothed log-likelihood-ratio model in
    integer micro-units, exact-integer per-doc weights.

    Expression-order contract: the llr is computed as
    ``(ln(c_t+1) − ln(T_t)) − (ln(c_r+1) − ln(T_r))`` then
    ``floor(x·1000000 + 0.5)`` — the exact operation order of the Python
    model build (dsir.dsir_model), so the IEEE doubles agree bit-for-bit
    and the micro ints cannot straddle a floor boundary differently."""
    return f"""
WITH d AS (
    SELECT doc_id, lower(trim(coalesce(text, ''))) AS t FROM documents
),
toks AS (
    SELECT doc_id, string_split_regex(t, '\\s+') AS w FROM d WHERE t != ''
),
grams AS (
    SELECT doc_id, unnest(w) AS feat FROM toks
    UNION ALL
    SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
                           for i in generate_series(1, len(w) - 1)]) AS feat
    FROM toks WHERE len(w) >= 2
),
fj AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(feat), 1, 8))::UBIGINT % {buckets}
                AS BIGINT) AS j
    FROM grams
),
doc_counts AS (SELECT doc_id, j, count(*) AS cnt FROM fj GROUP BY 1, 2),
raw_counts AS (
    SELECT j, CAST(sum(cnt) AS BIGINT) AS c FROM doc_counts GROUP BY 1
),
tgt_counts AS (
    SELECT j, CAST(sum(cnt) AS BIGINT) AS c FROM doc_counts
    WHERE doc_id % {target_mod} = 0 GROUP BY 1
),
spine AS (SELECT unnest(generate_series(0, {buckets - 1})) AS j),
totals AS (
    SELECT (SELECT coalesce(sum(c), 0) FROM raw_counts) + {buckets} AS t_raw,
           (SELECT coalesce(sum(c), 0) FROM tgt_counts) + {buckets} AS t_tgt
),
model AS (
    SELECT s.j,
           CAST(floor(((ln(coalesce(tc.c, 0) + 1) - ln(t.t_tgt))
                     - (ln(coalesce(rc.c, 0) + 1) - ln(t.t_raw)))
                      * 1000000 + 0.5) AS BIGINT) AS llr_micro
    FROM spine s CROSS JOIN totals t
    LEFT JOIN raw_counts rc ON s.j = rc.j
    LEFT JOIN tgt_counts tc ON s.j = tc.j
),
weights AS (
    SELECT dc.doc_id,
           CAST(sum(dc.cnt) AS BIGINT) AS n_grams,
           CAST(sum(dc.cnt * m.llr_micro) AS BIGINT) AS logw_micro
    FROM doc_counts dc JOIN model m USING (j)
    GROUP BY 1
),
padded AS (
    SELECT d0.doc_id,
           coalesce(w.n_grams, CAST(0 AS BIGINT)) AS n_grams,
           coalesce(w.logw_micro, CAST(0 AS BIGINT)) AS logw_micro
    FROM documents d0 LEFT JOIN weights w USING (doc_id)
)"""


def dsir_weights_sql(buckets: int, target_mod: int) -> str:
    """Full importance-weight twin: model refit from the documents table,
    per-doc exact-integer weights, zero-fill for gram-less docs."""
    return f"""{_dsir_ctes(buckets, target_mod)}
SELECT doc_id, n_grams, logw_micro FROM padded
"""


def dsir_topk_sql(buckets: int, target_mod: int, k: int) -> str:
    """Gumbel-top-k twin: same hash-derived uniform
    ``u = (md5-bucket(doc_id) + 0.5)/1e6`` and key
    ``logw_micro/1e6 − ln(−ln(u))`` as dsir.gumbel_key, same
    (key DESC, doc_id) order, LIMIT k."""
    return f"""{_dsir_ctes(buckets, target_mod)},
gkey AS (
    SELECT doc_id, n_grams, logw_micro,
           logw_micro / 1000000.0 - ln(-ln(
               (CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT
                     % 1000000 AS BIGINT) + 0.5) / 1000000.0
           )) AS key
    FROM padded
)
SELECT doc_id, n_grams, logw_micro FROM gkey
ORDER BY key DESC, doc_id LIMIT {k}
"""


# --- driver-hash type compatibility -----------------------------------------
#
# The driver materializes the DuckDB side with typed (pandas/Arrow) buffers
# before hashing, so a DuckDB declared type that pandas renders differently
# from Spark's collected value breaks the value hash even when fetchall()
# values are identical.  Canonical case (round 5's only red row): integer
# sum() returns HUGEINT, which .df() renders as float64 — '5.0' vs Spark's
# '5'.  Both local parity harnesses (scripts/check_oracles.py,
# tests/test_entry_oracles.py) assert declared-type compatibility with this
# map so the class fails locally instead of at the driver.

def _spark_kind(dtype: str) -> str | None:
    dt = dtype.lower()
    if dt in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if dt in ("float", "double"):
        return "float"
    if dt == "boolean":
        return "bool"
    if dt == "string":
        return "string"
    if dt.startswith("timestamp"):
        return "timestamp"
    if dt == "date":
        return "date"
    if dt == "binary":
        return "binary"
    return None  # arrays/structs/maps/decimals: not hash-hazard classes here


def _duckdb_kind(dtype: str) -> str | None:
    dt = str(dtype).upper()
    if dt in (
        "TINYINT", "SMALLINT", "INTEGER", "BIGINT",
        "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT",
    ):
        return "int"
    if dt in ("HUGEINT", "UHUGEINT"):
        # pandas materializes HUGEINT as float64 (or object) — never int64
        return "hugeint"
    if dt in ("FLOAT", "DOUBLE") or dt.startswith("DECIMAL"):
        return "float"
    if dt == "BOOLEAN":
        return "bool"
    if dt == "VARCHAR":
        return "string"
    if dt.startswith("TIMESTAMP"):
        return "timestamp"
    if dt == "DATE":
        return "date"
    if dt == "BLOB":
        return "binary"
    return None


# (spark_kind, duckdb_kind) pairs whose typed materializations hash equal.
# float↔hugeint is allowed: HUGEINT→float64 matches a Spark double.
_HASH_COMPATIBLE = {
    ("int", "int"),
    ("float", "float"),
    ("float", "hugeint"),
    ("bool", "bool"),
    ("string", "string"),
    ("timestamp", "timestamp"),
    ("date", "date"),
    ("binary", "binary"),
}


def oracle_type_mismatches(spark_dtypes, duck_cols, duck_types):
    """Columns whose Spark vs DuckDB declared types would hash-diverge under
    the driver's typed materialization.

    ``spark_dtypes``: ``DataFrame.dtypes`` pairs; ``duck_cols``/``duck_types``:
    a DuckDB relation's ``columns``/``types``.  Returns a list of
    ``(column, spark_type, duckdb_type)`` triples; empty means compatible.
    Columns whose kind is unmapped on either side are skipped (not hazards
    this harness knows how to adjudicate).
    """
    smap = {name: dt for name, dt in spark_dtypes}
    out = []
    for col, dtyp in zip(duck_cols, duck_types):
        if col not in smap:
            continue  # column-name diffs are reported separately
        sk = _spark_kind(smap[col])
        dk = _duckdb_kind(dtyp)
        if sk is None or dk is None:
            continue
        if (sk, dk) not in _HASH_COMPATIBLE:
            out.append((col, smap[col], str(dtyp)))
    return out
