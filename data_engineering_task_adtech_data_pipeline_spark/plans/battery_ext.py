"""Battery part 2: LLM-data-pipeline extension queries over
``documents``/``embeddings`` (SURVEY.md §7.1 phase 6).

Oracle pairing policy: every query gets a full DuckDB oracle unless its
semantics are genuinely not SQL-expressible. The minhash/simhash battery
entries (q13/q14/q35) run the engine-portable md5 affine hash family
(``operators.dedup`` module header) so their FULL pipelines are
value-checked, and the ANN entries (q16/q49) run md5-derived hyperplanes
(``operators.similarity.md5_plane_weights``) for the same reason; xxhash64
remains the operators' scale-path default and is covered by tests + the q48
verify-stage oracle. Every battery entry now carries a full value oracle —
q40 (multimodal) gained one via length/strlen over the binary payload in
round 4, leaving zero rows-only entries. Normalization
SQL mirrors ``operators.dedup.normalize_text`` exactly (DuckDB
regexp_replace needs the 'g' flag; Spark's replaces all matches by default).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, similarity, text
from ..operators.chunking import checkpoint
from ..sources.readers import Testdata
from .battery import query

_NORM = (
    "trim(regexp_replace(regexp_replace(lower({c}), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)

# --- generated oracle SQL for the md5 minhash/simhash family ---------------
#
# The battery runs q13/q14/q35 with hash_method="md5" (operators.dedup module
# header): one md5 per shingle/token reduced to a 60-bit BIGINT, expanded by
# Carter-Wegman affine hashing mod 2^31-1. DuckDB reproduces every step
# bit-for-bit, so the FULL pipelines — shingle → signature → banded buckets →
# capped pair generation → exact-Jaccard verify (→ transitive closure) — are
# value-checked, not just row-counted. The xxhash64 method remains the
# scale-path default everywhere.

_M31 = dedup.MERSENNE_31


def _minhash_band_ctes(num_hashes: int, bands: int) -> str:
    """CTE chain from ``documents`` to ``bands`` (per-doc banded minhash
    keys), mirroring minhash_profile + the band construction with
    hash_method='md5', max_shingles=None — the shared front half of the
    self-join (q13/q35/q67) and cross-corpus (q70) dedup oracles."""
    width = num_hashes // bands
    ab = dedup.minhash_affine_constants(num_hashes)
    mins = ",\n             ".join(
        f"min(({a} * x + {b}) % {_M31}) AS h{p}"
        for p, (a, b) in enumerate(ab)
    )
    band_sel = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band_idx, concat_ws('_', "
        + ", ".join(f"h{b * width + j}::VARCHAR" for j in range(width))
        + ") AS band_key FROM sigs"
        for b in range(bands)
    )
    norm = _NORM.format(c="text")
    return f"""
    words AS (
      SELECT doc_id, string_split({norm}, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
      FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
      WHERE len(w) >= 3
    ),
    hashed AS (
      SELECT doc_id, s,
             ('0x' || substr(md5(s), 1, 15))::BIGINT % {_M31} AS x
      FROM sh
    ),
    sigs AS (
      SELECT doc_id,
             {mins}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
      {band_sel}
    )"""


def _minhash_pair_ctes(num_hashes: int, bands: int, threshold: float) -> str:
    """CTE chain from ``documents`` to ``ver`` (verified near-dup pairs),
    mirroring minhash_profile + minhash_lsh_candidates + exact_jaccard with
    hash_method='md5', max_shingles=None, max_bucket=64."""
    return f"""{_minhash_band_ctes(num_hashes, bands)},
    buckets AS (
      SELECT band_idx, band_key,
             (list_sort(list(DISTINCT doc_id)))[1:64] AS ids
      FROM bands GROUP BY 1, 2
    ),
    mem AS (
      SELECT band_idx, band_key,
             generate_subscripts(ids, 1) AS p, unnest(ids) AS id
      FROM buckets WHERE len(ids) > 1
    ),
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM mem a JOIN mem b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.p < b.p
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT p.id_a, p.id_b, COUNT(*) AS i
      FROM pairs p
      JOIN sh a ON a.doc_id = p.id_a
      JOIN sh b ON b.doc_id = p.id_b AND b.s = a.s
      GROUP BY 1, 2
    ),
    ver AS (
      SELECT i.id_a, i.id_b
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_a
      JOIN sizes sb ON sb.doc_id = i.id_b
      WHERE CAST(i.i AS DOUBLE) / CAST(sa.n + sb.n - i.i AS DOUBLE)
            >= {threshold}
    )"""


def _simhash_oracle(bits: int, bands: int, max_hamming: int) -> str:
    """Full SQL for q14: md5 simhash signatures → banded buckets → capped
    pairs → popcount verify, mirroring simhash_signatures/simhash_candidates
    with hash_method='md5'."""
    width = bits // bands
    mask = (1 << width) - 1
    norm = _NORM.format(c="text")
    bitsums = ",\n             ".join(
        f"SUM(CASE WHEN ((h >> {i}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(bits)
    )
    sig = " | ".join(
        f"(CASE WHEN b{i} > 0 THEN (1::BIGINT << {i}) ELSE 0::BIGINT END)"
        for i in range(bits)
    )
    band_sel = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, sig, {b} AS band_idx,"
        f" ((sig >> {b * width}) & {mask}) AS band_val FROM sigs"
        for b in range(bands)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({norm}, ' ')) AS tok FROM documents
    ),
    th AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
    ),
    bs AS (
      SELECT doc_id,
             {bitsums}
      FROM th GROUP BY doc_id
    ),
    sigs AS (SELECT doc_id, {sig} AS sig FROM bs),
    bands AS (
      {band_sel}
    ),
    buckets AS (
      SELECT band_idx, band_val,
             (list_sort(list(DISTINCT doc_id)))[1:64] AS ids
      FROM bands GROUP BY 1, 2
    ),
    mem AS (
      SELECT band_idx, band_val,
             generate_subscripts(ids, 1) AS p, unnest(ids) AS id
      FROM buckets WHERE len(ids) > 1
    ),
    pairs AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM mem a JOIN mem b
        ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.p < b.p
    )
    SELECT p.id_a, p.id_b,
           CAST(bit_count(xor(sa.sig, sb.sig)) AS INTEGER) AS hamming
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.id_a
    JOIN sigs sb ON sb.doc_id = p.id_b
    WHERE bit_count(xor(sa.sig, sb.sig)) <= {max_hamming}
    """


# ===========================================================================
# Dedup family
# ===========================================================================

@query(
    "q11_dedup_exact",
    oracle=f"""
    WITH hashed AS (
      SELECT doc_id, source, lang, md5({_NORM.format(c='text')}) AS content_hash
      FROM documents
    ),
    keep AS (
      SELECT content_hash, MIN(doc_id) AS doc_id FROM hashed GROUP BY content_hash
    )
    SELECT h.doc_id, h.source, h.lang, h.content_hash
    FROM hashed h JOIN keep k
      ON h.content_hash = k.content_hash AND h.doc_id = k.doc_id
    """,
    doc="Exact dedup via normalized-content hash, min-id survivor.",
)
def q11_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir, scan_floor=False).documents
    return dedup.exact_dedup(docs).select(
        "doc_id", "source", "lang", "content_hash"
    )


@query(
    "q12_ngram_jaccard",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split({_NORM.format(c='text')}, ' ') AS w
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             array_to_string(w[i:i+2], ' ') AS s
      FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
      WHERE len(w) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    sdf AS (
      SELECT s FROM sh GROUP BY s
      HAVING COUNT(*) > 1 AND COUNT(*) <= 1024
    ),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sdf USING (s)
      JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE) >= 0.2
    """,
    doc="Exact 3-gram Jaccard near-dup pairs via shingle self-join "
    "(the verification stage of MinHash pipelines). Shingles with "
    "document frequency above max_df=1024 are dropped from pair "
    "generation on BOTH engines (hot-shingle ceiling, r7 VERDICT #3) — "
    "the cap itself is value-checked.",
)
def q12_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    return dedup.ngram_jaccard_pairs(
        docs, shingle_k=3, threshold=0.2, max_shingles=None, max_df=1024
    )


@query(
    "q13_minhash_dedup",
    oracle=f"""
    WITH {_minhash_pair_ctes(num_hashes=64, bands=16, threshold=0.5)}
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT id_b FROM ver)
    """,
    doc="MinHash(64)+LSH(16 bands) near-dedup with exact-Jaccard verify, "
    "md5 affine hash family — the FULL pipeline (shingle -> signature -> "
    "banded buckets -> capped pairs -> verify -> anti-join) is "
    "value-checked against DuckDB; xxhash64 stays the scale default.",
)
def q13_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    return dedup.minhash_dedup(
        docs, verify_threshold=0.5, max_shingles=None, hash_method="md5"
    ).select("doc_id", "lang", "source", "n_chars")


@query(
    "q14_simhash_candidates",
    oracle=_simhash_oracle(bits=60, bands=4, max_hamming=10),
    doc="60-bit md5 SimHash banded near-dup candidates (hamming<=10), "
    "fully value-checked against DuckDB (bit sums, fingerprint assembly, "
    "banded bucketing, capped pairing, popcount verify).",
)
def q14_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    sigs = dedup.simhash_signatures(docs, bits=60, hash_method="md5")
    out = dedup.simhash_candidates(sigs, max_hamming=10, bits=60)
    return out.withColumn("hamming", F.col("hamming").cast("int"))


# ===========================================================================
# Similarity search
# ===========================================================================

@query(
    "q15_cosine_topk",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    q AS (SELECT * FROM v WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, v.vec_id AS corpus_id,
             list_sum(list_transform(list_zip(q.e, v.e), t -> t[1] * t[2]))
             / (sqrt(list_sum(list_transform(q.e, x -> x * x)))
                * sqrt(list_sum(list_transform(v.e, x -> x * x)))) AS cosine_sim
      FROM q, v WHERE q.vec_id <> v.vec_id
    )
    SELECT query_id, corpus_id, cosine_sim, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, corpus_id ASC
      ) AS INTEGER) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    doc="Brute-force cosine top-5 for queries vec_id<10 — the exact ANN "
    "baseline; double-accumulated dot products match across engines.",
)
def q15_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Testdata(spark, sf_dir).embeddings
    out = similarity.brute_force_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


def _lsh_sig_ctes(planes: int, bands: int, seed: int, dim: int) -> str:
    """CTE chain from ``embeddings`` to ``bands``/``buckets``-ready ``sigs``,
    mirroring ``similarity.hyperplane_signature(hash_method='md5')``: ±1
    weights from the 60-bit md5 prefix of '{seed}:{p}:{i}', double-accumulated
    dot products, sign bit p contributes 2^p to the signature."""
    return f"""
    w AS (
      SELECT p, list(CASE WHEN ('0x' || substr(md5('{seed}:' || CAST(p AS VARCHAR)
                     || ':' || CAST(i AS VARCHAR)), 1, 15))::BIGINT % 2 = 0
                     THEN 1.0 ELSE -1.0 END ORDER BY i) AS wv
      FROM generate_series(0, {planes - 1}) t1(p),
           generate_series(0, {dim - 1}) t2(i)
      GROUP BY p
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sigs AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN dot >= 0 THEN (1::BIGINT << p) ELSE 0 END)
                  AS BIGINT) AS sig
      FROM (
        SELECT v.vec_id, w.p,
               list_sum(list_transform(list_zip(v.e, w.wv),
                        t -> t[1] * t[2])) AS dot
        FROM v, w
      ) GROUP BY vec_id
    )"""


_COSINE_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}), t -> t[1] * t[2]))"
    " / (sqrt(list_sum(list_transform({a}, x -> x * x)))"
    " * sqrt(list_sum(list_transform({b}, x -> x * x))))"
)


@query(
    "q16_lsh_topk",
    oracle=f"""
    WITH {_lsh_sig_ctes(planes=16, bands=8, seed=42, dim=64)},
    bands AS (
      SELECT vec_id, b AS band_idx, (sig >> (b * 2)) & 3 AS band_val
      FROM sigs, generate_series(0, 7) t(b)
    ),
    buckets AS (
      SELECT band_idx, band_val,
             (list_sort(list(DISTINCT vec_id)))[1:1024] AS members
      FROM bands GROUP BY band_idx, band_val
    ),
    cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, m.corpus_id
      FROM (SELECT * FROM bands WHERE vec_id < 10) qb
      JOIN buckets USING (band_idx, band_val),
      LATERAL unnest(buckets.members) AS m(corpus_id)
      WHERE qb.vec_id <> m.corpus_id
    ),
    scored AS (
      SELECT c.query_id, c.corpus_id,
             {_COSINE_SQL.format(a="q.e", b="cv.e")} AS cosine_sim
      FROM cand c
      JOIN v q ON q.vec_id = c.query_id
      JOIN v cv ON cv.vec_id = c.corpus_id
    )
    SELECT query_id, corpus_id, cosine_sim, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, corpus_id ASC
      ) AS INTEGER) AS rank FROM scored
    ) WHERE rank <= 5
    """,
    doc="Random-hyperplane LSH ANN top-5 (16 planes, 8 bands, md5-portable "
    "weights) — the scale path, full-pipeline value-checked: signature bits, "
    "banded buckets, capped candidate join, exact cosine re-rank.",
)
def q16_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Testdata(spark, sf_dir).embeddings
    out = similarity.lsh_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, planes=16, bands=8,
        hash_method="md5", dim=64,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


@query(
    "q49_embedding_dup_pairs",
    oracle=f"""
    WITH {_lsh_sig_ctes(planes=16, bands=4, seed=42, dim=64)},
    bands AS (
      SELECT vec_id, b AS band_idx, (sig >> (b * 4)) & 15 AS band_val
      FROM sigs, generate_series(0, 3) t(b)
    ),
    buckets AS (
      SELECT band_idx, band_val,
             (list_sort(list(DISTINCT vec_id)))[1:256] AS ids
      FROM bands GROUP BY band_idx, band_val
    ),
    pairs AS (
      SELECT DISTINCT a.id_a, b.id_b
      FROM buckets,
      LATERAL unnest(buckets.ids) AS a(id_a),
      LATERAL unnest(buckets.ids) AS b(id_b)
      WHERE a.id_a < b.id_b
    ),
    scored AS (
      SELECT p.id_a, p.id_b,
             {_COSINE_SQL.format(a="va.e", b="vb.e")} AS cosine_sim
      FROM pairs p
      JOIN v va ON va.vec_id = p.id_a
      JOIN v vb ON vb.vec_id = p.id_b
    )
    SELECT id_a, id_b, cosine_sim FROM scored WHERE cosine_sim >= 0.35
    """,
    doc="Embedding-cosine near-duplicate pairs via the LSH bucket join "
    "(16 planes, 4 bands, md5-portable weights) — the embedding-space analog "
    "of minhash dedup; full-pipeline value-checked.",
)
def q49_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Testdata(spark, sf_dir).embeddings
    return similarity.embedding_dup_pairs(
        emb, threshold=0.35, planes=16, bands=4, hash_method="md5", dim=64
    )


# --- IVF ANN: the SQL oracle replicates the TRAINING, not just the query --
#
# ``similarity.kmeans_fit`` is engine-reproducible by construction:
# deterministic init (n_cells smallest ids), fixed Lloyd rounds, and 6-decimal
# HALF_UP centroid rounding each round that absorbs summation-order float
# noise. The oracle below therefore unrolls the same 3 assignment/mean rounds
# as chained CTEs and must land on bit-identical centroids, cell assignments,
# probes, and final top-k — a full value check of a *trained* ANN index.

_IVF_DIST = (
    "list_sum(list_transform(list_zip({e}, {c}),"
    " t -> (t[1] - t[2]) * (t[1] - t[2])))"
)

# Training-sample CTE: the battery trains kmeans on a deterministic md5
# hash-sample (kmeans_fit train_fraction / sampling._hash_bucket md5 mode) —
# same fragment as the proven q36 split oracle. The cutoff mirrors
# sampling._cutoff (round-half-up of fraction * 1e6).
_IVF_TRAIN = """
    t AS (
      SELECT * FROM v
      WHERE ('0x' || substr(md5(concat_ws(chr(31), vec_id, {salt})), 1, 15))::BIGINT
            % 1000000 < {cutoff}
    )"""


def _ivf_iter_ctes(i: int, dim: int) -> str:
    # c{i} is referenced TWICE downstream (a{i+1}'s distance expression
    # and c{i+1}'s COALESCE/FROM — or corpus_cells + probe at the end),
    # so a plain CTE re-evaluates the whole training chain ~2^n_iter
    # times (the documented DuckDB pitfall, found live in q133's gate
    # time, round-10 review) — MATERIALIZED pins each Lloyd round to one
    # evaluation for every oracle built on this chain (q50/q55/q78/q86/
    # q133).
    prev = f"c{i - 1}"
    dist = _IVF_DIST.format(e="t.e", c=f"{prev}.c")
    return f"""
    a{i} AS (
      SELECT vec_id, e, cell FROM (
        SELECT t.vec_id, t.e, {prev}.cell,
               ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY
                 {dist} ASC, {prev}.cell ASC) AS rn
        FROM t, {prev}
      ) WHERE rn = 1
    ),
    m{i} AS (
      SELECT cell, i, round(avg(e[i]), 6) AS m
      FROM a{i}, generate_series(1, {dim}) t(i) GROUP BY cell, i
    ),
    c{i} AS MATERIALIZED (
      SELECT {prev}.cell, COALESCE(n.c, {prev}.c) AS c
      FROM {prev} LEFT JOIN (
        SELECT cell, list(m ORDER BY i) AS c FROM m{i} GROUP BY cell
      ) n USING (cell)
    )"""


def _ivf_oracle(
    n_cells: int, n_iter: int, n_probe: int, k: int, dim: int,
    train_cutoff: int = 500000, train_salt: int = 42,
) -> str:
    final = f"c{n_iter}"
    its = ",".join(_ivf_iter_ctes(i, dim) for i in range(1, n_iter + 1))
    train = _IVF_TRAIN.format(salt=train_salt, cutoff=train_cutoff)
    corpus_dist = _IVF_DIST.format(e="v.e", c=f"{final}.c")
    query_dist = _IVF_DIST.format(e="q.e", c=f"{final}.c")
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    {train},
    c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
             list_transform(e, x -> round(x, 6)) AS c
      FROM (SELECT * FROM t ORDER BY vec_id LIMIT {n_cells})
    ),{its},
    corpus_cells AS (
      SELECT vec_id, e, cell FROM (
        SELECT v.vec_id, v.e, {final}.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 {corpus_dist} ASC, {final}.cell ASC) AS rn
        FROM v, {final}
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT query_id, e, cell FROM (
        SELECT q.vec_id AS query_id, q.e, {final}.cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 {query_dist} ASC, {final}.cell ASC) AS rn
        FROM (SELECT * FROM v WHERE vec_id < 10) q, {final}
      ) WHERE rn <= {n_probe}
    ),
    scored AS (
      SELECT p.query_id, cc.vec_id AS corpus_id,
             {_COSINE_SQL.format(a="p.e", b="cc.e")} AS cosine_sim
      FROM probe p JOIN corpus_cells cc USING (cell)
      WHERE p.query_id <> cc.vec_id
    )
    SELECT query_id, corpus_id, cosine_sim, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, corpus_id ASC
      ) AS INTEGER) AS rank FROM scored
    ) WHERE rank <= {k}
    """


@query(
    "q50_ivf_topk",
    oracle=_ivf_oracle(n_cells=8, n_iter=3, n_probe=2, k=5, dim=64),
    doc="IVF ANN top-5 (8 k-means cells, 3 deterministic Lloyd rounds on a "
    "50% md5 hash-sample, 2-cell probe) — the trained-state ANN path; the "
    "oracle unrolls the sampled training itself, so the sample predicate, "
    "centroids, assignments and the final top-k are all value-checked.",
)
def q50_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Testdata(spark, sf_dir).embeddings
    out = similarity.ivf_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5,
        n_cells=8, n_iter=3, n_probe=2, dim=64,
        train_fraction=0.5, train_hash_method="md5",
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


# ===========================================================================
# Text analysis
# ===========================================================================

def _marker_sql(col_words: str, markers: list[str]) -> str:
    lst = ", ".join(f"'{m}'" for m in markers)
    return (
        f"len(list_filter({col_words}, x -> list_contains([{lst}], x)))"
    )


# argmax of marker hits with text.lang_id's exact tie-break (reverse-sorted
# langs chained via when(): later when() wins ties -> 'de' beats 'en' etc.)
_LANGPRED_CASE = """CASE
        WHEN greatest(h_en, h_es, h_fr, h_de, h_zh) = 0 THEN 'und'
        WHEN h_de = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'de'
        WHEN h_en = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'en'
        WHEN h_es = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'es'
        WHEN h_fr = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'fr'
        ELSE 'zh'
      END"""


@query(
    "q17_text_features",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang,
             length(text) AS n_chars_raw,
             string_split({_NORM.format(c='text')}, ' ') AS wa,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
             length(text) - length(regexp_replace(text, '[A-Z]', '', 'g')) AS n_upper
      FROM documents
    ),
    hits AS (
      SELECT doc_id, lang, n_chars_raw, n_digits, n_upper,
        list_filter(wa, x -> x <> '') AS w,
        {_marker_sql('wa', text.LANG_MARKERS['en'])} AS h_en,
        {_marker_sql('wa', text.LANG_MARKERS['es'])} AS h_es,
        {_marker_sql('wa', text.LANG_MARKERS['fr'])} AS h_fr,
        {_marker_sql('wa', text.LANG_MARKERS['de'])} AS h_de,
        {_marker_sql('wa', text.LANG_MARKERS['zh'])} AS h_zh
      FROM base
    )
    SELECT doc_id, lang,
      CASE
        WHEN greatest(h_en, h_es, h_fr, h_de, h_zh) = 0 THEN 'und'
        WHEN h_de = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'de'
        WHEN h_en = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'en'
        WHEN h_es = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'es'
        WHEN h_fr = greatest(h_en, h_es, h_fr, h_de, h_zh) THEN 'fr'
        ELSE 'zh'
      END AS lang_pred,
      len(w) AS n_words,
      CASE WHEN len(w) > 0
           THEN CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w)
           ELSE 0.0 END AS mean_word_len,
      CASE WHEN len(w) > 0 THEN CAST(h_en AS DOUBLE) / len(w) ELSE 0.0 END AS stopword_ratio,
      CASE WHEN n_chars_raw > 0 THEN CAST(n_digits AS DOUBLE) / n_chars_raw ELSE 0.0 END AS digit_ratio,
      CASE WHEN n_chars_raw > 0 THEN CAST(n_upper AS DOUBLE) / n_chars_raw ELSE 0.0 END AS upper_ratio
    FROM hits
    """,
    doc="Per-document text features in one scan: marker-word language ID "
    "(argmax of per-language stopword hits, deterministic tie-break) plus "
    "quality features (word stats, stopword/digit/upper ratios, C4/Gopher-"
    "style) — formerly q17+q18, merged at identical doc grain so the battery "
    "fits the driver's 50-entry correctness window.",
)
def q17_text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    return text.quality_features(text.lang_id(docs)).select(
        "doc_id", "lang", "lang_pred", "n_words", "mean_word_len",
        "stopword_ratio", "digit_ratio", "upper_ratio",
    )


def _winnow_fp_ctes() -> str:
    """CTE chain from ``documents`` to ``wfp`` (distinct per-doc winnowing
    fingerprints, k=5 / window=4, md5 family) — shared by q19 (per-doc
    counts/checksums) and q75 (match pairs)."""
    return f"""wwords AS (
      SELECT doc_id,
             list_filter(string_split({_NORM.format(c='text')}, ' '),
                         x -> x <> '') AS w
      FROM documents
    ),
    wgrams AS (
      SELECT doc_id, len(w) - 4 AS n_grams, CAST(i AS BIGINT) AS pos,
             ('0x' || substr(md5(array_to_string(w[i+1:i+5], ' ')), 1, 15))::BIGINT AS h
      FROM wwords, UNNEST(range(len(w) - 4)) AS t(i)
      WHERE len(w) >= 5
    ),
    wsel AS (
      SELECT doc_id, pos, n_grams,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM wgrams
    ),
    wfp AS (
      SELECT DISTINCT doc_id, fp FROM wsel
      WHERE pos <= greatest(n_grams - 4, 0)
    )"""


@query(
    "q19_token_features",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split({_NORM.format(c='text')}, ' '),
                    x -> x <> '')) AS tok
      FROM documents
    ),
    tc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
    rep AS (
      SELECT doc_id,
             CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_token_share,
             CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE)
               AS distinct_token_ratio
      FROM tc GROUP BY doc_id
    ),
    {_winnow_fp_ctes()},
    winnow AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_winnow_fps,
             bit_xor(fp) AS winnow_xor
      FROM wfp GROUP BY doc_id
    )
    SELECT d.doc_id,
      len(regexp_split_to_array(trim(text), '\\s+')) AS whitespace_tokens,
      len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])', 1)) AS regex_tokens,
      CASE WHEN len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])', 1)) > 0
           THEN CAST(length(text) AS DOUBLE)
                / len(regexp_extract_all(text, '([A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s])', 1))
           ELSE 0.0 END AS chars_per_token,
      md5(text) AS content_md5,
      md5({_NORM.format(c='text')}) AS normalized_md5,
      r.top_token_share,
      r.distinct_token_ratio,
      wn.n_winnow_fps,
      wn.winnow_xor
    FROM documents d
    LEFT JOIN rep r USING (doc_id)
    LEFT JOIN winnow wn USING (doc_id)
    """,
    doc="Per-document token/fingerprint/repetition features: whitespace + "
    "GPT-2-pre-tokenizer-shaped regex token counts, raw/normalized md5 "
    "fingerprints, true winnowing fingerprints (k=5-gram rolling hash, "
    "window=4 min selection, Schleimer et al. — count + bit_xor checksum "
    "per doc, the oracle replays gram hashing, the sliding window min AND "
    "the distinct selection), and Gopher-family repetition signals, all "
    "left-joined at doc grain — merged so the battery fits the driver's "
    "50-entry correctness window.",
)
def q19_token_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    base = text.fingerprints(text.token_counts(docs))
    rep = text.repetition_features(docs)
    win = (
        text.winnow_fingerprints(docs, k=5, window=4, hash_method="md5")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_winnow_fps"),
            F.expr("bit_xor(fingerprint)").alias("winnow_xor"),
        )
    )
    return base.join(rep, "doc_id", "left").join(win, "doc_id", "left").select(
        "doc_id", "whitespace_tokens", "regex_tokens", "chars_per_token",
        "content_md5", "normalized_md5", "top_token_share",
        "distinct_token_ratio", "n_winnow_fps", "winnow_xor",
    )


@query(
    "q21_doc_stats_by_source",
    oracle="""
    SELECT source, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents
    GROUP BY source, lang
    """,
    doc="Corpus composition rollup (source x lang) — the reporting query of "
    "a data-curation pipeline.",
)
def q21_doc_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir, scan_floor=False).documents
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )


@query(
    "q35_minhash_dedup_transitive",
    oracle=f"""
    WITH RECURSIVE {_minhash_pair_ctes(num_hashes=64, bands=16, threshold=0.5)},
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM ver
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM ver
    ),
    reach AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ),
    comp AS (SELECT src AS id, min(dst) AS mn FROM reach GROUP BY src)
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT id FROM comp WHERE mn < id)
    """,
    doc="MinHash near-dedup with full transitive closure — run through the "
    "giant-component-safe large-star/small-star algorithm (cc='star', "
    "O(log^2 n) rounds; WITH RECURSIVE reachability in the oracle), so the "
    "100 TB closure path is the driver-value-checked one; the min-label "
    "propagation variant stays equivalence-tested in pytest.",
)
def q35_minhash_dedup_transitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    return dedup.minhash_dedup_transitive(
        docs, verify_threshold=0.5, max_shingles=None, hash_method="md5",
        cc="star",
    ).select("doc_id", "lang", "source", "n_chars")


@query(
    "q36_hash_split",
    oracle="""
    WITH bucketed AS (
      SELECT lang, n_chars,
             ('0x' || substr(md5(concat_ws(chr(31), doc_id, 42)), 1, 15))::BIGINT
               % 1000000 AS bucket
      FROM documents
    )
    SELECT
      CASE WHEN bucket < 800000 THEN 'train'
           WHEN bucket < 900000 THEN 'val'
           ELSE 'test' END AS split,
      lang,
      COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM bucketed
    GROUP BY 1, 2
    """,
    doc="Deterministic train/val/test hash-split summary, md5-bucketed so "
    "the split assignment itself is engine-portable and fully "
    "oracle-checked (the xxhash64 method stays the fast default; "
    "disjoint/exhaustive/stability invariants in tests cover both).",
)
def q36_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_split

    docs = Testdata(spark, sf_dir, scan_floor=False).documents
    split = hash_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, keys=["doc_id"],
        method="md5",
    )
    return split.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "q48_jaccard_verify",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split({_NORM.format(c='text')}, ' ') AS w
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id, array_to_string(w[i:i+2], ' ') AS s
      FROM words, UNNEST(range(1, len(w) - 1)) AS t(i)
      WHERE len(w) >= 3
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 AND a.s = b.s
      GROUP BY 1, 2
    )
    SELECT sa.doc_id AS id_a, sb.doc_id AS id_b,
           CAST(COALESCE(i.i, 0) AS DOUBLE)
             / CAST(sa.n + sb.n - COALESCE(i.i, 0) AS DOUBLE) AS jaccard
    FROM sizes sa
    JOIN sizes sb ON sb.doc_id = sa.doc_id + 1
    LEFT JOIN inter i ON i.id_a = sa.doc_id AND i.id_b = sb.doc_id
    """,
    doc="Value-level oracle for minhash_dedup's VERIFY stage: exact Jaccard "
    "over pinned candidate pairs (consecutive doc_ids), computed through "
    "the same operators.dedup.exact_jaccard code path q13/q35 use — the "
    "xxhash64 candidate generation stays rows-only, but the verification "
    "arithmetic is now cross-checked cell-by-cell.",
)
def q48_jaccard_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    profile = dedup.shingle_sets(docs, k=3, max_shingles=None)
    ids = profile.select(F.col("id").alias("doc_id"), "shingle_set")
    pairs = (
        ids.select(F.col("doc_id").alias("id_a"))
        .join(
            ids.select(F.col("doc_id").alias("id_b")),
            F.col("id_b") == F.col("id_a") + 1,
        )
    )
    return dedup.exact_jaccard(pairs, ids, id_col="doc_id")


@query(
    "q40_multimodal_features",
    # The fake decoder's feature[1] is octet_length(payload) and payload is
    # encode(text, 'utf-8'), so every aggregated column is DuckDB-expressible
    # via strlen() (byte length): the full result is value-checked even
    # though the per-byte histogram tail of the feature vector is not
    # (round-3 VERDICT missing #1 — was rows-only).
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_media,
           CAST(SUM(CASE WHEN text IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_decoded,
           CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
           AVG(strlen(text)) AS mean_payload_len
    FROM documents
    GROUP BY source
    """,
    doc="Multimodal plumbing end-to-end: binary payloads + typed metadata, "
    "Arrow-batched fake decode, per-source feature stats. Value-checked: "
    "the stub's first feature element and n_bytes are both byte lengths of "
    "the utf-8 payload, which DuckDB computes as strlen(text).",
)
def q40_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = Testdata(spark, sf_dir, scan_floor=False).documents
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("source"),
        F.encode("text", "utf-8").alias("payload"),
    )
    media = multimodal.attach_meta(media, modality="image", mime="image/fake")
    feats = multimodal.decode_images(media, fake=True)
    joined = feats.join(
        media.select("media_id", "source", F.col("meta.n_bytes").alias("n_bytes")),
        "media_id",
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum(F.when(F.col("decode_ok"), 1).otherwise(0)).alias("n_decoded"),
        F.sum("n_bytes").alias("total_bytes"),
        F.avg(F.element_at("feature", 1)).alias("mean_payload_len"),
    )


@query(
    "q41_curation_pipeline",
    oracle=f"""
    WITH lang AS (
      SELECT doc_id, text, source, n_chars,
             list_filter(string_split({_NORM.format(c='text')}, ' '), x -> x <> '') AS w
      FROM documents
    ),
    quality AS (
      SELECT doc_id, text, source, n_chars,
             len(w) AS n_words,
             CASE WHEN len(w) > 0
                  THEN CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w)
                  ELSE 0.0 END AS mean_word_len
      FROM lang
    ),
    filtered AS (
      SELECT *, md5({_NORM.format(c='text')}) AS content_hash
      FROM quality
      WHERE n_words >= 10 AND mean_word_len BETWEEN 2.0 AND 12.0
    ),
    best AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY content_hash ORDER BY n_words DESC, doc_id ASC
      ) AS rn
      FROM filtered
    )
    SELECT doc_id, source, n_chars, n_words, content_hash
    FROM best WHERE rn = 1
    """,
    doc="Corpus-curation capstone: quality gate -> exact dedup keeping the "
    "best (longest) representative per content group -- the operators "
    "composing as a user would chain them.",
)
def q41_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = Testdata(spark, sf_dir).documents
    q = text.quality_features(docs).where(
        (F.col("n_words") >= 10)
        & (F.col("mean_word_len") >= 2.0)
        & (F.col("mean_word_len") <= 12.0)
    )
    hashed = q.withColumn("content_hash", F.md5(dedup.normalize_text("text")))
    best = W.partitionBy("content_hash").orderBy(
        F.col("n_words").desc(), F.col("doc_id").asc()
    )
    return (
        hashed.withColumn("__rn", F.row_number().over(best))
        .where(F.col("__rn") == 1)
        .select("doc_id", "source", "n_chars", "n_words", "content_hash")
    )


@query(
    "q42_chunking",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS w
      FROM documents
    ),
    chunked AS (
      SELECT doc_id,
             CAST(i AS INTEGER) AS chunk_id,
             array_to_string(w[i*112+1 : i*112+128], ' ') AS chunk_text,
             CAST(least(len(w) - i*112, 128) AS INTEGER) AS n_tokens
      FROM words,
           UNNEST(range(CAST(ceil(greatest(len(w) - 16, 1) / 112.0) AS BIGINT))) AS t(i)
      WHERE len(w) > 0
    )
    SELECT doc_id, chunk_id, chunk_text, n_tokens FROM chunked
    """,
    doc="Context-window chunking: 128-token chunks with 16-token overlap "
    "(step 112), trailing short chunk kept.",
)
def q42_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import chunk_documents

    docs = Testdata(spark, sf_dir).documents
    out = chunk_documents(docs, chunk_tokens=128, overlap=16)
    return out.withColumn("n_tokens", F.col("n_tokens").cast("int"))


@query(
    "q43_sequence_packing",
    # The greedy no-straddle variant is value-checked via a WITH RECURSIVE
    # fold over the doc_id-ordered corpus — DuckDB replays the sequential
    # greedy fill one document per iteration (round-3 VERDICT: greedy
    # packing was tests-only; now both packing disciplines ride one driver
    # row, keeping the battery at the 50-entry correctness window).
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS BIGINT)
               AS stream_pos
      FROM toks
    ),
    ord AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY doc_id) AS rn
      FROM toks
    ),
    greedy AS (
      SELECT rn, doc_id,
             CAST(0 AS BIGINT) AS greedy_bin_id,
             CAST(0 AS BIGINT) AS greedy_bin_offset,
             CAST(n_tokens AS BIGINT) AS fill
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.rn, o.doc_id,
             CASE WHEN g.fill > 0 AND g.fill + o.n_tokens > 512
                  THEN g.greedy_bin_id + 1 ELSE g.greedy_bin_id END,
             CASE WHEN g.fill > 0 AND g.fill + o.n_tokens > 512
                  THEN 0 ELSE g.fill END,
             CASE WHEN g.fill > 0 AND g.fill + o.n_tokens > 512
                  THEN CAST(o.n_tokens AS BIGINT)
                  ELSE g.fill + o.n_tokens END
      FROM ord o JOIN greedy g ON o.rn = g.rn + 1
    )
    SELECT p.doc_id, p.n_tokens, p.stream_pos,
           CAST(floor(p.stream_pos / 512.0) AS BIGINT) AS bin_id,
           CAST(p.stream_pos - floor(p.stream_pos / 512.0) * 512 AS BIGINT) AS bin_offset,
           g.greedy_bin_id, g.greedy_bin_offset
    FROM packed p JOIN greedy g USING (doc_id)
    """,
    doc="Sequence packing, both disciplines on one doc grain: stream "
    "packing (concatenated corpus cut every 512 tokens, documents may "
    "straddle cuts — distributed two-pass prefix sum) plus greedy "
    "no-straddle bin filling (whole documents, applyInPandas per shard; "
    "oracle replays the greedy fold with WITH RECURSIVE).",
)
def q43_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import pack_documents, pack_documents_greedy
    from ..operators.text import token_counts

    docs = Testdata(spark, sf_dir, scan_floor=False).documents
    toks = token_counts(docs).select(
        "doc_id", F.col("whitespace_tokens").cast("long").alias("n_tokens")
    )
    stream = pack_documents(toks, bin_tokens=512)
    # target_shard_rows pinned above any realistic documents row count: the
    # oracle replays ONE global greedy fold, so the query must stay in the
    # unsharded regime at every scale factor (auto-sharding would make
    # bin ids shard-local and add a pack_shard column)
    greedy = pack_documents_greedy(
        toks, bin_tokens=512, target_shard_rows=1 << 40
    ).select(
        "doc_id",
        F.col("bin_id").alias("greedy_bin_id"),
        F.col("bin_offset").alias("greedy_bin_offset"),
    )
    return stream.join(greedy, "doc_id")


@query(
    "q58_greedy_pack_sharded",
    # The AUTO-SHARD scale path of pack_documents_greedy, value-checked:
    # target_shard_rows=100 < 500 docs forces sharding (5 shards), the
    # shard hash runs the engine-portable md5 family, and the oracle
    # replays the greedy fold PER SHARD — one recursive step advances
    # every shard by one document (round-4 VERDICT wrong #2: the sharded
    # path was property-tested only; "the scale path is the value-checked
    # one", as q35 got for star-CC).
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS n_tokens
      FROM documents
    ),
    ns AS (
      SELECT CAST(ceil(COUNT(*) / 100.0) AS BIGINT) AS n_shards FROM toks
    ),
    sharded AS (
      SELECT doc_id, n_tokens,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                  % n_shards AS INTEGER) AS pack_shard
      FROM toks CROSS JOIN ns
    ),
    ord AS (
      SELECT *, row_number() OVER (PARTITION BY pack_shard ORDER BY doc_id) AS rn
      FROM sharded
    ),
    greedy AS (
      SELECT pack_shard, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT) AS bin_id,
             CAST(0 AS BIGINT) AS bin_offset,
             CAST(n_tokens AS BIGINT) AS fill
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.pack_shard, o.rn, o.doc_id, o.n_tokens,
             CASE WHEN g.fill > 0 AND g.fill + o.n_tokens > 512
                  THEN g.bin_id + 1 ELSE g.bin_id END,
             CASE WHEN g.fill > 0 AND g.fill + o.n_tokens > 512
                  THEN 0 ELSE g.fill END,
             CASE WHEN g.fill > 0 AND g.fill + o.n_tokens > 512
                  THEN CAST(o.n_tokens AS BIGINT)
                  ELSE g.fill + o.n_tokens END
      FROM ord o JOIN greedy g
        ON o.pack_shard = g.pack_shard AND o.rn = g.rn + 1
    )
    SELECT doc_id, n_tokens, pack_shard, bin_id, bin_offset FROM greedy
    """,
    doc="Greedy no-straddle packing with the auto-shard SCALE PATH "
    "engaged: 500 docs / target 100 rows -> 5 md5-hash shards, greedy "
    "fold per shard via applyInPandas, (pack_shard, bin_id) global bin "
    "key; oracle replays each shard's fold with one WITH RECURSIVE "
    "advancing all shards in lockstep.",
)
def q58_greedy_pack_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import pack_documents_greedy
    from ..operators.text import token_counts

    docs = Testdata(spark, sf_dir, scan_floor=False).documents
    toks = token_counts(docs).select(
        "doc_id", F.col("whitespace_tokens").cast("long").alias("n_tokens")
    )
    return pack_documents_greedy(
        toks, bin_tokens=512, target_shard_rows=100, shard_hash_method="md5"
    ).select("doc_id", "n_tokens", "pack_shard", "bin_id", "bin_offset")


@query(
    "q60_duplicate_spans",
    # Span-granular dedup (Lee et al. 2022 ExactSubstr, k-gram-anchor
    # approximation): the oracle replays positional 13-grams, corpus
    # doc-frequency, and the gaps-and-islands merge with window functions
    # — every stage is SQL-expressible, so the whole pipeline is
    # value-checked (md5-portable gram hash family).
    oracle="""
    WITH words AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array({norm}, ' '), x -> x <> '') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id, CAST(i AS INTEGER) AS pos,
             ('0x' || substr(md5(array_to_string(w[i+1 : i+13], ' ')), 1, 15))::BIGINT AS h
      FROM words, UNNEST(range(greatest(len(w) - 12, 0))) AS t(i)
    ),
    dup AS (
      SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    flagged AS (SELECT doc_id, pos FROM grams JOIN dup USING (h)),
    marked AS (
      SELECT doc_id, pos,
             CASE WHEN max(pos + 13) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR pos > max(pos + 13) OVER (
                    PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
                  THEN 1 ELSE 0 END AS newi
      FROM flagged
    ),
    islands AS (
      SELECT doc_id, pos,
             CAST(SUM(newi) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - 1 AS INTEGER) AS span_id
      FROM marked
    )
    SELECT doc_id, span_id,
           CAST(MIN(pos) AS INTEGER) AS start_word,
           CAST(MAX(pos) + 13 AS INTEGER) AS end_word,
           CAST(COUNT(*) AS INTEGER) AS n_grams
    FROM islands GROUP BY doc_id, span_id
    """.format(norm=_NORM.format(c="trim(text)")),
    doc="Duplicate text SPANS inside documents (substring-level dedup, "
    "Lee et al. 2022 k-gram-anchor form): positions whose normalized "
    "13-gram occurs in >=2 docs open windows, overlapping windows merge "
    "into maximal spans via distributed gaps-and-islands; oracle replays "
    "gram hashing, doc-frequency and the island merge bit-for-bit.",
)
def q60_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    return dedup.duplicate_spans(docs, k=13, min_docs=2, hash_method="md5")


@query(
    "q51_domain_cap",
    oracle="""
    SELECT doc_id, source FROM (
      SELECT doc_id, source, ROW_NUMBER() OVER (
        PARTITION BY source
        ORDER BY ('0x' || substr(md5(doc_id || chr(31) || '42'), 1, 15))::BIGINT
                   % 1000000 ASC,
                 doc_id ASC
      ) AS rn FROM documents
    ) WHERE rn <= 10
    """,
    doc="Per-source document cap (the Common Crawl domain cap): keep 10 docs "
    "per source by engine-portable md5-hash order — a deterministic uniform "
    "within-group subsample, value-checked survivor-for-survivor.",
)
def q51_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import cap_per_group

    docs = Testdata(spark, sf_dir, scan_floor=False).documents
    return cap_per_group(
        docs, "source", cap=10, keys=["doc_id"], method="md5"
    ).select("doc_id", "source")


# q52_repetition_features was merged into q19_token_features (same doc
# grain, left-joined repetition signals) so the battery fits the driver's
# 50-entry correctness recording window.


_DECON_CTES = f"""
    words AS (
      SELECT doc_id, string_split({_NORM.format(c='text')}, ' ') AS w
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(array_to_string(w[i:i+12], ' ')), 1, 15))
               ::BIGINT AS h
      FROM words, UNNEST(range(1, len(w) - 11)) AS t(i)
      WHERE len(w) >= 13
    ),
    bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 5 = 0)"""


@query(
    "q53_decontaminate",
    oracle=f"""
    WITH {_DECON_CTES},
    cont AS (
      SELECT DISTINCT g.doc_id FROM g JOIN bench USING (h)
      WHERE g.doc_id % 5 <> 0
    )
    SELECT doc_id, source, lang, n_chars FROM documents
    WHERE doc_id % 5 <> 0 AND doc_id NOT IN (SELECT doc_id FROM cont)
    """,
    doc="Training-data decontamination (GPT-3 appendix-C recipe): drop every "
    "training document sharing any normalized 13-gram with the benchmark "
    "split (doc_id % 5 = 0 stands in for an eval suite); md5-portable gram "
    "hashes make the whole stage value-checked.",
)
def q53_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    bench = docs.where(F.col("doc_id") % 5 == 0)
    train = docs.where(F.col("doc_id") % 5 != 0)
    return dedup.decontaminate(
        train, bench, ngram_k=13, hash_method="md5"
    ).select("doc_id", "source", "lang", "n_chars")


@query(
    "q54_contamination_report",
    oracle=f"""
    WITH {_DECON_CTES}
    SELECT g.doc_id, COUNT(*) AS matched_grams
    FROM g JOIN bench USING (h)
    WHERE g.doc_id % 5 <> 0
    GROUP BY g.doc_id
    """,
    doc="Contamination detection report: per-document count of distinct "
    "13-grams shared with the benchmark split (the audit artifact behind "
    "q53's removal decision).",
)
def q54_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    bench = docs.where(F.col("doc_id") % 5 == 0)
    train = docs.where(F.col("doc_id") % 5 != 0)
    return dedup.contamination_matches(
        train, bench, ngram_k=13, hash_method="md5"
    )


def _ivf_lsh_oracle(
    n_cells: int, n_iter: int, n_probe: int, k: int, dim: int,
    planes: int, seed: int, max_hamming: int,
    train_cutoff: int = 500000, train_salt: int = 42,
) -> str:
    """q55: the q50 sampled-training unroll composed with the q16 md5 plane
    signatures; candidates must share a probed cell AND sit within
    ``max_hamming`` of the query's sign sketch before cosine re-rank."""
    final = f"c{n_iter}"
    its = ",".join(_ivf_iter_ctes(i, dim) for i in range(1, n_iter + 1))
    train = _IVF_TRAIN.format(salt=train_salt, cutoff=train_cutoff)
    corpus_dist = _IVF_DIST.format(e="v.e", c=f"{final}.c")
    query_dist = _IVF_DIST.format(e="q.e", c=f"{final}.c")
    return f"""
    WITH {_lsh_sig_ctes(planes, 1, seed, dim)},
    {train},
    c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
             list_transform(e, x -> round(x, 6)) AS c
      FROM (SELECT * FROM t ORDER BY vec_id LIMIT {n_cells})
    ),{its},
    corpus_cells AS (
      SELECT vec_id, e, cell FROM (
        SELECT v.vec_id, v.e, {final}.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 {corpus_dist} ASC, {final}.cell ASC) AS rn
        FROM v, {final}
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT query_id, e, cell FROM (
        SELECT q.vec_id AS query_id, q.e, {final}.cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 {query_dist} ASC, {final}.cell ASC) AS rn
        FROM (SELECT * FROM v WHERE vec_id < 10) q, {final}
      ) WHERE rn <= {n_probe}
    ),
    scored AS (
      SELECT p.query_id, cc.vec_id AS corpus_id,
             {_COSINE_SQL.format(a="p.e", b="cc.e")} AS cosine_sim
      FROM probe p
      JOIN corpus_cells cc USING (cell)
      JOIN sigs sq ON sq.vec_id = p.query_id
      JOIN sigs sc ON sc.vec_id = cc.vec_id
      WHERE p.query_id <> cc.vec_id
        AND bit_count(xor(sq.sig, sc.sig)) <= {max_hamming}
    )
    SELECT query_id, corpus_id, cosine_sim, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, corpus_id ASC
      ) AS INTEGER) AS rank FROM scored
    ) WHERE rank <= {k}
    """


@query(
    "q55_ivf_lsh_topk",
    oracle=_ivf_lsh_oracle(
        n_cells=8, n_iter=3, n_probe=2, k=5, dim=64,
        planes=16, seed=42, max_hamming=9,
    ),
    doc="Hybrid two-level ANN (IVF cells + 16-bit md5 sign-sketch hamming "
    "prune + cosine re-rank): the oracle unrolls the 50%-hash-sampled "
    "k-means training, plane weights, signatures, the hamming filter and "
    "the final top-k.",
)
def q55_ivf_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Testdata(spark, sf_dir).embeddings
    out = similarity.ivf_lsh_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5,
        n_cells=8, n_iter=3, n_probe=2,
        planes=16, max_hamming=9, dim=64, hash_method="md5",
        train_fraction=0.5, train_hash_method="md5",
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


_CONTACT_SPARK_DOC = "constructed deterministic contact strings (testdata has no natural PII)"

# ONE source of truth for the patterns: the oracle must test literally the
# same regex the Spark operator runs (round-4 review: the phone-pattern
# broadening had to edit two hand-synced copies — never again)
_PII_E = text.PII_PATTERNS["email"]
_PII_P = text.PII_PATTERNS["phone"]
_PII_S = text.PII_PATTERNS["ssn"]
_PII_I = text.PII_PATTERNS["ip"]


@query(
    "q56_pii_redaction",
    oracle=f"""
    WITH c AS (
      SELECT c_custkey,
             'reach ' || c_name || ' at user' || c_custkey::VARCHAR
             || '@example.com, tel +1-'
             || lpad((c_custkey % 1000)::VARCHAR, 3, '0')
             || '-555-' || lpad((c_custkey % 10000)::VARCHAR, 4, '0')
             || ' from ' || (c_custkey % 256)::VARCHAR || '.'
             || ((c_custkey * 3) % 256)::VARCHAR || '.0.1' AS contact
      FROM customer
    )
    SELECT c_custkey, contact,
           CAST(len(regexp_extract_all(contact, '{_PII_E}')) AS INTEGER) AS n_email,
           CAST(len(regexp_extract_all(contact, '{_PII_P}')) AS INTEGER) AS n_phone,
           CAST(len(regexp_extract_all(contact, '{_PII_S}')) AS INTEGER) AS n_ssn,
           CAST(len(regexp_extract_all(contact, '{_PII_I}')) AS INTEGER) AS n_ip,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             contact, '{_PII_E}', '[EMAIL]', 'g'),
             '{_PII_P}', '[PHONE]', 'g'),
             '{_PII_S}', '[SSN]', 'g'),
             '{_PII_I}', '[IP]', 'g') AS contact_redacted
    FROM c
    """,
    doc="PII scrubbing (emails/phones/SSNs/IPv4s -> [KIND] tokens) with "
    "per-kind match counts, value-checked byte-for-byte on " + _CONTACT_SPARK_DOC + ".",
)
def q56_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = Testdata(spark, sf_dir).customer
    contact = F.concat(
        F.lit("reach "), F.col("c_name"),
        F.lit(" at user"), F.col("c_custkey").cast("string"),
        F.lit("@example.com, tel +1-"),
        F.lpad((F.col("c_custkey") % 1000).cast("string"), 3, "0"),
        F.lit("-555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" from "),
        (F.col("c_custkey") % 256).cast("string"), F.lit("."),
        ((F.col("c_custkey") * 3) % 256).cast("string"), F.lit(".0.1"),
    )
    base = cust.select("c_custkey", contact.alias("contact"))
    return text.redact_pii(base, text_col="contact")


@query(
    "q57_bigram_novelty",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, string_split({_NORM.format(c='text')}, ' ') AS w
      FROM documents
    ),
    bg AS (
      SELECT doc_id, array_to_string(w[i:i+1], ' ') AS bg
      FROM words, UNNEST(range(1, len(w))) AS t(i)
      WHERE len(w) >= 2
    ),
    model AS (SELECT bg, COUNT(*) AS c FROM bg GROUP BY bg)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN c <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
           CAST(SUM(CASE WHEN c >= 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
           CAST(SUM(CASE WHEN c <= 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS rare_ratio
    FROM bg JOIN model USING (bg)
    GROUP BY doc_id
    """,
    doc="Corpus-grounded bigram novelty/boilerplate signals — the "
    "distributed shape of n-gram LM quality scoring (global model groupBy "
    "+ score-join) with exact integer outputs.",
)
def q57_bigram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    return text.bigram_novelty(docs)


# ===========================================================================
# q61 — deterministic shuffle + shard for training-data export
# ===========================================================================

@query(
    "q61_export_shards",
    oracle="""
    WITH h AS (
      SELECT doc_id,
             ('0x' || substr(md5(concat_ws(chr(31), doc_id, '42')), 1, 15))
               ::BIGINT AS hv
      FROM documents
    )
    SELECT doc_id,
           hv % 8 AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY hv % 8 ORDER BY hv, doc_id
           ) AS INTEGER) AS ordinal
    FROM h
    """,
    doc="Training-data export sharding: deterministic md5-order global "
    "shuffle, 8 fixed shards with within-shard ordinals — the 'shuffle "
    "and shard' step before writing corpus shard files "
    "(operators.sampling.export_shards; write_shards materializes it).",
)
def q61_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import export_shards

    docs = Testdata(spark, sf_dir, scan_floor=False).documents
    return export_shards(docs, 8, ["doc_id"], method="md5").select(
        "doc_id", "shard", "ordinal"
    )


# ===========================================================================
# q62 — corpus-quantile quality filter (exact k-th order statistic)
# ===========================================================================

@query(
    "q62_quantile_filter",
    oracle="""
    WITH r AS (
      SELECT doc_id, source, n_chars,
             rank() OVER (ORDER BY n_chars DESC) AS rk,
             count(*) OVER () AS n
      FROM documents
    )
    SELECT doc_id, source, n_chars FROM r WHERE rk <= ceil(0.2 * n)
    """,
    doc="Quality-threshold curation: keep the top 20% of documents by "
    "score (n_chars stands in for a classifier score), cutoff = exact "
    "k-th order statistic with ties included — computed from a distinct-"
    "score cumulative sum, never a global row sort "
    "(operators.sampling.quantile_threshold).",
)
def q62_quantile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import quantile_threshold

    docs = Testdata(spark, sf_dir, scan_floor=False).documents
    return quantile_threshold(docs, "n_chars", 0.2, tail="top").select(
        "doc_id", "source", "n_chars"
    )


# ===========================================================================
# q63 — TF-IDF top-k keywords per document
# ===========================================================================

_TFIDF_K = 5

@query(
    "q63_tfidf_topk",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split({_NORM.format(c='text')}, ' ')) AS term
      FROM documents
    ),
    w2 AS (SELECT doc_id, term FROM words WHERE term <> ''),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM w2 GROUP BY 1, 2),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT doc_id, term, tf, df,
             tf * round(ln((1.0 + n) / (1.0 + df)) + 1.0, 6) AS tfidf
      FROM tf JOIN dft USING (term) CROSS JOIN n
    ),
    r AS (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
      ) AS INTEGER) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tf, df, tfidf, rnk FROM r WHERE rnk <= {_TFIDF_K}
    """,
    doc="Keyword extraction: per-document top-5 terms by smoothed TF-IDF "
    "(idf = ln((1+n)/(1+df)) + 1, 6-dp-rounded for engine portability); "
    "one explode + vocabulary-sized model join (operators.text.tfidf_topk).",
)
def q63_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    out = text.tfidf_topk(docs, k=_TFIDF_K)
    return out.withColumn("rnk", F.col("rnk").cast("int"))


# ===========================================================================
# q64 — HyperLogLog distinct-token sketch per source, vs exact
# ===========================================================================

def _hll_oracle(p: int) -> str:
    from ..operators import sketch

    m = 1 << p
    width = 60 - p  # md5 base hash is 60 bits
    top = width + 1
    numer = sketch._alpha(m) * m * m * float(1 << top)
    return f"""
    WITH words AS (
      SELECT source, unnest(string_split({_NORM.format(c='text')}, ' ')) AS term
      FROM documents
    ),
    w2 AS (SELECT source, term FROM words WHERE term <> ''),
    h AS (
      SELECT source,
             ('0x' || substr(md5(term), 1, 15))::BIGINT AS hv,
             term
      FROM w2
    ),
    regs AS (
      SELECT source, hv % {m} AS bucket,
             max(CASE WHEN (hv >> {p}) = 0 THEN {top}
                 ELSE {top} - length(bin(hv >> {p})) END) AS rho
      FROM h GROUP BY 1, 2
    ),
    agg AS (
      SELECT source,
             sum(CAST(pow(2, {top} - rho) AS BIGINT)) AS s,
             count(*) AS present
      FROM regs GROUP BY 1
    ),
    est AS (
      SELECT source,
             CASE WHEN {numer!r} / CAST(s + ({m} - present) * {1 << top}
                    AS DOUBLE) <= {2.5 * m!r}
                   AND present < {m}
                  THEN {float(m)!r} * ln({float(m)!r} /
                       CAST({m} - present AS DOUBLE))
                  ELSE {numer!r} / CAST(s + ({m} - present) * {1 << top}
                       AS DOUBLE)
             END AS raw_est
      FROM agg
    ),
    exact AS (SELECT source, count(DISTINCT term) AS n_exact FROM w2 GROUP BY 1)
    SELECT source, round(raw_est, 6) AS est_distinct, n_exact
    FROM est JOIN exact USING (source)
    """


_HLL_P = 9

@query(
    "q64_hll_distinct",
    oracle=_hll_oracle(_HLL_P),
    doc="Mergeable HyperLogLog sketch (Flajolet 2007): per-source distinct-"
    "token estimate (p=9, 512 registers, md5-portable hashes, integer-"
    "exact harmonic mean) alongside the exact distinct count — the sketch "
    "COUNT(DISTINCT) needs at 100 TB (operators.sketch; reference stats "
    "analog scripts/main.py:139-170).",
)
def q64_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketch

    docs = Testdata(spark, sf_dir).documents
    words = docs.select(
        "source", F.explode(F.split(dedup.normalize_text("text"), " ")).alias("term")
    ).where(F.col("term") != "")
    est = sketch.hll_distinct(
        words, "term", ["source"], p=_HLL_P, method="md5"
    )
    exact = words.groupBy("source").agg(
        F.count_distinct("term").alias("n_exact")
    )
    return est.join(exact, "source")


# ===========================================================================
# q65 — Count-Min sketch frequency estimation for heavy hitters
# ===========================================================================

def _cm_oracle(d: int, w: int, topn: int) -> str:
    from ..operators.dedup import MERSENNE_31, minhash_affine_constants

    ab = minhash_affine_constants(d)
    x = "('0x' || substr(md5(term), 1, 15))::BIGINT % 2147483647"
    counter_sel = "\n        UNION ALL\n        ".join(
        f"SELECT {j} AS j, ((({a} * x + {b}) % {MERSENNE_31}) % {w}) AS col"
        " FROM occ"
        for j, (a, b) in enumerate(ab)
    )
    probe_sel = "\n      UNION ALL\n      ".join(
        f"SELECT term, exact_cnt, {j} AS j,"
        f" ((({a} * x + {b}) % {MERSENNE_31}) % {w}) AS col FROM top"
        for j, (a, b) in enumerate(ab)
    )
    return f"""
    WITH words AS (
      SELECT unnest(string_split({_NORM.format(c='text')}, ' ')) AS term
      FROM documents
    ),
    w2 AS (SELECT term FROM words WHERE term <> ''),
    occ AS (SELECT term, {x} AS x FROM w2),
    counters AS (
      SELECT j, col, count(*) AS cnt FROM (
        {counter_sel}
      ) GROUP BY 1, 2
    ),
    exact AS (SELECT term, count(*) AS exact_cnt FROM w2 GROUP BY 1),
    top AS (
      SELECT term, exact_cnt, {x} AS x FROM exact
      ORDER BY exact_cnt DESC, term ASC LIMIT {topn}
    ),
    probes AS (
      {probe_sel}
    )
    SELECT p.term, p.exact_cnt, min(coalesce(c.cnt, 0)) AS est_cnt
    FROM probes p LEFT JOIN counters c USING (j, col)
    GROUP BY 1, 2
    """


_CM_D, _CM_W, _CM_TOPN = 4, 2048, 20

@query(
    "q65_cm_heavy_hitters",
    oracle=_cm_oracle(_CM_D, _CM_W, _CM_TOPN),
    doc="Count-Min sketch (Cormode & Muthukrishnan 2005) frequency "
    "estimation: d=4 x w=2048 counters over corpus token occurrences "
    "(md5 + the same Carter-Wegman affine family the minhash oracle "
    "replays), probed at the top-20 exact heavy hitters — est >= exact "
    "always, within eps*N w.h.p. (operators.sketch.cm_sketch/cm_estimate).",
)
def q65_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketch

    docs = Testdata(spark, sf_dir).documents
    words = docs.select(
        F.explode(F.split(dedup.normalize_text("text"), " ")).alias("term")
    ).where(F.col("term") != "")
    exact = words.groupBy("term").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = exact.orderBy(F.desc("exact_cnt"), F.asc("term")).limit(_CM_TOPN)
    sk = sketch.cm_sketch(words, "term", d=_CM_D, w=_CM_W, method="md5")
    return sketch.cm_estimate(
        sk, top, "term", d=_CM_D, w=_CM_W, method="md5"
    ).select("term", "exact_cnt", "est_cnt")


# ===========================================================================
# q66 — target-mixture weighted sampling (data mixing)
# ===========================================================================

@query(
    "q66_mixture_sample",
    oracle="""
    WITH counts AS (
      SELECT source, count(*) AS n_avail FROM documents GROUP BY 1
    ),
    w AS (
      SELECT * FROM (VALUES
        ('src0', 0.5), ('src1', 0.25), ('src2', 0.125), ('src3', 0.125)
      ) t(source, w)
    ),
    rates AS (
      SELECT c.source,
             least(1.0, 60.0 * COALESCE(w.w, 0.0) / c.n_avail) AS rate
      FROM counts c LEFT JOIN w USING (source)
    )
    SELECT d.doc_id, d.source, d.n_chars, r.rate
    FROM documents d JOIN rates r USING (source)
    WHERE ('0x' || substr(md5(concat_ws(chr(31), doc_id, '7')), 1, 15))
            ::BIGINT % 1000000
          < CAST(floor(rate * 1000000 + 0.5) AS BIGINT)
    """,
    doc="Training-mixture assembly (Pile/LLaMA-style source weighting): "
    "per-source sampling rates least(1, budget*w/n) realize a 50/25/12.5/"
    "12.5 target over four sources within a 60-row budget, membership by "
    "deterministic md5 key-hash — rates, cutoff arithmetic and the "
    "per-row keep decision are all value-checked "
    "(operators.sampling.mixture_rates/mixture_sample).",
)
def q66_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import mixture_sample

    # scan_floor=False (round 15): metadata-grain md5 sampling over doc
    # keys — the floor's exchange is pure loss here, and the budget
    # machinery range-repartitions on its own (interleaved r13-vs-r14
    # A/B flagged q66 as the top mover; same family ruling as q93/q36)
    docs = Testdata(spark, sf_dir, scan_floor=False).documents
    out = mixture_sample(
        docs,
        {"src0": 0.5, "src1": 0.25, "src2": 0.125, "src3": 0.125},
        budget_rows=60,
        keys=["doc_id"],
        group_col="source",
        salt=7,
        method="md5",
        rate_col="rate",
    )
    return out.select("doc_id", "source", "n_chars", "rate")


# ===========================================================================
# q67 — quality-aware duplicate-cluster collapse (keep-best canonical)
# ===========================================================================

@query(
    "q67_collapse_duplicates",
    oracle=f"""
    WITH RECURSIVE {_minhash_pair_ctes(num_hashes=64, bands=16, threshold=0.5)},
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM ver
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM ver
    ),
    reach AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    ),
    lbl AS (
      SELECT src AS id, LEAST(src, MIN(dst)) AS cluster FROM reach GROUP BY src
    ),
    labeled AS (
      SELECT d.doc_id, d.lang, d.source, d.n_chars,
             COALESCE(l.cluster, d.doc_id) AS cluster
      FROM documents d LEFT JOIN lbl l ON l.id = d.doc_id
    ),
    ranked AS (
      SELECT *,
             COUNT(*) OVER (PARTITION BY cluster) AS cluster_size,
             ROW_NUMBER() OVER (
               PARTITION BY cluster ORDER BY n_chars DESC, doc_id ASC
             ) AS rn
      FROM labeled
    )
    SELECT doc_id, lang, source, n_chars, cluster, cluster_size
    FROM ranked WHERE rn = 1
    """,
    doc="Keep-best canonical selection over near-duplicate clusters: the "
    "q35 minhash + star-closure clustering, then ONE window keeps the "
    "highest-quality member per cluster (n_chars as the score, id "
    "tie-break) and carries cluster label + size — value-checks "
    "operators.dedup.collapse_duplicates end-to-end incl. the closure.",
)
def q67_collapse_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    return dedup.collapse_duplicates(
        docs, "n_chars", verify_threshold=0.5, max_shingles=None,
        hash_method="md5", cc="star",
    ).select("doc_id", "lang", "source", "n_chars", "cluster", "cluster_size")


# ===========================================================================
# q68 — SemDeDup: semantic dedup via k-means cells + within-cell cosine
# ===========================================================================

def _semantic_dedup_ctes(
    n_cells: int, n_iter: int, threshold: float, max_cell: int, dim: int,
    train_cutoff: int = 500000, train_salt: int = 42,
) -> str:
    """The q50 training unroll re-targeted at dedup: identical sampled
    k-means CTEs land on bit-identical centroids and cell assignments, then
    within-cell (sorted, capped) pairs + exact cosine mark smaller-id-wins
    duplicates. Returns the CTE chain (no WITH) ending at ``dups`` —
    shared by q68 and the q85 composed pipeline."""
    final = f"c{n_iter}"
    its = ",".join(_ivf_iter_ctes(i, dim) for i in range(1, n_iter + 1))
    train = _IVF_TRAIN.format(salt=train_salt, cutoff=train_cutoff)
    corpus_dist = _IVF_DIST.format(e="v.e", c=f"{final}.c")
    return f"""v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    {train},
    c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
             list_transform(e, x -> round(x, 6)) AS c
      FROM (SELECT * FROM t ORDER BY vec_id LIMIT {n_cells})
    ),{its},
    corpus_cells AS MATERIALIZED (
      SELECT vec_id, e, cell FROM (
        SELECT v.vec_id, v.e, {final}.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 {corpus_dist} ASC, {final}.cell ASC) AS rn
        FROM v, {final}
      ) WHERE rn = 1
    ),
    cells AS (
      SELECT cell, (list_sort(list(vec_id)))[1:{max_cell}] AS ids
      FROM corpus_cells GROUP BY cell
    ),
    mem AS (
      SELECT cell, generate_subscripts(ids, 1) AS p, unnest(ids) AS id
      FROM cells WHERE len(ids) > 1
    ),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM mem a JOIN mem b ON a.cell = b.cell AND a.p < b.p
    ),
    dups AS MATERIALIZED (
      SELECT DISTINCT p.id_b AS id
      FROM pairs p
      JOIN v va ON va.vec_id = p.id_a
      JOIN v vb ON vb.vec_id = p.id_b
      WHERE {_COSINE_SQL.format(a="va.e", b="vb.e")} >= {threshold}
    )"""


def _semantic_dedup_oracle(
    n_cells: int, n_iter: int, threshold: float, max_cell: int, dim: int,
    train_cutoff: int = 500000, train_salt: int = 42,
) -> str:
    """Full q68 oracle: the CTE chain + the per-row (cell, is_dup) select."""
    return f"""
    WITH {_semantic_dedup_ctes(n_cells, n_iter, threshold, max_cell, dim,
                               train_cutoff, train_salt)}
    SELECT cc.vec_id, cc.cell,
           (cc.vec_id IN (SELECT id FROM dups)) AS is_dup
    FROM corpus_cells cc
    """


@query(
    "q68_semantic_dedup",
    oracle=_semantic_dedup_oracle(
        n_cells=8, n_iter=3, threshold=0.35, max_cell=1024, dim=64
    ),
    doc="SemDeDup (Abbas et al. 2023): k-means cells (same sampled "
    "deterministic training as q50) + within-cell cosine pruning, "
    "smaller-id-wins — the oracle unrolls training, assignment, capped "
    "pair generation and the dup decision, so the whole semantic-dedup "
    "pipeline is value-checked (operators.similarity.semantic_dedup).",
)
def q68_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Testdata(spark, sf_dir).embeddings
    return similarity.semantic_dedup(
        emb, threshold=0.35, n_cells=8, n_iter=3, dim=64,
        train_fraction=0.5, train_hash_method="md5", max_cell=1024,
    )


# ===========================================================================
# q69 — corpus inverted index (posting lists)
# ===========================================================================

@query(
    "q69_inverted_index",
    oracle=f"""
    WITH words AS (
      SELECT doc_id,
             unnest(string_split({_NORM.format(c='text')}, ' ')) AS term
      FROM documents
    ),
    w2 AS (SELECT doc_id, term FROM words WHERE term <> ''),
    tf AS (SELECT term, doc_id, count(*) AS tf FROM w2 GROUP BY 1, 2),
    post AS (
      SELECT term,
             count(*) AS df,
             CAST(sum(tf) AS BIGINT) AS tf_total,
             array_to_string((list_sort(list(doc_id)))[1:20], ',')
               AS postings_csv
      FROM tf GROUP BY term
    )
    SELECT term, df, tf_total, postings_csv FROM post WHERE df >= 3
    """,
    doc="Corpus inverted index: per-term document frequency, total "
    "occurrences, and ascending posting lists capped at 20 ids (min_df=3) "
    "— the retrieval-side index build; occurrence multiplicity collapses "
    "into per-doc tf BEFORE the term shuffle "
    "(operators.text.inverted_index).",
)
def q69_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import inverted_index

    docs = Testdata(spark, sf_dir).documents
    out = inverted_index(docs, min_df=3, max_postings=20)
    return out.select(
        "term",
        "df",
        "tf_total",
        F.array_join(F.col("postings").cast("array<string>"), ",").alias(
            "postings_csv"
        ),
    )


# ===========================================================================
# q70 — incremental dedup of a batch AGAINST an existing corpus
# ===========================================================================

@query(
    "q70_dedup_against_corpus",
    oracle=f"""
    WITH {_minhash_band_ctes(num_hashes=64, bands=16)},
    nb AS (
      SELECT doc_id AS id_new, band_idx, band_key FROM bands
      WHERE doc_id >= 250
    ),
    cb AS (
      SELECT band_idx, band_key,
             (list_sort(list(DISTINCT doc_id)))[1:64] AS ids
      FROM bands WHERE doc_id < 250 GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT nb.id_new, u.id_corp
      FROM nb JOIN cb USING (band_idx, band_key),
      LATERAL unnest(cb.ids) AS u(id_corp)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_new, c.id_corp, COUNT(*) AS i
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_new
      JOIN sh b ON b.doc_id = c.id_corp AND b.s = a.s
      GROUP BY 1, 2
    ),
    hits AS (
      SELECT DISTINCT i.id_new
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_new
      JOIN sizes sb ON sb.doc_id = i.id_corp
      WHERE CAST(i.i AS DOUBLE) / CAST(sa.n + sb.n - i.i AS DOUBLE) >= 0.5
    )
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE doc_id >= 250 AND doc_id NOT IN (SELECT id_new FROM hits)
    """,
    doc="Incremental near-dedup: the doc_id>=250 batch deduped AGAINST the "
    "doc_id<250 corpus — banded-LSH equi-join between batch band rows and "
    "capped corpus buckets, exact-Jaccard verify at 0.5, batch rows with "
    "a verified corpus match dropped (operators.dedup.dedup_against).",
)
def q70_dedup_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    batch = docs.where(F.col("doc_id") >= 250)
    corpus = docs.where(F.col("doc_id") < 250)
    return dedup.dedup_against(
        batch, corpus, verify_threshold=0.5, max_shingles=None,
        hash_method="md5",
    ).select("doc_id", "lang", "source", "n_chars")


# ===========================================================================
# q71 — BM25 lexical retrieval
# ===========================================================================

_BM25_QUERIES = [
    (1, "hash"), (1, "join"), (1, "shuffle"),
    (2, "window"), (2, "stream"),
    (3, "vector"), (3, "batch"), (3, "scan"),
]


def _bm25_oracle(k: int) -> str:
    """Full BM25 top-k SQL over ``documents`` for the _BM25_QUERIES set —
    q71's oracle, reused as q80's results CTE."""
    return f"""
    WITH q(query_id, term) AS (VALUES
      {", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)}
    ),
    words AS (
      SELECT doc_id,
             unnest(string_split({_NORM.format(c='text')}, ' ')) AS term
      FROM documents
    ),
    w2 AS (SELECT doc_id, term FROM words WHERE term <> ''),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM w2 GROUP BY 1, 2),
    dl AS (SELECT doc_id, count(*) AS dl FROM w2 GROUP BY 1),
    dft AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
    scored AS (
      SELECT q.query_id, tf.doc_id,
             CAST(sum(CAST(round(
               round(ln(1 + (n.n - dft.df + 0.5) / (dft.df + 0.5)), 6)
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl.avgdl)),
             6) AS DECIMAL(18,6))) AS DOUBLE) AS score
      FROM tf
      JOIN q USING (term)
      JOIN dft USING (term)
      JOIN dl ON dl.doc_id = tf.doc_id, n, avgdl
      GROUP BY 1, 2
    )
    SELECT query_id, doc_id, score, rnk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY score DESC, doc_id ASC
      ) AS INTEGER) AS rnk FROM scored
    ) WHERE rnk <= {k}
    """


@query(
    "q71_bm25_topk",
    oracle=_bm25_oracle(5),
    doc="Okapi BM25 top-5 retrieval (k1=1.2, b=0.75, Lucene idf) for three "
    "multi-term queries — per-term contributions rounded to 6 dp and "
    "summed as DECIMAL so float order can never flip ranks across "
    "engines; idf, tf saturation, length normalization and ranking all "
    "value-checked (operators.text.bm25_scores).",
)
def q71_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.text import bm25_scores

    docs = Testdata(spark, sf_dir).documents
    qdf = spark.createDataFrame(_BM25_QUERIES, "query_id int, term string")
    out = bm25_scores(docs, qdf, k=5)
    return out.select(
        "query_id",
        "doc_id",
        "score",
        F.col("rnk").cast("int").alias("rnk"),
    )


# ===========================================================================
# q72 — product quantization ADC top-k (trained codebooks unrolled)
# ===========================================================================

def _pq_iter_ctes(i: int, s: int, sub: int) -> str:
    """One Lloyd round for PQ subspace ``s`` — the q50 iteration CTEs with
    per-subspace names (t{s}/a{i}_{s}/m{i}_{s}/c{i}_{s})."""
    prev = f"c{i - 1}_{s}"
    dist = _IVF_DIST.format(e=f"t{s}.e", c=f"{prev}.c")
    return f"""
    a{i}_{s} AS (
      SELECT vec_id, e, cell FROM (
        SELECT t{s}.vec_id, t{s}.e, {prev}.cell,
               ROW_NUMBER() OVER (PARTITION BY t{s}.vec_id ORDER BY
                 {dist} ASC, {prev}.cell ASC) AS rn
        FROM t{s}, {prev}
      ) WHERE rn = 1
    ),
    m{i}_{s} AS (
      SELECT cell, i, round(avg(e[i]), 6) AS m
      FROM a{i}_{s}, generate_series(1, {sub}) t(i) GROUP BY cell, i
    ),
    c{i}_{s} AS (
      SELECT {prev}.cell, COALESCE(n.c, {prev}.c) AS c
      FROM {prev} LEFT JOIN (
        SELECT cell, list(m ORDER BY i) AS c FROM m{i}_{s} GROUP BY cell
      ) n USING (cell)
    )"""


def _pq_oracle(
    m: int, n_codes: int, n_iter: int, k: int, dim: int, n_queries: int,
    train_cutoff: int = 500000, train_salt: int = 42,
) -> str:
    """Full PQ-ADC oracle: per-subspace sampled Lloyd training (bit-
    identical to similarity.pq_fit), corpus encoding, per-query 6-dp LUTs,
    and the left-to-right LUT-sum distance — everything value-checked."""
    sub = dim // m
    final = {s: f"c{n_iter}_{s}" for s in range(m)}
    parts = []
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        its = ",".join(_pq_iter_ctes(i, s, sub) for i in range(1, n_iter + 1))
        corpus_dist = _IVF_DIST.format(e=f"vs{s}.e", c=f"{final[s]}.c")
        query_dist = _IVF_DIST.format(e=f"qs{s}.e", c=f"{final[s]}.c")
        parts.append(f"""
    t{s} AS (SELECT vec_id, e[{lo}:{hi}] AS e FROM t),
    vs{s} AS (SELECT vec_id, e[{lo}:{hi}] AS e FROM v),
    qs{s} AS (SELECT vec_id, e[{lo}:{hi}] AS e FROM v
              WHERE vec_id < {n_queries}),
    c0_{s} AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
             list_transform(e, x -> round(x, 6)) AS c
      FROM (SELECT * FROM t{s} ORDER BY vec_id LIMIT {n_codes})
    ),{its},
    cc{s} AS (
      SELECT vec_id, cell AS code FROM (
        SELECT vs{s}.vec_id, {final[s]}.cell,
               ROW_NUMBER() OVER (PARTITION BY vs{s}.vec_id ORDER BY
                 {corpus_dist} ASC, {final[s]}.cell ASC) AS rn
        FROM vs{s}, {final[s]}
      ) WHERE rn = 1
    ),
    lut{s} AS (
      SELECT qs{s}.vec_id AS query_id, {final[s]}.cell AS code,
             round({query_dist}, 6) AS d
      FROM qs{s}, {final[s]}
    )""")
    cc_joins = "cc0 " + " ".join(
        f"JOIN cc{s} USING (vec_id)" for s in range(1, m)
    )
    lut_joins = " ".join(
        f"JOIN lut{s} l{s} ON l{s}.code = cc{s}.code"
        + ("" if s == 0 else " AND l0.query_id = l" + str(s) + ".query_id")
        for s in range(m)
    )
    dist_sum = " + ".join(f"l{s}.d" for s in range(m))
    train = _IVF_TRAIN.format(salt=train_salt, cutoff=train_cutoff)
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    {train},{",".join(parts)},
    scored AS (
      SELECT l0.query_id, cc0.vec_id AS corpus_id,
             {dist_sum} AS approx_dist
      FROM {cc_joins}
      {lut_joins}
      WHERE l0.query_id <> cc0.vec_id
    )
    SELECT query_id, corpus_id, approx_dist, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY approx_dist ASC, corpus_id ASC
      ) AS INTEGER) AS rank FROM scored
    ) WHERE rank <= {k}
    """


@query(
    "q72_pq_adc_topk",
    oracle=_pq_oracle(m=2, n_codes=8, n_iter=2, k=5, dim=64, n_queries=3),
    doc="Product quantization (Jegou et al. 2011) ADC top-5: two 32-dim "
    "subspaces, 8 codes each, trained by the same sampled deterministic "
    "Lloyd rounds as q50 per subspace; corpus rows score as the sum of "
    "per-subspace 6-dp LUT lookups — codebook training, encoding, LUTs "
    "and ranking all value-checked (operators.similarity.pq_fit/"
    "pq_encode/pq_topk).",
)
def q72_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Testdata(spark, sf_dir).embeddings
    cb = similarity.pq_fit(
        emb, m=2, n_codes=8, n_iter=2, dim=64,
        train_fraction=0.5, train_hash_method="md5",
    )
    codes = similarity.pq_encode(emb, cb)
    out = similarity.pq_topk(
        codes, emb.where(F.col("vec_id") < 3), cb, k=5
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


# ===========================================================================
# q73 — skew-safe salted aggregation (== plain GROUP BY semantics)
# ===========================================================================

@query(
    "q73_salted_agg",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           MAX(ts) AS max_ts
    FROM events
    GROUP BY event_type
    """,
    doc="Skew-safe two-phase aggregation (functions.skew.salted_agg): "
    "count/sum/max split into per-salt partials then merged — the hot-key "
    "groupBy pattern. The salt is partition-dependent but the RESULT is a "
    "pure function of the data for algebraic aggregates, so a plain "
    "GROUP BY oracle value-checks the decomposition end to end (sums ride "
    "DECIMAL so summation order can never show through).",
)
def q73_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.skew import salted_agg

    events = Testdata(spark, sf_dir).events
    return salted_agg(
        events,
        ["event_type"],
        partials={
            "n_events": F.count(F.lit(1)),
            "total_value": F.sum(F.col("value").cast("decimal(18,6)")),
            "max_ts": F.max("ts"),
        },
        merges={
            "n_events": F.sum("n_events"),
            "total_value": F.sum("total_value"),
            "max_ts": F.max("max_ts"),
        },
        salt_buckets=16,
    ).select(
        "event_type",
        "n_events",
        F.col("total_value").cast("double").alias("total_value"),
        "max_ts",
    )


# ===========================================================================
# q74 — corpus data card (per-slice census)
# ===========================================================================

@query(
    "q74_corpus_datacard",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, text,
             string_split({_NORM.format(c='text')}, ' ') AS wa
      FROM documents
    ),
    hits AS (
      SELECT doc_id, source, text,
        len(list_filter(wa, x -> x <> '')) AS n_words,
        {_marker_sql('wa', text.LANG_MARKERS['en'])} AS h_en,
        {_marker_sql('wa', text.LANG_MARKERS['es'])} AS h_es,
        {_marker_sql('wa', text.LANG_MARKERS['fr'])} AS h_fr,
        {_marker_sql('wa', text.LANG_MARKERS['de'])} AS h_de,
        {_marker_sql('wa', text.LANG_MARKERS['zh'])} AS h_zh
      FROM base
    ),
    rows_ AS (
      SELECT source,
             {_LANGPRED_CASE} AS lang_pred,
             n_words,
             CAST(length(text) AS BIGINT) AS chars,
             md5({_NORM.format(c='text')}) AS content
      FROM hits
    )
    SELECT source, lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT content) AS BIGINT) AS n_distinct_content,
           CAST(SUM(chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_words) AS DOUBLE) / COUNT(*) AS mean_doc_words,
           CAST(SUM(CASE WHEN n_words < 50 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS pct_short
    FROM rows_
    GROUP BY 1, 2
    """,
    doc="Corpus data card (datasheet practice): per (source, predicted "
    "language) census — doc counts, distinct normalized-content md5 "
    "(exact-dup volume), char/word totals, mean doc length, short-doc "
    "share; all exact-integer aggregates, one scan + one slice-key "
    "shuffle (operators.text.corpus_datacard).",
)
def q74_corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    return text.corpus_datacard(docs)


# ===========================================================================
# q75 — winnowing match pairs (the MOSS matching step)
# ===========================================================================

@query(
    "q75_winnow_match_pairs",
    oracle=f"""
    WITH {_winnow_fp_ctes()},
    buckets AS (
      SELECT fp, (list_sort(list(DISTINCT doc_id)))[1:64] AS ids
      FROM wfp GROUP BY fp
    ),
    mem AS (
      SELECT fp, generate_subscripts(ids, 1) AS p, unnest(ids) AS id
      FROM buckets WHERE len(ids) > 1
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fps
    FROM mem a JOIN mem b ON a.fp = b.fp AND a.p < b.p
    GROUP BY 1, 2
    """,
    doc="MOSS match pairs from shared winnowing fingerprints (k=5, "
    "window=4, md5 family): fingerprint buckets sorted + capped at 64, "
    "bucket-local (i<j) pairs, shared-fingerprint counts — the matching "
    "step over q19's fingerprint selection, now value-checked end to end "
    "(operators.text.winnow_candidates).",
)
def q75_winnow_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    return text.winnow_candidates(docs, k=5, window=4, hash_method="md5")


# ===========================================================================
# q76 — hard-negative mining (contrastive training pairs)
# ===========================================================================

@query(
    "q76_hard_negatives",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    a AS (SELECT * FROM v WHERE vec_id < 8),
    scored AS (
      SELECT a.vec_id AS anchor_id, v.vec_id AS pair_id,
             {_COSINE_SQL.format(a="a.e", b="v.e")} AS cosine_sim,
             CASE WHEN a.label = v.label THEN 'pos' ELSE 'neg' END
               AS pair_type
      FROM v, a WHERE a.vec_id <> v.vec_id
    )
    SELECT anchor_id, pair_id, cosine_sim, pair_type, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY anchor_id, pair_type
        ORDER BY cosine_sim DESC, pair_id ASC
      ) AS INTEGER) AS rank FROM scored
    ) WHERE rank <= CASE WHEN pair_type = 'pos' THEN 2 ELSE 3 END
    """,
    doc="Contrastive pair mining for retrieval-model training: per anchor "
    "(vec_id<8), the 3 most-similar different-label rows (hard negatives) "
    "and 2 most-similar same-label rows (hard positives), exact cosine, "
    "deterministic tie-breaks (operators.similarity.mine_hard_negatives).",
)
def q76_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Testdata(spark, sf_dir).embeddings
    out = similarity.mine_hard_negatives(
        emb, emb.where(F.col("vec_id") < 8), k_neg=3, k_pos=2
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


# ===========================================================================
# q77 — token-budget subset selection (best-first fill)
# ===========================================================================

@query(
    "q77_budget_select",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, n_chars,
             len(list_filter(string_split({_NORM.format(c='text')}, ' '),
                 x -> x <> '')) AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT doc_id, source, n_chars, n_tokens,
             CAST(SUM(n_tokens) OVER (
               ORDER BY n_chars DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM toks
    )
    SELECT doc_id, source, n_chars, n_tokens, cum_tokens
    FROM cum WHERE cum_tokens <= 20000
    """,
    doc="Token-budget subset selection: fill a 20k-token budget with the "
    "highest-scoring docs first (n_chars as the quality score), take-"
    "while cutoff on the cumulative token count — runs through the "
    "distributed two-pass prefix sum (no global-window sort), checked "
    "against a SQL cumulative window (operators.sampling.budget_select).",
)
def q77_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import budget_select
    from ..operators.text import _word_array

    # scan_floor=False (round 15): the token-count pass feeds straight
    # into distributed_prefix_sum's OWN range repartition, so the floor's
    # hash exchange is a redundant extra shuffle (interleaved A/B:
    # exchanges 14->22, tasks 303->656 with the floor on)
    docs = Testdata(spark, sf_dir, scan_floor=False).documents
    toks = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.size(F.filter(_word_array("text"), lambda w: w != "")).cast(
            "long"
        ).alias("n_tokens"),
    )
    return budget_select(
        toks, "n_tokens", "n_chars", budget_tokens=20000
    ).select("doc_id", "source", "n_chars", "n_tokens", "cum_tokens")


# ===========================================================================
# q78 — trained residual IVF-PQ, end-to-end oracle
# ===========================================================================

def _ivf_pq_oracle(
    n_cells: int, n_iter: int, n_probe: int, m: int, n_codes: int,
    pq_n_iter: int, k: int, dim: int, n_queries: int,
    train_cutoff: int = 500000, train_salt: int = 42,
) -> str:
    """The full IVF-PQ unroll: coarse sampled Lloyd training (q50's CTEs),
    per-row residuals against the trained coarse centroid, per-subspace
    sampled Lloyd PQ training ON THE RESIDUALS, residual encoding, one
    6-dp LUT per (query, probed cell), and the left-to-right LUT-sum ADC
    distance — every stage of similarity.ivf_pq_topk value-checked."""
    final = f"c{n_iter}"
    coarse_its = ",".join(_ivf_iter_ctes(i, dim) for i in range(1, n_iter + 1))
    train = _IVF_TRAIN.format(salt=train_salt, cutoff=train_cutoff)
    corpus_dist = _IVF_DIST.format(e="v.e", c=f"{final}.c")
    query_dist = _IVF_DIST.format(e="q.e", c=f"{final}.c")
    sub = dim // m
    parts = []
    for s in range(m):
        lo, hi = s * sub + 1, (s + 1) * sub
        its = ",".join(
            _pq_iter_ctes(i, s, sub) for i in range(1, pq_n_iter + 1)
        )
        pqf = f"c{pq_n_iter}_{s}"
        code_dist = _IVF_DIST.format(e=f"rs{s}.r", c=f"{pqf}.c")
        lut_dist = _IVF_DIST.format(e=f"qr{s}.qr", c=f"{pqf}.c")
        parts.append(f"""
    t{s} AS (SELECT vec_id, r[{lo}:{hi}] AS e FROM pt),
    rs{s} AS MATERIALIZED (SELECT vec_id, cell, r[{lo}:{hi}] AS r FROM res),
    c0_{s} AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
             list_transform(e, x -> round(x, 6)) AS c
      FROM (SELECT * FROM t{s} ORDER BY vec_id LIMIT {n_codes})
    ),{its},
    cc{s} AS MATERIALIZED (
      SELECT vec_id, cell, code FROM (
        SELECT rs{s}.vec_id, rs{s}.cell, {pqf}.cell AS code,
               ROW_NUMBER() OVER (PARTITION BY rs{s}.vec_id ORDER BY
                 {code_dist} ASC, {pqf}.cell ASC) AS rn
        FROM rs{s}, {pqf}
      ) WHERE rn = 1
    ),
    qr{s} AS (
      SELECT p.query_id, p.cell,
             list_transform(list_zip(p.qe[{lo}:{hi}], f.c[{lo}:{hi}]),
                            t -> t[1] - t[2]) AS qr
      FROM probe p JOIN {final} f ON f.cell = p.cell
    ),
    lut{s} AS MATERIALIZED (
      SELECT qr{s}.query_id, qr{s}.cell, {pqf}.cell AS code,
             round({lut_dist}, 6) AS d
      FROM qr{s}, {pqf}
    )""")
    lut_joins = " ".join(
        f"JOIN lut{s} l{s} ON l{s}.cell = cc{s}.cell"
        f" AND l{s}.code = cc{s}.code"
        + ("" if s == 0 else f" AND l{s}.query_id = l0.query_id")
        for s in range(m)
    )
    cc_joins = "cc0 " + " ".join(
        f"JOIN cc{s} USING (vec_id, cell)" for s in range(1, m)
    )
    dist_sum = " + ".join(f"l{s}.d" for s in range(m))
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    {train},
    c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
             list_transform(e, x -> round(x, 6)) AS c
      FROM (SELECT * FROM t ORDER BY vec_id LIMIT {n_cells})
    ),{coarse_its},
    corpus_cells AS MATERIALIZED (
      SELECT vec_id, e, cell FROM (
        SELECT v.vec_id, v.e, {final}.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 {corpus_dist} ASC, {final}.cell ASC) AS rn
        FROM v, {final}
      ) WHERE rn = 1
    ),
    res AS MATERIALIZED (
      SELECT cc.vec_id, cc.cell,
             list_transform(list_zip(cc.e, f.c), t -> t[1] - t[2]) AS r
      FROM corpus_cells cc JOIN {final} f USING (cell)
    ),
    pt AS MATERIALIZED (
      SELECT * FROM res
      WHERE ('0x' || substr(md5(concat_ws(chr(31), vec_id, {train_salt})),
             1, 15))::BIGINT % 1000000 < {train_cutoff}
    ),
    probe AS MATERIALIZED (
      SELECT query_id, qe, cell FROM (
        SELECT q.vec_id AS query_id, q.e AS qe, {final}.cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 {query_dist} ASC, {final}.cell ASC) AS rn
        FROM (SELECT * FROM v WHERE vec_id < {n_queries}) q, {final}
      ) WHERE rn <= {n_probe}
    ),{",".join(parts)},
    scored AS (
      SELECT l0.query_id, cc0.vec_id AS corpus_id,
             {dist_sum} AS approx_dist
      FROM {cc_joins}
      {lut_joins}
      WHERE l0.query_id <> cc0.vec_id
    )
    SELECT query_id, corpus_id, approx_dist, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY approx_dist ASC, corpus_id ASC
      ) AS INTEGER) AS rank FROM scored
    ) WHERE rank <= {k}
    """


@query(
    "q78_ivf_pq_topk",
    oracle=_ivf_pq_oracle(
        n_cells=8, n_iter=3, n_probe=2, m=2, n_codes=8, pq_n_iter=2,
        k=5, dim=64, n_queries=3,
    ),
    doc="Trained residual IVF-PQ ADC top-5 (FAISS encode_residual "
    "design): 8 sampled-Lloyd coarse cells route 2 probes per query; PQ "
    "codebooks (2 subspaces x 8 codes) train on x - centroid[cell] "
    "residuals; codes, per-(query, cell) 6-dp LUTs and the ADC ranking "
    "are all unrolled in the oracle — the deepest trained-state value "
    "check in the battery (operators.similarity.ivf_pq_topk).",
)
def q78_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Testdata(spark, sf_dir).embeddings
    out = similarity.ivf_pq_topk(
        emb, emb.where(F.col("vec_id") < 3), k=5,
        n_cells=8, n_iter=3, n_probe=2, m=2, n_codes=8, pq_n_iter=2,
        dim=64, train_fraction=0.5, train_hash_method="md5",
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


# ===========================================================================
# q79 — BPE merge statistics (adjacent-symbol pair counts)
# ===========================================================================

@query(
    "q79_bpe_pair_counts",
    oracle=f"""
    WITH words AS (
      SELECT unnest(string_split({_NORM.format(c='text')}, ' ')) AS w
      FROM documents
    ),
    wf AS (SELECT w, count(*) AS c FROM words WHERE w <> '' GROUP BY w),
    pairs AS (
      SELECT substr(w, CAST(i AS INTEGER), 1) AS left_sym,
             substr(w, CAST(i AS INTEGER) + 1, 1) AS right_sym, c
      FROM wf, UNNEST(range(1, length(w))) AS t(i)
      WHERE length(w) >= 2
    )
    SELECT left_sym, right_sym, CAST(SUM(c) AS BIGINT) AS pair_count
    FROM pairs GROUP BY 1, 2 HAVING SUM(c) >= 5
    """,
    doc="BPE tokenizer-training statistics (Sennrich 2016): corpus-wide "
    "adjacent-character pair counts weighted by word frequency — pair "
    "counting runs over the vocabulary table, not the corpus, so each "
    "merge iteration is dictionary-sized at any corpus scale "
    "(operators.text.bpe_pair_counts).",
)
def q79_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir, scan_floor=False).documents
    return text.bpe_pair_counts(docs, min_count=5)


# ===========================================================================
# q80 — retrieval evaluation: BM25 vs containment relevance
# ===========================================================================

@query(
    "q80_rank_metrics",
    oracle=f"""
    WITH results AS (SELECT * FROM ({_bm25_oracle(5)})),
    q(query_id, term) AS (VALUES
      {", ".join(f"({i}, '{t}')" for i, t in _BM25_QUERIES)}
    ),
    words AS (
      SELECT doc_id,
             unnest(string_split({_NORM.format(c='text')}, ' ')) AS term
      FROM documents
    ),
    tfc AS (
      SELECT doc_id, term, count(*) AS c FROM words
      WHERE term <> '' GROUP BY 1, 2
    ),
    nq AS (SELECT query_id, count(DISTINCT term) AS n_terms FROM q GROUP BY 1),
    truth AS (
      SELECT j.query_id, j.doc_id
      FROM (
        SELECT q.query_id, tfc.doc_id, count(DISTINCT q.term) AS m
        FROM q JOIN tfc ON tfc.term = q.term AND tfc.c >= 3 GROUP BY 1, 2
      ) j JOIN nq USING (query_id) WHERE j.m = nq.n_terms
    ),
    hits AS (
      SELECT r.query_id, count(*) AS hits, min(r.rnk) AS first_rnk,
             SUM(CAST(round(1.0 / log2(r.rnk + 1.0), 6)
                 AS DECIMAL(18,6))) AS dcg
      FROM results r
      JOIN truth t ON t.query_id = r.query_id AND t.doc_id = r.doc_id
      WHERE r.rnk <= 5 GROUP BY 1
    ),
    perq AS (SELECT query_id, count(*) AS n_rel FROM truth GROUP BY 1),
    idcg AS (
      SELECT query_id,
             SUM(CAST(round(1.0 / log2(i + 1.0), 6)
                 AS DECIMAL(18,6))) AS idcg
      FROM perq, UNNEST(range(1, least(5, n_rel) + 1)) t(i)
      GROUP BY query_id
    )
    SELECT p.query_id,
           CAST(p.n_rel AS BIGINT) AS n_rel,
           CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
           CAST(COALESCE(h.hits, 0) AS DOUBLE) / p.n_rel AS recall_at_k,
           CAST(COALESCE(h.hits, 0) AS DOUBLE) / 5.0 AS precision_at_k,
           COALESCE(1.0 / h.first_rnk, 0.0) AS mrr,
           COALESCE(CAST(h.dcg AS DOUBLE) / CAST(i.idcg AS DOUBLE), 0.0)
             AS ndcg
    FROM perq p
    LEFT JOIN hits h USING (query_id)
    JOIN idcg i USING (query_id)
    """,
    doc="Retrieval evaluation: BM25 top-5 (q71's exact pipeline) scored "
    "against every-query-term-at-least-3-times binary relevance (one "
    "query saturates, one records zero hits — both metric branches) — per-query "
    "recall@5 / precision@5 / MRR / NDCG, with DCG contributions 6-dp "
    "decimal-summed so the metric math is engine-exact "
    "(operators.evaluation.rank_metrics).",
)
def q80_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.evaluation import rank_metrics
    from ..operators.text import bm25_scores, term_freq

    docs = Testdata(spark, sf_dir).documents
    qdf = spark.createDataFrame(_BM25_QUERIES, "query_id int, term string")
    # ONE corpus explode for the whole evaluation (round 15, VERDICT #4):
    # the truth table used to re-derive exactly the (doc, term, count)
    # aggregation bm25 had already checkpointed internally — term_freq is
    # now computed once, materialized once, and shared by the scorer
    # (tf=...) and the relevance filter (tf >= 3 is the same count)
    tf = checkpoint(term_freq(docs))
    results = bm25_scores(docs, qdf, k=5, tf=tf)
    tfc = tf.select(
        F.col("id").alias("doc_id"), "term", F.col("tf").alias("c")
    ).where(F.col("c") >= 3)
    nq = qdf.groupBy("query_id").agg(
        F.countDistinct("term").alias("n_terms")
    )
    truth = (
        tfc.join(qdf, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("term").alias("m"))
        .join(nq, "query_id")
        .where(F.col("m") == F.col("n_terms"))
        .select("query_id", "doc_id")
    )
    return rank_metrics(
        results, truth, k=5, doc_col="doc_id", rank_col="rnk"
    )


# ===========================================================================
# q81 — Zipf-law corpus diagnostics (least-squares fit)
# ===========================================================================

@query(
    "q81_zipf_fit",
    oracle=f"""
    WITH words AS (
      SELECT unnest(string_split({_NORM.format(c='text')}, ' ')) AS term
      FROM documents
    ),
    freq AS (
      SELECT term, count(*) AS freq FROM words WHERE term <> ''
      GROUP BY term
    ),
    ranked AS (
      SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, term ASC) AS rank
      FROM freq QUALIFY rank <= 200
    ),
    pts AS (
      SELECT round(ln(CAST(rank AS DOUBLE)), 6) AS x,
             round(ln(CAST(freq AS DOUBLE)), 6) AS y
      FROM ranked
    ),
    sums AS (
      SELECT CAST(count(*) AS BIGINT) AS n_terms,
             SUM(CAST(round(x, 6) AS DECIMAL(18,6))) AS sx,
             SUM(CAST(round(y, 6) AS DECIMAL(18,6))) AS sy,
             SUM(CAST(round(x * y, 6) AS DECIMAL(18,6))) AS sxy,
             SUM(CAST(round(x * x, 6) AS DECIMAL(18,6))) AS sxx,
             SUM(CAST(round(y * y, 6) AS DECIMAL(18,6))) AS syy
      FROM pts
    )
    SELECT n_terms,
      (n_terms * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (n_terms * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        AS slope,
      (CAST(sy AS DOUBLE)
        - (n_terms * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
          / (n_terms * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * CAST(sx AS DOUBLE)) / n_terms AS intercept,
      (n_terms * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        * (n_terms * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / ((n_terms * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * (n_terms * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
        AS r2
    FROM sums
    """,
    doc="Zipf-law corpus diagnostics: least-squares ln(freq)-vs-ln(rank) "
    "fit over the top-200 terms (slope ≈ -1 for natural text) — the "
    "regression sums ride 6-dp DECIMALs so the fitted slope/intercept/r² "
    "are bit-identical across engines (operators.text.zipf_fit).",
)
def q81_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    return text.zipf_fit(docs, top_n=200)


# ===========================================================================
# q82 — curriculum staging (easy-first equal-width stages)
# ===========================================================================

@query(
    "q82_curriculum_stages",
    oracle="""
    WITH pos AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (ORDER BY n_chars ASC, doc_id ASC) AS p,
             COUNT(*) OVER () AS n
      FROM documents
    )
    SELECT doc_id, source, n_chars,
           CAST(FLOOR(4 * (p - 1) / n) AS INTEGER) AS stage
    FROM pos
    """,
    doc="Curriculum-learning staging: corpus ordered easy-first (n_chars "
    "ascending as the difficulty score), split into 4 equal-width "
    "stages from the deterministic global position — computed by the "
    "distributed two-pass prefix sum, never a global ORDER BY window "
    "(operators.sampling.curriculum_stages).",
)
def q82_curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import curriculum_stages

    docs = Testdata(spark, sf_dir).documents
    return curriculum_stages(docs, "n_chars", 4).select(
        "doc_id", "source", "n_chars", "stage"
    )


# ===========================================================================
# q83 — declarative data-quality validation (one-pass rule evaluation)
# ===========================================================================

@query(
    "q83_validate",
    oracle="""
    WITH agg AS (
      SELECT
        CAST(SUM(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS doc_id_not_null,
        CAST(SUM(CASE WHEN n_chars IS NOT NULL
                       AND (n_chars < 1 OR n_chars > 100000)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_in_range,
        CAST(SUM(CASE WHEN lang IS NOT NULL
                       AND lang NOT IN ('en', 'es', 'fr', 'de', 'zh')
                 THEN 1 ELSE 0 END) AS BIGINT) AS lang_accepted,
        CAST(SUM(CASE WHEN source IS NOT NULL
                       AND NOT regexp_matches(source, '^src[0-9]+$')
                 THEN 1 ELSE 0 END) AS BIGINT) AS source_format,
        CAST(COUNT(*) - COUNT(DISTINCT doc_id) AS BIGINT) AS doc_id_unique
      FROM documents
    )
    SELECT 'doc_id_not_null' AS rule, doc_id_not_null AS violations FROM agg
    UNION ALL
    SELECT 'n_chars_in_range', n_chars_in_range FROM agg
    UNION ALL
    SELECT 'lang_accepted', lang_accepted FROM agg
    UNION ALL
    SELECT 'source_format', source_format FROM agg
    UNION ALL
    SELECT 'doc_id_unique', doc_id_unique FROM agg
    """,
    doc="Declarative data-quality gate (dbt-test shape): five rules — "
    "not-null, range, accepted values, regex format, key uniqueness — "
    "evaluated in ONE aggregation pass over the table, one row per rule "
    "with its violation count (operators.validate).",
)
def q83_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import validate as V

    docs = Testdata(spark, sf_dir).documents
    return V.validate(
        docs,
        rules={
            "doc_id_not_null": V.not_null("doc_id"),
            "n_chars_in_range": V.in_range("n_chars", 1, 100000),
            "lang_accepted": V.accepted_values(
                "lang", ["en", "es", "fr", "de", "zh"]
            ),
            "source_format": V.matches("source", r"^src[0-9]+$"),
        },
        unique={"doc_id_unique": ["doc_id"]},
    )


# ===========================================================================
# q84 — dataset snapshot diff (added / removed / changed / unchanged)
# ===========================================================================

@query(
    "q84_snapshot_diff",
    oracle="""
    WITH old AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id < 400
    ),
    new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 10 = 0 THEN text || ' v2' ELSE text END)
               AS h
      FROM documents WHERE doc_id >= 100
    ),
    diff AS (
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.h IS NULL THEN 'added'
                  WHEN n.h IS NULL THEN 'removed'
                  WHEN o.h <> n.h THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM old o FULL OUTER JOIN new n USING (doc_id)
    )
    SELECT change, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM diff GROUP BY change
    """,
    doc="Dataset version diff: snapshots doc_id<400 vs doc_id>=100 (with "
    "every 10th doc textually edited) classified added/removed/changed/"
    "unchanged via (id, content-md5) full-outer join — content columns "
    "never shuffle (operators.validate.snapshot_diff).",
)
def q84_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.validate import snapshot_diff

    # scan_floor=False (round 15): snapshot_diff is a hash-compare join
    # at metadata grain, not a compute-bound per-row pipeline — the
    # floor only added tasks (10->72) for identical work
    docs = Testdata(spark, sf_dir, scan_floor=False).documents
    old = docs.where(F.col("doc_id") < 400)
    new = docs.where(F.col("doc_id") >= 100).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 0, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new).groupBy("change").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


# ===========================================================================
# q85 — cross-modal curation capstone: exact dedup → quality → SemDeDup
# ===========================================================================

@query(
    "q85_crossmodal_curation",
    oracle=f"""
    WITH {_semantic_dedup_ctes(n_cells=8, n_iter=3, threshold=0.35,
                               max_cell=1024, dim=64)},
    hashed AS (
      SELECT doc_id, source,
             md5({_NORM.format(c='text')}) AS content_hash,
             len(list_filter(string_split({_NORM.format(c='text')}, ' '),
                 x -> x <> '')) AS n_words
      FROM documents
    ),
    exact AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY content_hash ORDER BY doc_id ASC
        ) AS rn FROM hashed
      ) WHERE rn = 1
    ),
    kept AS (
      SELECT e.doc_id, e.source, e.n_words
      FROM exact e
      WHERE e.n_words >= 10
        AND e.doc_id NOT IN (SELECT id FROM dups)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words
    FROM kept GROUP BY source
    """,
    doc="Cross-modal curation capstone: exact dedup (min-id per "
    "normalized-content md5) → quality gate (>=10 words) → SEMANTIC "
    "dedup over the docs' embeddings (doc_id = vec_id; the full q68 "
    "trained SemDeDup decides is_dup) → per-source survivor census. "
    "Three operator families composed in one value-checked pipeline.",
)
def q85_crossmodal_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    td = Testdata(spark, sf_dir)
    docs, emb = td.documents, td.embeddings
    exact = dedup.exact_dedup(docs)
    quality = text.quality_features(exact).where(F.col("n_words") >= 10)
    sem = similarity.semantic_dedup(
        emb, threshold=0.35, n_cells=8, n_iter=3, dim=64,
        train_fraction=0.5, train_hash_method="md5", max_cell=1024,
    )
    # Left join + treat a missing embedding row as NOT-dup: the oracle
    # keeps any doc NOT IN dups, so a doc without an embedding must
    # survive on this side too (an inner join would silently drop it —
    # latent engine/oracle divergence if embedding coverage ever stops
    # being 1:1 with documents).
    kept = quality.join(
        sem.select(F.col("vec_id").alias("doc_id"), "is_dup"),
        "doc_id",
        "left",
    ).where(~F.coalesce(F.col("is_dup"), F.lit(False))).drop("is_dup")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
    )


# ===========================================================================
# q86 — IVF-PQ SERVING path: persisted index, ADC + exact re-rank, no
# training in the timed path (r5 verdict item 3: q78 deliberately times
# the full training pipeline for oracle depth; this entry shows the cost a
# user actually pays per query batch against a built index — the
# train/maintain-offline, serve-cheap split of the reference's
# merge-at-read design, cf. reference
# dags/initial_load_generate_postgres_data.py:97-98).
# ===========================================================================

_Q86 = dict(n_cells=8, m=2, n_codes=8, n_probe=2, k=5, rerank=20, dim=64,
            n_queries=3)


def _q86_root(sf_dir: str) -> str:
    """Cache root for the persisted q86 index, keyed on the embeddings
    vintage (``_vintage_root``)."""
    return _vintage_root(sf_dir, "embeddings", "spark_graft_q86")


_Q86_MODEL_CACHE: dict = {}


def _q86_model(spark: SparkSession, sf_dir: str):
    """Fixed deterministic model — init-only (n_iter=0) coarse centroids
    (the n_cells smallest vec_ids' embeddings, 6-dp rounded) and init-only
    residual PQ codebooks (the n_codes smallest vec_ids' residual slices,
    6-dp rounded). No Lloyd rounds, so the SQL oracle needs no training
    unroll; serving semantics (routing, residual ADC, re-rank) are
    identical to a trained model's.

    Because init-only fitting reads only the ``max(n_cells, n_codes)``
    smallest ids, the fit frames are pre-filtered to those rows (a pushed
    ``vec_id <`` predicate — identical results, corpus-size-independent
    model derivation), and the tiny model is memoized per cache root so
    repeated serving calls in one process pay zero fit jobs — what a real
    query server does with its model state."""
    emb = Testdata(spark, sf_dir).embeddings
    p = _Q86
    key = _q86_root(sf_dir)
    if key in _Q86_MODEL_CACHE:
        cents, cb = _Q86_MODEL_CACHE[key]
        return emb, cents, cb
    seed = emb.where(
        F.col("vec_id") < max(p["n_cells"], p["n_codes"])
    )
    cents = similarity.kmeans_fit(
        seed, n_cells=p["n_cells"], n_iter=0, dim=p["dim"]
    )
    cb = similarity.ivf_pq_fit(
        seed, cents, m=p["m"], n_codes=p["n_codes"], n_iter=0, dim=p["dim"]
    )
    _Q86_MODEL_CACHE[key] = (cents, cb)
    return emb, cents, cb


def _q86_prepare(spark: SparkSession, sf_dir: str) -> None:
    """Build the persisted index once per (sf_dir, data vintage); no-op
    when the cache is warm. bench.py runs this untimed in warm-up.
    Published through ``_staged_publish`` (concurrent first touches wait
    on its lock for one build), then the in-process model memo is
    warmed."""

    def build(stage: str) -> None:
        emb, cents, cb = _q86_model(spark, sf_dir)
        similarity.ivf_index_write(
            emb, cents, stage, dim=_Q86["dim"], codebooks=cb
        )

    _staged_publish(_q86_root(sf_dir), sf_dir, build)
    _q86_model(spark, sf_dir)


def _q86_oracle() -> str:
    p = _Q86
    sub = p["dim"] // p["m"]
    dist = _IVF_DIST
    cos = (
        "list_sum(list_transform(list_zip(qv.e, cv.e), t -> t[1] * t[2]))"
        " / (sqrt(list_sum(list_transform(qv.e, x -> x * x)))"
        " * sqrt(list_sum(list_transform(cv.e, x -> x * x))))"
    )
    cb_parts, cc_parts, lut_parts = [], [], []
    for s in range(p["m"]):
        lo, hi = s * sub + 1, (s + 1) * sub
        code_dist = dist.format(e=f"res.r[{lo}:{hi}]", c=f"cb{s}.c")
        lut_dist = dist.format(e=f"qr{s}.qr", c=f"cb{s}.c")
        cb_parts.append(f"""
    cb{s} AS MATERIALIZED (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code,
             list_transform(r[{lo}:{hi}], x -> round(x, 6)) AS c
      FROM (SELECT * FROM res WHERE vec_id < {p["n_codes"]} ORDER BY vec_id)
    )""")
        cc_parts.append(f"""
    cc{s} AS MATERIALIZED (
      SELECT vec_id, cell, code FROM (
        SELECT res.vec_id, res.cell, cb{s}.code,
               ROW_NUMBER() OVER (PARTITION BY res.vec_id ORDER BY
                 {code_dist} ASC, cb{s}.code ASC) AS rn
        FROM res, cb{s}
      ) WHERE rn = 1
    )""")
        lut_parts.append(f"""
    qr{s} AS (
      SELECT p.query_id, p.cell,
             list_transform(list_zip(p.qe[{lo}:{hi}], f.c[{lo}:{hi}]),
                            t -> t[1] - t[2]) AS qr
      FROM probe p JOIN cents f ON f.cell = p.cell
    ),
    lut{s} AS MATERIALIZED (
      SELECT qr{s}.query_id, qr{s}.cell, cb{s}.code,
             round({lut_dist}, 6) AS d
      FROM qr{s}, cb{s}
    )""")
    corpus_dist = dist.format(e="v.e", c="cents.c")
    query_dist = dist.format(e="q.e", c="cents.c")
    cc_joins = "cc0 " + " ".join(
        f"JOIN cc{s} USING (vec_id, cell)" for s in range(1, p["m"])
    )
    lut_joins = " ".join(
        f"JOIN lut{s} l{s} ON l{s}.cell = cc{s}.cell"
        f" AND l{s}.code = cc{s}.code"
        + ("" if s == 0 else f" AND l{s}.query_id = l0.query_id")
        for s in range(p["m"])
    )
    dist_sum = " + ".join(f"l{s}.d" for s in range(p["m"]))
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cents AS MATERIALIZED (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
             list_transform(e, x -> round(x, 6)) AS c
      FROM (SELECT * FROM v WHERE vec_id < {p["n_cells"]} ORDER BY vec_id)
    ),
    corpus_cells AS MATERIALIZED (
      SELECT vec_id, e, cell FROM (
        SELECT v.vec_id, v.e, cents.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 {corpus_dist} ASC, cents.cell ASC) AS rn
        FROM v, cents
      ) WHERE rn = 1
    ),
    res AS MATERIALIZED (
      SELECT cc.vec_id, cc.cell,
             list_transform(list_zip(cc.e, f.c), t -> t[1] - t[2]) AS r
      FROM corpus_cells cc JOIN cents f USING (cell)
    ),{",".join(cb_parts)},{",".join(cc_parts)},
    probe AS MATERIALIZED (
      SELECT query_id, qe, cell FROM (
        SELECT q.vec_id AS query_id, q.e AS qe, cents.cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 {query_dist} ASC, cents.cell ASC) AS rn
        FROM (SELECT * FROM v WHERE vec_id < {p["n_queries"]}) q, cents
      ) WHERE rn <= {p["n_probe"]}
    ),{",".join(lut_parts)},
    adc AS (
      SELECT l0.query_id, cc0.vec_id AS corpus_id,
             {dist_sum} AS approx_dist
      FROM {cc_joins}
      {lut_joins}
      WHERE l0.query_id <> cc0.vec_id
    ),
    short AS (
      SELECT query_id, corpus_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY approx_dist ASC, corpus_id ASC
        ) AS rn FROM adc
      ) WHERE rn <= {p["rerank"]}
    ),
    rer AS (
      SELECT s.query_id, s.corpus_id, {cos} AS cosine_sim
      FROM short s
      JOIN v cv ON cv.vec_id = s.corpus_id
      JOIN v qv ON qv.vec_id = s.query_id
    )
    SELECT query_id, corpus_id, cosine_sim, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, corpus_id ASC
      ) AS INTEGER) AS rank FROM rer
    ) WHERE rank <= {p["k"]}
    """


@query(
    "q86_ivf_pq_serve",
    oracle=_q86_oracle(),
    doc="IVF-PQ SERVING cost: search a PERSISTED cell-partitioned index "
    "(built untimed by bench warm-up via Q.prepare; rebuilt on cache miss) "
    "with a fixed init-only model — probed-cell partition pruning, "
    "codes-not-embeddings ADC scan, top-20 shortlist, exact cosine "
    "re-rank to top-5. The serving twin of q78 (which times the full "
    "training pipeline): operators.similarity.ivf_index_search.",
    prepare=_q86_prepare,
)
def q86_ivf_pq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _Q86
    _q86_prepare(spark, sf_dir)  # no-op when the bench warm-up built it
    # the model is tiny and deterministic; re-derive it (two bounded
    # collects) rather than deserializing Python state from the cache
    emb, cents, cb = _q86_model(spark, sf_dir)
    out = similarity.ivf_index_search(
        spark, _q86_root(sf_dir),
        emb.where(F.col("vec_id") < p["n_queries"]),
        k=p["k"], n_probe=p["n_probe"], dim=p["dim"],
        codebooks=cb, rerank=p["rerank"], centroids=cents,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


# ===========================================================================
# q87 — line-level boilerplate dedup (CCNet / RefinedWeb line-dedup pass)
# ===========================================================================

@query(
    "q87_line_dedup",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, {_NORM.format(c='text')} AS t FROM documents
    ),
    lined AS (
      SELECT doc_id,
             regexp_replace(t, '(\\S+ \\S+ \\S+ \\S+) ',
                            '\\1' || chr(10), 'g') AS t
      FROM norm
    ),
    parts AS (
      SELECT doc_id, string_split(t, chr(10)) AS p FROM lined
    ),
    lines AS (
      SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
             p[CAST(i AS INTEGER)] AS line
      FROM parts, UNNEST(range(1, len(p) + 1)) t(i)
    ),
    boiler AS (
      SELECT md5(line) AS h FROM lines
      GROUP BY 1 HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    kept AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(line, chr(10) ORDER BY pos) AS clean_text
      FROM lines
      WHERE md5(line) NOT IN (SELECT h FROM boiler)
      GROUP BY doc_id
    )
    SELECT li.doc_id,
           CAST(len(string_split(li.t, chr(10))) AS BIGINT) AS n_lines,
           CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
           md5(COALESCE(k.clean_text, '')) AS clean_hash
    FROM lined li LEFT JOIN kept k USING (doc_id)
    """,
    doc="Line-level boilerplate dedup (CCNet / RefinedWeb §3.3): "
    "normalized docs are split into 4-word lines (single regex pass — no "
    "per-line lambda re-evaluation); any exact line present in >=2 "
    "distinct docs is boilerplate and drops from every doc; survivors "
    "keep document order. Value-checks operators.dedup.duplicate_lines "
    "end-to-end: per-doc line totals, kept counts, and the md5 of the "
    "rebuilt text.",
)
def q87_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    lined = docs.select(
        "doc_id",
        F.regexp_replace(
            dedup.normalize_text("text"),
            r"(\S+ \S+ \S+ \S+) ",
            "$1\n",
        ).alias("text"),
    )
    out = dedup.duplicate_lines(lined, min_docs=2)
    return out.select(
        "doc_id",
        "n_lines",
        "n_kept",
        F.md5("clean_text").alias("clean_hash"),
    )


# ===========================================================================
# q88 — BPE merge learning: 5 unrolled merge rounds (Sennrich alg. 1)
# ===========================================================================

def _bpe_chain_ctes(n_merges: int, carry_word: bool = False) -> str:
    """Unrolled BPE training CTE chain: v0 = per-character segmentation of
    the word frequency table (leading-sep form ``chr(31)+c1+chr(31)+c2``);
    round i = pair counts on v{i}'s parsed symbol lists, argmax b{i}
    (count desc / left asc / right asc — integer-exact, engine-portable),
    v{i+1} = the winning pair merged into every word via the SAME left
    fold as ``text._bpe_merge_fold`` (list_reduce with '' prepended as
    the init accumulator: last-symbol == l and current == r splices the
    merged tail, else append). A string replace is NOT equivalent —
    round-6 review finding: unanchored it merges across symbol
    boundaries, anchored it misses adjacent/overlapping occurrences.
    ``carry_word`` keeps the word itself through the chain so v{n}
    doubles as the word → final-segmentation mapping (q94's encoder)."""
    wsel = "w, " if carry_word else ""
    syms = "list_filter(string_split(s, chr(31)), x -> x <> '')"
    its = []
    for i in range(n_merges):
        # the winner (l, r) joins in as columns — DuckDB lambdas cannot
        # contain subqueries, but they CAN capture outer row columns. The
        # join is LEFT ON TRUE: when a round finds no pair (vocabulary
        # exhausted before n_merges — b{i} empty), NULL l/r make every
        # CASE test NULL so the fold rebuilds s unchanged, mirroring the
        # Spark loop's `break`; a plain cross join would annihilate the
        # whole chain and return zero rows (round-6 review finding,
        # reproduced on a two-word corpus)
        fold = f"""list_reduce(
        list_prepend('', {syms}),
        (acc, x) -> CASE
          WHEN ends_with(acc, chr(31) || b{i}.l) AND x = b{i}.r
          THEN left(acc, length(acc) - length(b{i}.l) - 1)
               || chr(31) || b{i}.l || b{i}.r
          ELSE acc || chr(31) || x END)"""
        its.append(f"""
    p{i} AS (
      SELECT a[CAST(j AS INTEGER)] AS l, a[CAST(j + 1 AS INTEGER)] AS r,
             SUM(freq) AS c
      FROM (SELECT {syms} AS a, freq FROM v{i}),
           UNNEST(range(1, len(a))) t(j)
      GROUP BY 1, 2
    ),
    b{i} AS MATERIALIZED (
      SELECT l, r, c FROM p{i} ORDER BY c DESC, l ASC, r ASC LIMIT 1
    ),
    v{i + 1} AS MATERIALIZED (
      SELECT {wsel}{fold} AS s, freq
      FROM v{i} LEFT JOIN b{i} ON TRUE
    )""")
    return f"""words AS (
      SELECT w, count(*) AS freq FROM (
        SELECT unnest(string_split({_NORM.format(c='text')}, ' ')) AS w
        FROM documents
      ) WHERE w <> '' GROUP BY w
    ),
    v0 AS MATERIALIZED (
      SELECT {wsel}regexp_replace(w, '(.)', chr(31) || '\\1', 'g') AS s,
             freq
      FROM words
    ),{",".join(its)}"""


def _bpe_merge_oracle(n_merges: int) -> str:
    finals = " UNION ALL ".join(
        f"SELECT CAST({i + 1} AS INTEGER) AS merge_rank, l AS left_sym,"
        f" r AS right_sym, CAST(c AS BIGINT) AS pair_count FROM b{i}"
        for i in range(n_merges)
    )
    return f"""
    WITH {_bpe_chain_ctes(n_merges)}
    {finals}
    """


@query(
    "q88_bpe_learn_merges",
    oracle=_bpe_merge_oracle(5),
    doc="FULL BPE tokenizer training, 5 merge rounds (Sennrich 2016 "
    "alg. 1; q79 is round 0's counting stage): word-frequency table -> "
    "character segmentation -> iterate count-pairs / merge-argmax, ties "
    "count desc then lexicographic. Every round runs on the "
    "vocabulary-sized table; the oracle unrolls all five rounds "
    "(operators.text.bpe_learn_merges).",
)
def q88_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    norm = docs.select(dedup.normalize_text("text").alias("text"))
    # batch=True (optimization round 14): the safe-prefix batched learner
    # is PROVABLY order-equivalent to the strict per-merge loop
    # (equivalence-tested at n_merges=5/64 + adversarial ties), and cuts
    # the one-driver-round-trip-per-merge loop toward O(n/k) jobs — the
    # oracle unroll matches either by construction.
    return text.bpe_learn_merges(norm, n_merges=5, batch=True)


# ===========================================================================
# q89 — unigram-LM document quality score (CCNet shape)
# ===========================================================================

@query(
    "q89_unigram_nll",
    oracle=f"""
    WITH dw AS (
      SELECT doc_id, w FROM (
        SELECT doc_id,
               unnest(string_split({_NORM.format(c='text')}, ' ')) AS w
        FROM documents
      ) WHERE w <> ''
    ),
    wf AS (SELECT w, count(*) AS c FROM dw GROUP BY w),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM wf)
    SELECT dw.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(SUM(CAST(round(-ln(CAST(wf.c AS DOUBLE)
                                   / CAST(n.n AS DOUBLE)), 6)
                    AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS avg_nll
    FROM dw JOIN wf USING (w), n
    GROUP BY dw.doc_id
    """,
    doc="Unigram-LM document quality scoring (CCNet / Wenzek 2020 shape): "
    "corpus word frequencies are the model; each doc scores mean "
    "-ln p(word), 6-dp rounded per word and DECIMAL-summed so the score "
    "is engine-exact (operators.text.unigram_nll_score).",
)
def q89_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    norm = docs.select("doc_id", dedup.normalize_text("text").alias("text"))
    return text.unigram_nll_score(norm)


# ===========================================================================
# q90 — weighted PageRank over the word-adjacency graph (3 iterations)
# ===========================================================================

def _pagerank_oracle(n_iter: int, damping: float = 0.85) -> str:
    """Unrolled PageRank mirroring operators.graph.pagerank exactly:
    12-dp rounded per-edge contributions DECIMAL(28,12)-summed, uniform
    dangling-mass redistribution, per-iteration 12-dp rank rounding —
    float summation order can never differ between engines."""
    its = []
    for i in range(n_iter):
        its.append(f"""
    d{i} AS (
      SELECT COALESCE(SUM(CAST(r.rank AS DECIMAL(28,12))),
                      CAST(0 AS DECIMAL(28,12))) AS dm
      FROM r{i} r JOIN base b USING (node) WHERE b.out_weight = 0.0
    ),
    c{i} AS (
      SELECT e.dst AS node,
             SUM(CAST(round(r.rank * e.wt / b.out_weight, 12)
                 AS DECIMAL(28,12))) AS cin
      FROM r{i} r JOIN base b USING (node) JOIN edges e ON e.src = r.node
      WHERE b.out_weight > 0.0 GROUP BY 1
    ),
    r{i + 1} AS MATERIALIZED (
      SELECT b.node,
             round((1.0 - {damping}) / nn.n
                   + {damping} * (COALESCE(CAST(c.cin AS DOUBLE), 0.0)
                                  + CAST(d.dm AS DOUBLE)
                                    / CAST(nn.n AS DOUBLE)), 12) AS rank
      FROM base b LEFT JOIN c{i} c ON c.node = b.node, d{i} d, nn
    )""")
    return f"""
    WITH dw AS (
      SELECT list_filter(string_split({_NORM.format(c='text')}, ' '),
                         x -> x <> '') AS w
      FROM documents
    ),
    edges AS MATERIALIZED (
      SELECT w[CAST(j AS INTEGER)] AS src, w[CAST(j + 1 AS INTEGER)] AS dst,
             CAST(count(*) AS DOUBLE) AS wt
      FROM dw, UNNEST(range(1, len(w))) t(j)
      GROUP BY 1, 2
    ),
    nodes AS (
      SELECT src AS node FROM edges UNION SELECT dst FROM edges
    ),
    ow AS (SELECT src AS node, SUM(wt) AS out_weight FROM edges GROUP BY 1),
    base AS MATERIALIZED (
      SELECT n.node, COALESCE(ow.out_weight, 0.0) AS out_weight
      FROM nodes n LEFT JOIN ow USING (node)
    ),
    nn AS (SELECT COUNT(*) AS n FROM base),
    r0 AS MATERIALIZED (
      SELECT node, round(1.0 / nn.n, 12) AS rank FROM base, nn
    ),{",".join(its)}
    SELECT r.node, r.rank, b.out_weight
    FROM r{n_iter} r JOIN base b USING (node)
    """


@query(
    "q90_pagerank",
    oracle=_pagerank_oracle(3),
    doc="Weighted PageRank (Page et al. 1999), 3 iterations at d=0.85, "
    "over the corpus word-adjacency graph (edge = adjacent word pair, "
    "weight = corpus count): the iterative-propagation pattern — one "
    "equi-join + one aggregation per superstep, rank tables re-rooted "
    "via eager localCheckpoint, dangling mass redistributed uniformly. "
    "12-dp decimal contribution sums make every iteration engine-exact "
    "(operators.graph.pagerank).",
)
def q90_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank

    docs = Testdata(spark, sf_dir).documents
    wcol = F.filter(
        F.split(dedup.normalize_text("text"), " "), lambda x: x != ""
    )
    # slice length is clamped at 0: an empty/punctuation-only doc gives
    # n=0, and slice(col, 1, -1) throws at runtime (ADVICE r7) — such
    # docs simply contribute no bigram edges
    n = F.greatest(F.size(wcol) - 1, F.lit(0))
    pairs = docs.select(
        F.explode(
            F.arrays_zip(F.slice(wcol, 1, n), F.slice(wcol, 2, n))
        ).alias("p")
    )
    edges = pairs.groupBy(
        F.col("p")["0"].alias("src"), F.col("p")["1"].alias("dst")
    ).agg(F.count(F.lit(1)).cast("double").alias("wt"))
    return pagerank(edges, n_iter=3, weight_col="wt")


# ===========================================================================
# q93 — weighted sampling without replacement (Efraimidis-Spirakis A-ES)
# ===========================================================================

@query(
    "q93_weighted_sample",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ln((('0x' || substr(md5(concat_ws(chr(31), doc_id, 42)), 1, 15))
                 ::BIGINT % 1000000 + 0.5) / 1000000.0)
             / CAST(n_chars AS DOUBLE) AS es_key
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        ORDER BY es_key DESC, doc_id ASC
      ) AS rn FROM keyed
    ) WHERE rn <= 50
    """,
    doc="Deterministic weighted sampling WITHOUT replacement (Efraimidis-"
    "Spirakis A-ES): 50 docs weighted by n_chars, ranked by the monotone-"
    "equivalent ln(u)/w key over the md5 hash family — membership is a "
    "pure function of the data; global top-k is TakeOrderedAndProject, "
    "never a global sort (operators.sampling.weighted_sample).",
)
def q93_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import weighted_sample

    docs = Testdata(spark, sf_dir, scan_floor=False).documents.where(F.col("n_chars") > 0)
    out = weighted_sample(
        docs, k=50, weight_col="n_chars", keys=["doc_id"], method="md5"
    )
    return out.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


# ===========================================================================
# q94 — BPE tokenizer APPLICATION: encode the corpus with q88's merges
# ===========================================================================

@query(
    "q94_bpe_tokenize",
    oracle=f"""
    WITH {_bpe_chain_ctes(5, carry_word=True)},
    tok AS (
      SELECT w,
             CAST(len(list_filter(string_split(s, chr(31)), x -> x <> ''))
                  AS BIGINT) AS t,
             CAST(len(w) AS BIGINT) AS ch
      FROM v5
    ),
    dw AS (
      SELECT doc_id, w FROM (
        SELECT doc_id,
               unnest(string_split({_NORM.format(c='text')}, ' ')) AS w
        FROM documents
      ) WHERE w <> ''
    )
    SELECT dw.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(SUM(tok.t) AS BIGINT) AS n_tokens,
           CAST(SUM(tok.ch) AS DOUBLE) / CAST(SUM(tok.t) AS DOUBLE)
             AS chars_per_token
    FROM dw JOIN tok USING (w)
    GROUP BY dw.doc_id
    """,
    doc="BPE tokenizer APPLICATION (the encode half of q88's training): "
    "learn 5 merges, apply them on the VOCABULARY table (literal replace "
    "chain in merge order — the corpus only joins word -> token-count), "
    "and report per-doc n_words / n_tokens / chars_per_token "
    "(operators.text.bpe_tokenize_counts).",
)
def q94_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents
    norm = docs.select(
        "doc_id", dedup.normalize_text("text").alias("text")
    )
    # batch=True: provably order-equivalent batched learning (see q88)
    learned = text.bpe_learn_merges(norm, n_merges=5, batch=True).collect()
    merges = [(r.left_sym, r.right_sym) for r in
              sorted(learned, key=lambda r: r.merge_rank)]
    return text.bpe_tokenize_counts(norm, merges)


# ===========================================================================
# q98 — audio decode: REAL dependency-free RIFF/WAVE PCM parsing end-to-end
# (round-7; retires the audio slice of the multimodal decode stub the way
# PPM/BMP did for images). The payload is a deterministic pure function of
# documents.text (operators.multimodal.synth_wav), so every decoded stat —
# frame count, duration, peak, RMS — is value-checked against an oracle
# that derives the identical int16 samples in SQL. rms needs NO rounding
# fudge: integer sum-of-squares (< 2^53, exact in double) followed by two
# correctly-rounded IEEE ops (divide, sqrt) is bit-identical across
# engines.
# ===========================================================================

@query(
    "q98_wav_stats",
    oracle="""
    WITH chars AS (
      SELECT doc_id,
             ((unicode(substr(text, CAST(i AS INTEGER), 1)) * 257
               + 7 * CAST(i AS INTEGER)) % 65536) - 32768 AS s
      FROM documents, UNNEST(range(1, length(text) + 1)) t(i)
      WHERE text IS NOT NULL
    ),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_frames,
             MAX(ABS(s)) AS peak,
             sqrt(CAST(SUM(s * s) AS DOUBLE) / COUNT(*)) AS rms
      FROM chars GROUP BY doc_id
    )
    SELECT d.doc_id,
           8000 AS sample_rate,
           1 AS channels,
           16 AS bits,
           COALESCE(a.n_frames, 0) AS n_frames,
           (COALESCE(a.n_frames, 0) * 1000) // 8000 AS duration_ms,
           a.peak AS peak,
           a.rms AS rms
    FROM documents d LEFT JOIN agg a USING (doc_id)
    WHERE d.text IS NOT NULL
    """,
    doc="Real audio decode: documents.text -> deterministic mono 16-bit "
    "PCM WAV payload (multimodal.synth_wav) -> hand-rolled RIFF chunk-walk "
    "parse (multimodal._wav_decode) -> per-doc waveform stats, all inside "
    "Arrow-batched mapInPandas. The oracle rebuilds the exact samples from "
    "text codepoints in SQL; peak/RMS match bit-for-bit.",
)
def q98_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = Testdata(spark, sf_dir, scan_floor=False).documents.where(F.col("text").isNotNull())
    wav = multimodal.synth_wav(docs)
    stats = multimodal.decode_audio(wav)
    return stats.select(
        F.col("media_id").alias("doc_id"),
        "sample_rate", "channels", "bits",
        "n_frames", "duration_ms", "peak", "rms",
    )


# ===========================================================================
# q102 — Gopher repetition-quality gate (Rae et al. 2021, word-adapted)
# ===========================================================================

@query(
    "q102_gopher_gate",
    oracle=f"""
    WITH nw AS (
      SELECT doc_id, string_split({_NORM.format(c='text')}, ' ') AS p
      FROM documents WHERE text IS NOT NULL
    ),
    w2 AS (
      SELECT doc_id, CAST(i AS INTEGER) AS pos, p[CAST(i AS INTEGER)] AS w
      FROM nw, UNNEST(range(1, len(p) + 1)) t(i)
      WHERE p[CAST(i AS INTEGER)] <> ''
    ),
    stats AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
             COUNT(DISTINCT w) AS n_distinct,
             SUM(length(w)) AS n_chars
      FROM w2 GROUP BY doc_id
    ),
    topw AS (
      SELECT doc_id, w AS top_word, cnt * wlen AS top_word_chars FROM (
        SELECT doc_id, w, COUNT(*) AS cnt, length(w) AS wlen,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY COUNT(*) DESC, w ASC) AS rn
        FROM w2 GROUP BY doc_id, w, length(w)
      ) WHERE rn = 1
    ),
    bigrams AS (
      SELECT a.doc_id, a.w || ' ' || b.w AS gram,
             length(a.w) + length(b.w) AS glen
      FROM w2 a JOIN w2 b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    ),
    topb AS (
      SELECT doc_id, gram AS top_bigram, cnt * glen AS top_bigram_chars
      FROM (
        SELECT doc_id, gram, glen, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY COUNT(*) DESC, gram ASC) AS rn
        FROM bigrams GROUP BY doc_id, gram, glen
      ) WHERE rn = 1
    ),
    gated AS (
      SELECT s.doc_id, s.n_words,
             CAST(round(1.0 - CAST(s.n_distinct AS DOUBLE) / s.n_words, 6)
                  AS DECIMAL(18,6)) AS dup_word_frac,
             t.top_word,
             CAST(round(CAST(t.top_word_chars AS DOUBLE) / s.n_chars, 6)
                  AS DECIMAL(18,6)) AS top_word_frac,
             b.top_bigram,
             CAST(round(CAST(COALESCE(b.top_bigram_chars, 0) AS DOUBLE)
                        / s.n_chars, 6) AS DECIMAL(18,6)) AS top_bigram_frac
      FROM stats s JOIN topw t USING (doc_id)
      LEFT JOIN topb b USING (doc_id)
    )
    SELECT doc_id, n_words,
           CAST(dup_word_frac AS DOUBLE) AS dup_word_frac,
           top_word,
           CAST(top_word_frac AS DOUBLE) AS top_word_frac,
           top_bigram,
           CAST(top_bigram_frac AS DOUBLE) AS top_bigram_frac,
           (n_words >= 20
            AND dup_word_frac <= CAST(0.6 AS DECIMAL(18,6))
            AND top_word_frac <= CAST(0.2 AS DECIMAL(18,6))
            AND top_bigram_frac <= CAST(0.18 AS DECIMAL(18,6))) AS keep
    FROM gated
    """,
    doc="Gopher-style repetition quality gate (word-adapted; the corpus "
    "has no line structure): per-doc duplicate-word fraction, "
    "char-weighted top-word and top-bigram fractions (ties break "
    "lexicographically), and the keep verdict. 6-dp DECIMAL fractions "
    "from integer counts — bit-exact across engines "
    "(operators.text.gopher_gate).",
)
def q102_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents.where(F.col("text").isNotNull())
    return text.gopher_gate(docs)


# ===========================================================================
# q103 — hybrid retrieval: lexical word-Jaccard + semantic cosine lists
# fused with reciprocal-rank fusion (doc_id = vec_id, the q85 convention)
# ===========================================================================

_RRF_JACCARD_CTES = f"""
    nw AS (
      SELECT doc_id, {_NORM.format(c='text')} AS nt
      FROM documents WHERE text IS NOT NULL
    ),
    cw AS (
      SELECT DISTINCT doc_id, w FROM (
        SELECT doc_id, unnest(string_split(nt, ' ')) AS w FROM nw
      ) WHERE w <> ''
    ),
    qw AS (SELECT doc_id, w FROM cw WHERE doc_id < 10),
    nb AS (SELECT doc_id, COUNT(*) AS nb FROM cw GROUP BY doc_id),
    na AS (SELECT doc_id, COUNT(*) AS na FROM qw GROUP BY doc_id),
    inter AS (
      SELECT q.doc_id AS query_id, c.doc_id AS corpus_id,
             COUNT(*) AS inter
      FROM qw q JOIN cw c USING (w)
      WHERE q.doc_id <> c.doc_id
      GROUP BY 1, 2
    ),
    lex AS (
      SELECT query_id, corpus_id, rnk FROM (
        SELECT i.query_id, i.corpus_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY i.query_id ORDER BY
                 CAST(round(CAST(i.inter AS DOUBLE)
                            / (na.na + nb.nb - i.inter), 6)
                      AS DECIMAL(18,6)) DESC, i.corpus_id ASC)
               AS INTEGER) AS rnk
        FROM inter i
        JOIN na ON na.doc_id = i.query_id
        JOIN nb ON nb.doc_id = i.corpus_id
      ) WHERE rnk <= 20
    )"""

_RRF_COSINE_CTES = """
    v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    qv AS (SELECT * FROM v WHERE vec_id < 10),
    sem AS (
      SELECT query_id, corpus_id, rnk FROM (
        SELECT q.vec_id AS query_id, v.vec_id AS corpus_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(list_zip(q.e, v.e),
                          t -> t[1] * t[2]))
                 / (sqrt(list_sum(list_transform(q.e, x -> x * x)))
                    * sqrt(list_sum(list_transform(v.e, x -> x * x))))
                 DESC, v.vec_id ASC) AS INTEGER) AS rnk
        FROM qv q, v WHERE q.vec_id <> v.vec_id
      ) WHERE rnk <= 20
    )"""


@query(
    "q103_hybrid_rrf",
    oracle=f"""
    WITH {_RRF_JACCARD_CTES},
    {_RRF_COSINE_CTES},
    contrib AS (
      SELECT query_id, corpus_id,
             CAST(round(1.0 / (60 + rnk), 9) AS DECIMAL(18,9)) AS c
      FROM lex
      UNION ALL
      SELECT query_id, corpus_id,
             CAST(round(1.0 / (60 + rnk), 9) AS DECIMAL(18,9)) AS c
      FROM sem
    ),
    fused AS (
      SELECT query_id, corpus_id,
             SUM(c) AS score,
             CAST(COUNT(*) AS INTEGER) AS n_lists
      FROM contrib GROUP BY 1, 2
    )
    SELECT query_id, corpus_id, n_lists,
           CAST(score AS DOUBLE) AS rrf_score, rrf_rank
    FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY score DESC, corpus_id ASC) AS INTEGER) AS rrf_rank
      FROM fused
    ) WHERE rrf_rank <= 10
    """,
    doc="Hybrid retrieval: word-set Jaccard top-20 (inverted-index "
    "lexical arm, text.word_jaccard_topk) and exact cosine top-20 "
    "(semantic arm, similarity.brute_force_topk; doc_id = vec_id) fused "
    "with reciprocal-rank fusion (similarity.rrf_fuse, k=60): "
    "rrf = sum of 9-dp-decimal 1/(60+rank) contributions, fused top-10 "
    "per query, ties on corpus id. Fusion cost is independent of corpus "
    "size — all heavy lifting stays in the retrieval arms.",
)
def q103_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    td = Testdata(spark, sf_dir)
    docs = td.documents.where(F.col("text").isNotNull())
    lex = text.word_jaccard_topk(
        docs, docs.where(F.col("doc_id") < 10), k=20
    ).withColumnRenamed("rnk", "rank")
    emb = td.embeddings
    sem = similarity.brute_force_topk(emb, emb.where(F.col("vec_id") < 10), k=20)
    return similarity.rrf_fuse({"lex": lex, "sem": sem}, rrf_k=60, top_k=10)


# ===========================================================================
# q104 — char-entropy quality filter (compressibility proxy)
# ===========================================================================

@query(
    "q104_char_entropy",
    oracle="""
    WITH chars AS (
      SELECT doc_id, substr(text, CAST(i AS INTEGER), 1) AS ch
      FROM documents, UNNEST(range(1, length(text) + 1)) t(i)
      WHERE text IS NOT NULL
    ),
    c2 AS (SELECT doc_id, ch FROM chars WHERE ch <> ''),
    hist AS (SELECT doc_id, ch, COUNT(*) AS c FROM c2 GROUP BY 1, 2),
    tot AS (
      SELECT doc_id, SUM(c) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_chars
      FROM hist GROUP BY 1
    ),
    terms AS (
      SELECT h.doc_id,
             CAST(round((CAST(h.c AS DOUBLE) / t.n)
                        * ln(CAST(t.n AS DOUBLE) / h.c), 6)
                  AS DECIMAL(18,6)) AS tm
      FROM hist h JOIN tot t USING (doc_id)
    ),
    ent AS (SELECT doc_id, SUM(tm) AS h FROM terms GROUP BY 1)
    SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_chars, t.n_distinct_chars,
           CAST(e.h AS DOUBLE) AS entropy_nats,
           (e.h >= CAST(1.5 AS DECIMAL(18,6))) AS keep
    FROM tot t JOIN ent e USING (doc_id)
    """,
    doc="Character-level Shannon entropy per doc (nats; "
    "text.char_entropy): per-char terms (c/n)*ln(n/c) rounded to 6-dp "
    "DECIMAL and summed exactly — the compressibility proxy of the "
    "quality-filter family; keep gate at 1.5 nats (exactly-representable "
    "threshold).",
)
def q104_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents.where(F.col("text").isNotNull())
    return text.char_entropy(docs)


# ===========================================================================
# q105 — DSIR importance weights (Xie et al. 2023): raw corpus scored by
# the hashed-unigram log importance ratio toward an in-corpus target
# (lang='en'), add-1-smoothed over 64 md5 buckets.
# ===========================================================================

@query(
    "q105_dsir_weights",
    oracle=f"""
    WITH rawn AS (
      SELECT doc_id, lang, {_NORM.format(c='text')} AS nt
      FROM documents WHERE text IS NOT NULL
    ),
    raww AS (
      SELECT doc_id, lang,
             ('0x' || substr(md5(w || chr(31) || '42'), 1, 15))::BIGINT
               % 64 AS b
      FROM (
        SELECT doc_id, lang, unnest(string_split(nt, ' ')) AS w FROM rawn
      ) WHERE w <> ''
    ),
    rawc AS (SELECT b, COUNT(*) AS cr FROM raww GROUP BY b),
    tgtc AS (SELECT b, COUNT(*) AS ct FROM raww WHERE lang = 'en'
             GROUP BY b),
    nr AS (SELECT SUM(cr) AS nr FROM rawc),
    nt AS (SELECT SUM(ct) AS nt FROM tgtc),
    lr AS (
      SELECT COALESCE(rawc.b, tgtc.b) AS b,
             CAST(round(ln(
               (CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
                / CAST(nt.nt + 64 AS DOUBLE))
               / (CAST(COALESCE(cr, 0) + 1 AS DOUBLE)
                  / CAST(nr.nr + 64 AS DOUBLE))), 6)
             AS DECIMAL(18,6)) AS lr
      FROM rawc FULL OUTER JOIN tgtc ON rawc.b = tgtc.b, nr, nt
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(lr) AS DOUBLE) AS dsir_logratio
    FROM raww JOIN lr USING (b)
    GROUP BY doc_id
    """,
    doc="DSIR importance weights (Xie et al. 2023; text.dsir_weights): "
    "score raw docs by the log importance ratio of add-1-smoothed "
    "hashed-unigram models, target = lang='en' subset, 64 buckets via "
    "the engine-portable md5 idiom (sampling._hash_bucket); per-bucket "
    "log ratios 6-dp DECIMAL, exact per-doc sums. The resampling knob "
    "for shifting a crawl toward a curated target.",
)
def q105_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents.where(F.col("text").isNotNull())
    return text.dsir_weights(docs, docs.where(F.col("lang") == "en"))


# ===========================================================================
# q106 — interpolated bigram LM quality score (one order above q89's
# unigram; lam = 0.5 so the mixture weights are exactly-representable
# doubles in BOTH engines — 0.7/0.3 would round differently)
# ===========================================================================

@query(
    "q106_bigram_lm_nll",
    oracle=f"""
    WITH nw AS (
      SELECT doc_id, string_split({_NORM.format(c='text')}, ' ') AS p
      FROM documents WHERE text IS NOT NULL
    ),
    w2 AS (
      SELECT doc_id, CAST(i AS INTEGER) AS pos, p[CAST(i AS INTEGER)] AS w
      FROM nw, UNNEST(range(1, len(p) + 1)) t(i)
      WHERE p[CAST(i AS INTEGER)] <> ''
    ),
    big AS (
      SELECT a.doc_id, a.w AS w1, b.w AS w2
      FROM w2 a JOIN w2 b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    ),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
    ctx AS (SELECT w1, COUNT(*) AS cctx FROM big GROUP BY 1),
    uni AS (SELECT w, COUNT(*) AS c1 FROM w2 GROUP BY 1),
    n AS (SELECT COUNT(*) AS n FROM w2),
    terms AS (
      SELECT b.doc_id,
             CAST(round(-ln(
               0.5 * (CAST(c2.c2 AS DOUBLE) / ctx.cctx)
               + 0.5 * (CAST(uni.c1 AS DOUBLE) / n.n)), 6)
             AS DECIMAL(18,6)) AS t
      FROM big b JOIN c2 USING (w1, w2) JOIN ctx USING (w1)
      JOIN uni ON uni.w = b.w2, n
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(t) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_nll
    FROM terms GROUP BY doc_id
    """,
    doc="Interpolated bigram LM score (text.bigram_lm_nll, lam=0.5): "
    "p(w2|w1) = 0.5*c(w1,w2)/ctx(w1) + 0.5*c(w2)/N trained on the corpus "
    "itself, per-doc mean NLL = exact 6-dp-DECIMAL term sum cast to "
    "double over the count — the q89 raw-quotient pattern; a final "
    "round(x, 6) diverged between engines on an exact half-way boundary "
    "at sf0.1. The CCNet quality-scoring shape one order above q89's "
    "unigram.",
)
def q106_bigram_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents.where(F.col("text").isNotNull())
    return text.bigram_lm_nll(docs, lam=0.5)


# ===========================================================================
# q107 — triangle counting (degree-ordered orientation) over the corpus
# word-adjacency graph (the q90 graph, undirected)
# ===========================================================================

@query(
    "q107_triangle_count",
    oracle=f"""
    WITH dw AS (
      SELECT list_filter(string_split({_NORM.format(c='text')}, ' '),
                         x -> x <> '') AS w
      FROM documents
    ),
    raw AS (
      SELECT w[CAST(j AS INTEGER)] AS src, w[CAST(j + 1 AS INTEGER)] AS dst
      FROM dw, UNNEST(range(1, len(w))) t(j)
    ),
    und AS MATERIALIZED (
      SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      FROM raw WHERE src <> dst
    ),
    deg AS MATERIALIZED (
      SELECT n, COUNT(*) AS d FROM (
        SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und
      ) GROUP BY n
    ),
    ori AS MATERIALIZED (
      SELECT CASE WHEN (d1.d < d2.d OR (d1.d = d2.d AND u < v))
                  THEN u ELSE v END AS a,
             CASE WHEN (d1.d < d2.d OR (d1.d = d2.d AND u < v))
                  THEN v ELSE u END AS b
      FROM und JOIN deg d1 ON d1.n = u JOIN deg d2 ON d2.n = v
    ),
    tris AS (
      SELECT t1.a, t1.b, t2.b AS c
      FROM ori t1 JOIN ori t2 ON t2.a = t1.b
      JOIN ori t3 ON t3.a = t1.a AND t3.b = t2.b
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (
      SELECT a AS node FROM tris
      UNION ALL SELECT b FROM tris
      UNION ALL SELECT c FROM tris
    ) GROUP BY node
    """,
    doc="Per-node triangle counts (graph.triangle_count; Schank & Wagner "
    "2005 degree-ordered orientation — every triangle found exactly once "
    "as a directed path a->b->c closed by a->c, out-degree bounded "
    "O(sqrt(m)) so hub nodes cannot explode the join) over the corpus "
    "word-adjacency graph, direction and weights dropped.",
)
def q107_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_count

    docs = Testdata(spark, sf_dir).documents
    wcol = F.filter(
        F.split(dedup.normalize_text("text"), " "), lambda x: x != ""
    )
    # slice length is clamped at 0: an empty/punctuation-only doc gives
    # n=0, and slice(col, 1, -1) throws at runtime (ADVICE r7) — such
    # docs simply contribute no bigram edges
    n = F.greatest(F.size(wcol) - 1, F.lit(0))
    pairs = docs.select(
        F.explode(
            F.arrays_zip(F.slice(wcol, 1, n), F.slice(wcol, 2, n))
        ).alias("p")
    )
    edges = pairs.select(
        F.col("p")["0"].alias("src"), F.col("p")["1"].alias("dst")
    )
    return triangle_count(edges)


# ===========================================================================
# q108 — exact phrase search (anchor-vote positional intersection)
# ===========================================================================

_PHRASES = [(1, "batch batch"), (2, "slow join"), (3, "window window")]


def _phrase_values() -> str:
    rows = []
    for qid, ph in _PHRASES:
        for i, term in enumerate(ph.split(" ")):
            rows.append(f"({qid}, {i}, '{term}')")
    return ", ".join(rows)


@query(
    "q108_phrase_search",
    oracle=f"""
    WITH q(query_id, i, term) AS (VALUES {_phrase_values()}),
    qlen AS (SELECT query_id, COUNT(*) AS k FROM q GROUP BY 1),
    nw AS (
      SELECT doc_id, string_split({_NORM.format(c='text')}, ' ') AS p
      FROM documents WHERE text IS NOT NULL
    ),
    w2 AS (
      SELECT doc_id, CAST(i AS INTEGER) - 1 AS pos, p[CAST(i AS INTEGER)] AS w
      FROM nw, UNNEST(range(1, len(p) + 1)) t(i)
      WHERE p[CAST(i AS INTEGER)] <> ''
    ),
    votes AS (
      SELECT q.query_id, w2.doc_id, w2.pos - q.i AS p0
      FROM w2 JOIN q ON q.term = w2.w
    ),
    anchors AS (
      SELECT v.query_id, v.doc_id, v.p0
      FROM votes v JOIN qlen USING (query_id)
      WHERE v.p0 >= 0
      GROUP BY v.query_id, v.doc_id, v.p0, qlen.k
      HAVING COUNT(*) = qlen.k
    )
    SELECT query_id, doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(p0) AS INTEGER) AS first_pos
    FROM anchors GROUP BY query_id, doc_id
    """,
    doc="Exact consecutive-phrase search (text.phrase_search): each "
    "corpus word occurrence matching the phrase's i-th term votes for "
    "anchor p0 = pos - i; an anchor with all k votes is a phrase hit — "
    "ONE broadcast equi-join + ONE aggregation for any phrase length "
    "instead of the classic k-way positional-postings join.",
)
def q108_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = Testdata(spark, sf_dir).documents.where(F.col("text").isNotNull())
    qdf = spark.createDataFrame(_PHRASES, "query_id int, phrase string")
    out = text.phrase_search(docs, qdf)
    return out.select(
        "query_id", F.col("id").alias("doc_id"), "n_occurrences", "first_pos"
    )


# ===========================================================================
# q109 — histogram-sketch quantiles (the mergeable-sketch family's
# distribution member: HLL=distinct, CM=frequency, histogram=quantiles)
# ===========================================================================

@query(
    "q109_hist_quantiles",
    oracle="""
    WITH b AS (
      SELECT l_returnflag,
             LEAST(109, GREATEST(0,
               CAST(floor(l_extendedprice / 1000.0) AS INTEGER))) AS bin
      FROM lineitem
    ),
    h AS (SELECT l_returnflag, bin, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
    c AS (
      SELECT *, SUM(cnt) OVER (
        PARTITION BY l_returnflag ORDER BY bin
      ) AS cum FROM h
    ),
    t AS (SELECT l_returnflag, MAX(cum) AS total FROM c GROUP BY 1),
    qx AS (
      SELECT c.*, t.total, u.q
      FROM c JOIN t USING (l_returnflag),
           UNNEST([CAST(0.25 AS DOUBLE), CAST(0.5 AS DOUBLE),
                   CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS u(q)
    )
    SELECT l_returnflag, q,
           round((bin + (q * total - (cum - cnt)) / cnt) * 1000.0, 6)
             AS quantile_est
    FROM qx
    WHERE cum >= q * total AND (cum - cnt) < q * total
    """,
    doc="Quantiles from an equi-width histogram sketch "
    "(sketch.hist_sketch / hist_quantile; lo=0, hi=110000, 110 bins, "
    "width 1000): integer bin counts cumulated per group, linear "
    "interpolation inside the containing bin, 6-dp round. The mergeable "
    "alternative to exact percentiles (q32) when the data streams or "
    "rolls up across days — error bounded by one bin width. Quantile "
    "literals are DOUBLE in BOTH engines (a decimal 0.99*total would hit "
    "different boundary bins than the double).",
)
def q109_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketch

    li = Testdata(spark, sf_dir).lineitem
    h = sketch.hist_sketch(
        li, "l_extendedprice", ["l_returnflag"], lo=0.0, hi=110000.0,
        n_bins=110,
    )
    return sketch.hist_quantile(
        h, [0.25, 0.5, 0.9, 0.99], ["l_returnflag"], lo=0.0, hi=110000.0,
        n_bins=110,
    )


# ===========================================================================
# q110 — audio decimation: real decode -> every-2nd-frame -> re-encode,
# stats oracle-derived from the kept samples (q98's synth contract)
# ===========================================================================

@query(
    "q110_audio_resample",
    oracle="""
    WITH chars AS (
      SELECT doc_id, CAST(i AS INTEGER) AS i,
             ((unicode(substr(text, CAST(i AS INTEGER), 1)) * 257
               + 7 * CAST(i AS INTEGER)) % 65536) - 32768 AS s
      FROM documents, UNNEST(range(1, length(text) + 1)) t(i)
      WHERE text IS NOT NULL
    ),
    kept AS (SELECT doc_id, s FROM chars WHERE (i - 1) % 2 = 0),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_frames,
             MAX(ABS(s)) AS peak,
             sqrt(CAST(SUM(s * s) AS DOUBLE) / COUNT(*)) AS rms
      FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           4000 AS sample_rate,
           1 AS channels,
           16 AS bits,
           COALESCE(a.n_frames, 0) AS n_frames,
           (COALESCE(a.n_frames, 0) * 1000) // 4000 AS duration_ms,
           a.peak AS peak,
           a.rms AS rms
    FROM documents d LEFT JOIN agg a USING (doc_id)
    WHERE d.text IS NOT NULL
    """,
    doc="Audio decimation (multimodal.resample_audio, factor 2): the q98 "
    "synthetic WAV REALLY decodes, keeps every 2nd frame, re-encodes at "
    "4 kHz inside the Arrow batch; the oracle re-derives the kept int16 "
    "samples (odd 1-based positions) from text codepoints — peak/RMS "
    "bit-exact, integer sum-of-squares + two IEEE double ops.",
)
def q110_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = Testdata(spark, sf_dir, scan_floor=False).documents.where(F.col("text").isNotNull())
    wav = multimodal.synth_wav(docs)
    out = multimodal.resample_audio(wav, factor=2)
    return out.select(
        F.col("media_id").alias("doc_id"),
        "sample_rate", "channels", "bits",
        "n_frames", "duration_ms", "peak", "rms",
    )


_AHASH_CTES = """
    grid AS (
      SELECT CAST(gy AS INTEGER) AS gy, CAST(gx AS INTEGER) AS gx,
             LEAST(11, CAST(floor((gy + 0.5) * 12 / 8.0) AS INTEGER)) AS sy,
             2 * CAST(gx AS INTEGER) + 1 AS sx
      FROM UNNEST(range(0, 8)) a(gy), UNNEST(range(0, 8)) b(gx)
    ),
    px AS (
      SELECT d.doc_id, g.gy, g.gx,
             unicode(substr(d.text,
               CAST(((g.sy * 16 + g.sx) % length(d.text)) + 1 AS INTEGER),
               1)) AS cp,
             g.sx, g.sy
      FROM documents d, grid g
      WHERE d.text IS NOT NULL AND length(d.text) > 0
    ),
    lum AS (
      SELECT doc_id, gy, gx,
             (((cp * 3 + sx) % 256) + ((cp * 5 + sy) % 256)
              + ((cp * 7 + sx + sy) % 256)) // 3 AS v
      FROM px
    ),
    m AS (SELECT doc_id, SUM(v) // 64 AS mean FROM lum GROUP BY doc_id),
    hashes AS (
      SELECT l.doc_id,
             string_agg(CASE WHEN l.v > m.mean THEN '1' ELSE '0' END, ''
                        ORDER BY l.gy * 8 + l.gx) AS ahash_bits
      FROM lum l JOIN m USING (doc_id)
      GROUP BY l.doc_id
    )"""


# ===========================================================================
# q112 — image perceptual hash over the REAL PPM decode path: synthetic
# P6 images (pixels a pure function of the text, q98's synth contract)
# -> real decode -> integer luminance -> nearest-neighbor 8x8 -> aHash.
# ===========================================================================

@query(
    "q112_image_ahash",
    oracle=f"""
    WITH {_AHASH_CTES},
    dims AS (SELECT 16 AS width, 12 AS height)
    SELECT h.doc_id, d.width, d.height, h.ahash_bits
    FROM hashes h, dims d
    """,
    doc="Image perceptual hashing through the REAL codec path "
    "(multimodal.synth_ppm -> _ppm_decode -> ahash_images): 16x12 P6 "
    "pixels derived from text codepoints really encode/decode; aHash = "
    "integer luminance, (i+0.5) nearest-neighbor 8x8 sample, "
    "sum//n mean threshold, row-major 64-bit '0'/'1' string (a packed "
    "int64 would put bit 63 in the sign position). The oracle re-derives "
    "only the 64 SAMPLED pixels from the text — every value integer, "
    "bit-for-bit. Near-dup images then band-join on hash substrings, "
    "the simhash_candidates pattern.",
)
def q112_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = Testdata(spark, sf_dir, scan_floor=False).documents.where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    ppm = multimodal.synth_ppm(docs)
    out = multimodal.ahash_images(ppm)
    return out.select(
        F.col("media_id").alias("doc_id"), "width", "height", "ahash_bits"
    )


# ===========================================================================
# q113 — image duplicate groups: identical aHash == visual-dup bucket
# (the degenerate band of the simhash band-join; exact-dup texts make
# exact-dup synthetic images, so groups exist in the corpus)
# ===========================================================================

@query(
    "q113_image_dup_groups",
    oracle=f"""
    WITH {_AHASH_CTES}
    SELECT ahash_bits,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM hashes
    GROUP BY ahash_bits
    HAVING COUNT(*) > 1
    """,
    doc="Visual duplicate groups: images sharing an IDENTICAL aHash "
    "(q112's real-decode fingerprint) bucket together — one hash "
    "groupBy, min-id survivor per group, the degenerate (whole-hash) "
    "band of the simhash band-join; at scale, near-dups widen to "
    "substring bands + hamming verify exactly like "
    "dedup.simhash_candidates.",
)
def q113_image_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = Testdata(spark, sf_dir, scan_floor=False).documents.where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    hashes = multimodal.ahash_images(multimodal.synth_ppm(docs))
    return (
        hashes.where(F.col("decode_ok"))
        .groupBy("ahash_bits")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_images"),
            F.min("media_id").alias("keep_id"),
            F.max("media_id").alias("max_id"),
        )
        .where(F.col("n_images") > 1)
    )


# ===========================================================================
# q114 — VariantType semi-structured path (Spark 4): construct nested
# JSON, shred with parse_json, extract typed paths with try_variant_get.
# The oracle validates the VALUES straight from the source columns, so
# the whole JSON round-trip (to_json -> parse_json -> typed extraction,
# incl. array indexing and nested fields) is what is being checked.
# ===========================================================================

@query(
    "q114_variant_extract",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS k_total,
           CAST(SUM(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE)
             AS vv_total,
           CAST(SUM(user_id) AS BIGINT) AS a1_total
    FROM events GROUP BY event_type
    """,
    doc="Semi-structured VARIANT path (Spark 4 parse_json /"
    " try_variant_get): nested JSON built from events (scalar, nested "
    "struct field, array index) is shredded to VariantType and extracted "
    "back typed; the oracle computes the same aggregates from the raw "
    "columns, so any loss in the to_json -> parse_json -> typed-get "
    "round-trip fails the value check. 2-dp rounding keeps the double "
    "JSON round-trip exact.",
)
def q114_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = Testdata(spark, sf_dir).events
    j = F.to_json(
        F.struct(
            F.get_json_object("props", "$.k").cast("long").alias("k"),
            F.struct(
                F.col("user_id").alias("u"),
                F.round("value", 2).alias("vv"),
            ).alias("m"),
            F.array("event_id", "user_id").alias("arr"),
        )
    )
    v = ev.select("event_type", F.parse_json(j).alias("v"))
    ext = v.select(
        "event_type",
        F.try_variant_get("v", "$.k", "long").alias("k"),
        F.try_variant_get("v", "$.m.vv", "double").alias("vv"),
        F.try_variant_get("v", "$.arr[1]", "long").alias("a1"),
    )
    return ext.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("k_total"),
        F.sum(F.col("vv").cast("decimal(18,2)")).cast("double")
        .alias("vv_total"),
        F.sum("a1").alias("a1_total"),
    )


# ===========================================================================
# q115 — keyed pseudonymization with referential consistency: the same
# surrogate mapping applied to customer AND orders still joins.
# ===========================================================================

@query(
    "q115_pseudonymized_join",
    oracle="""
    WITH c AS (
      SELECT 'pid_' || substr(md5(CAST(c_custkey AS VARCHAR)
                                  || chr(31) || '42'), 1, 16) AS pid_key,
             c_mktsegment
      FROM customer
    ),
    o AS (
      SELECT 'pid_' || substr(md5(CAST(o_custkey AS VARCHAR)
                                  || chr(31) || '42'), 1, 16) AS pid_key
      FROM orders
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(DISTINCT pid_key) AS BIGINT) AS n_customers
    FROM o JOIN c USING (pid_key)
    GROUP BY c_mktsegment
    """,
    doc="Keyed pseudonymization (text.pseudonymize): customer and order "
    "keys are replaced by consistent md5 surrogates and the tables still "
    "join per-segment with the same cardinalities — raw identifiers "
    "never needed downstream. Salt rotation breaks cross-release "
    "linkage; the mapping is the engine-portable md5 idiom.",
)
def q115_pseudonymized_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    td = Testdata(spark, sf_dir)
    c = text.pseudonymize(
        td.customer.select(
            F.col("c_custkey").alias("pid_key"), "c_mktsegment"
        ),
        ["pid_key"],
    )
    o = text.pseudonymize(
        td.orders.select(F.col("o_custkey").alias("pid_key")), ["pid_key"]
    )
    return (
        o.join(F.broadcast(c), "pid_key")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("pid_key").alias("n_customers"),
        )
    )


# ===========================================================================
# q116 — temporal train/test split with an embargo gap (leakage guard)
# ===========================================================================

@query(
    "q116_temporal_split",
    oracle="""
    WITH s AS (
      SELECT CASE
               WHEN ts IS NULL THEN NULL
               WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
               WHEN ts < TIMESTAMP '2024-01-20 00:00:00'
                         + INTERVAL 5 DAY THEN 'embargo'
               ELSE 'test'
             END AS split,
             ts, value
      FROM events
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS min_ts, MAX(ts) AS max_ts,
           CAST(SUM(CAST(round(value, 2) AS DECIMAL(18,2))) AS DOUBLE)
             AS total_value
    FROM s GROUP BY split
    """,
    doc="Temporal split with embargo (sampling.temporal_split): events "
    "before 2024-01-20 train; the next 5 days are EMBARGO (dropped from "
    "both sides so boundary-spanning autocorrelation cannot leak); the "
    "rest test. Map-only CASE — at scale the train-only read prunes "
    "time partitions at the scan.",
)
def q116_temporal_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import temporal_split

    ev = Testdata(spark, sf_dir).events
    s = temporal_split(ev, "ts", "2024-01-20 00:00:00", "5 days")
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        F.sum(F.round("value", 2).cast("decimal(18,2)")).cast("double")
        .alias("total_value"),
    )


# ===========================================================================
# q117 — video decode: REAL dependency-free YUV4MPEG2 parsing end-to-end
# (round 8; retires the LAST plan-only modality the way q98 retired audio
# and PPM/BMP retired images). The payload is a deterministic pure
# function of documents.text (operators.multimodal.synth_y4m), so every
# decoded stat — dims, fps, frame count, duration, integer luminance
# peak/sum over ALL frames — is value-checked against an oracle that
# re-derives the identical Y samples in SQL.
# ===========================================================================

_VIDEO_VIDS_CTE = """
    vids AS (
      SELECT doc_id, text, length(text) AS L,
             (length(text) % 3) + 2 AS nf
      FROM documents WHERE text IS NOT NULL AND length(text) > 0
    )"""


@query(
    "q117_video_stats",
    oracle=f"""
    WITH {_VIDEO_VIDS_CTE},
    px AS (
      SELECT v.doc_id, v.nf,
             unicode(substr(v.text,
               CAST((((f.f * 12 + y.y) * 16 + x.x) % v.L) + 1 AS INTEGER),
               1)) AS cp,
             f.f, x.x, y.y
      FROM vids v,
           UNNEST(range(0, 4)) f(f),
           UNNEST(range(0, 12)) y(y),
           UNNEST(range(0, 16)) x(x)
      WHERE f.f < v.nf
    ),
    lum AS (
      SELECT doc_id, nf, ((cp * 3 + x + 5 * y + 11 * f) % 256) AS v
      FROM px
    )
    SELECT doc_id,
           16 AS width, 12 AS height, 4 AS fps_num, 1 AS fps_den,
           CAST(nf AS INTEGER) AS n_frames,
           CAST(nf * 250 AS BIGINT) AS duration_ms,
           CAST(MAX(v) AS INTEGER) AS lum_peak,
           CAST(SUM(v) AS BIGINT) AS lum_sum
    FROM lum GROUP BY doc_id, nf
    """,
    doc="Real video decode: documents.text -> deterministic Y4M clip "
    "(multimodal.synth_y4m, 2-4 frames at 4 fps; even-length texts "
    "mono, odd-length subsampled chroma — C420 for len%4==1, C422 for "
    "len%4==3 since round 10) -> hand-rolled YUV4MPEG2 parse "
    "(multimodal._y4m_decode) -> per-clip stream stats inside "
    "Arrow-batched mapInPandas. The oracle rebuilds the exact Y samples "
    "of every frame from text codepoints in SQL (identical for all "
    "colorspaces — a wrong 420/422 frame size or plane offset would "
    "corrupt the Y stats); peak/sum are pure integer math, bit-for-bit.",
)
def q117_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = Testdata(spark, sf_dir, scan_floor=False).documents.where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    vid = multimodal.synth_y4m(docs)
    out = multimodal.decode_video(vid)
    return out.select(
        F.col("media_id").alias("doc_id"),
        "width", "height", "fps_num", "fps_den",
        "n_frames", "duration_ms", "lum_peak", "lum_sum",
    )


# ===========================================================================
# q118 — temporal / cross-video duplicate frames: REAL frame extraction
# (sample_frames: Y4M decode -> every-2nd frame -> re-encode as P6 PPM)
# composed with the EXISTING image fingerprint (ahash_images over the real
# PPM codec) — the video twin of q112/q113. Frames sharing an identical
# aHash bucket together: exact-dup texts make exact-dup clips, so
# cross-video groups exist in the corpus.
# ===========================================================================

@query(
    "q118_video_frame_dups",
    oracle=f"""
    WITH {_VIDEO_VIDS_CTE},
    grid AS (
      SELECT CAST(gy AS INTEGER) AS gy, CAST(gx AS INTEGER) AS gx,
             LEAST(11, CAST(floor((gy + 0.5) * 12 / 8.0) AS INTEGER)) AS sy,
             2 * CAST(gx AS INTEGER) + 1 AS sx
      FROM UNNEST(range(0, 8)) a(gy), UNNEST(range(0, 8)) b(gx)
    ),
    fr AS (
      SELECT v.doc_id, v.text, v.L, f.f
      FROM vids v, UNNEST(range(0, 4)) f(f)
      WHERE f.f < v.nf AND f.f % 2 = 0
    ),
    chan AS (
      SELECT fr.doc_id, fr.f, fr.L, fr.text, g.gy, g.gx, g.sy,
             ((unicode(substr(fr.text,
                 CAST((((fr.f * 12 + g.sy) * 16 + g.sx) % fr.L) + 1
                      AS INTEGER), 1)) * 3
               + g.sx + 5 * g.sy + 11 * fr.f) % 256) AS yv,
             -- subsampled-chroma arms (odd-length text): the sampled
             -- pixel (sx, sy) reads chroma at block coords — C420
             -- (L%4=1): (sx//2, sy//2) in a 6-row plane; C422 (L%4=3):
             -- (sx//2, sy) in a 12-row plane; sx = 2*gx+1 so sx//2 =
             -- gx either way. Re-deriving chroma AT BLOCK COORDS
             -- value-checks each arm's nearest-neighbor upsample
             -- indexing itself.
             CASE WHEN fr.L % 4 = 1 THEN g.sy // 2 ELSE g.sy END AS cc,
             CASE WHEN fr.L % 4 = 1 THEN 6 ELSE 12 END AS chh
      FROM fr, grid g
    ),
    chan2 AS (
      SELECT *, ((f * chh + cc) * 8 + gx) % L AS ku FROM chan
    ),
    lum AS (
      SELECT doc_id, f, gy, gx,
             CASE WHEN L % 2 = 1 THEN
               (yv
                + ((unicode(substr(text,
                      CAST(ku + 1 AS INTEGER), 1)) * 7
                    + 3 * gx + cc + 2 * f) % 256)
                + ((unicode(substr(text,
                      CAST(((ku + 1) % L) + 1 AS INTEGER), 1)) * 11
                    + gx + 4 * cc + 6 * f) % 256)
               ) // 3
             ELSE yv END AS v
      FROM chan2
    ),
    m AS (SELECT doc_id, f, SUM(v) // 64 AS mean FROM lum GROUP BY doc_id, f),
    hashes AS (
      SELECT l.doc_id, l.f,
             string_agg(CASE WHEN l.v > m.mean THEN '1' ELSE '0' END, ''
                        ORDER BY l.gy * 8 + l.gx) AS ahash_bits
      FROM lum l JOIN m USING (doc_id, f)
      GROUP BY l.doc_id, l.f
    )
    SELECT ahash_bits,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_videos,
           CAST(MIN(doc_id * 16 + f) AS BIGINT) AS keep_frame
    FROM hashes
    GROUP BY ahash_bits
    HAVING COUNT(*) > 1
    """,
    doc="Duplicate video frames via REAL frame extraction composed with "
    "the real image fingerprint: synth_y4m -> sample_frames (every 2nd "
    "frame, re-encoded as true P6 payloads) -> ahash_images -> identical-"
    "hash groups across frames AND videos (keep_frame = min "
    "media_id*16+frame_idx). Odd-length texts carry subsampled chroma — "
    "C420 for len%4==1 (round 9), C422 for len%4==3 (round 10) — so the "
    "path exercises BOTH nearest-neighbor chroma upsample geometries; "
    "the oracle re-derives the sampled pixels' chroma AT BLOCK COORDS "
    "((sx//2, sy//2) for 420, (sx//2, sy) for 422), value-checking each "
    "arm's upsample indexing. Every value integer, bit-for-bit. At "
    "scale, near-dup frames widen to substring bands + hamming verify "
    "exactly like dedup.simhash_candidates.",
)
def q118_video_frame_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = Testdata(spark, sf_dir, scan_floor=False).documents.where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    frames = multimodal.sample_frames(multimodal.synth_y4m(docs), every_n=2)
    fid = (F.col("media_id") * 16 + F.col("frame_idx")).alias("media_id")
    # batch_rows matches sample_frames': arrow.maxRecordsPerBatch is a
    # SESSION conf read at execution, so the last operator built wins for
    # the whole composed job — align it to the payload-heaviest stage's
    # bound (review r8)
    hashes = multimodal.ahash_images(
        frames.select(fid, "payload"), batch_rows=64
    )
    return (
        hashes.where(F.col("decode_ok"))
        .groupBy("ahash_bits")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_frames"),
            F.countDistinct(F.expr("media_id div 16")).alias("n_videos"),
            F.min("media_id").alias("keep_frame"),
        )
        .where(F.col("n_frames") > 1)
    )


# ===========================================================================
# q121 — KMV / theta sketch audience overlap (round 8): approximate
# DISTINCT with SET OPERATIONS. HLL (q64) answers |A| per group; the theta
# sketch additionally answers |A ∩ B| and |A ∪ B| BETWEEN groups from the
# same k-row sketches — "users who clicked AND purchased" without ever
# re-shuffling the raw events per pair. The sketch is the k smallest
# distinct md5-60 hashes per group (a pure function of the value set), so
# the oracle replays the entire construction — ranking, thetas, pair
# intersection, estimates — with row_number() in SQL, bit-for-bit.
# ===========================================================================

@query(
    "q121_kmv_overlap",
    oracle="""
    WITH vals AS (
      SELECT DISTINCT event_type AS g,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS h
      FROM events
    ),
    ranked AS (
      SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS r
      FROM vals
    ),
    sk AS (SELECT * FROM ranked WHERE r <= 64),
    st AS (
      SELECT g, COUNT(*) AS n,
             COALESCE(MAX(CASE WHEN r = 64 THEN h END),
                      1152921504606846976) AS theta
      FROM sk GROUP BY g
    ),
    pairs AS (
      SELECT a.g AS ga, b.g AS gb, LEAST(a.theta, b.theta) AS theta
      FROM st a JOIN st b ON a.g < b.g
    ),
    common AS (
      SELECT p.ga, p.gb, COUNT(*) AS n_common
      FROM pairs p
      JOIN sk x ON x.g = p.ga AND x.h < p.theta
      JOIN sk y ON y.g = p.gb AND y.h = x.h
      GROUP BY p.ga, p.gb
    ),
    up AS (
      SELECT ga, gb, COUNT(DISTINCT h) AS n_up FROM (
        SELECT p.ga, p.gb, x.h
        FROM pairs p JOIN sk x ON x.g = p.ga AND x.h < p.theta
        UNION ALL
        SELECT p.ga, p.gb, y.h
        FROM pairs p JOIN sk y ON y.g = p.gb AND y.h < p.theta
      ) GROUP BY ga, gb
    )
    SELECT p.ga AS group_a, p.gb AS group_b,
           CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
           round(CAST(COALESCE(c.n_common, 0) AS DOUBLE)
                 * CAST(1152921504606846976 AS DOUBLE)
                 / CAST(p.theta AS DOUBLE), 6) AS est_inter,
           round(CAST(COALESCE(u.n_up, 0) AS DOUBLE)
                 * CAST(1152921504606846976 AS DOUBLE)
                 / CAST(p.theta AS DOUBLE), 6) AS est_union,
           CASE WHEN COALESCE(u.n_up, 0) > 0 THEN
             round(CAST(COALESCE(c.n_common, 0) AS DOUBLE)
                   / CAST(u.n_up AS DOUBLE), 6)
           END AS jaccard_est
    FROM pairs p
    LEFT JOIN up u ON u.ga = p.ga AND u.gb = p.gb
    LEFT JOIN common c ON c.ga = p.ga AND c.gb = p.gb
    """,
    doc="Theta-sketch audience overlap over events: KMV sketch (k=64 "
    "smallest distinct md5-60 hashes of user_id per event_type, built "
    "with salted two-level ranking — no single-partition window), then "
    "every event-type pair's intersection/union/Jaccard estimated from "
    "the sketches alone (operators.sketch.kmv_sketch / "
    "kmv_intersect_pairs). sf0.001 exercises the exact regime (15 "
    "distinct users < k: theta=2^60, estimates collapse to exact "
    "counts); sf0.01 the estimation regime (150 > k). One scan builds "
    "the sketches; every pairwise overlap after that is sketch-sized "
    "arithmetic — the 100 TB shape for overlap matrices.",
)
def q121_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketch

    ev = Testdata(spark, sf_dir).events
    sk = sketch.kmv_sketch(ev, "user_id", ["event_type"], k=64)
    return sketch.kmv_intersect_pairs(sk, "event_type", k=64)


# ===========================================================================
# q122 — EXACT-count stratified split (round 8): ceil(30%) of every source
# stratum, selected by deterministic md5 hash order with key tie-break.
# The Bernoulli-cutoff sampler (stratified_deterministic_sample) only
# approximates per-stratum proportions; training-mixture recipes specify
# them exactly. Scale shape inside the operator: per-(stratum, hash-bin)
# histogram + bounded cumulative window + rank ONLY inside the boundary
# bin — no per-stratum global sort (operators/sampling.py docstring).
# The oracle replays the selection as a plain per-stratum rank — provably
# equivalent because bins are hash-prefix ranges.
# ===========================================================================

@query(
    "q122_stratified_split",
    oracle="""
    WITH h AS (
      SELECT source, doc_id,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || chr(31) || '42'),
                             1, 15))::BIGINT AS hh
      FROM documents
    ),
    r AS (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source ORDER BY hh, doc_id)
               AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM h
    )
    SELECT source,
           CASE WHEN rn <= CAST(ceil(0.3 * n) AS BIGINT)
                THEN 'sample' ELSE 'rest' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id
    FROM r
    GROUP BY 1, 2
    """,
    doc="Exact-count stratified split: exactly ceil(0.3 * n_s) docs per "
    "source stratum, membership pinned by sum(doc_id) per (source, "
    "split) so the oracle checks the SELECTION, not just the counts "
    "(operators.sampling.stratified_exact_split, md5 hash family).",
)
def q122_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sampling

    docs = Testdata(spark, sf_dir, scan_floor=False).documents
    out = sampling.stratified_exact_split(
        docs, 0.3, "source", ["doc_id"], salt=42, method="md5"
    )
    return out.groupBy("source", "split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


# ===========================================================================
# q123 — entity resolution / record linkage (round 8): blocking + bounded
# block-local comparison + edit-distance match (Fellegi-Sunter blocking,
# Christen 2012). The adtech twin: duplicate customer records entered with
# near-identical names. Blocks = (nation, 16-char name prefix); pairs
# within a block at Levenshtein distance <= 1. Both engines evaluate the
# IDENTICAL blocking and the same levenshtein() builtin.
# ===========================================================================

@query(
    "q123_record_linkage",
    oracle="""
    WITH r AS (
      SELECT c_custkey AS id, c_name AS nm, c_nationkey AS nk,
             substr(c_name, 1, 16) AS bk
      FROM customer
    ),
    sized AS (
      SELECT r.*, COUNT(*) OVER (PARTITION BY nk, bk) AS bs FROM r
    ),
    keep AS (SELECT * FROM sized WHERE bs > 1 AND bs <= 256)
    SELECT a.id AS id_a, b.id AS id_b, a.nm AS attr_a, b.nm AS attr_b,
           CAST(levenshtein(a.nm, b.nm) AS INTEGER) AS edit_dist
    FROM keep a
    JOIN keep b ON a.nk = b.nk AND a.bk = b.bk AND a.id < b.id
    WHERE levenshtein(a.nm, b.nm) <= 1
    """,
    doc="Record linkage over customers: blocking on (nation, 16-char name "
    "prefix), block-size ceiling 256 (the max_block hot-block contract), "
    "block-local (id_a < id_b) pairs kept at Levenshtein distance <= 1 "
    "(operators.dedup.record_link_pairs). The only join is block-local; "
    "the quadratic comparison never escapes a block.",
)
def q123_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as dd

    cust = Testdata(spark, sf_dir).customer
    return dd.record_link_pairs(
        cust,
        "c_custkey",
        "c_name",
        ["c_nationkey", F.substring("c_name", 1, 16)],
        max_edit=1,
        max_block=256,
    )


# ===========================================================================
# q124 — hot-key split join (round 8): the MANUAL skew-join — fact keys
# above a frequency threshold take a broadcast arm (hot rows never
# shuffle), the tail takes the ordinary shuffle join, and the union is
# provably the plain join — which is exactly what the oracle computes.
# The q73 (salted_agg) companion: q73 de-skews aggregation, q124 de-skews
# the join itself.
# ===========================================================================

@query(
    "q124_hot_key_join",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE)
             AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment
    """,
    doc="Skew-safe revenue rollup: events joined to customer through "
    "functions.skew.hot_key_split_join (users with > 60 events take the "
    "broadcast arm, the tail the shuffle join; union == plain join, "
    "which IS the oracle), then segment totals with decimal-exact sums. "
    "Plan-asserted: the hot arm is a BroadcastHashJoin.",
)
def q124_hot_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.skew import hot_key_split_join

    td = Testdata(spark, sf_dir)
    joined = hot_key_split_join(
        td.events, td.customer, "user_id", "c_custkey",
        hot_threshold=60, how="inner",
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_value"),
    )


# ===========================================================================
# q125 — entity clusters (round 8): record linkage pairs (q123) closed
# into entity groups with the giant-component-safe star algorithm, then
# one golden record per cluster (min id) with cluster size — the full
# Fellegi-Sunter MERGE step: block -> match -> cluster -> survivorship.
# ===========================================================================

@query(
    "q125_entity_clusters",
    oracle="""
    WITH RECURSIVE r AS (
      SELECT c_custkey AS id, c_name AS nm, c_nationkey AS nk,
             substr(c_name, 1, 16) AS bk
      FROM customer
    ),
    sized AS (
      SELECT r.*, COUNT(*) OVER (PARTITION BY nk, bk) AS bs FROM r
    ),
    keep AS (SELECT * FROM sized WHERE bs > 1 AND bs <= 256),
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM keep a
      JOIN keep b ON a.nk = b.nk AND a.bk = b.bk AND a.id < b.id
      WHERE levenshtein(a.nm, b.nm) <= 1
    ),
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach AS (
      SELECT src, dst FROM sym
      UNION
      SELECT re.src, s.dst FROM reach re JOIN sym s ON re.dst = s.src
    ),
    comp AS (
      SELECT src AS id, LEAST(src, MIN(dst)) AS root
      FROM reach GROUP BY src
    )
    SELECT root AS entity_id,
           COUNT(*) AS n_records,
           CAST(MIN(id) AS BIGINT) AS golden_id
    FROM comp
    GROUP BY root
    HAVING COUNT(*) > 1
    """,
    doc="Entity clusters: q123's blocked Levenshtein match pairs closed "
    "into components (dedup.connected_components_star — O(log^2 n) "
    "rounds, giant-component-safe) and collapsed to one golden record "
    "per entity (min id) with the cluster size. The oracle replays the "
    "closure with WITH RECURSIVE reachability. Only multi-record "
    "entities are emitted (singletons are not linkage output).",
)
def q125_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as dd

    cust = Testdata(spark, sf_dir).customer
    pairs = dd.record_link_pairs(
        cust,
        "c_custkey",
        "c_name",
        ["c_nationkey", F.substring("c_name", 1, 16)],
        max_edit=1,
        max_block=256,
    )
    comp = dd.connected_components_star(pairs.select("id_a", "id_b"))
    return (
        comp.groupBy(F.col("component").alias("entity_id"))
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.min("id").alias("golden_id"),
        )
        .where(F.col("n_records") > 1)
    )


# ===========================================================================
# q129 — visual NEAR-duplicate pairs (round 8): the banded-LSH + Hamming
# verify that q113's doc promised "at scale" made real — band the 64-bit
# aHash into 4x16-bit substrings, bucket-join band-locally (hot buckets
# dropped at max_bucket=64 on BOTH engines), verify bucket-local pairs by
# exact 64-bit Hamming distance <= 6. The simhash_candidates pattern
# applied to images; composes with sample_frames for video frames.
# ===========================================================================

@query(
    "q129_visual_near_dups",
    oracle=f"""
    WITH {_AHASH_CTES},
    bands AS (
      SELECT doc_id, CAST(b.b AS INTEGER) AS band_idx,
             substr(ahash_bits, CAST(b.b * 16 + 1 AS INTEGER), 16) AS band
      FROM hashes, UNNEST(range(0, 4)) b(b)
    ),
    keep AS (
      SELECT band_idx, band FROM bands
      GROUP BY band_idx, band
      HAVING COUNT(*) > 1 AND COUNT(*) <= 64
    ),
    pr AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM bands a
      JOIN keep k ON k.band_idx = a.band_idx AND k.band = a.band
      JOIN bands c ON c.band_idx = a.band_idx AND c.band = a.band
                  AND a.doc_id < c.doc_id
    ),
    ham AS (
      SELECT p.id_a, p.id_b,
             SUM(CASE WHEN substr(ha.ahash_bits, CAST(i AS INTEGER), 1)
                       <> substr(hb.ahash_bits, CAST(i AS INTEGER), 1)
                 THEN 1 ELSE 0 END) AS hamming
      FROM pr p
      JOIN hashes ha ON ha.doc_id = p.id_a
      JOIN hashes hb ON hb.doc_id = p.id_b,
      UNNEST(range(1, 65)) t(i)
      GROUP BY p.id_a, p.id_b
    )
    SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
    FROM ham WHERE hamming <= 6
    """,
    doc="Visual near-dup pairs over the real PPM decode path: aHash "
    "fingerprints band into 4x16-bit substrings, images sharing a band "
    "bucket together (buckets above 64 dropped — deterministic hot-"
    "bucket contract, both engines), pairs verified by exact 64-bit "
    "Hamming <= 6 via a JVM-side fold "
    "(multimodal.ahash_near_dup_pairs).",
)
def q129_visual_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = Testdata(spark, sf_dir, scan_floor=False).documents.where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    hashes = multimodal.ahash_images(multimodal.synth_ppm(docs)).where(
        F.col("decode_ok")
    )
    return multimodal.ahash_near_dup_pairs(
        hashes, max_hamming=6, band_bits=16, max_bucket=64
    )


# ===========================================================================
# q130 — audio fingerprint duplicate clips (round 8): the audio member of
# the cross-modal near-dup family (text simhash / image+video aHash /
# audio THIS). Real WAV decode -> 16-window integer energy signature ->
# identical-fingerprint groups. The oracle re-derives every PCM sample
# from text (the q98 synth_wav contract), every energy sum and threshold
# in exact integer arithmetic — bit-for-bit.
# ===========================================================================

@query(
    "q130_audio_fingerprint_dups",
    oracle="""
    WITH au AS (
      SELECT doc_id, text, length(text) AS L
      FROM documents WHERE text IS NOT NULL AND length(text) > 0
    ),
    s AS (
      SELECT a.doc_id, a.L, CAST(t.i AS BIGINT) AS i,
             ((unicode(substr(a.text, CAST(t.i AS INTEGER), 1)) * 257
               + 7 * t.i) % 65536) - 32768 AS v
      FROM au a, UNNEST(range(1, a.L + 1)) t(i)
    ),
    we AS (
      SELECT doc_id, L, ((i - 1) * 16) // L AS wdx,
             SUM(v * v) AS e
      FROM s GROUP BY 1, 2, 3
    ),
    tot AS (SELECT doc_id, SUM(e) AS te FROM we GROUP BY 1),
    allw AS (
      SELECT a.doc_id, CAST(w.w AS BIGINT) AS wdx,
             COALESCE(we.e, 0) AS e
      FROM au a
      CROSS JOIN UNNEST(range(0, 16)) w(w)
      LEFT JOIN we ON we.doc_id = a.doc_id AND we.wdx = w.w
    ),
    fp AS (
      SELECT aw.doc_id,
             string_agg(CASE WHEN aw.e * 16 > t.te THEN '1' ELSE '0' END,
                        '' ORDER BY aw.wdx) AS fp_bits
      FROM allw aw JOIN tot t USING (doc_id)
      GROUP BY aw.doc_id
    )
    SELECT fp_bits,
           CAST(COUNT(*) AS BIGINT) AS n_clips,
           CAST(MIN(doc_id) AS BIGINT) AS keep_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_id
    FROM fp
    GROUP BY fp_bits
    HAVING COUNT(*) > 1
    """,
    doc="Duplicate audio clips by content fingerprint over the REAL "
    "RIFF/WAVE decode path: synth_wav -> _wav_decode -> 16-window "
    "integer energy signature (energy*16 > total, no division) -> "
    "identical-fingerprint groups (multimodal.audio_fingerprint). "
    "Near-dups widen to band + Hamming verify exactly like "
    "ahash_near_dup_pairs.",
)
def q130_audio_fingerprint_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = Testdata(spark, sf_dir, scan_floor=False).documents.where(
        F.col("text").isNotNull() & (F.length("text") > 0)
    )
    fp = multimodal.audio_fingerprint(multimodal.synth_wav(docs))
    return (
        fp.where(F.col("decode_ok"))
        .groupBy("fp_bits")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clips"),
            F.min("media_id").alias("keep_id"),
            F.max("media_id").alias("max_id"),
        )
        .where(F.col("n_clips") > 1)
    )


# ===========================================================================
# q131 — ORACLE-CHECKED STREAMING (round 9, r8 VERDICT #7): the streaming
# surface gets a driver-gated value check. prepare() lands the events table
# through the REAL Structured Streaming job (streaming.jobs.
# stream_events_daily: file source -> watermarked day-grain agg ->
# foreachBatch versioned upsert) in TWO availableNow runs sharing one
# checkpoint — wave 2 re-touches almost every (campaign, day) group out of
# order, exercising state recovery across restarts, the late-data upsert,
# and the epoch-idempotent sink. The timed/checked query reads the LANDED
# files through the latest-version dedup view; the oracle is the plain
# batch GROUP BY over the same source rows. If the sink's idempotence,
# the checkpointed state recovery, or the upsert versioning breaks, the
# landed counts diverge and the driver's value-hash catches it — until
# now streaming was pytest-only (batch-equivalence tests).
# ===========================================================================

_Q131_CAMPAIGNS = 50
# lateness must cover the full 30-day event span so the value contract is
# exact-total counts (nothing watermark-dropped); watermark DROP semantics
# are covered by tests/test_streaming.py's 2-batch late-data test.
_Q131_LATENESS = "40 days"


def _q131_root(sf_dir: str) -> str:
    """Cache root for the landed streaming silver, keyed on the events
    vintage (``_vintage_root``)."""
    return _vintage_root(sf_dir, "events", "spark_graft_q131")


def _q131_prepare(spark: SparkSession, sf_dir: str) -> None:
    """Land the streaming silver once per (sf_dir, vintage); no-op when
    warm. bench.py runs this untimed in warm-up, so the timed entry
    measures the SERVING read — the q86 split of concerns.

    The silver is append-structured, so it must never be landed in place
    under a shared root: a process that re-lands over another's partial
    landing counts both sets of wave files (a silently double-counted
    silver). ``_staged_publish`` builds it in a pid-private stage under
    the family lock and publishes it by one rename."""
    import os

    from ..streaming.jobs import stream_events_daily

    def build(stage: str) -> None:
        input_dir = os.path.join(stage, "incoming")
        silver = os.path.join(stage, "silver")
        ckpt = os.path.join(stage, "ckpt")
        os.makedirs(input_dir, exist_ok=True)
        ev = (
            Testdata(spark, sf_dir).events.where(
                F.col("event_id").isNotNull()
                & F.col("user_id").isNotNull()
                & F.col("ts").isNotNull()
            ).select(
                F.col("event_id").alias("id"),
                (F.col("user_id") % _Q131_CAMPAIGNS).alias("campaign_id"),
                F.col("ts").alias("created_at"),
            )
        )
        # two deterministic arrival waves; wave 2 (every 3rd id)
        # interleaves across all days, so run 2 must bump nearly every
        # group's version
        for wave_filter in (F.col("id") % 3 != 0, F.col("id") % 3 == 0):
            ev.where(wave_filter).coalesce(4).write.mode("append").parquet(
                input_dir
            )
            q = stream_events_daily(
                spark, input_dir, silver, ckpt,
                lateness=_Q131_LATENESS,
            )
            q.awaitTermination()

    _staged_publish(_q131_root(sf_dir), sf_dir, build)


@query(
    "q131_stream_daily_ingest",
    oracle=f"""
    SELECT CAST(user_id % {_Q131_CAMPAIGNS} AS BIGINT) AS rtm_campaign_id,
           CAST(ts AS DATE) AS event_date,
           CAST(COUNT(*) AS BIGINT) AS event_count
    FROM events
    WHERE event_id IS NOT NULL AND user_id IS NOT NULL AND ts IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="Oracle-checked Structured Streaming ingest: events land through "
    "the REAL stream_events_daily job (file source, watermarked day "
    "window, foreachBatch versioned upsert) in two availableNow runs "
    "over one checkpoint — wave 2 re-touches groups out of order. The "
    "checked query reads the LANDED silver via the latest-version dedup "
    "view; the oracle is the batch GROUP BY over the source rows, so a "
    "broken sink/state-recovery/upsert diverges the value hash. "
    "Reference analog: the CH daily rollup tables the stream twin "
    "mirrors (dags/track_delta.py day-grain agg).",
    prepare=_q131_prepare,
)
def q131_stream_daily_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators.upsert import latest_version

    _q131_prepare(spark, sf_dir)  # no-op when warm
    silver = spark.read.parquet(os.path.join(_q131_root(sf_dir), "silver"))
    return latest_version(
        silver, ["rtm_campaign_id", "event_date"], "rtm_delta",
        tiebreak=["event_count"],
    ).select("rtm_campaign_id", "event_date", "event_count")


# q132 — int8 scalar-quantized ANN (round 9, r8 VERDICT #8): the
# memory-bandwidth counterpart of PQ. Quantization is exact integer /
# IEEE math, so the ENTIRE pipeline — per-dimension absmax scales,
# half-up int8 codes, integer dot-product shortlist, exact cosine
# re-rank — is SQL-derivable and value-checked end to end.
#
# The SQ8 fragments are shared with the IVF,SQ8 composition (q133) so
# a quantization-rule fix can never silently diverge between the two
# oracles (round-10 review): ``_SQ8_CODES_CTES`` assumes a CTE
# ``v(vec_id, e)`` is in scope and emits sc/sv/codes (absmax scales,
# half-up int8 codes, both engines' exact shape); ``_INT8_DOT_SQL`` is
# the exact integer dot product over two code lists.
_SQ8_CODES_CTES = """
    sc AS (
      SELECT i, max(abs(x)) AS s
      FROM (SELECT UNNEST(e) AS x, UNNEST(range(1, len(e) + 1)) AS i FROM v)
      GROUP BY i
    ),
    sv AS (SELECT list(s ORDER BY i) AS sv FROM sc),
    codes AS MATERIALIZED (
      SELECT vec_id,
             list_transform(list_zip(e, sv), t -> CASE WHEN t[2] > 0
               THEN GREATEST(-127, LEAST(127,
                    CAST(FLOOR(t[1] / t[2] * 127.0 + 0.5) AS BIGINT)))
               ELSE 0 END) AS code
      FROM v, sv
    )"""

_INT8_DOT_SQL = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}),"
    " t -> t[1] * t[2])) AS BIGINT)"
)


@query(
    "q132_sq8_topk",
    oracle=f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    {_SQ8_CODES_CTES},
    qc AS (SELECT vec_id AS query_id, code AS q_code FROM codes
           WHERE vec_id < 10),
    scored AS (
      SELECT qc.query_id, c.vec_id AS corpus_id,
             {_INT8_DOT_SQL.format(a='qc.q_code', b='c.code')} AS int8_dot
      FROM qc, codes c WHERE qc.query_id <> c.vec_id
    ),
    short AS (
      SELECT query_id, corpus_id, int8_dot FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY int8_dot DESC, corpus_id ASC
        ) AS srank FROM scored
      ) WHERE srank <= 20
    ),
    rer AS (
      SELECT s.query_id, s.corpus_id, s.int8_dot,
             {_COSINE_SQL.format(a='qv.e', b='cv.e')} AS cosine_sim
      FROM short s
      JOIN v qv ON qv.vec_id = s.query_id
      JOIN v cv ON cv.vec_id = s.corpus_id
    )
    SELECT query_id, corpus_id, int8_dot, cosine_sim, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, corpus_id ASC
      ) AS INTEGER) AS rank FROM rer
    ) WHERE rank <= 5
    """,
    doc="int8 scalar-quantized top-5 (FAISS-SQ8 shape): per-dimension "
    "absmax scales, half-up int8 codes, exact integer dot-product "
    "shortlist of 20 (codes-only scan — 8x less bandwidth than float64 "
    "at serving scale), exact cosine re-rank over the broadcast-joined "
    "shortlist. Scales, codes, integer dots, cosines and both rank "
    "stages are all value-checked against DuckDB.",
)
def q132_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Testdata(spark, sf_dir).embeddings
    out = similarity.sq8_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, shortlist=20
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


# q133 — IVF + int8 scalar quantization (round 10, r9 VERDICT #1): the
# full FAISS ``IVF,SQ8`` serving shape, promoted from tests-only to the
# battery. The oracle is the promised composition: q50's trained-IVF CTE
# chain (md5 hash-sample training, Lloyd rounds with 6-dp rounding, cell
# assignment, n_probe routing) feeding q132's SQ8 CTEs (absmax scales,
# half-up int8 codes, integer-dot shortlist, exact cosine re-rank) —
# every stage of the trained, quantized, pruned pipeline value-checked.
def _ivf_sq8_oracle(
    n_cells: int, n_iter: int, n_probe: int, k: int, shortlist: int,
    dim: int, train_cutoff: int = 500000, train_salt: int = 42,
) -> str:
    final = f"c{n_iter}"
    its = ",".join(_ivf_iter_ctes(i, dim) for i in range(1, n_iter + 1))
    train = _IVF_TRAIN.format(salt=train_salt, cutoff=train_cutoff)
    corpus_dist = _IVF_DIST.format(e="v.e", c=f"{final}.c")
    query_dist = _IVF_DIST.format(e="q.e", c=f"{final}.c")
    # v, codes, corpus_cells and the c0 seed are multiply referenced —
    # MATERIALIZED per the known DuckDB re-evaluation pitfall; the
    # per-iteration c{i} chain gets the same treatment inside
    # _ivf_iter_ctes itself (round-10 review).
    return f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    {train},
    c0 AS MATERIALIZED (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
             list_transform(e, x -> round(x, 6)) AS c
      FROM (SELECT * FROM t ORDER BY vec_id LIMIT {n_cells})
    ),{its},
    {_SQ8_CODES_CTES},
    corpus_cells AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, {final}.cell,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
                 {corpus_dist} ASC, {final}.cell ASC) AS rn
        FROM v, {final}
      ) WHERE rn = 1
    ),
    probe AS (
      SELECT query_id, cell FROM (
        SELECT q.vec_id AS query_id, {final}.cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                 {query_dist} ASC, {final}.cell ASC) AS rn
        FROM (SELECT * FROM v WHERE vec_id < 10) q, {final}
      ) WHERE rn <= {n_probe}
    ),
    scored AS (
      SELECT p.query_id, cc.vec_id AS corpus_id,
             {_INT8_DOT_SQL.format(a='qc.code', b='c.code')} AS int8_dot
      FROM probe p
      JOIN corpus_cells cc USING (cell)
      JOIN codes qc ON qc.vec_id = p.query_id
      JOIN codes c ON c.vec_id = cc.vec_id
      WHERE p.query_id <> cc.vec_id
    ),
    short AS (
      SELECT query_id, corpus_id, int8_dot FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY int8_dot DESC, corpus_id ASC
        ) AS srank FROM scored
      ) WHERE srank <= {shortlist}
    ),
    rer AS (
      SELECT s.query_id, s.corpus_id, s.int8_dot,
             {_COSINE_SQL.format(a='qv.e', b='cv.e')} AS cosine_sim
      FROM short s
      JOIN v qv ON qv.vec_id = s.query_id
      JOIN v cv ON cv.vec_id = s.corpus_id
    )
    SELECT query_id, corpus_id, int8_dot, cosine_sim, rank FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, corpus_id ASC
      ) AS INTEGER) AS rank FROM rer
    ) WHERE rank <= {k}
    """


@query(
    "q133_ivf_sq8_topk",
    oracle=_ivf_sq8_oracle(
        n_cells=8, n_iter=3, n_probe=2, k=5, shortlist=20, dim=64
    ),
    doc="IVF + int8 scalar quantization (the FAISS IVF,SQ8 serving shape): "
    "8 k-means cells trained in 3 deterministic Lloyd rounds on a 50% md5 "
    "hash-sample, 2-cell probe, exact integer dot-product shortlist of 20 "
    "over the probed cells' CODES ONLY (cells prune which rows are "
    "scanned, int8 shrinks what the scan reads — 8x less bandwidth), "
    "exact cosine re-rank. The oracle composes q50's trained-IVF chain "
    "with q132's SQ8 chain, so training, routing, quantization, the "
    "integer shortlist and both rank stages are all value-checked.",
)
def q133_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = Testdata(spark, sf_dir).embeddings
    out = similarity.ivf_sq8_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5,
        n_cells=8, n_iter=3, n_probe=2, shortlist=20, dim=64,
        train_fraction=0.5, train_hash_method="md5",
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


# ===========================================================================
# q134 — PERSISTED IVF,SQ8 SERVING (round 11, r10 VERDICT #1): q133 times
# the inline train+quantize pipeline for oracle depth; this entry times the
# cost a 100 TB embedding store actually pays per query batch — search
# against a STORED index (int8 codes + scales model table persisted by
# ivf_index_write(sq8=), built untimed in prepare), the q86 split of
# concerns. ivf_index_search(sq8=True) is equivalence-proven against
# ivf_sq8_topk (tests/test_variants.py, incl. a streamed delta), so the
# oracle is exactly q133's composed chain: q50's trained-IVF CTEs feeding
# q132's SQ8 CTEs. The serving plan keeps the probed partitions' scan on
# (id, cell, sq8_code) — 8x less bandwidth than the embedding column —
# and joins the full-precision vectors back BY ID for the shortlist only.
# ===========================================================================

_Q134 = dict(n_cells=8, n_iter=3, n_probe=2, k=5, shortlist=20, dim=64,
             train_fraction=0.5, n_queries=10)


def _q134_root(sf_dir: str) -> str:
    """Cache root for the persisted IVF,SQ8 index, keyed on the
    embeddings vintage (``_vintage_root``)."""
    return _vintage_root(sf_dir, "embeddings", "spark_graft_q134")


_Q134_MODEL_CACHE: dict = {}


def _q134_model(spark: SparkSession, sf_dir: str):
    """Resident model state for serving — (centroids, sq8 scales) LOADED
    from the index root's stored model tables (what a query server keeps
    in memory), memoized per cache root so repeated serving calls in one
    process pay zero model reads. Requires a built index (prepare)."""
    import os

    root = _q134_root(sf_dir)
    if root not in _Q134_MODEL_CACHE:
        cents = similarity.ivf_model_read(spark, os.path.join(root, "model"))
        scales = similarity.sq8_scales_read(
            spark, os.path.join(root, "sq8_scales")
        )
        _Q134_MODEL_CACHE[root] = (cents, scales)
    return _Q134_MODEL_CACHE[root]


def _q134_prepare(spark: SparkSession, sf_dir: str) -> None:
    """Train the IVF model + SQ8 scales and persist the cell-partitioned
    int8 index once per (sf_dir, vintage); no-op when warm. bench.py runs
    this untimed in warm-up, so the timed entry measures SERVING only.
    Published through ``_staged_publish`` (concurrent first touches wait
    on its lock for one build), then the resident model memo is loaded
    from the published root."""
    p = _Q134

    def build(stage: str) -> None:
        emb = Testdata(spark, sf_dir).embeddings
        scales = similarity.sq8_scales(emb)
        cents = similarity.kmeans_fit(
            emb, p["n_cells"], p["n_iter"], dim=p["dim"],
            train_fraction=p["train_fraction"], train_hash_method="md5",
        )
        similarity.ivf_index_write(
            emb, cents, stage, dim=p["dim"], sq8=scales
        )

    _staged_publish(_q134_root(sf_dir), sf_dir, build)
    _q134_model(spark, sf_dir)


@query(
    "q134_ivf_sq8_serve",
    oracle=_ivf_sq8_oracle(
        n_cells=8, n_iter=3, n_probe=2, k=5, shortlist=20, dim=64
    ),
    doc="Persisted IVF,SQ8 SERVING cost (the deployment shape of q133): "
    "search a STORED cell-partitioned int8 index — built untimed by "
    "bench warm-up via Q.prepare; rebuilt on cache miss — with resident "
    "model state (centroids + scales loaded from the index's model "
    "tables, memoized). The probed partitions' scan reads (id, cell, "
    "sq8_code) only; true embeddings join back BY ID for the exact "
    "cosine re-rank of the 20-row shortlist alone. "
    "operators.similarity.ivf_index_search(sq8=True), equivalence-"
    "proven == ivf_sq8_topk, so the oracle is exactly q133's composed "
    "trained-IVF + SQ8 chain.",
    prepare=_q134_prepare,
)
def q134_ivf_sq8_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _Q134
    _q134_prepare(spark, sf_dir)  # no-op when the bench warm-up built it
    cents, scales = _q134_model(spark, sf_dir)
    emb = Testdata(spark, sf_dir).embeddings
    out = similarity.ivf_index_search(
        spark, _q134_root(sf_dir),
        emb.where(F.col("vec_id") < p["n_queries"]),
        k=p["k"], n_probe=p["n_probe"], sq8=True,
        shortlist=p["shortlist"], centroids=cents, sq8_scales_vec=scales,
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


# ===========================================================================
# q135 — ORACLE-CHECKED STREAMING KMV MONITOR (round 11, r10 VERDICT #3):
# the replay-idempotence claim of the streaming sketch monitors moves onto
# the value-checked path. prepare() lands the events table through the
# REAL Structured Streaming job (streaming.jobs.stream_kmv_monitor: file
# source -> per-micro-batch KMV sketch -> append-only sketch log) in two
# availableNow waves sharing one checkpoint, then a THIRD run with a FRESH
# checkpoint that re-processes EVERY file — a deliberate full replay that
# appends a duplicate sketch of the whole corpus to the log. The timed /
# checked query collapses the log (distinct + re-rank to k — the KMV merge
# law, exact) and estimates per-group distinct counts; the oracle replays
# the batch sketch construction + estimator in SQL over the same rows. If
# the merge-law collapse, the per-batch sketch kernel, or replay
# idempotence breaks, the estimates diverge and the driver's value hash
# catches it — until now the monitor family was batch-equivalence-tested
# only (q131 value-checked the ingest job, not the sketch monitors).
# ===========================================================================

_Q135_K = 64


def _q135_root(sf_dir: str) -> str:
    """Cache root for the landed sketch log, keyed on the events vintage
    (``_vintage_root``)."""
    return _vintage_root(sf_dir, "events", "spark_graft_q135")


def _q135_prepare(spark: SparkSession, sf_dir: str) -> None:
    """Land the sketch log once per (sf_dir, vintage); no-op when warm.
    The log is append-structured like q131's silver, so it is built in
    ``_staged_publish``'s pid-private stage under the family lock and
    published by one rename, never landed in place."""
    import os

    from pyspark.sql import types as T

    from ..streaming.jobs import stream_kmv_monitor

    def build(stage: str) -> None:
        input_dir = os.path.join(stage, "incoming")
        sketch_log = os.path.join(stage, "sketch_log")
        os.makedirs(input_dir, exist_ok=True)
        ev = (
            Testdata(spark, sf_dir).events.where(
                F.col("event_id").isNotNull() & F.col("user_id").isNotNull()
            ).select("event_id", "event_type", "user_id")
        )
        schema = T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.LongType()),
        ])
        # two deterministic arrival waves sharing one checkpoint (normal
        # incremental operation: each wave's files fold in as per-batch
        # sketches), then a FULL REPLAY under a fresh checkpoint — every
        # file re-processed, a duplicate whole-corpus sketch appended to
        # the log. The read-side merge-law collapse must absorb it
        # exactly.
        for ckpt, wave_filter in (
            ("ckpt", F.col("event_id") % 3 != 0),
            ("ckpt", F.col("event_id") % 3 == 0),
            ("ckpt_replay", F.lit(True)),
        ):
            if ckpt == "ckpt":
                ev.where(wave_filter).coalesce(4).write.mode(
                    "append"
                ).parquet(input_dir)
            q = stream_kmv_monitor(
                spark, input_dir, schema, "user_id", sketch_log,
                os.path.join(stage, ckpt), group_cols=["event_type"],
                k=_Q135_K, method="md5",
            )
            q.awaitTermination()

    _staged_publish(_q135_root(sf_dir), sf_dir, build)


@query(
    "q135_stream_kmv_monitor",
    oracle=f"""
    WITH vals AS (
      SELECT DISTINCT event_type AS g,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS h
      FROM events
      WHERE event_id IS NOT NULL AND user_id IS NOT NULL
    ),
    ranked AS (
      SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS r
      FROM vals
    ),
    st AS (
      SELECT g, COUNT(*) AS n,
             COALESCE(MAX(CASE WHEN r = {_Q135_K} THEN h END),
                      1152921504606846976) AS theta
      FROM ranked WHERE r <= {_Q135_K} GROUP BY g
    )
    SELECT g AS event_type,
           CASE WHEN n < {_Q135_K} THEN CAST(n AS DOUBLE)
                ELSE round(CAST({_Q135_K - 1} AS DOUBLE)
                           * CAST(1152921504606846976 AS DOUBLE)
                           / CAST(theta AS DOUBLE), 6) END AS est_distinct
    FROM st
    """,
    doc="Oracle-checked streaming KMV monitor: events land through the "
    "REAL stream_kmv_monitor job (file source, per-micro-batch KMV "
    "sketch, append-only sketch log) in two availableNow waves over one "
    "checkpoint PLUS a full replay under a fresh checkpoint (every file "
    "re-processed — a duplicate whole-corpus sketch in the log). The "
    "checked query collapses the log via the exact KMV merge law "
    "(distinct + re-rank to k=64) and estimates per-event_type distinct "
    "users; the oracle replays the batch sketch construction + the "
    "(k-1)*2^60/theta estimator over the source rows, so a broken "
    "merge-law collapse, sketch kernel, or replay idempotence diverges "
    "the value hash. sf0.001 exercises the exact regime (15 users < k), "
    "sf0.01 the estimation regime (150 > k).",
    prepare=_q135_prepare,
)
def q135_stream_kmv_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators import sketch
    from ..streaming.jobs import read_kmv_sketch

    _q135_prepare(spark, sf_dir)  # no-op when warm
    sk = read_kmv_sketch(
        spark, os.path.join(_q135_root(sf_dir), "sketch_log"),
        ["event_type"], k=_Q135_K,
    )
    return sketch.kmv_estimate(sk, ["event_type"], k=_Q135_K, method="md5")


# ===========================================================================
# Shared cache-landing kernel for prepared entries: every cache root the
# battery reuses across processes (q86/q134 persisted indexes, q131/q135
# streamed landings, q136-q138 stored dedup state) is keyed by
# ``_vintage_root`` and published by ``_staged_publish`` — nothing else
# renames a stage onto a root. A root is complete iff its ``_landed_ok``
# marker exists: the warm path checks it without locking; a cold entry
# takes the per-family ``.claim.lock`` flock, re-checks the marker (a
# racer may have published while it waited), clears any marker-less root
# (under the lock that can only be debris of a crash), builds in a
# pid-private stage and publishes it with one os.rename. Concurrent first
# touches therefore wait for one build instead of racing two.
# ===========================================================================


def _vintage_root(sf_dir: str, table: str, family: str, salt: str = "") -> str:
    """Per-(sf_dir, source-table fingerprint) cache root under tempdir:
    any process may build the landing and later processes reuse it; a
    regenerated testdata vintage misses the cache instead of serving
    stale artifacts (``st_mtime_ns``, so a same-size vintage rewritten
    within one second still misses). ``salt`` folds the entry's OWN
    parameters into the key, so editing the recipe (splits, tombstone
    ids) also misses the cache instead of serving an index built under
    the old parameters."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf_dir, f"{table}.parquet")
    parts = [sf_dir.rstrip("/"), salt] if salt else [sf_dir.rstrip("/")]
    if os.path.isdir(src):
        for f in sorted(os.listdir(src)):
            st = os.stat(os.path.join(src, f))
            parts.append(f"{f}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(src):
        st = os.stat(src)
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    key = hashlib.md5("|".join(parts).encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), family, key)


def _staged_publish(root: str, sf_dir: str, build) -> None:
    """Build the landing at ``root`` once per vintage via
    ``build(stage_dir)``; no-op when warm. See the section comment for
    the protocol. The lock is per family (all keys of one entry share
    it), so cold builds of different sf_dirs also run one at a time."""
    import fcntl
    import os
    import shutil
    from pathlib import Path

    _sweep_vintages(root, sf_dir)
    marker = os.path.join(root, "_landed_ok")
    if os.path.exists(marker):
        try:
            os.utime(root, None)  # renew the idle-age sweep clock
        except OSError:
            pass
        return
    parent = os.path.dirname(root)
    os.makedirs(parent, exist_ok=True)
    with open(os.path.join(parent, ".claim.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(marker):
            return  # a racer published while we waited
        _sweep_dead(root)
        shutil.rmtree(root, ignore_errors=True)  # marker-less: debris
        stage = f"{root}.stage.{os.getpid()}"
        shutil.rmtree(stage, ignore_errors=True)  # this pid's prior crash
        os.makedirs(stage)
        build(stage)
        # breadcrumb BEFORE the marker: marker implies a complete landing
        # including the _source the vintage sweep keys on
        Path(os.path.join(stage, "_source")).write_text(sf_dir.rstrip("/"))
        Path(os.path.join(stage, "_landed_ok")).write_text("ok")
        os.rename(stage, root)


def _sweep_vintages(root: str, sf_dir: str) -> None:
    """Reclaim cache roots of OLD VINTAGES of the same ``sf_dir`` (r9
    ADVICE): regenerated testdata changes the fingerprint key, so the
    previous landing can never be reused — without this sweep each
    regeneration leaks a parquet tree in tempdir indefinitely. Every
    landing records its sf_dir in a ``_source`` breadcrumb (written
    before the marker, so marker implies breadcrumb); a sibling key dir
    with the SAME source but a different key is definitively an
    orphaned vintage. Keys of OTHER sf_dirs (a concurrent sf0.001 run
    beside this sf0.01 one) are live caches and are left alone — which
    is why a blanket different-key sweep would be wrong. Pre-breadcrumb
    key dirs are aged out after a day instead (source unknowable)."""
    import os
    import shutil
    import time

    parent, cur = os.path.dirname(root), os.path.basename(root)
    try:
        names = os.listdir(parent)
    except OSError:
        return
    for name in names:
        # stages carry a "." (_sweep_dead's job), as does the lock file
        if name == cur or "." in name:
            continue
        path = os.path.join(parent, name)
        src = os.path.join(path, "_source")
        try:
            if os.path.exists(src):
                with open(src) as fh:
                    same = fh.read() == sf_dir.rstrip("/")
                if same:
                    shutil.rmtree(path, ignore_errors=True)
            elif time.time() - os.path.getmtime(path) > 86400:
                shutil.rmtree(path, ignore_errors=True)
        except OSError:
            pass


def _sweep_dead(root: str) -> None:
    """Reclaim dirs left by CRASHED landings (round-9 review): a
    SIGKILLed process leaks its ``{root}.stage.{pid}`` parquet tree
    forever — sweep ``{root}.<tag>.{pid}`` siblings (stages, and the
    move-aside dirs of the pre-lock protocol) whose pid is no longer
    alive (the write-fence PID-liveness idiom, ``operators/upsert.py``)."""
    import os
    import shutil

    parent, base = os.path.dirname(root), os.path.basename(root)
    try:
        names = os.listdir(parent)
    except OSError:
        return
    for name in names:
        pid_s = name.rsplit(".", 1)[-1]
        if (
            name.startswith(base + ".")
            and pid_s.isdigit()
            and int(pid_s) != os.getpid()
        ):
            try:
                os.kill(int(pid_s), 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
            except OSError:
                pass  # alive but not ours (EPERM): leave it


# ===========================================================================
# q136 — PERSISTED MINHASH LSH DEDUP INDEX SERVING (round 12, r11 VERDICT
# #1): the serving shape a 100 TB corpus actually runs for continuous
# dedup. q70 times the one-shot dedup_against (batch + corpus re-shingled
# every call); this entry serves the SAME semantics from a STORED index —
# band rows + shingle profiles persisted by minhash_index_write, grown by
# the REAL stream_minhash_ingest Structured Streaming job (two availableNow
# waves over one checkpoint), shrunk by minhash_index_delete tombstones —
# so all three overlays (base, streamed delta, tombstones) sit on the
# value-checked path. minhash_index_dedup is equivalence-proven ==
# dedup_against on the surviving corpus (tests/test_variants.py incl. the
# cap contract), so the oracle is q70's SQL shape with the corpus
# restricted to survivors. Orientation is the PRODUCTION one — the
# opposite of q70's: the BATCH is fixed-size (doc_id<100, 100 docs at
# every sf) and the CORPUS grows with the data (doc_id>=100), so the sf1
# series isolates exactly the claim that matters at 100 TB: serving cost
# is ~O(batch), flat while the stored corpus grows 10x (the one-shot q70
# form re-shingles the corpus per call and scales with it). The split is
# chosen so every overlay CHANGES the sf0.01 answer: base = doc_id>=250,
# streamed delta = 100..249 (batch matches 134/185/245 arrive only via
# the stream), and tombstones {134, 185, 290} span delta AND base, each
# the sole corpus match of some batch doc (87, 61, 98 — deleting them
# must resurrect those batch rows, exactly as a rebuild-from-survivors
# would). Serving plan (plan-asserted for the operator in test_variants):
# batch broadcast into both stored-table joins, stored bands scan
# dynamic-partition-pruned to touched hb buckets, docs scan materializes
# shingle sets for candidate ids only — nothing shuffles the stored
# tables.
# ===========================================================================

_Q136_TOMB = (134, 185, 290)


def _q136_root(sf_dir: str) -> str:
    salt = f"batch<100|delta=100..249|base>=250|tomb={_Q136_TOMB}|md5/64/16"
    return _vintage_root(sf_dir, "documents", "spark_graft_q136", salt)


def _q136_prepare(spark: SparkSession, sf_dir: str) -> None:
    """Build the persisted dedup index once per (sf_dir, vintage):
    base write (doc_id>=250 — the data-sized side, md5/no-shingle-cap so
    DuckDB replays it), two streamed ingest waves (100..249, the
    fixed-size delta) through the real stream_minhash_ingest job sharing
    one checkpoint, then tombstone deletes {134, 185, 290}. bench.py
    runs this untimed in warm-up, so the timed entry measures SERVING
    only."""
    import os

    from ..streaming.jobs import stream_minhash_ingest

    def build(stage: str) -> None:
        idx = os.path.join(stage, "index")
        input_dir = os.path.join(stage, "incoming")
        ckpt = os.path.join(stage, "ckpt")
        os.makedirs(input_dir, exist_ok=True)
        docs = Testdata(spark, sf_dir).documents
        dedup.minhash_index_write(
            docs.where(F.col("doc_id") >= 250), idx,
            num_hashes=64, bands=16, shingle_k=3, max_shingles=None,
            hash_method="md5",
        )
        delta = docs.where((F.col("doc_id") >= 100) & (F.col("doc_id") < 250))
        # two deterministic arrival waves over ONE checkpoint — wave 2
        # proves checkpoint resume, not just first-run ingestion
        for wave in (F.col("doc_id") % 2 == 0, F.col("doc_id") % 2 == 1):
            delta.where(wave).coalesce(2).write.mode("append").parquet(
                input_dir
            )
            stream_minhash_ingest(
                spark, input_dir, idx, ckpt
            ).awaitTermination()
        dedup.minhash_index_delete(spark, idx, list(_Q136_TOMB))

    _staged_publish(_q136_root(sf_dir), sf_dir, build)


@query(
    "q136_minhash_index_serve",
    oracle=f"""
    WITH {_minhash_band_ctes(num_hashes=64, bands=16)},
    nb AS (
      SELECT doc_id AS id_new, band_idx, band_key FROM bands
      WHERE doc_id < 100
    ),
    cb AS (
      SELECT band_idx, band_key,
             (list_sort(list(DISTINCT doc_id)))[1:64] AS ids
      FROM bands
      WHERE doc_id >= 100 AND doc_id NOT IN {_Q136_TOMB}
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT nb.id_new, u.id_corp
      FROM nb JOIN cb USING (band_idx, band_key),
      LATERAL unnest(cb.ids) AS u(id_corp)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_new, c.id_corp, COUNT(*) AS i
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_new
      JOIN sh b ON b.doc_id = c.id_corp AND b.s = a.s
      GROUP BY 1, 2
    ),
    hits AS (
      SELECT DISTINCT i.id_new
      FROM inter i
      JOIN sizes sa ON sa.doc_id = i.id_new
      JOIN sizes sb ON sb.doc_id = i.id_corp
      WHERE CAST(i.i AS DOUBLE) / CAST(sa.n + sb.n - i.i AS DOUBLE) >= 0.5
    )
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE doc_id < 100 AND doc_id NOT IN (SELECT id_new FROM hits)
    """,
    doc="Persisted MinHash LSH dedup index SERVING (the deployment shape "
    "of q70's dedup_against, in the PRODUCTION orientation — fixed-size "
    "batch, data-sized corpus): the doc_id<100 batch deduped against a "
    "STORED index — base written from doc_id>=250 (grows with the "
    "data), docs 100..249 ingested by the REAL stream_minhash_ingest "
    "job (two availableNow waves, one checkpoint), ids {134,185,290} "
    "tombstoned (spanning delta and base; each is some batch doc's only "
    "corpus match, so the deletes visibly resurrect batch rows). "
    "operators.dedup.minhash_index_dedup, equivalence-proven == "
    "dedup_against on the surviving corpus incl. the per-bucket cap "
    "contract, so the oracle is q70's SQL shape over survivors. Serving "
    "broadcasts the batch into both stored-table joins; the bands scan "
    "is dynamic-partition-pruned — cost stays ~O(batch) while the "
    "stored corpus grows (the sf1 series' claim).",
    prepare=_q136_prepare,
)
def q136_minhash_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    _q136_prepare(spark, sf_dir)  # no-op when warm
    batch = Testdata(spark, sf_dir).documents.where(F.col("doc_id") < 100)
    out = dedup.minhash_index_dedup(
        batch, os.path.join(_q136_root(sf_dir), "index"),
        verify_threshold=0.5,
    )
    return out.select("doc_id", "lang", "source", "n_chars")


# ===========================================================================
# q137 — PERSISTED CLUSTER-ASSIGNMENT STORE (round 12, r11 VERDICT #2): the
# base+delta overlay store behind a continuously-deduped corpus, on the
# value-checked path. prepare() computes the verified near-dup edge set
# (q35's md5 minhash chain), splits it into three deterministic waves,
# initializes the store from wave 0's closure (components_write), folds
# waves 1 and 2 through components_update (contracted batch-graph closure,
# changed-rows-only delta appends), then REPLAYS wave 1 — whose edges all
# lie within existing components — and asserts the documented no-op
# contract (0 rows written, generation unmoved). The timed query is
# components_read: base rows anti-joined against the broadcast delta id
# set + the delta's latest-wins window. The oracle recomputes the closure
# fixpoint over ALL edges in SQL (q35's WITH RECURSIVE reachability), so
# a broken overlay merge, version tiebreak, or incremental fold diverges
# the value hash — incremental maintenance must equal from-scratch
# closure exactly.
# ===========================================================================


def _q137_root(sf_dir: str) -> str:
    return _vintage_root(
        sf_dir, "documents", "spark_graft_q137", "3waves|md5/64/16/0.5"
    )


def _q137_prepare(spark: SparkSession, sf_dir: str) -> None:
    """Land the component store once per (sf_dir, vintage): write from
    wave-0 closure, two incremental update waves, then a replayed wave
    that must fold as a no-op. Untimed via Q.prepare (bench warm-up)."""
    import os

    def build(stage: str) -> None:
        store = os.path.join(stage, "store")
        docs = Testdata(spark, sf_dir).documents
        # one shingle pass feeds all three waves
        edges = checkpoint(
            dedup._verified_candidates(
                docs, "text", "doc_id", 64, 16, 3, 0.5, None, "md5",
            )
        )
        wave = F.pmod(F.col("id_a") + F.col("id_b"), F.lit(3))
        dedup.components_write(
            dedup.connected_components_star(edges.where(wave == 0)), store
        )
        dedup.components_update(spark, store, edges.where(wave == 1))
        dedup.components_update(spark, store, edges.where(wave == 2))
        # replay wave 1: every edge now lies inside an existing component
        # — the documented no-op contract (nothing written, generation
        # unmoved). A nonzero fold means the overlay law is broken; fail
        # the landing loudly rather than publish a wrong store.
        n = dedup.components_update(spark, store, edges.where(wave == 1))
        if n != 0:
            raise RuntimeError(
                f"q137 replayed-batch fold wrote {n} rows; "
                "components_update no-op contract violated"
            )

    _staged_publish(_q137_root(sf_dir), sf_dir, build)


@query(
    "q137_component_store",
    oracle=f"""
    WITH RECURSIVE {_minhash_pair_ctes(num_hashes=64, bands=16, threshold=0.5)},
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM ver
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM ver
    ),
    reach AS (
      SELECT src, dst FROM sym
      UNION
      SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src
    )
    SELECT src AS id, LEAST(src, MIN(dst)) AS component
    FROM reach GROUP BY src
    """,
    doc="Persisted duplicate-cluster assignment store read (the overlay "
    "view of operators.dedup.components_read): the store was initialized "
    "from wave-0 closure, grown by two components_update waves "
    "(contracted batch-graph closure, changed-rows-only delta), and a "
    "replayed wave asserted the no-op contract — the oracle recomputes "
    "min-id connected components over the FULL verified edge set (q35's "
    "md5 minhash chain + WITH RECURSIVE reachability), so incremental "
    "base+delta maintenance must equal from-scratch closure bit-for-bit. "
    "The read never shuffles the base: superseded ids broadcast "
    "anti-join + a delta-sized latest-wins window.",
    prepare=_q137_prepare,
)
def q137_component_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    _q137_prepare(spark, sf_dir)  # no-op when warm
    return dedup.components_read(
        spark, os.path.join(_q137_root(sf_dir), "store")
    )


# ===========================================================================
# q138 — END-TO-END CONTINUOUS DEDUP PIPELINE (round 13, r12 VERDICT #1):
# the last first-class streaming claim promoted onto the value-checked
# path. prepare() builds the persisted MinHash index from the base corpus
# (doc_id>=350), initializes an EMPTY component store, then lands TWO
# document waves (doc_id<175, then 175..349) through the REAL
# stream_dedup_pipeline Structured Streaming job over one checkpoint — per
# micro-batch: intra-batch verified dedup (transitive closure, min-id
# canonical), corpus dedup against the stored index (keep="links"),
# survivors landed + their profiles ingested into the index delta, and
# BOTH link kinds folded into the component store. The checked query is
# the landed survivor set LEFT JOINed with the store's cluster label; the
# oracle replays the whole protocol sequentially in SQL — wave-1 intra
# closure (WITH RECURSIVE), wave-1 links against the base, wave-2 intra
# closure, wave-2 links against base ∪ wave-1 survivors (so a doc that
# duplicates a STREAMED-IN survivor is only caught if the delta-ingest
# step worked), and a final closure over exactly the folded edge set. Any
# break in batch semantics, ingest, landing idempotence, or the store
# fold diverges the value hash. Wave splits chosen so every path fires at
# sf0.001 AND sf0.01: intra-wave near-dup clusters (incl. triangles),
# wave→base links, and wave-2→wave-1-survivor links via the delta.
# Matches the reference's continuous-ETL heart (dags/track_delta.py
# incremental extract→land→fold) in its modern dedup form.
# ===========================================================================

_Q138_W1, _Q138_W2 = 175, 350


def _q138_verify_sql(pairs_cte: str, a: str = "id_a", b: str = "id_b") -> str:
    """Exact-Jaccard verification of a candidate-pair CTE against the
    shared ``sh``/``sizes`` shingle CTEs (threshold 0.5) — the repeated
    back half of every dedup oracle in this family."""
    return f"""
      SELECT i.{a} AS id_a, i.{b} AS id_b FROM (
        SELECT p.{a}, p.{b}, COUNT(*) AS i
        FROM {pairs_cte} p
        JOIN msh a ON a.doc_id = p.{a}
        JOIN msh b ON b.doc_id = p.{b} AND b.s = a.s
        GROUP BY 1, 2
      ) i
      JOIN sizes sa ON sa.doc_id = i.{a}
      JOIN sizes sb ON sb.doc_id = i.{b}
      WHERE CAST(i.i AS DOUBLE) / CAST(sa.n + sb.n - i.i AS DOUBLE) >= 0.5
    """


def _q138_wave_ctes(w: str, lo: int, hi: int, corpus_pred: str) -> str:
    """One wave of the pipeline replay: intra-batch capped LSH pairs →
    verify → recursive min-id closure → canonical survivors → capped
    corpus buckets (over ``corpus_pred``) → verified links → survivors."""
    return f"""
    {w}k AS (
      SELECT band_idx, band_key,
             (list_sort(list(DISTINCT doc_id)))[1:64] AS ids
      FROM mbands WHERE doc_id >= {lo} AND doc_id < {hi} GROUP BY 1, 2
    ),
    {w}m AS (
      SELECT band_idx, band_key,
             generate_subscripts(ids, 1) AS p, unnest(ids) AS id
      FROM {w}k WHERE len(ids) > 1
    ),
    {w}p AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM {w}m a JOIN {w}m b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.p < b.p
    ),
    {w}v AS ({_q138_verify_sql(f"{w}p")}),
    {w}sym AS (
      SELECT id_a AS src, id_b AS dst FROM {w}v
      UNION ALL SELECT id_b AS src, id_a AS dst FROM {w}v
    ),
    {w}reach AS (
      SELECT src, dst FROM {w}sym
      UNION
      SELECT r.src, s.dst FROM {w}reach r JOIN {w}sym s ON r.dst = s.src
    ),
    {w}canon AS (
      SELECT doc_id FROM documents
      WHERE doc_id >= {lo} AND doc_id < {hi} AND doc_id NOT IN (
        SELECT src FROM {w}reach GROUP BY src
        HAVING LEAST(src, MIN(dst)) <> src
      )
    ),
    {w}ck AS (
      SELECT band_idx, band_key,
             (list_sort(list(DISTINCT doc_id)))[1:64] AS ids
      FROM mbands WHERE {corpus_pred} GROUP BY 1, 2
    ),
    {w}cand AS (
      SELECT DISTINCT nb.doc_id AS id_new, u.id_corp
      FROM mbands nb
      JOIN {w}canon w ON w.doc_id = nb.doc_id
      JOIN {w}ck ck ON ck.band_idx = nb.band_idx
                   AND ck.band_key = nb.band_key,
      LATERAL unnest(ck.ids) AS u(id_corp)
    ),
    {w}l AS ({_q138_verify_sql(f"{w}cand", "id_new", "id_corp")}),
    {w}s AS (
      SELECT doc_id FROM {w}canon
      WHERE doc_id NOT IN (SELECT id_a FROM {w}l)
    )"""


def _q138_root(sf_dir: str) -> str:
    salt = f"w1<{_Q138_W1}|w2<{_Q138_W2}|base>={_Q138_W2}|md5/64/16/0.5"
    return _vintage_root(sf_dir, "documents", "spark_graft_q138", salt)


def _q138_prepare(spark: SparkSession, sf_dir: str) -> None:
    """Land the pipeline output once per (sf_dir, vintage): index base
    write, empty component store, two REAL stream_dedup_pipeline waves
    over one checkpoint. Untimed via Q.prepare (bench warm-up)."""
    import os

    from ..streaming.jobs import stream_dedup_pipeline

    def build(stage: str) -> None:
        idx = os.path.join(stage, "index")
        store = os.path.join(stage, "store")
        accepted = os.path.join(stage, "accepted")
        input_dir = os.path.join(stage, "incoming")
        ckpt = os.path.join(stage, "ckpt")
        os.makedirs(input_dir, exist_ok=True)
        docs = Testdata(spark, sf_dir).documents
        dedup.minhash_index_write(
            docs.where(F.col("doc_id") >= _Q138_W2), idx,
            num_hashes=64, bands=16, shingle_k=3, max_shingles=None,
            hash_method="md5",
        )
        dedup.components_write(
            spark.createDataFrame([], "id long, component long"), store
        )
        # each wave is one availableNow run over the SHARED checkpoint —
        # one micro-batch per wave, so intra-batch semantics are pinned
        # (wave 2 additionally proves checkpoint resume + delta serving)
        for lo, hi in ((0, _Q138_W1), (_Q138_W1, _Q138_W2)):
            docs.where(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            ).coalesce(1).write.mode("append").parquet(input_dir)
            stream_dedup_pipeline(
                spark, input_dir, idx, store, accepted, ckpt,
                verify_threshold=0.5, schema=docs.schema,
            ).awaitTermination()

    _staged_publish(_q138_root(sf_dir), sf_dir, build)


@query(
    "q138_stream_dedup_pipeline",
    oracle=f"""
    WITH RECURSIVE {_minhash_band_ctes(num_hashes=64, bands=16)},
    mbands AS MATERIALIZED (SELECT * FROM bands),
    msh AS MATERIALIZED (SELECT * FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM msh GROUP BY doc_id),
    {_q138_wave_ctes("w1", 0, _Q138_W1, f"doc_id >= {_Q138_W2}")},
    {_q138_wave_ctes(
        "w2", _Q138_W1, _Q138_W2,
        f"doc_id >= {_Q138_W2} OR doc_id IN (SELECT doc_id FROM w1s)",
    )},
    fold AS (
      SELECT id_a, id_b FROM w1v UNION SELECT id_a, id_b FROM w1l
      UNION SELECT id_a, id_b FROM w2v UNION SELECT id_a, id_b FROM w2l
    ),
    fsym AS (
      SELECT id_a AS src, id_b AS dst FROM fold
      UNION ALL SELECT id_b AS src, id_a AS dst FROM fold
    ),
    freach AS (
      SELECT src, dst FROM fsym
      UNION
      SELECT r.src, s.dst FROM freach r JOIN fsym s ON r.dst = s.src
    ),
    comp AS (
      SELECT src AS id, LEAST(src, MIN(dst)) AS component
      FROM freach GROUP BY src
    ),
    accepted AS (
      SELECT doc_id FROM w1s UNION ALL SELECT doc_id FROM w2s
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars, c.component
    FROM documents d
    JOIN accepted a ON a.doc_id = d.doc_id
    LEFT JOIN comp c ON c.id = d.doc_id
    """,
    doc="END-TO-END continuous dedup pipeline on the value-checked path "
    "(streaming.stream_dedup_pipeline): two document waves land through "
    "the REAL Structured Streaming job over one checkpoint — per batch: "
    "intra-batch verified dedup (transitive closure, min-id canonical), "
    "corpus dedup against the persisted MinHash index, survivors landed "
    "to the epoch-partitioned accepted table + ingested into the index "
    "delta, links folded into the persisted component store. Checked "
    "value = landed survivors LEFT JOIN their stored cluster label; the "
    "oracle replays both waves sequentially in SQL (intra closure, "
    "capped buckets, exact Jaccard at 0.5, wave-2 corpus = base ∪ wave-1 "
    "survivors — the delta-ingest claim — and a final closure over "
    "exactly the folded edges). The timed read is the overlay store view "
    "keyed against the landed survivor table; all the heavy lifting "
    "happened incrementally at ingest time, which is the point.",
    prepare=_q138_prepare,
)
def q138_stream_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    _q138_prepare(spark, sf_dir)  # no-op when warm
    root = _q138_root(sf_dir)
    from pyspark.errors import AnalysisException

    from ..streaming.jobs import read_epochs

    try:
        acc = read_epochs(spark, os.path.join(root, "accepted"))
    except AnalysisException:
        # zero survivors is a VALID pipeline outcome (every arrival
        # duplicated the corpus — observed on the 100x replica stress
        # data); the sink then wrote no files, so the read can't infer a
        # schema. Survivors carry exactly the arriving document columns.
        # Only the schema-inference AnalysisException reads as empty —
        # a genuine read failure must surface, not return an empty frame.
        acc = Testdata(spark, sf_dir).documents.limit(0)
    comp = dedup.components_read(spark, os.path.join(root, "store"))
    # no broadcast hint: survivors AND the store are both corpus-sized at
    # scale — this is a legitimate key-partitioned join (AQE may still
    # broadcast at small SF)
    return acc.join(
        comp.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select("doc_id", "lang", "source", "n_chars", "component")


# ===========================================================================
# q139 — Bloom-filter membership prefilter (round 14): the last first-class
# sketch family promoted onto the DuckDB value-checked path (r13 VERDICT
# #1; merge law / fp-rate / prefilter equivalence were pytest-only since
# round 8). Two per-priority filters over the urgent+high order custkeys
# are built INDEPENDENTLY and merged (bloom_merge — the per-day/per-source
# composition law), then every customer is classified by the merged filter
# (keep="maybe" / keep="miss" arms of bloom_filter_rows). The oracle
# replays the md5 double-hashing construction bit for bit: DuckDB cannot
# evaluate 1<<63 (overflow-checked shift), so it replays the bit SET as
# distinct probe positions — the Spark side aggregates the PACKED (word,
# bits) frame with sum(bit_count(bits))/count(word), which equals the
# oracle's COUNT(DISTINCT pos)/COUNT(DISTINCT pos//64) iff the word/mask
# packing is correct, so the packing itself is value-checked too. The
# verdict grain (bloom_maybe × is_member, with sum(custkey) pinning the
# exact false-positive SET) makes "no false negatives" a checked value,
# not a property test: the (maybe=false, member=true) group must be empty
# on both engines. m=8192/k=5 sizes the filter so sf0.01's ~900 member
# keys fill ~42% of the bits — real false positives occur and are
# replayed exactly.
# ===========================================================================

@query(
    "q139_bloom_prefilter",
    oracle="""
    WITH members AS (
      SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS v
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    ),
    mh AS (
      SELECT ('0x' || substr(md5(v), 1, 15))::BIGINT AS h1,
             ('0x' || substr(md5(v || '#2'), 1, 15))::BIGINT AS h2
      FROM members
    ),
    mpos AS (
      SELECT DISTINCT
             ((h1 % 8192) + i.i * ((h2 % 1099511627776) | 1)) % 8192 AS pos
      FROM mh, generate_series(0, 4) i(i)
    ),
    sketch AS (
      SELECT CAST(COUNT(DISTINCT pos // 64) AS BIGINT) AS n_words,
             CAST(COUNT(DISTINCT pos) AS BIGINT) AS n_set_bits
      FROM mpos
    ),
    ph AS (
      SELECT c_custkey,
             ('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))::BIGINT
               AS h1,
             ('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '#2'), 1, 15))::BIGINT
               AS h2
      FROM customer
    ),
    ppos AS (
      SELECT c_custkey,
             ((h1 % 8192) + i.i * ((h2 % 1099511627776) | 1)) % 8192 AS pos
      FROM ph, generate_series(0, 4) i(i)
    ),
    verdict AS (
      SELECT p.c_custkey, (COUNT(*) = COUNT(m.pos)) AS bloom_maybe
      FROM ppos p LEFT JOIN mpos m ON m.pos = p.pos
      GROUP BY p.c_custkey
    )
    SELECT v.bloom_maybe,
           (mm.v IS NOT NULL) AS is_member,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(v.c_custkey) AS BIGINT) AS sum_custkey,
           s.n_words, s.n_set_bits
    FROM verdict v
    LEFT JOIN members mm ON mm.v = CAST(v.c_custkey AS VARCHAR)
    CROSS JOIN sketch s
    GROUP BY v.bloom_maybe, (mm.v IS NOT NULL), s.n_words, s.n_set_bits
    """,
    doc="Bloom membership prefilter over customers vs urgent/high-priority "
    "buyers (operators.sketch.bloom_sketch / bloom_merge / "
    "bloom_filter_rows, md5 double-hashing arm, m=8192 k=5): two "
    "independently-built per-priority filters merged, every customer "
    "classified through BOTH keep arms, false-positive set pinned by "
    "sum(custkey), packed-word popcount checked against the replayed "
    "bit set. The 100 TB shape: the probe side never shuffles "
    "(num_hashes broadcast word-joins), definite-miss decisions need "
    "no exact join at all.",
)
def q139_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import sketch

    td = Testdata(spark, sf_dir)
    M, K = 8192, 5

    def member_keys(priority: str) -> DataFrame:
        return td.orders.where(F.col("o_orderpriority") == priority).select(
            F.col("o_custkey").cast("string").alias("__k")
        )

    # Eager one-shot materialization (optimization round 14): the merged
    # sketch frame is consumed 11 times (5 broadcast word-joins per
    # keep-arm + the stats agg), and each reference used to re-run the
    # whole build (orders scan -> hash explode -> word groupBy -> merge)
    # — 50 Exchanges in the plan. The sketch is bounded model state
    # (<= m/64 = 128 words). Eager localCheckpoint, NOT a lazy persist:
    # the 10 broadcast relations build concurrently at action start and
    # would all MISS a lazily-populated cache in parallel (measured — the
    # lazy form kept the 50-Exchange runtime), while the checkpoint pays
    # the build exactly once. Values unchanged.
    bloom = checkpoint(
        sketch.bloom_merge(
            sketch.bloom_sketch(member_keys("1-URGENT"), "__k", M, K, "md5"),
            sketch.bloom_sketch(member_keys("2-HIGH"), "__k", M, K, "md5"),
        )
    )
    stats = bloom.agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum(F.expr("bit_count(bits)")).cast("long").alias("n_set_bits"),
    )
    probe = td.customer.select(
        "c_custkey", F.col("c_custkey").cast("string").alias("__k")
    )
    arms = [
        sketch.bloom_filter_rows(probe, bloom, "__k", M, K, "md5", keep)
        .withColumn("bloom_maybe", F.lit(keep == "maybe"))
        for keep in ("maybe", "miss")
    ]
    both = arms[0].unionByName(arms[1])
    members = (
        member_keys("1-URGENT")
        .unionByName(member_keys("2-HIGH"))
        .distinct()
        .withColumn("__m", F.lit(True))
    )
    return (
        both.join(F.broadcast(members), "__k", "left")
        .groupBy("bloom_maybe", F.coalesce("__m", F.lit(False)).alias("is_member"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("c_custkey").cast("long").alias("sum_custkey"),
        )
        .crossJoin(F.broadcast(stats))
        .select(
            "bloom_maybe", "is_member", "n_rows", "sum_custkey",
            "n_words", "n_set_bits",
        )
    )
