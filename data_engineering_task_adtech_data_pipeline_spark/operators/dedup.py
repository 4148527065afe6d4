"""Deduplication operators for large-scale training-data pipelines.

All operators are pure built-in-function DataFrame programs (no Python UDFs
anywhere — shingling, hashing, banding all run JVM-side inside whole-stage
codegen) and never materialize to the driver, so they scale by partition
count alone:

- ``exact_dedup``          — hash-groupBy on normalized content
- ``minhash_signatures`` / ``minhash_lsh_candidates`` / ``minhash_dedup``
                           — shingle → P independent min-hashes → band →
                             bucket join (classic MinHash+LSH, Broder 1997)
- ``simhash_signatures`` / ``simhash_candidates``
                           — 64-bit SimHash (Charikar 2002) + banded buckets
- ``ngram_jaccard_pairs``  — exact n-gram Jaccard via shingle self-join
                             (the verification step of near-dup pipelines)
- ``embedding_dup_pairs``  — cosine-threshold near-dup over embeddings
                             (delegates to operators.similarity)

Scale notes (100 TB): every operator is one explode + one-or-two shuffles on
content-derived keys. Shingle explosion multiplies rows by ~tokens-per-doc —
bounded by ``max_shingles`` sampling per doc. Bucket joins only ever join
*within* a bucket; hot buckets (boilerplate shingles) are capped via
``F.slice`` on collected bucket membership before pairing.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..session import accumulators_exact
from .chunking import checkpoint, materialize

# --- engine-portable md5 hash family -------------------------------------
#
# The default hash everywhere is xxhash64 (JVM-native, fastest). Each
# operator also accepts ``hash_method="md5"``: ONE md5 per shingle/token,
# reduced to a 60-bit BIGINT from the first 15 hex digits, then expanded
# into P independent values via classic universal hashing
# h_p(x) = (a_p * x + b_p) mod M with M = 2^31 - 1 (Carter-Wegman).
# Any engine with md5 + hex parsing reproduces it bit-for-bit — DuckDB:
# ``('0x' || substr(md5(s), 1, 15))::BIGINT`` — which is what lets the
# battery oracle-check the FULL minhash/simhash pipelines (q13/q14/q35),
# not just their verify stages. All arithmetic stays inside BIGINT:
# a_p < 2^31 and x < 2^31, so a_p * x < 2^62 never overflows (ANSI-safe).

MERSENNE_31 = 2_147_483_647  # 2^31 - 1

_AB_SEED = 0x5EED


def minhash_affine_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_p, b_p) pairs for the md5 universal-hash family.
    Shared by the Spark operators and the generated oracle SQL, so both
    engines evaluate literally the same polynomial."""
    rnd = random.Random(_AB_SEED)
    return [
        (rnd.randrange(1, MERSENNE_31), rnd.randrange(0, MERSENNE_31))
        for _ in range(num_hashes)
    ]


def md5_long(col: Column | str) -> Column:
    """First 15 md5 hex digits as a non-negative 60-bit BIGINT — the
    engine-portable base hash (same construction as sampling._hash_bucket)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def normalize_text(col: Column | str) -> Column:
    """Lowercase, collapse whitespace, strip non-alphanumerics — the usual
    canonicalization before content hashing."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, r"[^a-z0-9\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on normalized content hash; keeps the min-id row per
    group. One shuffle on the 128-bit content hash, one pass over the text
    (a groupBy+semi-join formulation would normalize+hash every document
    twice — once per join side)."""
    from pyspark.sql import Window as W

    ranked = df.withColumn("content_hash", F.md5(normalize_text(text_col)))
    w = W.partitionBy("content_hash").orderBy(F.col(id_col).asc())
    return (
        ranked.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(*df.columns, "content_hash")
    )


def _grams(words: Column, k: int, max_shingles: int | None) -> Column:
    """k-gram array from a *bound* word-array column. The words argument
    MUST be a plain attribute reference, not an expression tree: a lambda
    capturing e.g. ``split(regexp_replace(...))`` re-evaluates that tree per
    array element (measured 15-45x slowdown). Callers bind words via a named
    projection first (``shingle_rows`` / ``shingle_sets``)."""
    n = F.greatest(F.size(words) - (k - 1), F.lit(0))
    grams = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)),
    )
    grams = F.array_distinct(grams)
    if max_shingles is not None:
        grams = F.slice(grams, 1, max_shingles)
    return F.when(n > 0, grams).otherwise(F.array().cast("array<string>"))


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_shingles: int | None = None,
) -> DataFrame:
    """Exploded (id, shingle) rows — the input shape for minhash/jaccard.

    The explode sits directly over the words-binding projection: Catalyst's
    CollapseProject stops at Generate nodes, so ``__words`` is guaranteed to
    be computed once per row (a Project-over-Project chain would be collapsed
    and the split tree inlined into the gram lambda — the slow path _grams
    warns about).
    """
    bound = df.select(
        F.col(id_col).alias("id"),
        F.split(normalize_text(text_col), " ").alias("__words"),
    )
    return bound.select(
        "id", F.explode(_grams(F.col("__words"), k, max_shingles)).alias("s")
    )


def shingle_sets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_shingles: int | None = None,
) -> DataFrame:
    """(id, shingle_set array<string>) — distinct shingles per doc, built by
    re-collecting the exploded rows (one extra shuffle, but immune to the
    projection-collapse recompute pathology)."""
    return (
        shingle_rows(df, text_col, id_col, k, max_shingles)
        .groupBy("id")
        .agg(F.collect_set("s").alias("shingle_set"))
    )


def shingles(
    text: Column | str, k: int = 3, max_shingles: int | None = None
) -> Column:
    """Column-level shingle API (for ad-hoc use). Prefer ``shingle_rows`` /
    ``shingle_sets`` inside operators — see ``_grams`` for why."""
    return _grams(F.split(normalize_text(text), " "), k, max_shingles)


def _hashed_shingles(sh: DataFrame, hash_method: str) -> DataFrame:
    """Attach the base-hash column for the chosen method. For md5, ONE md5
    per shingle row is projected before the agg (``__x``) so the P affine
    expansions never recompute the digest."""
    if hash_method == "md5":
        return sh.withColumn(
            "__x", F.pmod(md5_long(F.col("s")), F.lit(MERSENNE_31))
        )
    if hash_method != "xxhash64":
        raise ValueError(f"unknown hash method: {hash_method!r}")
    return sh


def _minhash_min_aggs(num_hashes: int, hash_method: str) -> list[Column]:
    """The per-seed MIN aggregate expressions. xxhash64: min of the seeded
    64-bit hash. md5: min of (a_p*x + b_p) mod M over the shared base hash.

    Built as SQL strings, ONE ``F.expr`` per aggregate: the py4j-composed
    Column form cost ~6 gateway round trips per seed (~0.7 s of pure
    driver latency per profile at P=64 — measured, round 14), which
    dominated the SERVING fixed floor. The parsed trees are identical;
    int literals promote against the long hash exactly as ``F.lit`` did."""
    if hash_method == "md5":
        return [
            F.expr(f"min(({a} * __x + {b}) % {MERSENNE_31})").alias(f"__h{p}")
            for p, (a, b) in enumerate(minhash_affine_constants(num_hashes))
        ]
    return [
        F.expr(f"min(xxhash64(s, {p}))").alias(f"__h{p}")
        for p in range(num_hashes)
    ]


def minhash_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
    max_shingles: int | None = 512,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """(id, shingle_set, signature) in ONE shingle pass: the groupBy computes
    ``collect_set`` and all ``num_hashes`` minima together, so dedup
    pipelines that need both candidates (signature) and verification
    (shingle set) shuffle the exploded shingles once, not twice."""
    sh = _hashed_shingles(
        shingle_rows(df, text_col, id_col, shingle_k, max_shingles),
        hash_method,
    )
    aggs = [F.collect_set("s").alias("shingle_set")] + _minhash_min_aggs(
        num_hashes, hash_method
    )
    agg = sh.groupBy("id").agg(*aggs)
    sig = ", ".join(f"__h{p}" for p in range(num_hashes))
    return agg.select(
        F.col("id").alias(id_col),
        "shingle_set",
        F.expr(f"array({sig})").alias("signature"),
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_k: int = 3,
    max_shingles: int | None = 512,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """(id, signature array<long>) — per seed p, min over shingles of a
    64-bit hash family: seeded xxhash64 (default) or the engine-portable
    md5 affine family (module header). The min approximates a random
    permutation minimum (MinHash); hashing is JVM-side built-ins either way.

    Plan: explode shingles (one row per (doc, shingle)) → single hash-agg
    computing all P minima at once → signature array. One shuffle on id.
    """
    sh = _hashed_shingles(
        shingle_rows(df, text_col, id_col, shingle_k, max_shingles),
        hash_method,
    )
    agg = sh.groupBy("id").agg(*_minhash_min_aggs(num_hashes, hash_method))
    sig = ", ".join(f"__h{p}" for p in range(num_hashes))
    return agg.select(
        F.col("id").alias(id_col),
        F.expr(f"array({sig})").alias("signature"),
    )


def pairs_from_sorted_ids(
    buckets: DataFrame,
    ids_col: str = "ids",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Bucket-local (i<j) candidate pairs from a sorted (capped) id-array
    column — the shared pair-generation kernel of every LSH-family
    candidate generator (minhash buckets, embedding sign-bands, SemDeDup
    cells). One explode over per-bucket arrays; never an all-pairs join.
    Callers deduplicate across buckets themselves (an id pair can surface
    from several bands, but at most once per bucket)."""
    ids = F.col(ids_col)
    return (
        buckets.where(F.size(ids) > 1)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(0), F.size(ids) - 2),
                        lambda i: F.transform(
                            F.slice(ids, i + 2, F.size(ids)),
                            lambda j: F.struct(
                                ids[i].alias("a"), j.alias("b")
                            ),
                        ),
                    )
                )
            ).alias("__p")
        )
        .select(F.col("__p.a").alias(id_a), F.col("__p.b").alias(id_b))
    )


def fan_out_pairs(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Hash-repartition candidate pairs to ``defaultParallelism`` before a
    verify join (optimization round 14, guide §2.5/2.6).

    Candidate pairs are born from an EXPLODE over per-bucket id arrays —
    a handful of bucket rows fans out to O(bucket²) pairs *inside* one
    stage, so the expensive per-pair verify (64-dim cosine folds,
    shingle-set intersections, 64-bit Hamming folds) inherits the BUCKET
    frame's parallelism, which AQE has coalesced to 1-2 partitions because
    the bucket rows are a few KB (measured: q68's verify ran 1 task,
    8.0 s → 1.9-3.9 s with the fan-out at sf0.1). Bytes-based partition
    sizing cannot see compute-heavy narrow rows; this pins the verify
    stage to the cores instead.

    Scale contract: the pair rows are two ids (~16 bytes) — one extra
    exchange of them is noise next to the verify compute at any scale,
    and when the verify join is itself a shuffle join (corpus-sized
    profile side), that join re-shuffles pairs regardless. Explicit
    ``n`` (not AQE-advised) because AQE would coalesce the tiny-bytes
    case right back to 1 partition; ``defaultParallelism`` tracks the
    real core count on both the local bench and a cluster. The hash key
    is ``xxhash64(id_a, id_b)`` rather than the columns themselves
    (round 15): several call sites fan out straight after a
    ``distinct()``/``dropDuplicates`` on exactly (id_a, id_b), whose
    ENSURE_REQUIREMENTS exchange statically satisfies a same-key
    repartition — Catalyst then REMOVES the fan-out and AQE coalesces
    the dedup exchange to 1-3 partitions, putting the whole verify
    stage back on a straggler (measured on q49: the cosine fold ran as
    a 3-task stage with one long tail; the round-14 form was silently a
    no-op there). The derived key survives planning as
    REPARTITION_BY_NUM (AQE may not coalesce it), is deterministic
    under retries (a pure function of the row), and spreads the same
    distinct-per-row way."""
    n = pairs.sparkSession.sparkContext.defaultParallelism
    return pairs.repartition(n, F.xxhash64(F.col(id_a), F.col(id_b)))


def fan_out_buckets(buckets: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition a bucket/cell frame to ``defaultParallelism``
    BEFORE the bucket-local pair explode — the generation-side sibling of
    :func:`fan_out_pairs` (optimization round 15, r14 VERDICT #6).

    ``fan_out_pairs`` pins the parallelism of the verify JOIN, but the
    pair GENERATION itself — the O(bucket²) nested-transform explode, and
    in operators whose verify rides inside the same projection
    (simhash's Hamming popcount) the verify too — still runs at the
    bucket frame's parallelism, which AQE coalesces to 1-2 partitions
    because the bucket rows are a few KB of ids. Spreading the bucket
    rows across the cores parallelizes the explode at bucket grain
    (per-bucket work is bounded by the ``max_bucket`` cap, so no single
    row can dominate).

    Scale contract: the exchange carries one row per bucket (a capped id
    array — the same bytes the generation stage was already holding),
    and ``defaultParallelism`` tracks the real core count on the local
    bench and a cluster alike, so the repartition is never a local-mode
    constant. The hash key is ``xxhash64`` OVER the bucket identity
    columns rather than the columns themselves: the bucket frame is the
    output of a groupBy on exactly those columns, so a same-key
    repartition is statically satisfied by the aggregation's own
    exchange and Catalyst removes it — leaving the AQE-coalescible
    ENSURE_REQUIREMENTS exchange as the stage's (1-2 partition)
    parallelism, which is the problem this function exists to fix. The
    derived key survives planning as a REPARTITION_BY_NUM exchange AQE
    may not coalesce, stays deterministic under retries (a pure function
    of the row), and spreads identically."""
    n = buckets.sparkSession.sparkContext.defaultParallelism
    return buckets.repartition(n, F.xxhash64(*[F.col(k) for k in keys]))


def _sig_band_rows(
    signatures: DataFrame,
    id_col: str,
    bands: int,
    sig_len: int,
    hash_method: str,
) -> DataFrame:
    """(id, band_idx, band_hash) rows from minhash signatures — the banded
    LSH key construction shared by self-join (:func:`minhash_lsh_candidates`)
    and cross-corpus (:func:`dedup_against`) candidate generation.

    Band hash = one multi-arg xxhash64 over the band's signature elements
    (element_at unrolled statically — no string building at RUN time, no
    sub-arrays); ``"md5"`` mode keys buckets on the band's literal values
    joined as a string (oracle-portable, collision-free).

    The whole explode(array(struct...)) tree is assembled as ONE SQL
    string: the Column-composed form was ~1500 py4j round trips (~1.4 s
    of driver latency per call at 16 bands — measured, round 14), pure
    fixed cost on the index SERVING path which derives band rows for
    every batch."""
    width = sig_len // bands

    def band_key_sql(b: int) -> str:
        elems = [
            f"element_at(signature, {b * width + j + 1})" for j in range(width)
        ]
        if hash_method == "md5":
            return (
                "concat_ws('_', "
                + ", ".join(f"cast({e} as string)" for e in elems)
                + ")"
            )
        return f"xxhash64({', '.join(elems)})"

    structs = ", ".join(
        f"struct({b} as band_idx, {band_key_sql(b)} as band_hash)"
        for b in range(bands)
    )
    return signatures.select(
        id_col,
        F.expr(f"explode(array({structs}))").alias("band"),
    ).select(id_col, "band.band_idx", "band.band_hash")


def minhash_lsh_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 16,
    max_bucket: int = 64,
    sig_len: int | None = None,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) from banded LSH buckets.

    Each signature splits into ``bands`` bands of P/bands values; docs
    sharing any band hash land in a bucket. Pairs are generated bucket-local
    via a self-join on (band_idx, band_hash); buckets larger than
    ``max_bucket`` are truncated (boilerplate guard) with min-id-first
    ordering so truncation is deterministic.

    ``hash_method="xxhash64"`` compresses each band to one 64-bit hash;
    ``"md5"`` (the oracle-portable mode) keys buckets on the band's literal
    values joined as a string — no compression hash at all, so any SQL
    engine groups on the identical key (and band-hash collisions vanish;
    the string key just shuffles a few more bytes).

    Pass ``sig_len`` (= num_hashes used to build the signatures) — callers
    always know it, and inferring it would run a Spark job over the whole
    signature pipeline at plan-construction time (a silent 2x on the most
    expensive dedup stage).
    """
    if sig_len is None:
        probe = signatures.select(F.size("signature").alias("n")).first()
        if probe is None:  # empty input -> empty, correctly-typed pair set
            return signatures.select(
                F.col(id_col).alias("id_a"), F.col(id_col).alias("id_b")
            ).limit(0)
        sig_len = probe.n
    banded = _sig_band_rows(signatures, id_col, bands, sig_len, hash_method)

    # bucket-local pairing: collect ids per bucket (capped), emit i<j pairs
    buckets = banded.groupBy("band_idx", "band_hash").agg(
        F.slice(F.array_sort(F.collect_set(id_col)), 1, max_bucket).alias("ids")
    )
    return pairs_from_sorted_ids(buckets).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_shingles: int | None = 512,
    max_df: int = 1024,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle.

    Pair generation is bucket-local: group by shingle → sorted doc-id list →
    emit (i<j) pairs → count per pair = intersection size. One shuffle on the
    shingle, one on the pair — only docs sharing content ever meet, no
    O(n^2) cross join. |A|,|B| come from per-doc shingle counts;
    J = inter / (|A|+|B|-inter).

    ``max_df`` is the hot-shingle ceiling (r7 VERDICT #3): a stop-gram
    shared by n docs would emit O(n²) pairs from one bucket, the exact
    failure mode ``minhash_lsh_candidates`` caps with ``max_bucket``.
    Shingles whose document frequency exceeds ``max_df`` are dropped from
    PAIR GENERATION (they stay in the |A|/|B| sizes, so a surviving
    pair's Jaccard only UNDERcounts — never inflates past ``threshold``).
    This is the standard stop-shingle doc-frequency prefilter (boilerplate
    n-grams carry no dedup signal); the recall deviation — two docs whose
    entire overlap is stop-shingles are not paired — is deliberate and
    documented (DEVIATIONS.md). The q12 oracle mirrors the ceiling
    exactly, so the cap itself is value-checked.
    """
    if max_df < 2:
        raise ValueError(f"max_df must be >= 2, got {max_df}")
    sh = shingle_rows(df, text_col, id_col, shingle_k, max_shingles)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    # The ceiling is applied BEFORE the bucket collect (a post-collect
    # filter would still build the hot bucket's full id array in the
    # aggregation buffer): a count window partitioned by the shingle
    # computes df under the SAME hashpartitioning(s) exchange the groupBy
    # then reuses — one shuffle, and WindowExec's sorter spills where a
    # collect_set buffer cannot. (id, s) rows are distinct per doc
    # (_grams array_distinct), so count(*) == document frequency.
    sh_df = sh.withColumn("__df", F.count(F.lit(1)).over(W.partitionBy("s")))
    buckets = (
        sh_df.where((F.col("__df") > 1) & (F.col("__df") <= max_df))
        .groupBy("s")
        .agg(F.array_sort(F.collect_set("id")).alias("ids"))
    )
    inter = (
        buckets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(0), F.size("ids") - 2),
                        lambda i: F.transform(
                            F.slice(F.col("ids"), i + 2, F.size("ids")),
                            lambda j: F.struct(
                                F.col("ids")[i].alias("id_a"), j.alias("id_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
    )
    return out.where(F.col("jaccard") >= threshold)


def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    verify_threshold: float | None = 0.8,
    max_shingles: int | None = 512,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Full near-dup removal: MinHash candidates (optionally verified with
    exact Jaccard) → connected-ish grouping by min-id → keep one doc per
    group. Grouping is single-hop (keep the min id among a doc's duplicate
    partners), which matches the common one-pass dedup used in corpus
    pipelines; run to fixpoint for full transitive closure.

    Verification is candidate-local: the exact Jaccard is computed only for
    LSH candidate pairs (two broadcast-ish joins against per-doc shingle
    arrays + ``array_intersect``), not for the whole corpus — at scale the
    candidate set is orders of magnitude smaller than the all-pairs set.

    The shared ``minhash_profile`` subtree is consumed three times
    (signatures -> candidates; shingle sets -> both jaccard join sides) and
    does NOT become a ReusedExchange: per-branch column pruning specializes
    each copy (the candidate branch computes only the 64 minima, the verify
    branches only collect_set), so their exchanges are not canonically
    identical — measured as three Generate(explode) passes in the plan.
    Locally recompute is cheaper than materializing (the pruned branches
    each do less work); at corpus scale the verified profile goes through
    ``chunking.materialize`` instead — one full profile pass + storage
    instead of three scans of the text, released by the harness's
    per-query ``chunking.release_persisted()``.
    """
    cand = _verified_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_k, verify_threshold,
        max_shingles, hash_method,
    )
    drop = cand.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(drop, on=id_col, how="left_anti")


def exact_jaccard(
    pairs: DataFrame,
    shingle_profile: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The verification stage of near-dup pipelines, standalone: exact
    Jaccard for given candidate ``pairs`` (id_a, id_b) from a per-doc
    ``shingle_profile`` (id_col, shingle_set). Candidate-local — the two
    joins touch only pair members, never all-pairs.

    SQL-expressible (|A∩B| / |A∪B| over distinct shingle sets), so battery
    q48 oracle-checks this exact code path against DuckDB on pinned pairs —
    the value-level coverage for minhash_dedup's verify stage, whose
    candidate generation itself is xxhash64-based and rows-only.
    """
    pairs = fan_out_pairs(pairs)
    a = shingle_profile.select(
        F.col(id_col).alias("id_a"), F.col("shingle_set").alias("__sh_a")
    )
    b = shingle_profile.select(
        F.col(id_col).alias("id_b"), F.col("shingle_set").alias("__sh_b")
    )
    jac = (
        F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
        / F.size(F.array_union("__sh_a", "__sh_b")).cast("double")
    )
    return (
        pairs.join(a, "id_a").join(b, "id_b").select("id_a", "id_b", jac.alias("jaccard"))
    )


def _verified_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_k: int,
    verify_threshold: float | None,
    max_shingles: int | None = 512,
    hash_method: str = "xxhash64",
    max_bucket: int = 64,
) -> DataFrame:
    profile = minhash_profile(
        df, text_col, id_col, num_hashes, shingle_k, max_shingles, hash_method
    )
    if verify_threshold is not None:
        # three consumers (signatures + both verify sides): size-gated
        profile = materialize(profile)
    cand = minhash_lsh_candidates(
        profile.select(id_col, "signature"),
        id_col,
        bands,
        max_bucket=max_bucket,
        sig_len=num_hashes,
        hash_method=hash_method,
    )
    if verify_threshold is None:
        return cand
    return (
        exact_jaccard(cand, profile, id_col)
        .where(F.col("jaccard") >= verify_threshold)
        .select("id_a", "id_b")
    )


def connected_components(
    edges: DataFrame,
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list (id_a, id_b) by
    iterative min-label propagation — the fixpoint grouping for transitive
    near-dup closure (a ~ b ~ c ⇒ one group even if a !~ c).

    Each iteration joins every node's current label against its neighbors'
    and keeps the minimum; the min label travels ONE hop per round, so
    convergence is O(diameter) — right for the short chains dedup produces,
    but a path-shaped component longer than ``max_iterations`` would be
    silently split. For adversarial/giant components use
    ``connected_components_star`` (O(log^2 n) regardless of shape).
    Iterations checkpoint via ``chunking.checkpoint`` to cut the growing
    lineage (the standard Spark iterative-algorithm pattern); the loop
    exits early when no label changes.

    Returns (id, component) with component = min id in the group.
    """
    sym = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    # checkpoint BEFORE deriving labels: otherwise the initial label frame
    # re-executes the whole upstream candidate pipeline a second time
    sym = checkpoint(sym)
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("__nbr_min"))
        )
        # labels only ever decrease, so "any row where the new label is
        # strictly smaller" == "not converged". Observe that count during the
        # checkpoint materialization itself — no separate probe job per round.
        obs = Observation()
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.col("component").alias("__old"),
                F.least(
                    F.col("component"), F.coalesce("__nbr_min", F.col("component"))
                ).alias("component"),
            )
            .observe(
                obs,
                F.sum(
                    (F.col("component") < F.col("__old")).cast("long")
                ).alias("changed"),
            )
            .drop("__old")
        )
        labels = checkpoint(updated)
        if not obs.get["changed"]:
            break
    return labels


def connected_components_star(
    edges: DataFrame,
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — O(log^2 n) rounds INDEPENDENT of component shape, unlike
    min-label propagation's O(diameter). The scale path for pathological
    dedup graphs: boilerplate corpora can chain thousands of near-identical
    docs into one long component that would out-run a fixed propagation
    budget, and each star round is just a groupBy + join on the (small)
    edge frame.

    large-star: every node's strictly-larger neighbors re-attach to the
    minimum of its neighborhood (incl. itself); small-star re-attaches the
    smaller-or-equal ones. At fixpoint the edge set is a forest of stars
    (node -> component root). Returns (id, component), component = min id.
    """
    from pyspark.sql import Observation

    # per-round fixpoint checksum rides the SAME job as the round's eager
    # localCheckpoint via observe() (optimization round 14 — was a second
    # full pass over the checkpointed edges per round; the min-label
    # variant above already used this pattern for its `changed` flag).
    # bit_xor: order-independent and overflow-free under ANSI mode
    # (sum(xxhash64) overflows long). Cluster caveat (r14 ADVICE):
    # observe() rides accumulators, which a resubmitted stage can
    # double-apply after a shuffle-fetch failure — worst case an extra
    # round, or (vanishingly unlikely, but an early EXIT would be a
    # wrong result) a spurious cur==prev. Non-local masters therefore
    # take a retry-exact agg over the just-checkpointed frame instead;
    # single-JVM local masters (the bench/oracle regime, where stage
    # resubmission cannot occur; not local-cluster) keep the fused
    # single-job form. The min-label variant above needs no gate: its
    # `changed` flag can only be INFLATED by double-apply (an extra
    # round), never zeroed.
    _local = accumulators_exact(edges.sparkSession.sparkContext.master)
    _checks = [
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(src, dst))").alias("h"),
    ]

    def _observed_checkpoint(ed: DataFrame):
        if not _local:
            ck = checkpoint(ed)
            row = ck.agg(*_checks).first()
            return ck, (row["n"], row["h"])
        obs = Observation()
        ck = checkpoint(ed.observe(obs, *_checks))
        row = obs.get
        return ck, (row["n"], row["h"])

    e, prev = _observed_checkpoint(
        edges.where(F.col("id_a") != F.col("id_b"))
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .distinct()
    )

    def large_star(ed: DataFrame) -> DataFrame:
        und = ed.unionByName(
            ed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        m = und.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        return (
            und.join(m, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )

    def small_star(ed: DataFrame) -> DataFrame:
        oriented = ed.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        m = oriented.groupBy("src").agg(F.min("dst").alias("m"))
        nbr = (
            oriented.join(m, "src")
            .where(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        self_edge = m.select("src", F.col("m").alias("dst"))
        return (
            nbr.unionByName(self_edge)
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )

    for _ in range(max_iterations):
        e, cur = _observed_checkpoint(small_star(large_star(e)))
        if cur == prev:
            break
        prev = cur
    # fixpoint edges are (node -> root) stars; roots label themselves
    roots = e.select(F.col("dst").alias("id")).distinct().join(
        e.select(F.col("src").alias("id")).distinct(), "id", "left_anti"
    )
    return e.select(F.col("src").alias("id"), F.col("dst").alias("component")).unionByName(
        roots.select("id", F.col("id").alias("component"))
    )


def update_components(
    assignments: DataFrame,
    new_edges: DataFrame,
    max_iterations: int = 25,
    changed_only: bool = False,
) -> DataFrame:
    """INCREMENTAL connected-components maintenance: fold a batch of new
    duplicate edges into an existing (id, component) assignment table
    without re-running global closure over the accumulated edge set — the
    cluster-bookkeeping step every continuously-ingesting dedup pipeline
    needs after :func:`dedup_against` / :func:`minhash_index_dedup`
    (``keep="links"``) surfaces batch↔corpus links.

    Semantics: equals ``connected_components_star`` over (all edges ever
    seen) restricted to the usual min-id labels, given that
    ``assignments`` is itself a closure fixpoint (every component labeled
    by its min member id; equivalence-tested against a from-scratch
    rebuild). New ids appearing only in ``new_edges`` are added; a new id
    smaller than an existing root relabels the merged component.

    Scale shape (100 TB assignment table, small batch): the big table is
    touched by exactly TWO broadcast passes and never shuffles —
    (1) filter to the batch's endpoints (broadcast semi-join), which
    yields the touched components' roots; (2) apply the root remap
    (broadcast left join + coalesce). Closure itself runs on the
    CONTRACTED graph (endpoints mapped to their existing roots), which is
    batch-sized regardless of corpus size — merging two million-doc
    components costs one contracted edge, not a million-row relabel scan
    beyond the remap pass. Plan-asserted: no SortMergeJoin / no Exchange
    on the assignments side.

    ``changed_only=True`` returns ONLY the rows that differ from
    ``assignments`` (relabeled members of merged components + ids first
    seen in this batch) — the minimal write set for a delta-overlay store
    (:func:`components_update`), instead of the full updated table.
    """
    a = assignments.select("id", "component")
    endpoints = (
        new_edges.select(F.col("id_a").alias("id"))
        .unionByName(new_edges.select(F.col("id_b").alias("id")))
        .where(F.col("id").isNotNull())
        .distinct()
    )
    # (1) one scan of the big table, batch side broadcast: the assignment
    # rows whose id is an incoming endpoint (batch-sized output)
    touched = checkpoint(a.join(F.broadcast(endpoints), "id"))
    # contract each endpoint to its existing root where known, else itself
    ra = touched.select(
        F.col("id").alias("id_a"), F.col("component").alias("__ra")
    )
    rb = touched.select(
        F.col("id").alias("id_b"), F.col("component").alias("__rb")
    )
    contracted = (
        new_edges.join(F.broadcast(ra), "id_a", "left")
        .join(F.broadcast(rb), "id_b", "left")
        .select(
            F.coalesce("__ra", "id_a").alias("id_a"),
            F.coalesce("__rb", "id_b").alias("id_b"),
        )
        .where(F.col("id_a") != F.col("id_b"))
        .distinct()
    )
    # closure over the contracted (batch-sized) graph; node set = touched
    # roots ∪ brand-new ids, so min label == global min of the merged
    # group. Checkpointed (the star rounds already ran eagerly) so the
    # closure's internal tiny-frame joins don't appear in the serving plan.
    labels = checkpoint(connected_components_star(contracted, max_iterations))
    old_roots = touched.select(F.col("component").alias("id")).distinct()
    remap = (
        labels.join(F.broadcast(old_roots), "id")
        .where(F.col("component") != F.col("id"))
        .select(
            F.col("id").alias("__old_root"),
            F.col("component").alias("__new_root"),
        )
    )
    # (2) second and last pass over the big table: broadcast root remap.
    # changed_only keeps just the relabeled rows (inner join).
    updated = a.join(
        F.broadcast(remap),
        a.component == F.col("__old_root"),
        "inner" if changed_only else "left",
    ).select(
        "id",
        (
            F.col("__new_root")
            if changed_only
            else F.coalesce("__new_root", "component")
        ).alias("component"),
    )
    # rows for ids first seen in this batch (left join: a new id whose
    # every edge contracted to a self-loop has no closure label — itself)
    new_ids = endpoints.join(
        F.broadcast(touched.select("id")), "id", "left_anti"
    )
    new_rows = new_ids.join(
        F.broadcast(labels.withColumnRenamed("component", "__lbl")),
        "id",
        "left",
    ).select("id", F.coalesce("__lbl", "id").alias("component"))
    return updated.unionByName(new_rows)


def minhash_dedup_transitive(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    verify_threshold: float | None = 0.8,
    max_shingles: int | None = 512,
    hash_method: str = "xxhash64",
    cc: str = "propagation",
) -> DataFrame:
    """Near-dup removal with FULL transitive closure: verified candidate
    pairs → connected components → keep the min-id doc per component.
    Use instead of ``minhash_dedup`` when duplicate chains matter more than
    the extra component iterations.

    ``cc`` picks the closure algorithm: ``"propagation"`` (min-label,
    O(diameter) rounds — typical short dedup chains) or ``"star"``
    (large-star/small-star, O(log^2 n) rounds independent of component
    shape — the safe choice when boilerplate corpora can chain thousands
    of docs into one giant component). Identical output either way
    (equivalence-tested); measured the same wall-time at sf0.1."""
    cand = _verified_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_k, verify_threshold,
        max_shingles, hash_method,
    )
    if cc not in ("propagation", "star"):
        raise ValueError(f"unknown cc strategy: {cc!r}")
    comp = (
        connected_components_star(cand)
        if cc == "star"
        else connected_components(cand)
    )
    drop = comp.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, on=id_col, how="left_anti")


def _gram_hash(hash_method: str) -> Column:
    if hash_method == "md5":
        return md5_long(F.col("s"))
    if hash_method == "xxhash64":
        return F.xxhash64("s")
    raise ValueError(f"unknown hash method: {hash_method!r}")


def benchmark_grams(
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_k: int = 13,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """DISTINCT normalized ``ngram_k``-gram hash set of an eval benchmark —
    the static side of decontamination. Precompute once and persist it
    through ``chunking.track_persist`` (as ``streaming.stream_decontaminate``
    does) when scrubbing many corpora (or streaming micro-batches) against
    the same suite, so the benchmark is shingled exactly once and the
    cache is freed by ``chunking.release_persisted()``."""
    return (
        shingle_rows(benchmark, text_col, id_col, k=ngram_k, max_shingles=None)
        .select(_gram_hash(hash_method).alias("__g"))
        .distinct()
    )


def benchmark_bloom(
    bench_grams: DataFrame,
    num_bits: int = 1 << 22,
    num_hashes: int = 5,
) -> DataFrame:
    """Bloom filter over a :func:`benchmark_grams` set (gram hashes cast to
    string so both Bloom hash families accept them) — the broadcastable
    summary of a benchmark side too large to broadcast exactly. Build once
    beside the cached gram set; feed to ``contamination_matches`` via
    ``bench_bloom=`` (parameters must match — same contract as the banded
    minhash family)."""
    from .sketch import bloom_sketch

    return bloom_sketch(
        bench_grams.select(F.col("__g").cast("string").alias("__g")),
        "__g",
        num_bits,
        num_hashes,
        method="xxhash64",
    )


def contamination_matches(
    df: DataFrame,
    benchmark: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_k: int = 13,
    hash_method: str = "xxhash64",
    broadcast_benchmark: bool = True,
    bench_grams: DataFrame | None = None,
    bench_bloom: DataFrame | None = None,
    bloom_bits: int = 1 << 22,
    bloom_hashes: int = 5,
) -> DataFrame:
    """Per-document count of distinct normalized ``ngram_k``-grams shared
    with the ``benchmark`` corpus — the detection stage of training-data
    decontamination (the GPT-3 appendix-C recipe: a document is contaminated
    if any 13-gram also appears in an eval benchmark).

    Returns ``(id_col, matched_grams)`` for documents with >= 1 match.
    Documents shorter than ``ngram_k`` tokens produce no grams and are never
    flagged (standard behavior for the recipe).

    Scale shape: the benchmark side collapses to a DISTINCT set of 8-byte
    gram hashes (even MMLU-scale suites are ~1e6 grams = a few MB), which is
    broadcast, so the corpus side is one explode + a broadcast semi-join +
    a groupBy on the doc id — no shuffle ever carries the gram strings, and
    nothing is all-pairs. Set ``broadcast_benchmark=False`` to fall back to
    a shuffle join when the "benchmark" is itself corpus-sized.
    ``hash_method="md5"`` uses the engine-portable 60-bit base hash (module
    header) so the whole stage is value-checkable in any SQL engine; 64-bit
    xxhash64 stays the scale default (collision odds ~n^2/2^65 — immaterial,
    and a false positive merely drops one clean document).

    Pass ``bench_grams`` (from :func:`benchmark_grams`, typically cached) to
    skip re-shingling the benchmark — required when ``benchmark`` is None.

    ``bench_bloom`` (from :func:`benchmark_bloom`, parameters matching
    ``bloom_bits``/``bloom_hashes``) prefilters the corpus gram stream by
    Bloom membership BEFORE the gram join — exactness is preserved (no
    false negatives; the exact join removes the false positives), but in
    the ``broadcast_benchmark=False`` regime the shuffle now carries only
    (matching + fp) corpus grams instead of all of them: the explicit
    form of Catalyst's runtime bloom-filter join, sized by you instead of
    inferred. Pointless with a broadcast benchmark (no shuffle to save).
    """
    doc_grams = shingle_rows(
        df, text_col, id_col, k=ngram_k, max_shingles=None
    ).select(F.col("id").alias(id_col), _gram_hash(hash_method).alias("__g"))
    if bench_grams is None:
        if benchmark is None:
            raise ValueError("need either `benchmark` or `bench_grams`")
        bench_grams = benchmark_grams(
            benchmark, text_col, id_col, ngram_k, hash_method
        )
    if bench_bloom is not None:
        from .sketch import bloom_filter_rows

        doc_grams = bloom_filter_rows(
            doc_grams.withColumn("__gs", F.col("__g").cast("string")),
            bench_bloom,
            "__gs",
            bloom_bits,
            bloom_hashes,
            method="xxhash64",
            keep="maybe",
        ).drop("__gs")
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    return (
        doc_grams.join(bench_grams, "__g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("matched_grams"))
    )


def decontaminate(
    df: DataFrame,
    benchmark: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_k: int = 13,
    min_matches: int = 1,
    hash_method: str = "xxhash64",
    broadcast_benchmark: bool = True,
    bench_grams: DataFrame | None = None,
    bench_bloom: DataFrame | None = None,
    bloom_bits: int = 1 << 22,
    bloom_hashes: int = 5,
) -> DataFrame:
    """Drop every document sharing >= ``min_matches`` distinct normalized
    ``ngram_k``-grams with the ``benchmark`` corpus (training-data
    decontamination against eval suites). Keeps ``df``'s full schema; the
    flagged-id set is tiny, so the final anti-join broadcasts.
    ``bench_grams`` (see :func:`benchmark_grams`) reuses a precomputed
    benchmark gram set across calls/micro-batches; ``bench_bloom`` (see
    :func:`benchmark_bloom` / ``contamination_matches``) prefilters the
    corpus gram shuffle in the non-broadcastable-benchmark regime."""
    hits = contamination_matches(
        df, benchmark, text_col, id_col, ngram_k, hash_method,
        broadcast_benchmark, bench_grams, bench_bloom, bloom_bits,
        bloom_hashes,
    )
    if min_matches > 1:
        hits = hits.where(F.col("matched_grams") >= min_matches)
    return df.join(F.broadcast(hits.select(id_col)), on=id_col, how="left_anti")


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """SimHash: per token hash, each bit contributes +1/-1; the sign
    of the per-bit sum forms the fingerprint. Expressed as one explode +
    one agg with ``bits`` conditional sums (all codegen'd).

    ``hash_method="md5"`` draws bits from the engine-portable 60-bit md5
    base hash (module header) — requires ``bits <= 60`` and makes the whole
    fingerprint reproducible in any SQL engine (battery q14's oracle).
    """
    if hash_method == "md5":
        if bits > 60:
            raise ValueError("md5 hash method provides 60 bits; lower `bits`")
        tok_hash = md5_long(F.col("tok"))
    elif hash_method == "xxhash64":
        tok_hash = F.xxhash64("tok")
    else:
        raise ValueError(f"unknown hash method: {hash_method!r}")
    toks = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(text_col), " ")).alias("tok"),
    ).withColumn("h", tok_hash)
    bit_sums = [
        F.sum(
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"__b{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*bit_sums)
    sig = F.aggregate(
        F.array(*[
            F.when(
                F.col(f"__b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
            for i in range(bits)
        ]),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return agg.select(id_col, sig.alias("simhash"))


def simhash_candidates(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int = 64,
    bits: int = 64,
) -> DataFrame:
    """Near-dup pairs whose ``bits``-bit simhash differs in <= max_hamming
    bits. Banding (pigeonhole: d<=3 ⇒ one of 4 bands equal) prunes the
    candidate space; exact popcount verifies.

    Pairing is bucket-local like ``minhash_lsh_candidates``: ids sharing a
    band value are collected (sorted, truncated at ``max_bucket`` so a
    degenerate band value — e.g. boilerplate docs hashing a band to 0 —
    cannot go quadratic) and (i<j) pairs are emitted from the array. The
    simhash rides inside the collected struct, so no second join is needed
    to verify hamming distance.
    """
    width = bits // bands
    banded = signatures.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftrightunsigned("simhash", b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("band_val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "simhash", "band.band_idx", "band.band_val")
    # array_sort on struct(id, sig) orders by id first -> deterministic cap
    buckets = banded.groupBy("band_idx", "band_val").agg(
        F.slice(
            F.array_sort(
                F.collect_set(
                    F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sig"))
                )
            ),
            1,
            max_bucket,
        ).alias("members")
    )
    # generation AND the Hamming verify run inside this one projection
    # (the simhash rides in the struct — no join-back), so the bucket
    # fan-out pins the parallelism of the WHOLE candidate+verify stage
    # (round 15; fan_out_buckets docstring)
    pairs = (
        fan_out_buckets(buckets, "band_idx", "band_val")
        .where(F.size("members") > 1)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(0), F.size("members") - 2),
                        lambda i: F.transform(
                            F.slice(F.col("members"), i + 2, F.size("members")),
                            lambda m: F.struct(
                                F.col("members")[i]["id"].alias("id_a"),
                                m["id"].alias("id_b"),
                                F.col("members")[i]["sig"].alias("sig_a"),
                                m["sig"].alias("sig_b"),
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.*")
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.select(
        "id_a", "id_b", hamming.alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 13,
    min_docs: int = 2,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Span-granular duplicate detection — the substring-level dedup step
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"), which catches what doc-level dedup cannot: repeated
    boilerplate (licenses, headers, chain quotes) EMBEDDED inside
    otherwise-unique documents. The paper builds a suffix array; this is
    the scalable k-gram-anchor approximation used by open data pipelines:
    a word position whose normalized ``k``-gram occurs in >= ``min_docs``
    distinct documents opens a duplicated window [pos, pos+k), and
    overlapping/adjacent windows merge into maximal spans (so any
    duplicated substring of >= k words is covered end-to-end).

    Returns one row per maximal span: (``id_col``, span_id ordinal from 0
    in position order, start_word, end_word exclusive, n_grams flagged
    inside the span) — word-indexed over ``normalize_text`` tokens, for
    callers to cut spans out or drop documents whose span mass is high.

    Scale shape (no driver state, nothing all-pairs, nothing broadcast by
    assumption): positional gram explode (x words/doc, the decontaminate
    shape) -> gram doc-frequency agg (one shuffle on the 8-byte gram
    hash; the frequency table is vocabulary-sized and STAYS distributed)
    -> equi-join back on the same hash (co-partitioned with the agg) ->
    per-doc gaps-and-islands (one window shuffle on id). Skew: a gram
    shared by millions of docs contributes one frequency row and rejoins
    per occurrence — no collect_list of doc ids ever materializes a hot
    bucket (contrast ``ngram_jaccard_pairs``, which needs pairs and caps
    buckets instead).

    ``hash_method="md5"`` uses the engine-portable 60-bit family so a SQL
    oracle can replay the whole pipeline (battery q60).

    Plan note: the positional-gram subtree feeds both the frequency agg
    and the join-back side and is recomputed per branch (column pruning
    specializes the copies, so they never become a ReusedExchange).
    Unlike the minhash profile — where the pruned branches are cheap and
    recompute wins locally — here each branch rebuilds every k-word gram
    STRING, and the measured crossover flips early: at 200k docs x 60
    words on local[32], recompute 105 s vs persisted rows 56 s
    (SCALING.md). The (id, pos, 8-byte hash) rows therefore go through
    ``chunking.materialize``: recomputed below its size gate, persisted
    at corpus scale and freed by ``chunking.release_persisted()``. The
    gram equi-join broadcasts only when AQE sizes the frequency table
    under the threshold; at scale it is a co-partitioned hash join (both
    sides already hashed on ``h`` by the agg).
    """
    if hash_method == "md5":
        gram_hash = lambda c: md5_long(c)  # noqa: E731
    elif hash_method == "xxhash64":
        gram_hash = lambda c: F.xxhash64(c)  # noqa: E731
    else:
        raise ValueError(f"unknown hash method: {hash_method!r}")

    bound = df.select(
        F.col(id_col).alias("id"),
        F.split(normalize_text(text_col), " ").alias("__words"),
    )
    words = F.col("__words")
    n = F.greatest(F.size(words) - (k - 1), F.lit(0))
    pos_grams = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.struct(
            i.cast("int").alias("pos"),
            F.concat_ws(" ", F.slice(words, i + 1, k)).alias("g"),
        ),
    )
    # explode directly over the binding projection (CollapseProject stops
    # at Generate — the _grams contract), then hash ABOVE the explode so
    # each gram string is hashed exactly once
    rows = (
        bound.where(n > 0)
        .select("id", F.explode(pos_grams).alias("pg"))
        .select(
            "id",
            F.col("pg.pos").alias("pos"),
            gram_hash(F.col("pg.g")).alias("h"),
        )
    )
    rows = materialize(rows)
    dup_grams = (
        rows.groupBy("h")
        .agg(F.count_distinct("id").alias("df"))
        .where(F.col("df") >= min_docs)
        .select("h")
    )
    flagged = rows.join(dup_grams, "h").select("id", "pos")

    w = W.partitionBy("id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w.rowsBetween(W.unboundedPreceding, -1)
    )
    marked = flagged.withColumn(
        "__new",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0),
    )
    spans = marked.withColumn(
        "span_id",
        (
            F.sum("__new").over(w.rowsBetween(W.unboundedPreceding, 0)) - 1
        ).cast("int"),
    )
    return (
        spans.groupBy("id", "span_id")
        .agg(
            F.min("pos").cast("int").alias("start_word"),
            (F.max("pos") + k).cast("int").alias("end_word"),
            F.count(F.lit(1)).cast("int").alias("n_grams"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_id",
            "start_word",
            "end_word",
            "n_grams",
        )
    )


def cut_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "first",
) -> DataFrame:
    """Apply :func:`duplicate_spans` output: rewrite each document with its
    duplicated spans REMOVED, the Lee-et-al. remedy (cut the repeated
    substring, keep the rest of the document).

    ``keep`` decides what happens to the duplicated text itself:

    - ``"first"`` (default, the paper's all-but-one-occurrence policy):
      occurrences are grouped by the span's exact normalized content, and
      the (min doc id, min start) occurrence of each distinct content
      SURVIVES; every other occurrence is cut. Deterministic, no driver
      state — one window over the span table (span-count sized, far
      smaller than the corpus).
    - ``"none"``: every flagged span is cut everywhere (maximal removal;
      pair with doc-level dedup if canonical copies must survive).

    Output: ``df`` with ``text_col`` rebuilt from NORMALIZED words minus
    cut ranges (span offsets are defined over ``normalize_text`` tokens,
    so the rewrite necessarily normalizes; keep the original column
    alongside if raw formatting matters). Docs without spans pass through
    with normalized text too, keeping the column's definition uniform.

    Scale shape: spans join back to the words projection by id (equi),
    span-content hashing is a projection, the keep-first window shuffles
    only span rows, cut ranges aggregate to ≤ spans-per-doc arrays, and
    the rebuild is one index-aware ``F.filter`` over the words array —
    corpus text flows through exactly one join and zero explodes."""
    if keep not in ("first", "none"):
        raise ValueError(f"unknown keep policy: {keep!r}")

    bound = df.select(
        F.col(id_col).alias("id"),
        F.split(normalize_text(text_col), " ").alias("__words"),
    )
    sp = spans.select(
        F.col(id_col).alias("id"), "start_word", "end_word"
    ).join(bound, "id")
    sp = sp.withColumn(
        "__content",
        F.xxhash64(
            F.concat_ws(
                " ",
                F.slice(
                    F.col("__words"),
                    F.col("start_word") + 1,
                    F.col("end_word") - F.col("start_word"),
                ),
            )
        ),
    )
    if keep == "first":
        w = W.partitionBy("__content").orderBy(
            F.col("id").asc(), F.col("start_word").asc()
        )
        sp = sp.withColumn("__occ", F.row_number().over(w)).where(
            F.col("__occ") > 1
        )
    ranges = sp.groupBy("id").agg(
        F.collect_list(F.struct("start_word", "end_word")).alias("__cuts")
    )
    out = bound.join(ranges, "id", "left")
    kept_words = F.filter(
        F.col("__words"),
        lambda x, i: ~F.exists(
            F.col("__cuts"),
            lambda r: (i >= r["start_word"]) & (i < r["end_word"]),
        ),
    )
    rebuilt = F.when(
        F.col("__cuts").isNull(), F.concat_ws(" ", F.col("__words"))
    ).otherwise(F.concat_ws(" ", kept_words))
    others = [c for c in df.columns if c not in (id_col, text_col)]
    carried = df.select(F.col(id_col).alias("id"), *others)
    return (
        out.withColumn(text_col, rebuilt)
        .join(carried, "id")
        .select(F.col("id").alias(id_col), *others, text_col)
    )


def collapse_duplicates(
    df: DataFrame,
    score_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    verify_threshold: float | None = 0.8,
    max_shingles: int | None = 512,
    hash_method: str = "xxhash64",
    cc: str = "star",
    cluster_col: str = "cluster",
    size_col: str = "cluster_size",
) -> DataFrame:
    """Quality-aware duplicate-cluster collapse: group near-duplicates by
    full transitive closure, then keep the BEST row of each cluster by
    ``score_col`` (ties broken by ``id_col`` ascending) — the canonical-
    document selection step of corpus curation, where "drop the min-id
    copy" (:func:`minhash_dedup_transitive`) would throw away the cleanest
    variant of a boilerplate family just because of its id.

    Output = the kept rows, each carrying its duplicate-cluster label
    (``cluster_col``, the cluster's min id) and member count (``size_col``)
    — the cluster stats downstream mixing/inspection needs. Singleton docs
    keep themselves with size 1.

    Scale shape: candidate generation and closure are the proven
    minhash_dedup_transitive machinery (bucketed equi-joins with
    deterministic caps; ``cc="star"`` large-star/small-star closure is the
    giant-component-safe default here, since keep-best exists precisely
    for big boilerplate families). The selection itself is ONE window
    shuffle on the cluster label — count + row_number share the same
    partitioning, and cluster sizes are bounded by the dedup graph, not
    the corpus.
    """
    cand = _verified_candidates(
        df, text_col, id_col, num_hashes, bands, shingle_k, verify_threshold,
        max_shingles, hash_method,
    )
    if cc not in ("propagation", "star"):
        raise ValueError(f"unknown cc strategy: {cc!r}")
    comp = (
        connected_components_star(cand)
        if cc == "star"
        else connected_components(cand)
    )
    from pyspark.sql import Window as W

    labeled = df.join(
        comp.select(
            F.col("id").alias(id_col), F.col("component").alias(cluster_col)
        ),
        id_col,
        "left",
    ).withColumn(cluster_col, F.coalesce(F.col(cluster_col), F.col(id_col)))
    w = W.partitionBy(cluster_col)
    ranked = labeled.withColumn(
        size_col, F.count(F.lit(1)).over(w)
    ).withColumn(
        "__rn",
        F.row_number().over(
            w.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        ),
    )
    return ranked.where(F.col("__rn") == 1).drop("__rn")


def dedup_against(
    df: DataFrame,
    corpus: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    verify_threshold: float | None = 0.8,
    max_shingles: int | None = 512,
    hash_method: str = "xxhash64",
    max_bucket: int = 64,
    corpus_profile: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL near-dedup: drop rows of ``df`` (the incoming batch)
    that near-duplicate a row of ``corpus`` (the already-accepted data) —
    the batch-over-batch form every continuously-ingesting training
    pipeline needs, where re-running all-pairs dedup over corpus + batch
    per ingest would rescan the whole corpus quadratically.

    Candidates come from a banded-LSH EQUI-JOIN between the batch's band
    rows and the corpus's bucketed band rows (corpus buckets capped at
    ``max_bucket`` with sorted-id-first determinism, same contract as
    :func:`minhash_lsh_candidates`); verification is exact Jaccard over
    the two shingle profiles, candidate-local. Batch rows whose best
    verified match >= ``verify_threshold`` are dropped; ``None`` skips
    verification (any shared band drops). Within-batch duplicates are NOT
    removed here — compose with :func:`minhash_dedup` for that.

    Scale shape (100 TB corpus, small batch): the corpus side reduces to
    (band_idx, band_hash, capped id array) — at steady state you compute
    the corpus minhash profile ONCE (pass it as ``corpus_profile``; e.g. a
    cached/persisted :func:`minhash_profile` frame, as
    ``streaming.stream_dedup_against`` does per micro-batch) and join each
    batch against it; nothing in the join is proportional to corpus text
    size, and the batch side is batch-sized throughout. Exactly one of
    ``corpus`` / ``corpus_profile`` must be given.
    """
    if (corpus is None) == (corpus_profile is None):
        raise ValueError("pass exactly one of corpus / corpus_profile")
    prof_new = minhash_profile(
        df, text_col, id_col, num_hashes, shingle_k, max_shingles, hash_method
    )
    prof_corp = (
        corpus_profile
        if corpus_profile is not None
        else minhash_profile(
            corpus, text_col, id_col, num_hashes, shingle_k, max_shingles,
            hash_method,
        )
    )
    new_bands = _sig_band_rows(
        prof_new.select(id_col, "signature"), id_col, bands, num_hashes,
        hash_method,
    ).select(F.col(id_col).alias("id_new"), "band_idx", "band_hash")
    corp_buckets = (
        _sig_band_rows(
            prof_corp.select(id_col, "signature"), id_col, bands, num_hashes,
            hash_method,
        )
        .groupBy("band_idx", "band_hash")
        .agg(
            F.slice(F.array_sort(F.collect_set(id_col)), 1, max_bucket).alias(
                "ids"
            )
        )
    )
    cand = (
        new_bands.join(corp_buckets, ["band_idx", "band_hash"])
        .select("id_new", F.explode("ids").alias("id_corp"))
        .distinct()
    )
    if verify_threshold is None:
        hits = cand.select(F.col("id_new").alias(id_col)).distinct()
        return df.join(hits, id_col, "left_anti")
    sh_new = prof_new.select(
        F.col(id_col).alias("id_new"), F.col("shingle_set").alias("__sh_n")
    )
    sh_corp = prof_corp.select(
        F.col(id_col).alias("id_corp"), F.col("shingle_set").alias("__sh_c")
    )
    jac = (
        F.size(F.array_intersect("__sh_n", "__sh_c")).cast("double")
        / F.size(F.array_union("__sh_n", "__sh_c")).cast("double")
    )
    hits = (
        fan_out_pairs(cand, "id_new", "id_corp")
        .join(sh_new, "id_new")
        .join(sh_corp, "id_corp")
        .where(jac >= verify_threshold)
        .select(F.col("id_new").alias(id_col))
        .distinct()
    )
    return df.join(hits, id_col, "left_anti")


def duplicate_lines(
    df: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
) -> DataFrame:
    """Line-level boilerplate dedup (the CCNet / RefinedWeb line-dedup
    pass): a line whose EXACT content appears in >= ``min_docs`` distinct
    documents is boilerplate (headers, footers, nav bars, cookie
    banners) and is dropped from every document; unique lines keep their
    original order. Returns one row per input document:
    ``id_col, n_lines, n_kept, clean_text`` (empty string when every
    line was boilerplate).

    Scale shape (100 TB): two shuffles, no windows, no cartesian —
    (1) line doc-frequency is a groupBy on the line's md5 (the line TEXT
    never shuffles in pass 2: after the frequency join, only the kept
    line POSITIONS — ints — aggregate per doc), (2) the per-doc regroup
    collects those ints and the text is rebuilt from the ORIGINAL
    document by index, so shuffle rows stay a few bytes regardless of
    line length. Exact-content matching only; near-dup lines are the
    k-gram operators' job (duplicate_spans).

    Reference analog: none (extension) — the reference dedups at event
    grain only (``dags/track_delta.py``); this is the document-corpus
    curation twin, cf. Penedo et al. 2023 (RefinedWeb) §3.3 line-wise
    filtering.
    """
    # \Q...\E: F.split's pattern is a Java REGEX but concat_ws emits the
    # delimiter literally — quoting makes a metacharacter delimiter
    # ('|', '.') split literally instead of silently per-character
    # (round-6 review finding). A delimiter containing the sequence \E
    # would terminate the quote early, so it is split-and-requoted the
    # way java.util.regex.Pattern.quote does.
    pattern = "\\Q" + delimiter.replace("\\E", "\\E\\\\E\\Q") + "\\E"
    lines = df.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), pattern)).alias(
            "__pos", "__line"
        ),
    )
    freq = (
        lines.select(F.md5("__line").alias("__h"), id_col)
        .groupBy("__h")
        .agg(F.count_distinct(F.col(id_col)).alias("__df"))
        .where(F.col("__df") >= min_docs)
    )
    kept_pos = (
        lines.join(freq, F.md5(F.col("__line")) == F.col("__h"), "left_anti")
        .groupBy(id_col)
        .agg(
            F.sort_array(F.collect_list("__pos")).alias("__keep"),
        )
    )
    # Bind the split array BELOW the join: the rebuild lambda must
    # capture a bound ATTRIBUTE (__parts), not the split expression tree
    # — an expression capture re-evaluates the full-document split once
    # per kept line (the measured 15-45x _grams pitfall; round-6 review
    # finding). The join's exchange is the barrier that stops
    # CollapseProject from inlining the binding projection back in.
    bound = df.select(
        id_col, F.split(F.col(text_col), pattern).alias("__parts")
    )
    return (
        bound.join(kept_pos, id_col, "left")
        .select(
            id_col,
            F.size("__parts").cast("long").alias("n_lines"),
            F.coalesce(F.size("__keep"), F.lit(0))
            .cast("long")
            .alias("n_kept"),
            F.concat_ws(
                delimiter,
                F.transform(
                    F.coalesce(
                        F.col("__keep"), F.array().cast("array<int>")
                    ),
                    lambda p: F.element_at(F.col("__parts"), p + 1),
                ),
            ).alias("clean_text"),
        )
    )


def record_link_pairs(
    df: DataFrame,
    id_col: str,
    attr_col: str,
    block_cols: Sequence[str | Column],
    max_edit: int = 1,
    max_block: int = 256,
) -> DataFrame:
    """Entity resolution candidate pairs: BLOCKING + edit-distance match
    (the Fellegi-Sunter record-linkage recipe — Christen 2012, "Data
    Matching"). Rows sharing every ``block_cols`` value meet; within a
    block, (id_a < id_b) pairs whose ``attr_col`` values are within
    ``max_edit`` Levenshtein distance are emitted with their distance.

    Scale shape (100 TB): the ONLY join is block-local — both sides
    shuffle once on the block key, and the quadratic comparison is
    confined to one block's rows. ``max_block`` is the hot-block ceiling
    (same contract as ``minhash_lsh_candidates``' ``max_bucket`` and
    ``ngram_jaccard_pairs``' ``max_df``): a degenerate blocking key
    shared by n rows would emit O(n²) comparisons, so blocks larger than
    the cap are DROPPED from pair generation — deterministic, loud in
    the docs; pick tighter block keys rather than raising the cap. The
    block-size prefilter runs under the same hashpartitioning exchange
    the self-join then reuses.

    Levenshtein is evaluated JVM-side (``F.levenshtein``) AFTER the
    block-equality join — never as a cross-join predicate.
    """
    if max_edit < 0:
        raise ValueError(f"max_edit must be >= 0, got {max_edit}")
    if max_block < 2:
        raise ValueError(f"max_block must be >= 2, got {max_block}")
    from pyspark.sql import Window as W

    bcols = [
        (F.col(c) if isinstance(c, str) else c).alias(f"__bk{i}")
        for i, c in enumerate(block_cols)
    ]
    bk = [f"__bk{i}" for i in range(len(bcols))]
    rows = df.select(*bcols, F.col(id_col), F.col(attr_col))
    sized = rows.withColumn(
        "__bs", F.count(F.lit(1)).over(W.partitionBy(*bk))
    ).where((F.col("__bs") > 1) & (F.col("__bs") <= max_block))
    a = sized.select(
        *bk,
        F.col(id_col).alias("id_a"),
        F.col(attr_col).alias("attr_a"),
    )
    b = sized.select(
        *bk,
        F.col(id_col).alias("id_b"),
        F.col(attr_col).alias("attr_b"),
    )
    return (
        a.join(b, bk)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("edit_dist", F.levenshtein("attr_a", "attr_b"))
        .where(F.col("edit_dist") <= max_edit)
        .select("id_a", "id_b", "attr_a", "attr_b", "edit_dist")
    )


# --- persisted MinHash LSH dedup index (offline build / ingest / serving) ---
#
# The serving shape of :func:`dedup_against` at 100 TB: the accepted
# corpus's minhash profiles are computed ONCE and persisted, and every
# arriving batch dedups against the STORED index instead of re-shingling
# the corpus per call. Layout under one root (base + delta, mirroring the
# persisted IVF index in operators/similarity.py):
#
#   <root>/params           one row: the banding/shingling parameters the
#                           index was built with — serving reads these, so
#                           a search can never band differently than the
#                           stored rows were banded
#   <root>/docs             (id, signature, shingle_set) per accepted doc —
#                           id-grain verification store (exact-Jaccard side)
#   <root>/bands            (id, band_idx, band_hash) LSH band rows,
#                           parquet PARTITIONED BY hb = bucket(band_hash):
#                           a batch's distinct band keys broadcast into the
#                           join, so Catalyst dynamic-partition-prunes the
#                           scan to the hb partitions the batch touches
#   <root>/stream_profiles  delta: profiles ingested by
#                           streaming.stream_minhash_ingest (foreachBatch,
#                           epoch-partitioned dynamic overwrite — the
#                           package's replay-idempotent sink recipe);
#                           serving derives its band rows on the fly
#                           (delta << base)
#   <root>/tombstones       id-grain deletes (minhash_index_delete),
#                           anti-joined out of every serving read and
#                           folded physically by minhash_index_compact
#   <root>/generation       compaction generation marker (same contract as
#                           the IVF index: stream checkpoints pin it and
#                           refuse to replay across a fold)
#
# No reference analog to cite: the reference has no dedup surface at all —
# this extends the §7 training-data-pipeline family (SURVEY.md).

MINHASH_PARAMS_DIR = "params"
MINHASH_DOCS_DIR = "docs"
MINHASH_BANDS_DIR = "bands"
MINHASH_DELTA_DIR = "stream_profiles"


def _band_bucket(band_hash: Column, band_buckets: int) -> Column:
    """Physical partition bucket of a band-hash value. xxhash64 works for
    both band-hash representations (long for the xxhash64 family, string
    for the md5/oracle-portable family); pmod keeps it non-negative."""
    return F.pmod(F.xxhash64(band_hash), F.lit(band_buckets)).cast("int")


# In-process params memo: the params table is write-once per root, yet
# the serving path re-read the one-row parquet on every call — a full
# Spark scan job of pure fixed latency per batch (r12 VERDICT). Each hit
# is validated against a one-RPC directory fingerprint (child names +
# lengths + mtimes), so a rebuild by ANY process — not just this one —
# changes the part files and the stale entry misses instead of silently
# serving old banding parameters (round-13 review).
_PARAMS_MEMO: dict = {}


def _minhash_params(spark, root: str):
    """Load the stored banding/shingling parameters (one driver-sized row),
    memoized per root; the memo revalidates with one listStatus RPC
    (~free vs the Spark job it replaces) and self-heals after an
    out-of-process rebuild. Keys are the filesystem-QUALIFIED params dir
    (``fs.qualified``), so relative/absolute/trailing-slash aliases of one
    root share one entry. Known limit (inherits ``fs.fingerprint``'s):
    a metadata-preserving restore of an OLDER params dir (``cp -p``)
    reproduces the old (name, length, mtime) tuple and revalidates —
    acceptable because params are write-once per root by contract
    (``minhash_index_write`` refuses to re-band in place); a true
    re-parameterization goes through a fresh Spark write, which always
    generates new part-file names."""
    fs = _fs_mod()
    path = fs.join(root, MINHASH_PARAMS_DIR)
    token = fs.fingerprint(spark, path)
    key = fs.qualified(spark, path)
    hit = _PARAMS_MEMO.get(key)
    if hit is not None and hit[0] == token:
        return hit[1]
    rows = spark.read.parquet(path).collect()
    if len(rows) != 1:
        raise ValueError(f"corrupt minhash index params at {root}")
    _PARAMS_MEMO[key] = (token, rows[0])
    return rows[0]


def _fs_mod():
    """Late import of the fs helper module (dedup must not import it at
    module level for symmetry with similarity's late dedup imports)."""
    from .. import fs

    return fs


def minhash_index_write(
    corpus: DataFrame,
    root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 3,
    max_shingles: int | None = 512,
    hash_method: str = "xxhash64",
    band_buckets: int = 64,
) -> None:
    """Build the persisted dedup index from the accepted corpus: ONE
    shingle pass computes every doc's minhash profile (signature +
    shingle set), written as the id-grain ``docs`` table; the banded LSH
    rows are then derived from the WRITTEN table's signature column (a
    column-pruned re-scan of the compact profile parquet — far cheaper at
    corpus scale than recomputing the shingling, and no giant persist).

    Incremental additions go through
    ``streaming.stream_minhash_ingest``; deletes through
    :func:`minhash_index_delete`; maintenance through
    :func:`minhash_index_compact`. Serving is
    :func:`minhash_index_dedup`, which matches
    :func:`dedup_against` (same parameters, same cap contract) exactly.
    """
    fs = _fs_mod()
    if num_hashes % bands != 0:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    spark = corpus.sparkSession
    # Refuse a rebuild over LIVE overlays (the bloom-monitor parity rule,
    # r12 VERDICT): this write overwrites params/docs/bands but NOT the
    # streamed delta or tombstones — leftover delta profiles were computed
    # under the OLD parameters and would union into serving as silent
    # wrong-band corruption (and old tombstones would delete ids the new
    # corpus legitimately holds). An interrupted-compaction staging dir
    # refuses on sight: its rows may be half-applied, and the documented
    # recovery (rename it back) would revive an old-parameter delta under
    # the new base. Compact / recover first, or build under a fresh root.
    # Only the "dir exists but holds no committed parquet" AnalysisException
    # reads as empty — a transient read failure must refuse, not bypass the
    # guard (round-13 review).
    from pyspark.errors import AnalysisException

    for overlay in (
        MINHASH_DELTA_DIR, MINHASH_DELTA_DIR + ".compacting", "tombstones",
    ):
        path = fs.join(root, overlay)
        if not fs.is_dir(spark, path):
            continue
        if overlay.endswith(".compacting"):
            live = True
        else:
            try:
                live = not spark.read.parquet(path).isEmpty()
            except AnalysisException:  # no committed files yet
                live = False
        if live:
            raise ValueError(
                f"minhash index root {root} still holds a live "
                f"'{overlay}' overlay; rebuilding the base under it "
                "would serve delta profiles computed with the old "
                "parameters (and stale deletes) — run "
                "minhash_index_compact first or use a fresh root"
            )
    _PARAMS_MEMO.pop(root.rstrip("/"), None)
    spark.createDataFrame(
        [
            (
                num_hashes,
                bands,
                shingle_k,
                max_shingles,
                hash_method,
                band_buckets,
                id_col,
            )
        ],
        "num_hashes int, bands int, shingle_k int, max_shingles int, "
        "hash_method string, band_buckets int, id_col string",
    ).coalesce(1).write.mode("overwrite").parquet(
        fs.join(root, MINHASH_PARAMS_DIR)
    )
    prof = minhash_profile(
        corpus, text_col, id_col, num_hashes, shingle_k, max_shingles,
        hash_method,
    )
    prof.write.mode("overwrite").parquet(fs.join(root, MINHASH_DOCS_DIR))
    docs = spark.read.parquet(fs.join(root, MINHASH_DOCS_DIR))
    band_rows = _sig_band_rows(
        docs.select(id_col, "signature"), id_col, bands, num_hashes,
        hash_method,
    ).withColumn("hb", _band_bucket(F.col("band_hash"), band_buckets))
    band_rows.write.mode("overwrite").partitionBy("hb").parquet(
        fs.join(root, MINHASH_BANDS_DIR)
    )
    fs.write_text(spark, fs.join(root, "generation"), "0")
    _invalidate_index_memo(spark, root)


def _minhash_delta(spark, root: str) -> "DataFrame | None":
    """The streamed delta's profile rows, without the epoch partition
    column (None when no delta exists)."""
    fs = _fs_mod()
    path = fs.join(root, MINHASH_DELTA_DIR)
    if not fs.is_dir(spark, path):
        return None
    from pyspark.errors import AnalysisException

    from ..streaming.jobs import read_epochs

    try:
        return read_epochs(spark, path)
    except AnalysisException:  # dir exists but holds no committed files
        return None  # yet; any OTHER failure must surface, not read as
        # "no delta" — that would silently serve without the streamed docs


# Resolved stored-relation memo for the SERVING path (round 14, r13
# VERDICT #3): every `spark.read.parquet` re-lists the table and re-reads
# footers at PLAN time — for the hb-partitioned bands table that is a
# 64-task partition-discovery job per serving call, ~6 fixed jobs of pure
# latency before any data moves. A resolved DataFrame pins its FileIndex
# (the listing snapshot), so reuse must revalidate: same one-RPC
# directory fingerprints as the params memo, one per stored table.
# Defense in depth for same-process writers: every mutator in this module
# (delete, compact/fold) and the streaming ingest sinks call
# `_invalidate_index_memo` after writing, so in-process staleness never
# depends on filesystem mtime semantics (object stores report weak dir
# mtimes; external-writer invalidation relies on the fingerprint and
# inherits `fs.fingerprint`'s documented caveat).
_RELATIONS_MEMO: dict = {}


def _index_relations(spark, root: str) -> dict:
    """Resolved (bands, docs, delta, tomb) DataFrames for ``root``,
    memoized per qualified root; delta/tomb are None when absent. One
    fingerprint RPC per table; partitioned tables are covered at the
    partition-dir level (child name/mtime — a new epoch or bucket always
    invalidates; an IN-PLACE partition rewrite invalidates via the child
    dir mtime, which is reliable on local/HDFS and weak on object stores
    — same-process writers don't depend on it, they invalidate
    explicitly)."""
    fs = _fs_mod()
    dirs = (
        fs.join(root, MINHASH_BANDS_DIR),
        fs.join(root, MINHASH_DOCS_DIR),
        fs.join(root, MINHASH_DELTA_DIR),
        fs.join(root, "tombstones"),
    )
    token = tuple(fs.fingerprint(spark, d) for d in dirs)
    key = fs.qualified(spark, root)
    hit = _RELATIONS_MEMO.get(key)
    if hit is not None and hit[0] == token:
        return hit[1]
    rel = {
        "bands": spark.read.parquet(dirs[0]),
        "docs": spark.read.parquet(dirs[1]),
        "delta": _minhash_delta(spark, root),
        "tomb": _minhash_tombstones(spark, root),
    }
    _RELATIONS_MEMO[key] = (token, rel)
    return rel


def _invalidate_index_memo(spark, root: str) -> None:
    """Drop the resolved-relation memo entry for ``root`` — called by
    every in-process writer that mutates a stored table, so serving
    never reads a pinned listing past a write this process made."""
    fs = _fs_mod()
    _RELATIONS_MEMO.pop(fs.qualified(spark, root), None)


def _minhash_tombstones(spark, root: str) -> "DataFrame | None":
    fs = _fs_mod()
    path = fs.join(root, "tombstones")
    if not fs.is_dir(spark, path):
        return None
    return spark.read.parquet(path)


def minhash_index_dedup(
    batch: DataFrame,
    root: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    verify_threshold: float | None = 0.8,
    max_bucket: int = 64,
    keep: str = "survivors",
    broadcast_batch: bool = True,
) -> DataFrame:
    """Serve :func:`dedup_against` from the persisted index: drop rows of
    ``batch`` that near-duplicate an accepted corpus doc, WITHOUT
    re-shingling the corpus — candidates come from an equi-join of the
    batch's band rows against the stored ``bands`` table, verification
    from an id-grain join against the stored ``shingle_set`` profiles.
    Results match ``dedup_against(batch, corpus=survivors)`` exactly,
    where survivors = base ∪ streamed delta − tombstones (equivalence
    tested, including the cap determinism contract: per-bucket sorted-id
    slice of ``max_bucket``).

    Scale shape (100 TB corpus, small batch): the batch side is
    batch-sized throughout and BROADCAST into both stored-table joins —
    the stored ``bands`` scan is dynamic-partition-pruned to the ``hb``
    buckets the batch's band keys hash into, and the stored ``docs`` scan
    only materializes shingle sets for candidate ids. Nothing shuffles
    the stored tables; per-bucket caps bound hot bands exactly as
    :func:`minhash_lsh_candidates` does. Banding parameters come from the
    stored ``params`` table, so serving can never band differently than
    the index was built.

    The batch side (its band rows and the duplicate-hit id set) is
    BROADCAST by default — that is the serving contract: the batch
    must be micro-batch-sized (it fits the driver/broadcast limits, and
    every serving cost is O(batch)). For a data-sized "batch" — deduping
    one corpus against another — use :func:`dedup_against`, whose joins
    shuffle both sides. ``broadcast_batch=False`` keeps this function's
    candidate semantics but drops every forced batch-side broadcast (AQE
    picks the join strategy) — the escape hatch callers that cannot
    bound their batch (a backlog drain with no ``maxFilesPerTrigger``)
    use instead of failing at the driver/broadcast limit; a corpus-sized
    batch is still better served by :func:`dedup_against`.

    ``keep="survivors"`` (default) returns the non-duplicate batch rows;
    ``keep="links"`` returns the batch↔corpus link pairs instead —
    (id_a = batch id, id_b = corpus id), distinct — ready to fold into
    a persisted cluster assignment table via :func:`update_components`.
    NOTE: with ``verify_threshold=None`` those links are UNVERIFIED band
    collisions, not verified near-duplicates — do not feed them to
    :func:`components_update`/:func:`update_components` (component merges
    are permanent; a spurious collision would weld two unrelated clusters
    forever). Fold links only from a verified run.
    """
    if keep not in ("survivors", "links"):
        raise ValueError(f"unknown keep mode: {keep!r}")
    B = F.broadcast if broadcast_batch else (lambda df: df)
    spark = batch.sparkSession
    fs = _fs_mod()
    p = _minhash_params(spark, root)
    corp_id = p.id_col
    prof_new = minhash_profile(
        batch, text_col, id_col, p.num_hashes, p.shingle_k, p.max_shingles,
        p.hash_method,
    )
    if broadcast_batch:
        # Serving-path fixed-floor cut (optimization round 14, r13
        # VERDICT #3): the batch profile feeds BOTH the band rows and the
        # verify shingle sets, and each broadcast build re-ran the
        # shingle+minhash pass over the batch. One eager materialization
        # of the O(batch) profile replaces the duplicate pass. Applied
        # BEFORE the selective filter below, so the filter stays visible
        # to Catalyst's PartitionPruning rule (checkpointing above it
        # would swallow the predicate and silently drop the DPP on the
        # stored bands scan). Only on the micro-batch contract path —
        # an unbounded batch (broadcast_batch=False) must not be
        # checkpointed wholesale.
        prof_new = checkpoint(prof_new)
    # Semantically a no-op (the profile groupBy only emits docs with >= 1
    # shingle) — but it is a "likely selective" predicate in Catalyst's
    # PartitionPruning rule, which is what makes the rule insert dynamic
    # partition pruning on the stored bands scan below (the batch side is
    # otherwise Filter-free and the rule declines; verified empirically,
    # plan-asserted in tests).
    prof_new = prof_new.where(F.size("shingle_set") > 0)
    new_bands = _sig_band_rows(
        prof_new.select(id_col, "signature"), id_col, p.bands, p.num_hashes,
        p.hash_method,
    ).select(
        F.col(id_col).alias("__id_new"),
        "band_idx",
        "band_hash",
        _band_bucket(F.col("band_hash"), p.band_buckets).alias("hb"),
    )
    rel = _index_relations(spark, root)
    stored = rel["bands"].select(
        F.col(corp_id).alias("__id_corp"), "band_idx", "band_hash", "hb"
    )
    delta = rel["delta"]
    if delta is not None:
        stored = stored.unionByName(
            _sig_band_rows(
                delta.select(corp_id, "signature"), corp_id, p.bands,
                p.num_hashes, p.hash_method,
            ).select(
                F.col(corp_id).alias("__id_corp"),
                "band_idx",
                "band_hash",
                _band_bucket(F.col("band_hash"), p.band_buckets).alias("hb"),
            )
        )
    tomb = rel["tomb"]
    if tomb is not None:
        dead = tomb.select(F.col(tomb.columns[0]).alias("__id_corp")).distinct()
        stored = stored.join(F.broadcast(dead), "__id_corp", "left_anti")
    # batch band rows broadcast -> the stored scan prunes to touched hb
    # partitions (dynamic partition pruning; plan-asserted in tests).
    # Joining the band ROWS directly (not a distinct key projection —
    # round 14, r13 VERDICT #3) removes a shuffle + a second broadcast
    # from the fixed serving latency; a stored row duplicates only when
    # several batch docs share one band key, and the collect_set below
    # collapses that.
    matched = stored.join(
        B(new_bands), ["hb", "band_idx", "band_hash"]
    )
    # ONE aggregation derives both the capped bucket AND its probing
    # batch docs (was: bucket agg + a second broadcast join against the
    # band rows). Cap per bucket keeps the family-wide determinism
    # contract: the key-join kept every stored row of a matching bucket,
    # so capping the sorted collect_set == capping the full bucket (what
    # dedup_against does) — __id_new duplication cannot perturb the set.
    cand = (
        matched.groupBy("band_idx", "band_hash")
        .agg(
            F.slice(
                F.array_sort(F.collect_set("__id_corp")), 1, max_bucket
            ).alias("ids"),
            F.collect_set("__id_new").alias("nids"),
        )
        .select(F.explode("nids").alias("__id_new"), "ids")
        .select("__id_new", F.explode("ids").alias("__id_corp"))
        .distinct()
    )
    if verify_threshold is None:
        if keep == "links":
            return cand.select(
                F.col("__id_new").alias("id_a"), F.col("__id_corp").alias("id_b")
            )
        hits = cand.select(F.col("__id_new").alias(id_col)).distinct()
        return batch.join(B(hits), id_col, "left_anti")
    docs = rel["docs"].select(
        F.col(corp_id).alias("__id_corp"), F.col("shingle_set").alias("__sh_c")
    )
    if delta is not None:
        docs = docs.unionByName(
            delta.select(
                F.col(corp_id).alias("__id_corp"),
                F.col("shingle_set").alias("__sh_c"),
            )
        )
    if tomb is not None:
        docs = docs.join(F.broadcast(dead), "__id_corp", "left_anti")
    sh_new = prof_new.select(
        F.col(id_col).alias("__id_new"), F.col("shingle_set").alias("__sh_n")
    )
    jac = (
        F.size(F.array_intersect("__sh_n", "__sh_c")).cast("double")
        / F.size(F.array_union("__sh_n", "__sh_c")).cast("double")
    )
    verified = (
        docs.join(B(cand), "__id_corp")
        .join(B(sh_new), "__id_new")
        .where(jac >= verify_threshold)
    )
    if keep == "links":
        return verified.select(
            F.col("__id_new").alias("id_a"), F.col("__id_corp").alias("id_b")
        ).distinct()
    # hits ≤ batch ids: broadcast the anti-join side (the last remaining
    # batch-proportional sort-merge exchange on the serving path)
    hits = verified.select(F.col("__id_new").alias(id_col)).distinct()
    return batch.join(B(hits), id_col, "left_anti")


def minhash_index_delete(spark, root: str, ids, id_col: str | None = None) -> None:
    """Delete docs from the persisted dedup index by id — logical and
    O(ids), exactly like ``similarity.ivf_index_delete``: ids append into
    an id-grain ``<root>/tombstones`` table that every serving read
    anti-joins (band rows AND verification profiles, base and delta
    alike) and :func:`minhash_index_compact` folds physically. After a
    delete, serving matches an index rebuilt from the surviving corpus
    exactly — including cap determinism: the per-bucket sorted-id cap is
    applied AFTER tombstone removal, so a freed cap slot admits the next
    sorted id just as a rebuild would."""
    fs = _fs_mod()
    if id_col is None:
        id_col = _minhash_params(spark, root).id_col
    if isinstance(ids, DataFrame):
        df = ids.select(F.col(id_col))
    else:
        df = spark.createDataFrame([(i,) for i in ids], f"{id_col} long")
    df.write.mode("append").parquet(fs.join(root, "tombstones"))
    _invalidate_index_memo(spark, root)


def _swap_rewrite(spark, table_path: str, kept: DataFrame, partition_by: str | None) -> None:
    """Staged rewrite-and-swap of one table (the detectable-crash fold
    kernel shared with the IVF index): write survivors to ``.rewriting``,
    rename the live table aside, rename the rewrite in, drop the old."""
    fs = _fs_mod()
    rewriting, old = table_path + ".rewriting", table_path + ".old"
    w = kept.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(rewriting)
    fs.rename(spark, table_path, old)
    fs.rename(spark, rewriting, table_path)
    fs.delete(spark, old)


def _fold_minhash_tombstones(spark, root: str) -> bool:
    """Physically apply ``<root>/tombstones`` to BOTH stored tables
    (docs, bands) via staged swaps, then drop the tombstone table.
    Idempotent: a crash between the two table folds re-runs safely (the
    tombstone table is deleted last; re-anti-joining already-removed ids
    is a no-op). A leftover ``.rewriting``/``.old`` dir refuses the run —
    same manual recovery contract as ``similarity._fold_tombstones``."""
    fs = _fs_mod()
    tomb = _minhash_tombstones(spark, root)
    if tomb is None:
        return False
    corp_id = _minhash_params(spark, root).id_col
    dead = F.broadcast(tomb.select(F.col(tomb.columns[0]).alias(corp_id)).distinct())
    for name, part in ((MINHASH_DOCS_DIR, None), (MINHASH_BANDS_DIR, "hb")):
        path = fs.join(root, name)
        for leftover in (path + ".rewriting", path + ".old"):
            if fs.is_dir(spark, leftover):
                raise RuntimeError(
                    f"interrupted tombstone fold at {leftover}: keep "
                    f"whichever complete directory holds the table as "
                    f"'{name}', delete the other, then re-run "
                    "minhash_index_compact"
                )
        live = spark.read.parquet(path)
        kept = live.join(dead, [corp_id], "left_anti")
        _swap_rewrite(spark, path, kept, part)
    fs.delete(spark, fs.join(root, "tombstones"))
    return True


def minhash_index_compact(spark, root: str) -> int:
    """Fold the streamed delta into the base tables and apply tombstones
    physically; bumps ``<root>/generation`` so stale stream checkpoints
    refuse to replay (same contract as ``similarity.ivf_index_compact``).
    Returns the number of delta docs folded.

    Crash contract (DETECTABLE, not atomic — plain parquet): the delta
    dir is renamed to ``.compacting`` first (new streamed epochs cannot
    race the fold), then appended into ``docs`` and, band-derived, into
    ``bands``; a leftover ``.compacting`` dir means a prior run may have
    appended some or all rows and the next run refuses. Recovery is
    manual: check whether the staged ids are in the base tables, then
    delete the staging dir (appended) or rename it back (not appended).
    Unlike the IVF delta, this delta is written by the foreachBatch
    epoch-overwrite sink (no streaming-sink manifest), so the staged dir
    reads as plain parquet."""
    fs = _fs_mod()
    p = _minhash_params(spark, root)
    delta_path = fs.join(root, MINHASH_DELTA_DIR)
    staging = delta_path + ".compacting"
    if fs.is_dir(spark, staging):
        raise RuntimeError(
            f"interrupted compaction at {staging}: its rows may or may not "
            "already be in the base tables — verify, then delete it "
            "(appended) or rename it back to stream_profiles (not appended)"
        )
    from .similarity import _bump_generation

    if not fs.is_dir(spark, delta_path):
        _fold_minhash_tombstones(spark, root)
        _bump_generation(spark, root)
        _invalidate_index_memo(spark, root)
        return 0
    fs.rename(spark, delta_path, staging)
    from pyspark.errors import AnalysisException

    from ..streaming.jobs import read_epochs

    # Only "no committed files" reads as an empty delta: any other read
    # failure (a corrupt part file) raises and leaves the streamed rows in
    # the staging dir, which the next run refuses.
    try:
        delta = read_epochs(spark, staging)
    except AnalysisException:
        delta = None
    if delta is None:
        fs.delete(spark, staging)
        _fold_minhash_tombstones(spark, root)
        _bump_generation(spark, root)
        _invalidate_index_memo(spark, root)
        return 0
    n = delta.count()
    if n:
        delta.write.mode("append").parquet(fs.join(root, MINHASH_DOCS_DIR))
        _sig_band_rows(
            delta.select(p.id_col, "signature"), p.id_col, p.bands,
            p.num_hashes, p.hash_method,
        ).withColumn(
            "hb", _band_bucket(F.col("band_hash"), p.band_buckets)
        ).write.mode("append").partitionBy("hb").parquet(
            fs.join(root, MINHASH_BANDS_DIR)
        )
    fs.delete(spark, staging)
    _fold_minhash_tombstones(spark, root)
    _bump_generation(spark, root)
    _invalidate_index_memo(spark, root)
    return n

# ---------------------------------------------------------------------------
# Persisted duplicate-cluster assignment store: base + delta overlay, updated
# incrementally by update_components(changed_only=True). The operational
# bookkeeping behind a continuously-deduped corpus — which cluster does each
# accepted doc belong to — maintained without ever rewriting (or shuffling)
# the full table per ingest batch.
# ---------------------------------------------------------------------------

COMP_BASE_DIR = "base"
COMP_DELTA_DIR = "delta"


def components_write(assignments: DataFrame, root: str) -> None:
    """Initialize a persisted component store from a closure fixpoint
    (e.g. ``connected_components_star`` output, or an empty frame): base
    table ``<root>/base`` (id, component, v=0) plus a ``generation``
    marker. Update via :func:`components_update`, read the current view
    via :func:`components_read`, fold via :func:`components_compact`."""
    fs = _fs_mod()
    spark = assignments.sparkSession
    assignments.select(
        "id", "component", F.lit(0).cast("long").alias("v")
    ).write.mode("overwrite").parquet(fs.join(root, COMP_BASE_DIR))
    fs.write_text(spark, fs.join(root, "generation"), "0")


def _components_delta(spark, root: str) -> "DataFrame | None":
    fs = _fs_mod()
    path = fs.join(root, COMP_DELTA_DIR)
    if not fs.is_dir(spark, path):
        return None
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException:  # dir exists but holds no committed files
        return None  # yet; other failures surface (stale-view hazard)


def components_read(spark, root: str) -> DataFrame:
    """Current (id, component) view: base rows not superseded by the
    delta, plus the latest delta row per id. The base side never
    shuffles — superseded ids and the delta's latest-wins window are
    DELTA-sized (the accumulated changed rows since the last compact,
    kept broadcastable by compacting; same small-side contract as the
    index tombstones)."""
    fs = _fs_mod()
    base = spark.read.parquet(fs.join(root, COMP_BASE_DIR))
    delta = _components_delta(spark, root)
    if delta is None:
        return base.select("id", "component")
    # component asc as the final tiebreak: a crash between a delta append
    # and its generation-marker write can leave an orphaned version whose
    # number the next update reuses — both labelings are valid fixpoints,
    # and the tiebreak keeps the view deterministic either way
    w = W.partitionBy("id").orderBy(F.col("v").desc(), F.col("component").asc())
    latest = (
        delta.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("id", "component")
    )
    kept = base.join(
        F.broadcast(delta.select("id").distinct()), "id", "left_anti"
    ).select("id", "component")
    return kept.unionByName(latest)


def components_update(spark, root: str, new_edges: DataFrame,
                      max_iterations: int = 25) -> int:
    """Fold a batch of new duplicate edges (id_a, id_b — e.g.
    ``minhash_index_dedup(keep="links")``) into the store: computes the
    CHANGED rows only (``update_components(changed_only=True)`` — closure
    on the contracted batch-sized graph, two broadcast passes over the
    view, no shuffle of the base) and appends them to ``<root>/delta``
    under the next generation number. Returns the number of rows written.

    The write set is minimal by construction: members of components whose
    root changed, plus first-seen ids — merging into a million-doc
    cluster whose root keeps the min id writes only the incoming rows.
    A batch whose edges all lie within existing components changes
    nothing: no delta is written, the generation does not move, and 0 is
    returned (this is also what makes replaying an already-folded batch
    a no-op)."""
    fs = _fs_mod()
    cur = components_read(spark, root)
    # materialize the (batch-sized) changed set once: the count decides
    # whether to write at all, and the write then reuses the same rows
    changed = checkpoint(
        update_components(cur, new_edges, max_iterations, changed_only=True)
    )
    n = changed.count()
    if n == 0:
        return 0
    gen = int(fs.read_text(spark, fs.join(root, "generation"))) + 1
    changed.select(
        "id", "component", F.lit(gen).cast("long").alias("v")
    ).write.mode("append").partitionBy("v").parquet(
        fs.join(root, COMP_DELTA_DIR)
    )
    fs.write_text(spark, fs.join(root, "generation"), str(gen))
    return n


def components_compact(spark, root: str) -> int:
    """Fold the delta into the base via the staged rewrite-and-swap
    kernel (detectable-crash contract shared with the index folds: a
    leftover ``.rewriting``/``.old`` dir refuses the run; a crash after
    the swap but before the delta delete re-runs idempotently — the
    re-fold anti-joins ids already carrying their final labels, so the
    view is unchanged). Returns the number of delta rows folded. The
    generation marker is NOT reset: versions stay monotonic across
    compactions."""
    fs = _fs_mod()
    delta = _components_delta(spark, root)
    if delta is None:
        return 0
    n = delta.count()
    base_path = fs.join(root, COMP_BASE_DIR)
    for leftover in (base_path + ".rewriting", base_path + ".old"):
        if fs.is_dir(spark, leftover):
            raise RuntimeError(
                f"interrupted component compaction at {leftover}: keep "
                f"whichever complete directory holds the table as "
                f"'{COMP_BASE_DIR}', delete the other, then re-run "
                "components_compact"
            )
    view = components_read(spark, root).select(
        "id", "component", F.lit(0).cast("long").alias("v")
    )
    _swap_rewrite(spark, base_path, view, None)
    fs.delete(spark, fs.join(root, COMP_DELTA_DIR))
    return n
