"""Mergeable distributed sketches — approximate distinct counting that
composes under partial aggregation (the property exact COUNT(DISTINCT)
lacks at 100 TB).

HyperLogLog (Flajolet et al. 2007) as a pure DataFrame program:

- :func:`hll_registers`   — value rows → (group, bucket, max rho) register
                            rows. The registers ARE the sketch: tiny
                            (m = 2^p rows per group), and mergeable by
                            ``groupBy(group, bucket).agg(max(rho))`` — so
                            partial sketches built per partition / per day /
                            per source combine without touching raw data.
- :func:`hll_merge`       — union register frames → one register frame.
- :func:`hll_estimate`    — registers → per-group cardinality estimate.
- :func:`hll_distinct`    — convenience: values → estimates in one call.

Engine-portable by construction (the battery value-checks the FULL sketch,
not just row counts): with ``method="md5"`` the base hash is the repo's
60-bit md5 construction (``dedup.md5_long``), bucket = low p bits, and the
harmonic mean is computed in EXACT integer arithmetic — each register
contributes ``2^(width+1-rho)`` (a BIGINT; width is clamped so the m-term
sum stays < 2^63), which sidesteps float-summation order-dependence
entirely. The only floating math is one final division
and (in the small-range branch) one ``ln``, both bit-stable across
engines; estimates are rounded to 6 dp the way the kmeans centroids are.

Scale shape (100 TB): one partial-aggregating shuffle on (group, bucket)
— map-side combine collapses each partition to at most m rows per group
before anything moves — then a per-group rollup of m rows. No windows, no
driver state. This is the sketch the reference's COUNT(DISTINCT) stats
queries (`scripts/main.py:139-170`) would need at a scale where exact
distinct no longer fits a shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .chunking import checkpoint
from .dedup import md5_long

# md5 base hash is 60 bits (15 hex digits); xxhash64 is 64.
_MD5_BITS = 60
_XX_BITS = 64


def _alpha(m: int) -> float:
    """HLL bias-correction constant (Flajolet et al. 2007, fig. 3)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


def _width(p: int, method: str) -> int:
    """Effective suffix width. xxhash64's 64-p bits are clamped to 61-p so
    every register term 2^(width+1-rho) and the absent-register term
    2^(width+1) keep the m-term harmonic sum < 2^63 (BIGINT-exact);
    discarding the top 3 hash bits costs nothing (rho saturates at
    width+1, an event of probability 2^-width ~ 0)."""
    return min(_MD5_BITS if method == "md5" else _XX_BITS, 61) - p


def hll_registers(
    df: DataFrame,
    value_col: str | Column,
    group_cols: Sequence[str] = (),
    p: int = 10,
    method: str = "xxhash64",
    bucket_col: str = "bucket",
    rho_col: str = "rho",
) -> DataFrame:
    """Collapse value rows to HLL registers: per (group, bucket) the max
    rank-of-first-one-bit (rho) over hashed values.

    bucket = low ``p`` bits of the hash; rho = leading zeros of the
    remaining ``width`` bits + 1 (so rho in [1, width+1]; an all-zero
    suffix maps to width+1). ``bit_length`` is ``length(bin(w))`` — a
    built-in both Spark and DuckDB share, keeping the sketch oracle-able.
    """
    if not 1 <= p <= 16:
        raise ValueError("p must be in [1, 16]")
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    if method == "md5":
        h = md5_long(v.cast("string"))
    elif method == "xxhash64":
        h = F.xxhash64(v)
    else:
        raise ValueError(f"unknown hash method: {method!r}")
    m = 1 << p
    width = _width(p, method)
    bucket = F.pmod(h, F.lit(m))
    # suffix bits above the bucket; shiftrightunsigned keeps xxhash64's
    # sign bit as data (md5 hashes are non-negative already); mask to the
    # clamped width so the estimator's integer arithmetic cannot overflow
    w = F.shiftrightunsigned(h, p).bitwiseAND(F.lit((1 << width) - 1))
    rho = F.when(w == 0, F.lit(width + 1)).otherwise(
        F.lit(width) + 1 - F.length(F.bin(w))
    )
    groups = [F.col(g) for g in group_cols]
    return (
        df.select(*groups, bucket.alias(bucket_col), rho.alias(rho_col))
        .groupBy(*group_cols, bucket_col)
        .agg(F.max(rho_col).alias(rho_col))
    )


def hll_merge(
    registers: Sequence[DataFrame],
    group_cols: Sequence[str] = (),
    bucket_col: str = "bucket",
    rho_col: str = "rho",
) -> DataFrame:
    """Merge sketches: union register frames, keep the max rho per
    (group, bucket). HLL's lossless merge — sketch(A ∪ B) ==
    merge(sketch(A), sketch(B)) exactly, which is what lets partial
    sketches roll up across days/partitions/clusters."""
    it = iter(registers)
    out = next(it)
    for r in it:
        out = out.unionByName(r)
    return out.groupBy(*group_cols, bucket_col).agg(
        F.max(rho_col).alias(rho_col)
    )


def hll_estimate(
    registers: DataFrame,
    group_cols: Sequence[str] = (),
    p: int = 10,
    method: str = "xxhash64",
    bucket_col: str = "bucket",
    rho_col: str = "rho",
    out_col: str = "est_distinct",
) -> DataFrame:
    """Registers → per-group cardinality estimate (rounded to 6 dp).

    Exact-integer harmonic mean: each register contributes
    ``2^(width+1-rho)`` and each absent register ``2^(width+1)`` to a
    BIGINT sum S, so raw = alpha * m^2 * 2^(width+1) / S with ONE float
    division — no order-dependent float summation. Small-range correction
    (raw <= 2.5m with empty registers) switches to linear counting
    ``m * ln(m / zeros)``."""
    m = 1 << p
    width = _width(p, method)
    top = width + 1  # max rho; 2^top scaling keeps every term integral
    # zeros * 2^top <= m * 2^top = 2^(p + top) = 2^62 < 2^63: BIGINT-safe
    assert top + p <= 62, "width clamp invariant"
    term = F.expr(f"CAST(pow(2, {top} - {rho_col}) AS BIGINT)")
    agg = registers.groupBy(*group_cols).agg(
        F.sum(term).alias("__s"), F.count(F.lit(1)).alias("__present")
    )
    zeros = F.lit(m) - F.col("__present")
    denom = F.col("__s") + zeros * F.lit(1 << top)
    raw = F.lit(_alpha(m) * m * m * float(1 << top)) / denom.cast("double")
    est = F.when(
        (raw <= 2.5 * m) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *group_cols, F.round(est, 6).alias(out_col)
    )


def hll_distinct(
    df: DataFrame,
    value_col: str | Column,
    group_cols: Sequence[str] = (),
    p: int = 10,
    method: str = "xxhash64",
    out_col: str = "est_distinct",
) -> DataFrame:
    """Values → per-group approximate distinct count in one call
    (typical error ~1.04/sqrt(2^p): p=10 → ~3.3%)."""
    regs = hll_registers(df, value_col, group_cols, p, method)
    return hll_estimate(
        regs, group_cols, p, method, out_col=out_col
    )


# --- Count-Min sketch ------------------------------------------------------
#
# Cormode & Muthukrishnan 2005: d rows of w counters; item x increments
# counter (j, h_j(x) % w) for each row j; the point estimate is the MIN over
# the d counters, which never underestimates and overestimates by at most
# eps*N (eps = e/w) with probability 1 - delta (delta = e^-d). Like the HLL
# above it is mergeable (counters ADD), portable (md5 base hash + the repo's
# Carter-Wegman affine family — the SAME (a_j, b_j) constants the minhash
# battery oracle replays), and integer-exact end to end.


def _cm_col(h, j: int, w: int, method: str):
    """Counter column for row j: affine-expanded hash folded into [0, w)."""
    from .dedup import MERSENNE_31, minhash_affine_constants

    a, b = minhash_affine_constants(j + 1)[j]
    return F.pmod((F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_31), F.lit(w))


def _cm_base_hash(value_col: str | Column, method: str):
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    if method == "md5":
        return F.pmod(md5_long(v.cast("string")), F.lit(2_147_483_647))
    if method == "xxhash64":
        return F.pmod(F.xxhash64(v), F.lit(2_147_483_647))
    raise ValueError(f"unknown hash method: {method!r}")


def cm_sketch(
    df: DataFrame,
    value_col: str | Column,
    group_cols: Sequence[str] = (),
    d: int = 4,
    w: int = 2048,
    method: str = "xxhash64",
) -> DataFrame:
    """Occurrence rows → Count-Min counters: one row per (group, j, col)
    with the occurrence count. d*w counters per group (tiny), built with
    ONE partial-aggregating shuffle — the posexplode multiplies rows by d
    BEFORE the map-side combine collapses each partition to <= d*w rows
    per group, so the shuffle moves sketch-sized data only."""
    if d < 1 or w < 2:
        raise ValueError("need d >= 1 rows and w >= 2 counters")
    h = _cm_base_hash(value_col, method)
    cols = F.array(*[_cm_col(h, j, w, method) for j in range(d)])
    groups = [F.col(g) for g in group_cols]
    return (
        df.select(*groups, F.posexplode(cols).alias("j", "col"))
        .groupBy(*group_cols, "j", "col")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cm_merge(
    sketches: Sequence[DataFrame], group_cols: Sequence[str] = ()
) -> DataFrame:
    """Merge Count-Min sketches: counters add (sketch(A ⊎ B) ==
    merge(sketch(A), sketch(B)) exactly — multiset union, so partial
    sketches roll up across partitions/days without re-reading raw data)."""
    it = iter(sketches)
    out = next(it)
    for s in it:
        out = out.unionByName(s)
    return out.groupBy(*group_cols, "j", "col").agg(
        F.sum("cnt").alias("cnt")
    )


def cm_estimate(
    sketch: DataFrame,
    queries: DataFrame,
    value_col: str | Column,
    group_cols: Sequence[str] = (),
    d: int = 4,
    w: int = 2048,
    method: str = "xxhash64",
    out_col: str = "est_cnt",
) -> DataFrame:
    """Point-estimate the frequency of each query row's value: min over the
    d counters it maps to (missing counter = 0). Join shape: queries gain
    (j, col) via posexplode, equi-join the sketch on (group, j, col) —
    sketch side is d*w rows per group, so Spark broadcasts it; never a
    driver collect."""
    h = _cm_base_hash(value_col, method)
    cols = F.array(*[_cm_col(h, j, w, method) for j in range(d)])
    keys = [*group_cols, "j", "col"]
    exploded = queries.select("*", F.posexplode(cols).alias("j", "col"))
    qcols = list(queries.columns)
    joined = exploded.join(sketch, keys, "left").fillna(0, subset=["cnt"])
    return (
        joined.groupBy(*qcols)
        .agg(F.min("cnt").alias(out_col))
    )


# ---------------------------------------------------------------------------
# Equi-width histogram sketch (round 7): the QUANTILE member of the
# mergeable-sketch family (HLL = distinct, Count-Min = frequency,
# histogram = distribution). Deterministic by construction — integer bin
# counts — so unlike t-digest/KLL it is exactly mergeable AND
# oracle-checkable; the price is a fixed value range and equi-width
# resolution (hi-lo)/n_bins, the classic monitoring trade.
# ---------------------------------------------------------------------------


def hist_sketch(
    df: DataFrame,
    value_col: str | Column,
    group_cols: Sequence[str] = (),
    lo: float = 0.0,
    hi: float = 1.0,
    n_bins: int = 128,
) -> DataFrame:
    """Equi-width histogram sketch of ``value_col`` over ``[lo, hi)``:
    one (group, bin, cnt) row per non-empty bin; values outside the range
    clamp into the edge bins (visible as edge-bin mass, the standard
    monitoring convention). Counters add, so partial sketches roll up
    across partitions/streams exactly (``hist_merge``). One map + one
    hash aggregation; state is <= n_bins rows per group at any corpus
    size."""
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    bin_ = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0),
            F.floor((v - lo) / ((hi - lo) / n_bins)).cast("int"),
        ),
    )
    # NULL values are dropped, not binned: greatest() SKIPS nulls, so
    # without the filter floor(NULL) would silently land every null in
    # bin 0 as fake lo-edge mass (review r7)
    return (
        df.where(v.isNotNull())
        .select(*group_cols, bin_.alias("bin"))
        .groupBy(*group_cols, "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_merge(
    sketches: Sequence[DataFrame],
    group_cols: "Sequence[str] | None" = None,
) -> DataFrame:
    """Merge histogram sketches: counters add (exact multiset-union
    semantics, same contract as ``cm_merge``). ``group_cols=None``
    (default) INFERS the group columns from the sketch schema (everything
    except bin/cnt) — a caller merging grouped sketches cannot silently
    collapse the groups by forgetting the argument (review r7); pass an
    explicit list (or ``()``) to override."""
    it = iter(sketches)
    out = next(it)
    if group_cols is None:
        group_cols = [c for c in out.columns if c not in ("bin", "cnt")]
    for s in it:
        out = out.unionByName(s)
    return out.groupBy(*group_cols, "bin").agg(F.sum("cnt").alias("cnt"))


def hist_quantile(
    sketch: DataFrame,
    qs: Sequence[float],
    group_cols: Sequence[str] = (),
    lo: float = 0.0,
    hi: float = 1.0,
    n_bins: int = 128,
) -> DataFrame:
    """Estimate quantiles from a histogram sketch by linear interpolation
    inside the containing bin: for each q, find the first bin whose
    cumulative count reaches ``q * total`` and place the estimate at
    ``lo + (bin + frac) * width`` with ``frac = (q*total - cum_below) /
    bin_cnt``. Exact-integer cumulative counts + a fixed double
    expression + a 6-dp round make the estimate engine-exact (the battery
    contract); error is bounded by one bin width.

    Plan shape: a per-group window over <= n_bins pre-aggregated rows
    (never raw values) + a broadcast explode of the quantile list.

    ``qs`` must lie in (0, 1]: the hit predicate ``cum_below < q*total``
    can never fire for q<=0, so a 0th-percentile request would silently
    VANISH from the output instead of returning the range's low edge
    (ADVICE r7) — rejected loudly here; q=0 is ``lo`` by definition and
    needs no sketch."""
    bad = [q for q in qs if not 0.0 < float(q) <= 1.0]
    if bad:
        raise ValueError(
            f"quantiles must be in (0, 1], got {bad}; q=0 is the range "
            "low edge by definition"
        )
    w = (hi - lo) / n_bins
    win = (
        Window.partitionBy(*group_cols).orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = sketch.withColumn("cum", F.sum("cnt").over(win))
    tot = cum.groupBy(*group_cols).agg(F.max("cum").alias("total"))
    qdf = (cum.join(tot, list(group_cols)) if group_cols
           else cum.crossJoin(F.broadcast(tot)))
    qlist = F.array(*[F.lit(float(q)) for q in qs])
    qx = qdf.select(
        *group_cols, "bin", "cnt", "cum", "total",
        F.explode(qlist).alias("q"),
    )
    target = F.col("q") * F.col("total")
    hit = qx.where(
        (F.col("cum") >= target) & ((F.col("cum") - F.col("cnt")) < target)
    )
    est = F.round(
        lo
        + (
            F.col("bin")
            + (target - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
        )
        * w,
        6,
    )
    return hit.select(
        *group_cols, "q", est.alias("quantile_est")
    )


# ---------------------------------------------------------------------------
# KMV / theta sketch: approximate DISTINCT with SET OPERATIONS (round 8).
# HLL answers |A| per group; the theta-sketch family (Dasgupta et al. 2016,
# "Theta sketch framework"; Bar-Yossef et al. 2002 for KMV) additionally
# answers |A ∩ B| / |A ∪ B| BETWEEN groups from the same tiny sketches —
# the audience-overlap question ("users who clicked AND purchased") that
# exact COUNT(DISTINCT) needs a full re-shuffle per pair to answer.
#
# Engine-portable by construction, like HLL above: the base hash is the
# repo's 60-bit md5 family, a sketch is the k SMALLEST DISTINCT hash
# values per group — a pure function of the value set, no randomness, no
# float accumulation — and every estimate is one exact integer ratio
# scaled by 2^60 (one double division, rounded to 6 dp). The oracle
# replays the whole construction with row_number() in SQL.
# ---------------------------------------------------------------------------

_THETA_FULL = 1 << 60  # exclusive upper bound of the md5-60 hash space
# |xxhash64| bound: BIGINT can't hold 2^63, so the exact-regime sentinel
# is 2^63 - 1 — it excludes only the single maximal hash value (an event
# of probability 2^-63), and float(2^63 - 1) == float(2^63) EXACTLY in
# double, so every estimate's scale is unaffected.
_THETA_FULL_XX = (1 << 63) - 1


def _theta_full(method: str) -> int:
    """Exclusive upper bound of the hash space for ``method`` — the theta
    scale every estimate divides by. The md5 family is 60-bit; the
    xxhash64 family folds to [0, 2^63). Estimates computed at the wrong
    scale are silently ~8x off (review r8), so every estimate-side
    function takes ``method`` and derives the constant here."""
    if method == "md5":
        return _THETA_FULL
    if method == "xxhash64":
        return _THETA_FULL_XX
    raise ValueError(f"unknown hash method: {method!r}")


def _rank_trim(
    df: DataFrame, group_cols: Sequence[str], k: int
) -> DataFrame:
    """(group, h) rows → the k smallest DISTINCT hashes per group with a
    1-based ``rank`` — the shared trim kernel of ``kmv_sketch`` (final
    stage), ``kmv_merge`` and ``streaming.read_kmv_sketch``, so the
    batch and streaming paths cannot diverge."""
    gcols = list(group_cols)
    u = df.select(*gcols, "h").distinct()
    w = Window.partitionBy(*gcols).orderBy("h")
    return (
        u.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*gcols, "h", "rank")
    )


def kmv_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    k: int = 64,
    method: str = "md5",
    salt_buckets: int = 32,
) -> DataFrame:
    """Values → KMV sketch rows ``(*group_cols, h, rank)``: the ``k``
    smallest distinct 60-bit hashes per group, rank 1-based in hash order.

    Scale shape (100 TB): distinct-ify (group, h) — one partial-agg
    shuffle, map-side combine collapses repeats before anything moves —
    then TWO bounded windows: rank within ``(group, h % salt_buckets)``
    keeps k per salt bucket (each bucket holds ~distinct/salt_buckets
    rows), then rank within group over the ≤ k·salt_buckets survivors.
    No group ever funnels its full distinct set through one partition —
    the same discipline as ``quantile_threshold``. Groups with fewer
    than k distinct values keep them all (the sketch is EXACT there;
    ``kmv_estimate``/``kmv_intersect_pairs`` detect that via rank k's
    absence).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    from .dedup import md5_long

    gcols = list(group_cols)
    v = F.col(value_col).cast("string")
    # Mask, not abs: in non-ANSI Spark abs(Long.MIN_VALUE) stays
    # negative, so a 2^-64-probability hash would sort FIRST and steal a
    # sketch slot; & (2^63-1) maps MIN_VALUE to 0, branch-free (r8 advice).
    h = (md5_long(v) if method == "md5"
         else F.xxhash64(v).bitwiseAND(F.lit((1 << 63) - 1))).alias("h")
    # NULL values are NOT members of the distinct-value set (COUNT
    # DISTINCT semantics); an unfiltered NULL hash would sort FIRST
    # (ASC NULLS FIRST), steal a sketch slot, and diverge from the
    # NULLS-LAST oracle (review r8).
    distinct = df.where(v.isNotNull()).select(*gcols, h).distinct()
    w1 = Window.partitionBy(
        *gcols, F.pmod(F.col("h"), F.lit(salt_buckets))
    ).orderBy("h")
    cand = (
        distinct.withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= k)
    )
    return _rank_trim(cand, gcols, k)


def kmv_merge(
    a: DataFrame, b: DataFrame, group_cols: Sequence[str] = (), k: int = 64
) -> DataFrame:
    """Union two sketch frames into the sketch of the UNIONED data: the k
    smallest of the combined (deduplicated) hash sets per group. Lossless
    by the KMV invariant — every hash smaller than either input's k-th
    minimum survives in one of the inputs — so
    ``kmv_merge(kmv_sketch(A), kmv_sketch(B)) == kmv_sketch(A ∪ B)``
    exactly (property-tested). Distributive and idempotent: partial
    sketches per partition / day / source combine in any order."""
    gcols = list(group_cols)
    return _rank_trim(
        a.select(*gcols, "h").unionByName(b.select(*gcols, "h")), gcols, k
    )


def _kmv_stats(
    sk: DataFrame, group_cols: Sequence[str], k: int, method: str = "md5"
) -> DataFrame:
    """Sketch rows → per-group ``(n, theta)``: n = retained hashes, theta
    = the k-th smallest hash when the sketch is full, else the method's
    full hash-space bound (the sketch holds the ENTIRE distinct set —
    exact regime)."""
    gcols = list(group_cols)
    return sk.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.max(F.when(F.col("rank") == k, F.col("h"))),
            F.lit(_theta_full(method)),
        ).alias("theta"),
    )


def kmv_estimate(
    sk: DataFrame,
    group_cols: Sequence[str] = (),
    k: int = 64,
    method: str = "md5",
) -> DataFrame:
    """Sketch rows → ``(*group_cols, est_distinct)``. Full sketch: the
    classic unbiased KMV estimator (k-1) / theta-fraction — computed as
    the exact integer (k-1)·2^space divided by the BIGINT k-th minimum
    (ONE double division, rounded 6 dp — bit-stable across engines).
    Partial sketch (n < k): the sketch IS the value set — exact count.
    ``method`` must match the one the sketch was built with (it sets the
    hash-space scale; a mismatch is ~8x off)."""
    st = _kmv_stats(sk, group_cols, k, method)
    # exact: (k-1) × a power of two
    scaled = F.lit(float((k - 1) * _theta_full(method)))
    est = F.when(F.col("n") < k, F.col("n").cast("double")).otherwise(
        F.round(scaled / F.col("theta").cast("double"), 6)
    )
    return st.select(*group_cols, est.alias("est_distinct"))


def kmv_intersect_pairs(
    sk: DataFrame, group_col: str, k: int = 64, method: str = "md5"
) -> DataFrame:
    """All group pairs (a < b) → theta-sketch set-operation estimates:

    ``n_common``   exact count of shared retained hashes below the pair
                   theta (an integer — the sufficient statistic),
    ``est_inter``  |A ∩ B| estimate = n_common · space / theta,
    ``est_union``  |A ∪ B| estimate = n_up · space / theta over the
                   deduplicated retained hashes below theta,
    ``jaccard_est`` n_common / n_up (NULL when the union is empty).

    ``method`` must match the sketch's hash method — it sets the
    hash-space scale ``space`` (2^60 md5 / 2^63 xxhash64).

    theta = min(theta_a, theta_b) (Dasgupta et al.: after unioning, a
    theta sketch is valid at the smaller theta; hashes above it are
    discarded from BOTH sides before counting). When both groups are in
    the exact regime (n < k), theta = space and every estimate collapses
    to the exact integer count. The sketch join is sketch-sized (≤ k
    rows per group) — the raw data is never touched again, which is the
    entire point at 100 TB: one scan builds the sketches, every pairwise
    overlap after that is arithmetic.

    The sketch frame is materialized on entry (eager
    ``chunking.checkpoint`` — it is sketch-sized by contract): it is
    referenced six times below (stats a/b, common a/b, union a/b), and
    an unmaterialized ``sk``
    re-ran its whole build per reference — q121 measured 80 Exchanges
    from exactly that, against the documented 'one scan' contract. A
    lazy persist is not enough: the broadcast pair relations build
    concurrently at action start and race the unpopulated cache."""
    sk = checkpoint(sk.select(group_col, "h", "rank"))
    st = _kmv_stats(sk, [group_col], k, method)
    a, b = "__ga", "__gb"
    pairs = (
        st.select(
            F.col(group_col).alias(a),
            F.col("theta").alias("__ta"),
        )
        .join(
            st.select(
                F.col(group_col).alias(b),
                F.col("theta").alias("__tb"),
            ),
            F.col(a) < F.col(b),
        )
        .withColumn("theta", F.least("__ta", "__tb"))
    )
    ska = sk.select(F.col(group_col).alias(a), "h")
    skb = sk.select(F.col(group_col).alias(b), "h")
    common = (
        ska.join(skb, "h")
        .join(F.broadcast(pairs), [a, b])
        .where(F.col("h") < F.col("theta"))
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    up = (
        ska.join(F.broadcast(pairs.select(a, b, "theta")), [a])
        .where(F.col("h") < F.col("theta"))
        .select(a, b, "h")
        .unionByName(
            skb.join(
                F.broadcast(pairs.select(a, b, "theta")), [b]
            )
            .where(F.col("h") < F.col("theta"))
            .select(a, b, "h")
        )
        .groupBy(a, b)
        .agg(F.count_distinct(F.col("h")).alias("n_up"))
    )
    full = F.lit(float(_theta_full(method)))
    out = (
        pairs.join(up, [a, b], "left")
        .join(common, [a, b], "left")
        .select(
            F.col(a).alias("group_a"),
            F.col(b).alias("group_b"),
            F.coalesce("n_common", F.lit(0)).alias("n_common"),
            F.round(
                F.coalesce("n_common", F.lit(0)).cast("double")
                * full / F.col("theta").cast("double"),
                6,
            ).alias("est_inter"),
            F.round(
                F.coalesce("n_up", F.lit(0)).cast("double")
                * full / F.col("theta").cast("double"),
                6,
            ).alias("est_union"),
            F.when(
                F.coalesce("n_up", F.lit(0)) > 0,
                F.round(
                    F.coalesce("n_common", F.lit(0)).cast("double")
                    / F.col("n_up").cast("double"),
                    6,
                ),
            ).alias("jaccard_est"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Bloom filter: mergeable membership sketch + shuffle-reducing semi-join
# prefilter (the pattern Spark's runtime bloom-filter join applies inside
# Catalyst, exposed as an explicit, engine-portable operator).
# ---------------------------------------------------------------------------

# i * h2 must stay BIGINT-exact under ANSI mode: the step hash is masked to
# 40 bits (and forced odd, the classic Kirsch–Mitzenmacher guard against a
# degenerate zero step), so positions are exact for any sane num_hashes.
_BLOOM_STEP_MASK = (1 << 40) - 1


def _bloom_hashes(value: Column, method: str) -> tuple[Column, Column]:
    """(base, step) hash pair for double hashing. ``md5`` derives both from
    the engine-portable 60-bit construction (step re-hashes value||'#2'),
    so any SQL engine can replay every probed bit; ``xxhash64`` seeds the
    second hash with a constant column."""
    if method == "md5":
        h1 = md5_long(value)
        h2 = md5_long(F.concat(value, F.lit("#2")))
    elif method == "xxhash64":
        h1 = F.xxhash64(value)
        h2 = F.xxhash64(value, F.lit(2))
    else:
        raise ValueError(f"unknown hash method: {method!r}")
    step = F.pmod(h2, F.lit(_BLOOM_STEP_MASK + 1)).bitwiseOR(F.lit(1))
    return h1, step


def _bloom_positions(
    value: Column, num_bits: int, num_hashes: int, method: str
) -> list[Column]:
    """The ``num_hashes`` bit positions of ``value``: pmod(h1 + i*step, m)
    (Kirsch–Mitzenmacher double hashing — two base hashes give k
    independent-enough probes; Bloom error bounds survive, per their 2006
    result)."""
    h1, step = _bloom_hashes(value, method)
    base = F.pmod(h1, F.lit(num_bits))
    return [
        F.pmod(base + F.lit(i) * step, F.lit(num_bits))
        for i in range(num_hashes)
    ]


def bloom_sketch(
    df: DataFrame,
    value_col: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    method: str = "xxhash64",
) -> DataFrame:
    """Build a Bloom filter over ``df[value_col]`` as a SPARSE (word, bits)
    frame: word = bit position / 64, bits = OR of the member masks — at
    most ``num_bits/64`` rows regardless of input size, built by one
    partial-aggregating shuffle on word (map-side combine collapses each
    partition to <= num_bits/64 rows before anything moves).

    Mergeable by construction: union two sketches built with identical
    parameters and ``groupBy(word).agg(bit_or(bits))`` (:func:`bloom_merge`)
    — so per-day / per-source / per-partition filters compose without
    touching raw data, same as the HLL/CM/KMV family. No false negatives
    ever; false-positive rate ~= (1 - e^(-k*n/m))^k (property-tested).

    Size the filter at ~10 bits per distinct key for ~1% fp: a billion-key
    corpus filter is ~1.2 GB of (word, bits) rows — far past broadcast as
    an exact set, fine as a frame the probe side joins against, and still
    ~100x smaller than shuffling the keys themselves.
    """
    pos = _bloom_positions(F.col(value_col), num_bits, num_hashes, method)
    rows = df.select(
        F.explode(F.array(*pos)).alias("__pos")
    )
    return (
        rows.select(
            (F.col("__pos") / 64).cast("long").alias("word"),
            F.expr("shiftleft(1L, cast(__pos % 64 as int))").alias("__mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(__mask)").alias("bits"))
    )


def bloom_merge(*sketches: DataFrame) -> DataFrame:
    """OR together Bloom sketches built with IDENTICAL (num_bits,
    num_hashes, method) parameters."""
    if not sketches:
        raise ValueError("need at least one sketch")
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    return u.groupBy("word").agg(F.expr("bit_or(bits)").alias("bits"))


def bloom_filter_rows(
    df: DataFrame,
    bloom: DataFrame,
    value_col: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
    method: str = "xxhash64",
    keep: str = "maybe",
    broadcast_sketch: bool = True,
) -> DataFrame:
    """Filter ``df`` by Bloom membership of ``value_col`` — ``keep="maybe"``
    returns rows that MIGHT be members (supersets the true semi-join;
    false positives only), ``keep="miss"`` returns rows that are DEFINITELY
    not members (exact — a Bloom filter has no false negatives).

    Plan shape: ``num_hashes`` BROADCAST left joins against the (word,
    bits) frame — the probe side never shuffles, which is the whole point:
    prefilter the 100 TB side of a selective semi-join down to
    (true matches + fp) BEFORE the shuffle join that confirms them
    (``keep="maybe"`` composes with the exact join for exactness, e.g.
    a corpus-scale ``contamination_matches(broadcast_benchmark=False)``),
    or serve definite-absence decisions with no exact join at all
    (``keep="miss"``: e.g. "which incoming ids are certainly new").

    Parameters MUST match the build call — same contract as the banded
    minhash family (callers that persist a sketch should persist its
    params beside it, as ``minhash_index_write`` does).

    NULL values: ``xxhash64`` hashes NULL like any value (a NULL inserted
    is a NULL matched); under ``md5`` a NULL produces no positions, so
    NULL rows always land in ``keep="miss"`` — membership of NULL is not
    tracked by that arm.

    ``broadcast_sketch`` (default True, mirroring ``broadcast_benchmark``
    elsewhere): the forced-broadcast plan is right while the sketch fits
    the driver/broadcast limits (a 10M-key filter at 10 bits/key is
    ~1.5 MB of words). A corpus-scale filter sized per the
    :func:`bloom_sketch` docstring (billion keys → ~1.2 GB) would OOM a
    forced broadcast ``num_hashes`` times over — pass False to let the
    optimizer pick the join strategy (shuffle join on ``word``) instead.

    Materialize ``bloom`` before calling (``chunking.checkpoint`` for an
    in-plan sketch, freed by ``chunking.release_persisted()`` once the
    result is consumed, or read it from storage): this function references
    the sketch frame ``num_hashes`` times, and an unmaterialized sketch
    re-runs its whole build per reference (q139 measured 50 Exchanges
    from exactly that).
    """
    if keep not in ("maybe", "miss"):
        raise ValueError(f"unknown keep mode: {keep!r}")
    pos = _bloom_positions(F.col(value_col), num_bits, num_hashes, method)
    out = df
    hit = F.lit(True)
    tmp: list[str] = []
    for i, p in enumerate(pos):
        w = f"__bloom_w{i}"
        b = f"__bloom_b{i}"
        side = bloom.select(
            F.col("word").alias(w), F.col("bits").alias(b)
        )
        pc, mc = f"__bloom_p{i}", f"__bloom_m{i}"
        out = (
            out.withColumn(pc, p)
            .withColumn(w, (F.col(pc) / 64).cast("long"))
            .withColumn(mc, F.expr(f"shiftleft(1L, cast({pc} % 64 as int))"))
        )
        out = out.join(
            F.broadcast(side) if broadcast_sketch else side, w, "left"
        )
        hit = hit & (
            F.col(b).isNotNull()
            & (F.col(b).bitwiseAND(F.col(mc)) == F.col(mc))
        )
        tmp += [pc, w, mc, b]
    out = out.withColumn("__bloom_hit", hit)
    cond = F.col("__bloom_hit") if keep == "maybe" else ~F.col("__bloom_hit")
    return out.where(cond).drop("__bloom_hit", *tmp)
