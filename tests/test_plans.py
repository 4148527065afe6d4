"""Plan-shape regression tests: lock in the physical-plan properties the
100 TB design depends on (SCALING.md). If a refactor reintroduces a
cartesian product or loses parquet pushdown, these fail before any bench
regression is noticed."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from conftest import SF_ORACLE
from pyspark.sql import functions as F

from data_engineering_task_adtech_data_pipeline_spark.plans import REGISTRY


def _plan(spark, name: str) -> str:
    df = REGISTRY[name].spark(spark, SF_ORACLE)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filters_push_to_parquet(spark):
    plan = _plan(spark, "q22_revenue_filter")
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, pushed


def test_column_pruning(spark):
    plan = _plan(spark, "q01_pricing_summary")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_orderkey" not in read  # unused columns pruned from the scan
    assert "l_quantity" in read


def test_dim_joins_broadcast_no_smj(spark):
    # q128 carries the dim-chain plan assert since q24's retirement (r13):
    # same broadcast-dim contract, two chains instead of one
    for q in ("q02_campaign_totals", "q128_nation_trade_volume"):
        plan = _plan(spark, q)
        assert "BroadcastHashJoin" in plan, q
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_range_join_is_equi_join(spark):
    plan = _plan(spark, "q30_range_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bucketed_join_skips_shuffle(spark, tmp_path):
    """SCALING.md's bucketing claim, asserted on the physical plan: a join
    of two tables bucketed on the key with equal bucket counts contains NO
    Exchange — the shuffle was paid once at write time."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F

    from data_engineering_task_adtech_data_pipeline_spark.catalog import (
        drop_table,
        write_bucketed,
    )

    left = spark.range(10_000).select(
        F.col("id").alias("rtm_campaign_id"), (F.col("id") % 97).alias("n")
    )
    right = spark.range(1_000).select(
        F.col("id").alias("rtm_campaign_id"), F.lit("x").alias("name")
    )
    write_bucketed(left, "bk_totals", "rtm_campaign_id", 8,
                   path=str(tmp_path / "bk_totals"))
    write_bucketed(right, "bk_campaigns", "rtm_campaign_id", 8,
                   path=str(tmp_path / "bk_campaigns"))
    try:
        joined = (
            spark.table("bk_totals")
            .hint("merge")
            .join(spark.table("bk_campaigns"), "rtm_campaign_id")
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 1_000
    finally:
        drop_table(spark, "bk_totals")
        drop_table(spark, "bk_campaigns")


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The benchmark gram set must reach the corpus side as a broadcast —
    a shuffle here would move every corpus gram row twice."""
    plan = _plan(spark, "q53_decontaminate")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_lsh_cell_join_carries_no_embeddings(spark):
    """The hybrid ANN's cell join must move only (id, cell, sig) — wide
    embedding arrays join back BY ID after the hamming prune."""
    plan = _plan(spark, "q55_ivf_lsh_topk")
    assert "CartesianProduct" not in plan
    # the cell equi-join output columns: embeddings (__c_emb/__q_emb) may
    # appear only in the later id-joins, never alongside the sig columns.
    # Keyed on the query sketch column the shared hybrid plan joins on;
    # the match count guards against a rename making the loop vacuous.
    matched = 0
    for ln in plan.splitlines():
        if "__q_sig" in ln and "Join" in ln:
            matched += 1
            assert "__c_emb" not in ln, ln
    assert matched >= 1, plan


def test_bigram_novelty_score_join_is_equi(spark):
    """The model join must be an equi-join on the bigram — Catalyst picks
    broadcast at testdata scale (model fits) and flips to a shuffled
    hash/merge join when the model outgrows the threshold; what must never
    appear is a nested-loop or cartesian."""
    plan = _plan(spark, "q57_bigram_novelty")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_winnow_fingerprints_computes_words_once(spark):
    """Regression lock on the CollapseProject recompute trap: the
    normalize/split word-array tree must appear exactly once in the plan
    (2 regexp_replace = one normalize_text chain). A Filter or extra
    word-array reference between the binding projection and the posexplode
    lets the optimizer inline the tree into the per-gram lambda, where it
    re-evaluates per gram (the operators/dedup.py:_grams pathology —
    measured 3x in round 4 before this shape was fixed)."""
    from data_engineering_task_adtech_data_pipeline_spark.operators.text import (
        winnow_fingerprints,
    )
    from data_engineering_task_adtech_data_pipeline_spark.sources.readers import (
        Testdata,
    )

    docs = Testdata(spark, SF_ORACLE).documents
    plan = (
        winnow_fingerprints(docs, k=5, window=4, hash_method="md5")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("regexp_replace") == 2, plan.count("regexp_replace")


def test_merge_upsert_read_prunes_to_touched_buckets(spark, tmp_path):
    """merge_upsert's copy-on-write bound rests on the target read being
    PARTITION-pruned to the source's buckets — if the isin filter fell
    through to a data filter the merge would scan the whole table every
    delta. Asserts the bucket predicate lands in PartitionFilters and the
    scan reads only that bucket's rows."""
    from data_engineering_task_adtech_data_pipeline_spark.operators.upsert import (
        BUCKET_COL,
        merge_upsert,
    )

    path = str(tmp_path / "t")
    base = spark.range(1000).select(
        F.col("id").alias("k"),
        F.lit("x").alias("v"),
        F.lit(1).cast("long").alias("ver"),
    )
    merge_upsert(base, path, keys=["k"], version="ver", num_buckets=16)
    src = spark.createDataFrame(
        [(7, "y", 2)], "k long, v string, ver long"
    ).withColumn(
        BUCKET_COL, F.pmod(F.xxhash64("k"), F.lit(16)).cast("int")
    )
    buckets = [r[0] for r in src.select(BUCKET_COL).distinct().collect()]
    rel = spark.read.parquet(path).where(F.col(BUCKET_COL).isin(buckets))
    plan = rel._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*merge_bucket[^\]]*\]", plan)
    assert m, plan[:2000]
    assert rel.count() < 1000 / 4  # one bucket of 16, not a full scan


def test_duplicate_spans_plan_shape(spark):
    """duplicate_spans' 100 TB claims, locked: no cartesian/nested-loop
    anywhere (gram join is a hash join), and the two window steps
    (prev-end lookback + island running sum) share ONE sort+exchange on
    the doc id rather than shuffling twice."""
    import io
    import re
    from contextlib import redirect_stdout

    from data_engineering_task_adtech_data_pipeline_spark.operators.dedup import (
        duplicate_spans,
    )
    from data_engineering_task_adtech_data_pipeline_spark.sources.readers import (
        Testdata,
    )

    docs = Testdata(spark, SF_ORACLE).documents
    df = duplicate_spans(docs, k=13, min_docs=2)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # numbered physical nodes, e.g. "(23) Sort" — two Window nodes, one Sort
    nodes = re.findall(r"\(\d+\) (\w+)", plan)
    assert nodes.count("Window") == 2
    assert nodes.count("Sort") == 1


def test_mixture_sample_broadcasts_rates(spark):
    """The per-group rate frame must reach the corpus as a broadcast (the
    corpus never shuffles for its own sampling) and the scan must stay
    column-pruned despite the rates subquery reading the same table."""
    plan = _plan(spark, "q66_mixture_sample")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bm25_query_terms_broadcast(spark):
    """BM25's query-term join must broadcast the (tiny) query side so the
    corpus tf rows prune to matching terms without a shuffle join; no
    nested-loop anywhere despite the two single-row stat joins."""
    plan = _plan(spark, "q71_bm25_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_semantic_dedup_no_cartesian_and_id_only_pairs(spark):
    """SemDeDup's within-cell pairing must stay an aggregation over id
    arrays (no cartesian/nested-loop pair join), with embeddings joined
    back by id for the cosine verify only."""
    plan = _plan(spark, "q68_semantic_dedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_against_no_cartesian(spark):
    """Cross-corpus candidates must come from the (band_idx, band_hash)
    equi-join — never an all-pairs batch x corpus product."""
    plan = _plan(spark, "q70_dedup_against_corpus")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_adc_scan_carries_codes_not_embeddings(spark):
    """The IVF-PQ ADC join must broadcast the (tiny) probed query side and
    never fall back to a cartesian/nested-loop; the corpus side of the
    ADC join carries codes, with embeddings appearing only behind the
    id-keyed re-rank join (q78 runs the no-rerank ADC arm)."""
    plan = _plan(spark, "q78_ivf_pq_topk")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_budget_select_has_no_single_partition_exchange(spark):
    """budget_select's reason to exist: the cumulative sum must never
    funnel the corpus through a single-partition exchange (the naive
    global ORDER BY window would show 'Exchange SinglePartition' over the
    row data)."""
    plan = _plan(spark, "q77_budget_select")
    assert "SinglePartition" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_datacard_and_bpe_single_scan_shapes(spark):
    """q74's census reads documents ONCE (no self-joins), and q79's pair
    counting never re-joins the corpus — both plans are scan → aggregate
    chains with no join of two corpus scans."""
    for q in ("q74_corpus_datacard", "q79_bpe_pair_counts"):
        plan = _plan(spark, q)
        assert "CartesianProduct" not in plan, q
        assert "SortMergeJoin" not in plan, q


def test_validate_is_single_scan_single_agg(spark):
    """All five data-quality rules must share ONE scan and ONE aggregate
    (no per-rule scans, no joins): exactly one parquet scan node in the
    plan."""
    plan = _plan(spark, "q83_validate")
    # one scan node = one "Location: InMemoryFileIndex" detail block
    assert plan.count("InMemoryFileIndex") == 1, plan.count("InMemoryFileIndex")
    assert "Join" not in plan


def test_crossmodal_capstone_no_cartesian(spark):
    """The composed curation pipeline (exact dedup + quality + SemDeDup
    join) must stay free of cartesian/nested-loop joins end to end."""
    plan = _plan(spark, "q85_crossmodal_curation")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_line_dedup_regroup_shuffles_positions_not_text(spark):
    """q87's second pass must aggregate kept line POSITIONS (ints), never
    line text: the plan's collect_list runs over __pos, and the rebuilt
    text comes from the original column via element_at — no shuffle row
    carries a line string."""
    plan = _plan(spark, "q87_line_dedup")
    assert "collect_list(__pos" in plan, plan[:2000]
    assert "collect_list(__line" not in plan


def test_unigram_nll_broadcasts_vocabulary(spark):
    """q89's scoring join builds on the dictionary-sized word-frequency
    table: it must broadcast (no sort-merge join of the corpus explode
    against itself)."""
    plan = _plan(spark, "q89_unigram_nll")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_scd2_windows_are_key_partitioned(spark):
    """q92's two window passes both partition by the dimension key —
    a global (empty-partition-spec) window would single-task the corpus."""
    plan = _plan(spark, "q92_scd2_history")
    assert "Window" in plan
    # Spark renders a global window as 'Window [...], []' (no partition
    # spec); both of ours must carry the o_custkey partitioning
    for ln in plan.splitlines():
        if ln.strip().startswith("Arguments:") and "windowspecdefinition" in ln:
            assert "o_custkey" in ln, ln


def test_weighted_sample_is_top_k_not_global_sort(spark):
    """q93's global top-k must run as TakeOrderedAndProject (per-partition
    heaps), never a full Sort + single-partition Exchange."""
    plan = _plan(spark, "q93_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_ivf_pq_serve_scan_carries_codes_not_embeddings(spark):
    """q86's ADC candidate scan reads (id, cell, codes) — m small ints —
    from the persisted index; the stored embedding column is only joined
    back BY ID for the rerank shortlist."""
    plan = _plan(spark, "q86_ivf_pq_serve")
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    idx_reads = [ln for ln in reads if "codes" in ln]
    assert idx_reads, reads
    for ln in idx_reads:
        assert "embedding" not in ln, ln


def test_q95_threshold_join_no_cartesian(spark):
    """q95's per-part aggregate joins back as equi-joins — no cartesian
    and no nested-loop join anywhere in the decorrelated plan."""
    plan = _plan(spark, "q95_small_quantity_revenue")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q96_cohort_join_is_keys_only(spark):
    """q96's cohort join moves only (custkey, month) rows: the scan reads
    exactly the two columns it needs."""
    plan = _plan(spark, "q96_retention_cohorts")
    reads = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    for ln in reads:
        assert "o_totalprice" not in ln and "o_orderstatus" not in ln, ln


def test_q97_funnel_stage_joins_are_equi(spark):
    """q97's stage chaining joins on user_id (hash joins); the only
    nested-loop joins are the final single-row count combinations."""
    plan = _plan(spark, "q97_event_funnel")
    assert "CartesianProduct" not in plan
    # stage joins must be hash joins; the ONLY nested-loop joins are the
    # two final combinations of single-row count frames
    assert "BroadcastHashJoin" in plan
    assert plan.count("BroadcastNestedLoopJoin Inner") <= 2


def _exec_plan(spark, name: str) -> str:
    df = REGISTRY[name].spark(spark, SF_ORACLE)
    return df._jdf.queryExecution().executedPlan().toString()


def _single_partition_exchanges_feed_from_aggregates(plan: str) -> None:
    """Guard for the deliberate global-window sites (r6 VERDICT #1): a
    single-partition exchange is only acceptable when its producer is an
    aggregate (distinct-value / partition-total sized input — bounded at
    any corpus size). A refactor that feeds corpus ROWS into a global
    window would put a Sort/Project/Scan there instead and fail here."""
    lines = plan.splitlines()
    found = 0
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        found += 1
        child_window = "\n".join(lines[i + 1 : i + 3])
        assert "HashAggregate" in child_window, (
            "Exchange SinglePartition not fed by an aggregate:\n"
            + "\n".join(lines[i : i + 4])
        )
    assert found > 0, "expected at least one (bounded) global exchange"


def test_quantile_threshold_global_window_is_distinct_score_sized(spark):
    """sampling.quantile_threshold's cum-sum window runs over DISTINCT
    scores only: every single-partition exchange in q62's plan must be
    fed by a groupBy(score) aggregate, never by corpus rows."""
    _single_partition_exchanges_feed_from_aggregates(
        _exec_plan(spark, "q62_quantile_filter")
    )


def test_zipf_global_window_is_distinct_freq_sized(spark):
    """text.zipf_fit ranks over distinct frequencies (then top_n+ties
    candidates): its global exchanges must be aggregate-fed too."""
    _single_partition_exchanges_feed_from_aggregates(
        _exec_plan(spark, "q81_zipf_fit")
    )


def test_prefix_sum_windows_stay_pid_partitioned(spark):
    """The shared distributed_prefix_sum kernel must never funnel corpus
    rows through a single-partition exchange: its windows are partitioned
    by spark_partition_id and the offsets come from a broadcast join of
    per-partition totals. q43 (packing) has NO global exchange at all;
    q82 (curriculum) carries exactly one 1-row global count() — which
    must stay aggregate-fed."""
    assert "Exchange SinglePartition" not in _exec_plan(
        spark, "q43_sequence_packing"
    )
    _single_partition_exchanges_feed_from_aggregates(
        _exec_plan(spark, "q82_curriculum_stages")
    )


def test_r7_new_queries_plan_shapes(spark):
    """Plan guards for the round-7 battery family: no cartesian products
    anywhere; the decorrelated TPC-H shapes keep their dims broadcast;
    phrase/variant/split stay window-free map+agg plans."""
    shapes = {
        "q101_waiting_suppliers": dict(bhj_min=1),
        "q103_hybrid_rrf": dict(),
        "q107_triangle_count": dict(bhj_min=1),
        "q108_phrase_search": dict(bhj_min=1, window_max=0),
        "q111_cheapest_supplier": dict(bhj_min=1),
        "q114_variant_extract": dict(window_max=0),
        "q116_temporal_split": dict(window_max=0),
    }
    for name, want in shapes.items():
        plan = _exec_plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name  # no row-UDFs anywhere
        if "bhj_min" in want:
            assert plan.count("BroadcastHashJoin") >= want["bhj_min"], name
        if want.get("window_max") == 0:
            assert "Window" not in plan, name


def test_q111_part_filter_below_cost_aggregate(spark):
    """r7 VERDICT #7: the small-part filter must sit UNDER q111's widest
    shuffle — the (l_partkey, l_suppkey) cost aggregate — as a broadcast
    LeftSemi join against lineitem, so the exchange only carries
    small-part rows. In the printed plan tree, children render below
    their parent: the LeftSemi join must appear after the
    (l_partkey, l_suppkey) hash exchange."""
    import re

    plan = _exec_plan(spark, "q111_cheapest_supplier")
    assert "LeftSemi" in plan
    m = re.search(
        r"Exchange hashpartitioning\(l_partkey#\d+L?, l_suppkey#\d+L?", plan
    )
    assert m is not None, plan[:2000]
    assert plan.index("LeftSemi") > m.start(), (
        "part semi-join is not under the cost-aggregate exchange"
    )


def test_quantile_threshold_safe_for_continuous_scores(spark):
    """r7 VERDICT #4: with an UN-ROUNDED double score (distinct ≈ corpus),
    quantile_threshold must not funnel the distinct-score frame through a
    single-partition window — the cum-sum now runs on the shared
    distributed_prefix_sum kernel (pid-partitioned windows + broadcast
    offsets), so every window spec is partitioned by __pid and every
    single-partition exchange is aggregate-fed (1-row totals only)."""
    import re

    from data_engineering_task_adtech_data_pipeline_spark.operators.sampling import (
        quantile_threshold,
    )

    df = spark.range(0, 10_000).select(
        F.col("id"), (F.rand(seed=7) + F.col("id") * 1e-9).alias("score")
    )
    out = quantile_threshold(df, "score", 0.25, tail="top")
    plan = out._jdf.queryExecution().executedPlan().toString()
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "__pid" in spec, f"non-pid-partitioned window: {spec}"
    _single_partition_exchanges_feed_from_aggregates(plan)
    # semantics survive the kernel swap: exact k-th order statistic
    assert out.count() == 2500


def test_r8_new_queries_plan_shapes(spark):
    """Round-8 battery family guards: no cartesian, no row-UDFs; the
    sketch/linkage/skew entries keep their joins hash- or broadcast-based;
    q119/q120 never recompute the heavy aggregate per row."""
    for name in (
        "q119_large_volume_orders", "q120_dominant_suppliers",
        "q121_kmv_overlap", "q122_stratified_split",
        "q123_record_linkage", "q124_hot_key_join",
        "q125_entity_clusters", "q126_top_supplier",
        "q127_trailing_revenue", "q128_nation_trade_volume",
        "q129_visual_near_dups", "q130_audio_fingerprint_dups",
    ):
        plan = _exec_plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name
    # the hot arm of the split join is a broadcast join by construction
    assert "BroadcastHashJoin" in _exec_plan(spark, "q124_hot_key_join")
    # q127's global RANGE window is day-grain: its single-partition
    # exchange must feed from the daily aggregate, never raw orders
    _single_partition_exchanges_feed_from_aggregates(
        _exec_plan(spark, "q127_trailing_revenue")
    )


def test_stratified_exact_split_no_global_window(spark):
    """The per-stratum cumulative window must partition by the stratum
    (bounded: <= n_bins pre-aggregated rows per partition) — never run
    as a global single-partition window over raw rows."""
    from data_engineering_task_adtech_data_pipeline_spark.operators import (
        sampling,
    )
    from data_engineering_task_adtech_data_pipeline_spark.sources.readers import (
        Testdata,
    )

    docs = Testdata(spark, SF_ORACLE).documents
    out = sampling.stratified_exact_split(
        docs, 0.3, "source", ["doc_id"], method="md5"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan[:2000]


def test_stratified_exact_split_edge_only_window(spark):
    """Review r8: the rank window must consume ONLY the boundary-bin rows
    (a Filter sits below the Window's sort), never the full frame — the
    full-frame variant shuffles and sorts the entire corpus."""
    from data_engineering_task_adtech_data_pipeline_spark.operators import (
        sampling,
    )
    from data_engineering_task_adtech_data_pipeline_spark.sources.readers import (
        Testdata,
    )

    docs = Testdata(spark, SF_ORACLE).documents
    out = sampling.stratified_exact_split(
        docs, 0.3, "source", ["doc_id"], method="md5"
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    # the edge-rank window is the one ordering by the row hash (__h);
    # phase-1 cumulative windows order by __bin over HashAggregate
    # output (bounded by n_bins) and are the acceptable class
    rank_wins = [
        i
        for i, ln in enumerate(lines)
        if "Window" in ln and "row_number" in ln and "__h" in ln
    ]
    assert rank_wins, plan[:1500]
    for i in rank_wins:
        below = "\n".join(lines[i:])
        # a Filter on the boundary-bin equality must sit under the rank
        # window (children render after the parent in the tree dump) —
        # i.e. only edge rows are shuffled and sorted
        assert "(__bin" in below and "__bbin" in below, below[:1500]
    # and the phase-1 windows feed from aggregates, not raw rows
    for i, ln in enumerate(lines):
        if "Window" in ln and "__cum" in ln:
            below = "\n".join(lines[i:])
            assert "HashAggregate" in below[:2000], below[:1500]


def test_sq8_shortlist_shuffle_is_codes_only(spark):
    """q132's physical plan must keep the 100 TB serving shape: the
    int8 shortlist window shuffles CODES-derived rows only (no
    full-precision `embedding` / `__c_emb` column rides the exchange
    into the shortlist rank), the query side is broadcast, and the
    exact re-rank joins are broadcast joins (shortlist-sized sets) —
    never a sort-merge join over the corpus."""
    plan = _plan(spark, "q132_sq8_topk")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the shortlist exchange (hashpartitioning on query_id for the
    # srank window) must not carry an embedding array column
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange hashpartitioning" in ln and "query_id" in ln:
            assert "emb" not in ln, ln


def test_ivf_sq8_keeps_codes_only_exchange_and_broadcasts(spark):
    """q133 (the IVF,SQ8 composition) must keep BOTH scale contracts:
    the probed-cell equi-join is a broadcast join of the (tiny) probed
    query frame against the cell-coded corpus — never a shuffle join —
    and the shortlist exchange carries codes-derived rows only (no
    full-precision embedding array rides into the srank window), same
    as flat sq8 (q132). Cells prune WHICH rows are scanned; codes
    shrink WHAT the scan reads — this test pins that neither lever
    collapses in the physical plan."""
    plan = _plan(spark, "q133_ivf_sq8_topk")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan  # probed-cell join + re-rank joins
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange hashpartitioning" in ln and "query_id" in ln:
            assert "emb" not in ln, ln


def test_ivf_sq8_serve_prunes_partitions_and_keeps_codes_exchange(spark):
    """q134 (persisted IVF,SQ8 serving) must keep the stored-index scale
    contracts: the probed-cell join dynamically prunes the index's cell
    partitions (only n_probe of n_cells partitions are scanned), the
    shortlist exchange carries codes-derived rows only (the stored
    embedding column never rides into the srank window — parquet column
    pruning keeps the codes scan 8x narrower), and no shuffle join or
    cartesian appears anywhere."""
    plan = _plan(spark, "q134_ivf_sq8_serve")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln and "query_id" in ln:
            assert "emb" not in ln, ln
