"""End-to-end pipeline tests (SURVEY.md §5.3): initial load, delta no-op,
incremental batch, and the fundamental invariant delta ≡ full recompute."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_engineering_task_adtech_data_pipeline_spark.operators.upsert import (
    latest_version,
)
from data_engineering_task_adtech_data_pipeline_spark.plans.pipeline import (
    TABLE_KEYS,
    TABLE_SCHEMA,
    TABLE_TIEBREAK,
    Pipeline,
)
from data_engineering_task_adtech_data_pipeline_spark.sources.generators import (
    GenConfig,
    gen_all,
)

# as_of == generator BASE_DATE so campaigns with end_date == start_date hit
# the reference's exact-equality 'ended' branch (end == today -> 'ended',
# initial_load_generate_postgres_data.py:455-459)
AS_OF = "2024-01-01"


@pytest.fixture(scope="module")
def pipe(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("lake"))
    p = Pipeline(spark, root, as_of=AS_OF)
    p.write_bronze(gen_all(spark, GenConfig(advertisers=4,
                                            campaigns_per_advertiser=3,
                                            impressions_per_campaign=200)))
    p.initial_load()
    return p


def test_initial_load_shapes(pipe):
    ac = pipe.silver("advertiser_campaigns")
    assert ac.count() == 12  # 4 advertisers x 3 campaigns
    assert len(ac.columns) == 17
    # zero-impression campaigns exist and are zero-filled, not NULL
    zero = ac.where(F.col("campaign_impressions_count_total") == 0)
    assert zero.count() > 0
    assert zero.where(F.col("campaign_clicks_count_total").isNull()).count() == 0


def test_totals_report_classifiers(pipe):
    rep = pipe.gold("advertiser_campaigns_totals_report")
    assert len(rep.columns) == 24  # exact reference DDL shape (:395-423)
    statuses = {r.campaign_budget_status for r in rep.collect()}
    assert "unused" in statuses  # zero-click campaigns
    periods = {r.campaign_period_status for r in rep.collect()}
    assert {"ended", "ongoing"} <= periods
    assert "exceeded" in periods  # past-end campaign edge from the generator
    # zero-impression campaigns -> NULL ctr via try_divide (DEVIATIONS.md #9)
    zero = rep.where(F.col("campaign_impressions_count_total") == 0)
    assert zero.count() > 0
    assert zero.where(F.col("campaign_ctr").isNotNull()).count() == 0


def test_daily_ctr_zero_fill_and_ordinal(pipe):
    rep = pipe.gold("advertiser_campaigns_daily_ctr_report")
    # ClickHouse zero-fill semantics: no NULL click counts or CTRs
    assert rep.where(F.col("campaign_clicks_count_daily").isNull()).count() == 0
    assert rep.where(F.col("campaign_ctr_daily").isNull()).count() == 0
    # some impression-days genuinely lack clicks (edge from the generator)
    assert rep.where(F.col("campaign_clicks_count_daily") == 0).count() > 0
    # campaign_day is a dense per-campaign ordinal over days-with-impressions
    first_days = (
        rep.groupBy("rtm_advertiser_id", "rtm_campaign_id")
        .agg(F.min("campaign_day").alias("d0"), F.max("campaign_day").alias("dn"),
             F.count(F.lit(1)).alias("n"))
    )
    assert first_days.where(
        (F.col("d0") != 1) | (F.col("dn") != F.col("n"))
    ).count() == 0


def test_delta_second_run_noop(pipe):
    counts = pipe.track_deltas()
    assert all(v == 0 for v in counts.values()), counts


def _full_recompute(spark, pipe, root):
    """A second lake over a copy of ``pipe``'s bronze, loaded in full."""
    full = Pipeline(spark, root, as_of=AS_OF)
    for t in ("advertiser", "campaign", "impressions", "clicks"):
        pipe.bronze(t).write.mode("overwrite").parquet(full.paths.bronze(t))
    full.initial_load()
    return full


def _assert_same_rows(got, want, what):
    """``got`` and ``want`` hold the same rows, as multisets."""
    assert got.count() == want.count(), what
    assert got.exceptAll(want).count() == 0, what
    assert want.exceptAll(got).count() == 0, what


def _assert_same_view(pipe, full, table):
    _assert_same_rows(pipe.silver(table), full.silver(table), table)


def test_delta_picks_up_new_batch_and_matches_full_recompute(pipe, spark, tmp_path):
    # append a generator tick (the reference's generate_new_data DAG shape)
    batch = gen_all(
        spark,
        GenConfig(advertisers=2, campaigns_per_advertiser=2,
                  impressions_per_campaign=100, ctr=0.12, seed=7, id_offset=100),
    )
    pipe.append_bronze(batch)
    counts = pipe.track_deltas()
    assert counts["advertiser_campaigns"] > 0
    assert counts["advertiser_campaigns_impressions"] > 0

    # invariant: incremental state == full recompute from bronze
    full = _full_recompute(spark, pipe, str(tmp_path / "full"))
    for table in TABLE_KEYS:
        _assert_same_view(pipe, full, table)
    # gold after the cycle == a rebuild over the same state
    for report in ("advertiser_campaigns_totals_report",
                   "advertiser_campaigns_daily_ctr_report"):
        _assert_same_rows(pipe.gold(report), full.gold(report), report)

    # third run: no-op again
    assert all(v == 0 for v in pipe.track_deltas().values())


def test_track_deltas_releases_upserts_when_append_fails(
    spark, tmp_path, monkeypatch
):
    """The persisted changed-rows frame is released on every exit path:
    a failing silver append must not leave it in the cache manager."""
    from data_engineering_task_adtech_data_pipeline_spark.plans import (
        pipeline as pipeline_mod,
    )

    def failing_append(df, path, partition_by=None):
        raise RuntimeError("silver append failed")

    p = Pipeline(spark, str(tmp_path / "lake"), as_of=AS_OF)
    p.write_bronze(gen_all(spark, GenConfig(advertisers=2,
                                            campaigns_per_advertiser=2,
                                            impressions_per_campaign=40)))
    p.initial_load()
    p.append_bronze(gen_all(
        spark,
        GenConfig(advertisers=1, campaigns_per_advertiser=1,
                  impressions_per_campaign=30, seed=5, id_offset=60),
    ))
    monkeypatch.setattr(pipeline_mod, "upsert_append", failing_append)
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="silver append failed"):
        p.track_deltas()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_track_deltas_partial_failure_then_replay_converges(
    spark, tmp_path, monkeypatch
):
    """The per-table chains run concurrently, so one table's failed append
    does not stop the others: their rows land, the failure is raised, and
    nothing stays cached. A re-run lands the missing rows and the lake
    then equals a full recompute."""
    from data_engineering_task_adtech_data_pipeline_spark.plans import (
        pipeline as pipeline_mod,
    )

    failing = "advertiser_campaigns_impressions"
    real_append = pipeline_mod.upsert_append

    def append_failing_for_one_table(df, path, partition_by=None):
        if path.rstrip("/").endswith("/" + failing):
            raise RuntimeError(f"{failing} append failed")
        return real_append(df, path, partition_by=partition_by)

    p = Pipeline(spark, str(tmp_path / "lake"), as_of=AS_OF)
    p.write_bronze(gen_all(spark, GenConfig(advertisers=2,
                                            campaigns_per_advertiser=2,
                                            impressions_per_campaign=60)))
    p.initial_load()
    p.append_bronze(gen_all(
        spark,
        GenConfig(advertisers=1, campaigns_per_advertiser=2,
                  impressions_per_campaign=80, ctr=0.12, seed=7, id_offset=50),
    ))
    full = _full_recompute(spark, p, str(tmp_path / "full"))
    raw_before = p._read(p.paths.silver(failing), failing).count()

    monkeypatch.setattr(pipeline_mod, "upsert_append", append_failing_for_one_table)
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match=f"{failing} append failed"):
        p.track_deltas()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    for table in ("advertiser_campaigns", "advertiser_campaigns_clicks"):
        _assert_same_view(p, full, table)
    assert p._read(p.paths.silver(failing), failing).count() == raw_before

    monkeypatch.setattr(pipeline_mod, "upsert_append", real_append)
    counts = p.track_deltas()
    assert counts["advertiser_campaigns"] == 0
    assert counts["advertiser_campaigns_clicks"] == 0
    assert counts[failing] > 0
    for table in TABLE_KEYS:
        _assert_same_view(p, full, table)


def test_cycle_jobs_keep_the_callers_job_group(spark, tmp_path):
    """Every job of a bronze append plus a delta cycle runs in the job
    group the caller set, also the jobs started from the cycle's worker
    threads: ``cancelJobGroup`` and per-group job accounting rely on it."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def marker_job(group):
        sc.setJobGroup(group, group)
        sc.parallelize([0], 1).count()
        return max(tracker.getJobIdsForGroup(group))

    def clear_job_group():
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    p = Pipeline(spark, str(tmp_path / "lake"), as_of=AS_OF)
    p.write_bronze(gen_all(spark, GenConfig(advertisers=2,
                                            campaigns_per_advertiser=2,
                                            impressions_per_campaign=40)))
    p.initial_load()
    batch = gen_all(
        spark,
        GenConfig(advertisers=1, campaigns_per_advertiser=2,
                  impressions_per_campaign=30, seed=5, id_offset=60),
    )
    try:
        first = marker_job("cycle-window-start")
        sc.setJobGroup("cycle", "append_bronze + track_deltas")
        p.append_bronze(batch)
        assert any(p.track_deltas().values())
        last = marker_job("cycle-window-end")
    finally:
        clear_job_group()
    window = set(range(first + 1, last))
    assert window
    assert window <= set(tracker.getJobIdsForGroup("cycle"))
    assert not window & set(tracker.getJobIdsForGroup(None))


def test_pipeline_on_uri_scheme_root(spark, tmp_path):
    """The whole lake must work through a URI-scheme root (file://...) —
    the shape of every non-local deployment. Regression for the round-4
    finding class: Pipeline's first-run probes used os.path.isdir, which
    is always False for a URI, so track_deltas would re-run initial_load
    every cycle against an existing lake. One full cycle: initial load,
    no-op delta (all zero counts), incremental delta lands new rows."""
    root = "file://" + str(tmp_path / "lake")
    p = Pipeline(spark, root, as_of=AS_OF)
    cfg = GenConfig(advertisers=3, campaigns_per_advertiser=2,
                    impressions_per_campaign=40, seed=11)
    p.write_bronze(gen_all(spark, cfg))
    p.initial_load()
    assert p.silver("advertiser_campaigns").count() == 6

    # a second cycle with unchanged bronze must be a NO-OP delta, which
    # only happens if the first-run probe SEES the existing URI lake
    counts = p.track_deltas()
    assert set(counts.values()) == {0}, counts

    # grow bronze -> delta must land the new campaigns through the URI root
    cfg2 = GenConfig(advertisers=4, campaigns_per_advertiser=2,
                     impressions_per_campaign=40, seed=11)
    p.write_bronze(gen_all(spark, cfg2))
    counts = p.track_deltas()
    assert counts["advertiser_campaigns"] > 0
    # generator naming shifts with config, so the new lake is a superset
    # in size, not an exact superset of keys — the URI-path property under
    # test is that the delta cycle LANDS rows through the scheme at all
    assert p.silver("advertiser_campaigns").count() >= 8


def _names_types(schema):
    return [(f.name, f.dataType) for f in schema]


def test_extract_and_pinned_silver_schemas_match_declared(pipe, spark):
    """Each extract produces exactly its declared schema (nullability
    aside), and a silver read pinned to that schema returns the same
    columns, in the same order, and the same rows as an inferred read."""
    for name, extract in pipe._extracts().items():
        assert _names_types(extract.schema) == _names_types(TABLE_SCHEMA[name]), name
        pinned = pipe.silver(name)
        inferred = latest_version(
            spark.read.parquet(pipe.paths.silver(name)),
            keys=TABLE_KEYS[name],
            version="rtm_delta",
            tiebreak=TABLE_TIEBREAK[name],
        )
        assert pinned.columns == inferred.columns, name
        assert _names_types(pinned.schema) == _names_types(inferred.schema), name
        assert pinned.exceptAll(inferred).count() == 0, name
        assert inferred.exceptAll(pinned).count() == 0, name


def test_append_bronze_refuses_frame_missing_a_column(pipe):
    """A frame whose columns differ from the declared bronze schema is
    refused before anything is written: a pinned read would otherwise
    read the missing column as NULL."""
    import os

    path = pipe.paths.bronze("impressions")
    files_before = sorted(os.listdir(path))
    rows_before = pipe.bronze("impressions").count()
    short = pipe.bronze("impressions").limit(5).drop("created_at")
    with pytest.raises(ValueError, match="impressions"):
        pipe.append_bronze({"impressions": short})
    assert sorted(os.listdir(path)) == files_before
    assert pipe.bronze("impressions").count() == rows_before


def _relation_roots(df):
    """Root path of every file relation the frame's analyzed plan reads,
    once per occurrence (no cache or exchange reuse applies at that
    stage)."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    roots = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRelation":
            paths = leaf.relation().location().rootPaths()
            roots += [paths.apply(j).toString() for j in range(paths.size())]
    return roots


def test_track_deltas_reads_each_bronze_input_once(spark, tmp_path, monkeypatch):
    """The changed-rows frame handed to the silver append evaluates its
    extract once: each bronze input the extract reads is scanned once per
    table, not once for change detection and again for the re-extract."""
    from data_engineering_task_adtech_data_pipeline_spark.plans import (
        pipeline as pipeline_mod,
    )

    handed = {}

    def capturing_append(df, path, partition_by=None):
        handed[path.rstrip("/").rsplit("/", 1)[-1]] = _relation_roots(df)

    p = Pipeline(spark, str(tmp_path / "lake"), as_of=AS_OF)
    p.write_bronze(gen_all(spark, GenConfig(advertisers=2,
                                            campaigns_per_advertiser=2,
                                            impressions_per_campaign=40)))
    p.initial_load()
    p.append_bronze(gen_all(
        spark,
        GenConfig(advertisers=1, campaigns_per_advertiser=2,
                  impressions_per_campaign=30, seed=5, id_offset=60),
    ))
    monkeypatch.setattr(pipeline_mod, "upsert_append", capturing_append)
    monkeypatch.setattr(Pipeline, "rebuild_reports", lambda self: None)
    p.track_deltas()

    inputs = {
        "advertiser_campaigns": ["advertiser", "campaign", "impressions", "clicks"],
        "advertiser_campaigns_impressions": ["impressions", "campaign"],
        "advertiser_campaigns_clicks": ["clicks", "campaign"],
    }
    assert set(handed) == set(inputs)
    for table, bronze in inputs.items():
        scans = [r.rstrip("/").rsplit("/", 1)[-1] for r in handed[table]
                 if "/bronze/" in r]
        assert sorted(scans) == sorted(bronze), (table, scans)
