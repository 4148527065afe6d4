"""Pipeline orchestration — the reference's two DAGs as Spark jobs.

- ``initial_load`` = DAG `initial_load` (``dags/initial_load_generate_postgres_data.py:570-658``):
  bronze → silver (full extract) → gold reports.
- ``track_deltas`` = DAG `track_deltas` (``dags/track_delta.py:617-664``):
  watermark extraction → change detection (each extract LEFT ANTI its silver
  state, ``operators.delta.changed_rows``, which is also the reference's
  ``VALUES`` re-extract) → versioned append (upsert) → gold rebuild.

Gold has one path, ``rebuild_reports``: the reference's DROP + CREATE +
INSERT…SELECT of both reports (``dags/track_delta.py:429-606``), run
after ``initial_load`` and after every cycle that changed a silver table.
Both reports are computed from the deduped silver views, not bronze,
and written flat with ``mode("overwrite")``.

All the reference's process boundaries (fetchall → XCom → INSERT,
``initial_load_generate_postgres_data.py:232-343``) collapse into lazy
DataFrame lineage; the only materializations are the silver/gold writes.
Every bronze and silver read uses the table's declared schema
(``TABLE_SCHEMA``, from ``schemas.py``): no read infers one, and a bronze
write whose columns differ from it is refused before anything is written.

Overlap: a cycle's independent actions run concurrently (``_concurrently``):
the bronze table writes, the three silver writes of ``initial_load``, the
three per-table chains of ``track_deltas`` (extract → ``changed_rows`` →
count → append) and the two gold reports. The lake is small per action,
so each action is mostly driver and scheduling overhead, and overlapping
them keeps the cores busy. This is safe because no two concurrent actions
write the same path (each has its own committer staging directory under
its own table), every silver append holds its own table's write fence
(``upsert._write_fence``), and the chains share no data: each table's
change detection reads only bronze and its own silver table. Every action
runs under the caller's job group, description and session tags.

Scale notes: silver tables are append-only parquet. ``initial_load``
partitions the two daily tables by their date column (``TABLE_PARTITION``),
so delta appends touch only recent partitions and compaction is per-day;
the campaign-grain totals stay unpartitioned (dimension-sized).
"""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from .. import fs
from .. import schemas as S
from ..operators.delta import changed_rows
from ..operators.upsert import latest_version, upsert_append
from .reports import daily_ctr_report, totals_report
from .silver import advertiser_campaigns, events_daily

TOTALS_KEYS = ["rtm_advertiser_id", "rtm_campaign_id"]
# ORDER BY keys of the three ReplacingMergeTree tables (DDL
# initial_load_generate_postgres_data.py:97-120) -- per-table date columns
TABLE_KEYS = {
    "advertiser_campaigns": TOTALS_KEYS,
    "advertiser_campaigns_impressions": [*TOTALS_KEYS, "campaign_impressions_date"],
    "advertiser_campaigns_clicks": [*TOTALS_KEYS, "campaign_clicks_date"],
}
TABLE_TIEBREAK = {
    "advertiser_campaigns": [],
    "advertiser_campaigns_impressions": ["campaign_impressions_count_daily"],
    "advertiser_campaigns_clicks": ["campaign_clicks_count_daily"],
}
TABLE_PARTITION = {
    "advertiser_campaigns": [],
    "advertiser_campaigns_impressions": ["campaign_impressions_date"],
    "advertiser_campaigns_clicks": ["campaign_clicks_date"],
}
DAILY_KEYS = TABLE_KEYS["advertiser_campaigns_impressions"]  # impressions twin
# declared schema of every bronze and silver table; a partitioned read puts
# the partition column last whatever its place here, as an inferred read does
TABLE_SCHEMA = {
    "advertiser": S.ADVERTISER,
    "campaign": S.CAMPAIGN,
    "impressions": S.IMPRESSIONS,
    "clicks": S.CLICKS,
    "advertiser_campaigns": S.ADVERTISER_CAMPAIGNS,
    "advertiser_campaigns_impressions": S.advertiser_campaigns_daily("impressions"),
    "advertiser_campaigns_clicks": S.advertiser_campaigns_daily("clicks"),
}


@dataclass
class Paths:
    root: str

    def bronze(self, table: str) -> str:
        return fs.join(self.root, "bronze", table)

    def silver(self, table: str) -> str:
        return fs.join(self.root, "silver", table)

    def gold(self, table: str) -> str:
        return fs.join(self.root, "gold", table)


class Pipeline:
    def __init__(self, spark: SparkSession, root: str, as_of: str | None = None):
        self.spark = spark
        self.paths = Paths(root)
        self.as_of = as_of

    def _concurrently(self, actions: list[Callable[[], object]]) -> list:
        """Run independent zero-argument actions at once, one thread each,
        and return their results in order. Each thread inherits the
        caller's job group, job description and session tags. Every action
        runs to its end; the first failure in list order is then raised."""
        with ThreadPoolExecutor(max_workers=max(1, len(actions))) as pool:
            # one wrapper per action: each clones the caller's local
            # properties, and its thread owns that copy, so a job group
            # set inside one action does not reach its siblings
            futures = [
                pool.submit(inheritable_thread_target(self.spark)(action))
                for action in actions
            ]
        return [f.result() for f in futures]

    # -- bronze -----------------------------------------------------------
    def _write_bronze(self, tables: dict[str, DataFrame], mode: str) -> None:
        # refuse, before writing any table, a frame whose column names or
        # types (nullability aside) differ from its declared schema: the
        # pinned read would turn a missing column into NULLs without a word
        for name, df in tables.items():
            got = [(f.name, f.dataType) for f in df.schema]
            want = [(f.name, f.dataType) for f in TABLE_SCHEMA[name]]
            if got != want:
                raise ValueError(
                    f"{name}: columns {got} differ from the declared schema {want}"
                )
        self._concurrently([
            partial(df.write.mode(mode).parquet, self.paths.bronze(name))
            for name, df in tables.items()
        ])

    def write_bronze(self, tables: dict[str, DataFrame]) -> None:
        self._write_bronze(tables, "overwrite")

    def append_bronze(self, tables: dict[str, DataFrame]) -> None:
        self._write_bronze(tables, "append")

    def _read(self, path: str, name: str) -> DataFrame:
        return self.spark.read.schema(TABLE_SCHEMA[name]).parquet(path)

    def bronze(self, name: str) -> DataFrame:
        return self._read(self.paths.bronze(name), name)

    # -- silver extract (shared by both DAG paths) ------------------------
    def _extracts(self) -> dict[str, DataFrame]:
        adv, camp = self.bronze("advertiser"), self.bronze("campaign")
        imp, clk = self.bronze("impressions"), self.bronze("clicks")
        return {
            "advertiser_campaigns": advertiser_campaigns(adv, camp, imp, clk),
            "advertiser_campaigns_impressions": events_daily(imp, camp, "impressions"),
            "advertiser_campaigns_clicks": events_daily(clk, camp, "clicks"),
        }

    def silver(self, name: str) -> DataFrame:
        """Read-time dedup view = ReplacingMergeTree read semantics."""
        raw = self._read(self.paths.silver(name), name)
        return latest_version(
            raw,
            keys=TABLE_KEYS[name],
            version="rtm_delta",
            tiebreak=TABLE_TIEBREAK[name],
        )

    # -- entry point 1: initial load --------------------------------------
    def initial_load(self) -> None:
        writes = []
        for name, df in self._extracts().items():
            writer = df.write.mode("overwrite")
            if TABLE_PARTITION[name]:
                # daily tables partition by their date column so delta
                # appends and compaction touch only recent partitions
                writer = writer.partitionBy(*TABLE_PARTITION[name])
            writes.append(partial(writer.parquet, self.paths.silver(name)))
        self._concurrently(writes)
        self.rebuild_reports()

    # -- entry point 2: incremental delta ---------------------------------
    def track_deltas(self) -> dict[str, int]:
        """Returns per-table changed-row counts (0s on a no-op cycle).

        First run against an empty lake falls back to ``initial_load`` —
        the reference's empty-table branch guard (BranchPythonOperator at
        ``dags/initial_load_generate_postgres_data.py:41-55``).

        Once any table changed, both gold reports are rebuilt in full
        (``rebuild_reports``); a no-op cycle leaves gold as it is.

        The three tables' chains run concurrently. If one fails, the others
        still run to their end, so their rows may land; the first failure in
        table order is then raised and no report is rebuilt. A re-run
        converges: a table whose append landed has no changed rows left, and
        the failed table's rows are detected again.
        """
        if not fs.is_dir(self.spark, self.paths.silver("advertiser_campaigns")):
            self.initial_load()
            # the silver tables were just written from one extract each
            return {
                name: self._read(self.paths.silver(name), name).count()
                for name in TABLE_KEYS
            }

        def detect_and_append(name: str, extract: DataFrame) -> int:
            olap_state = self._read(self.paths.silver(name), name)
            # persist: the count probe and the append below otherwise each
            # recompute the full extract + anti-join lineage (two jobs per
            # table per cycle over the extract)
            upserts = changed_rows(extract, olap_state, keys=TABLE_KEYS[name]).persist()
            try:
                n = upserts.count()
                if n:
                    upsert_append(
                        upserts,
                        self.paths.silver(name),
                        partition_by=TABLE_PARTITION[name],
                    )
                return n
            finally:
                upserts.unpersist()

        extracts = self._extracts()
        counts = dict(zip(extracts, self._concurrently([
            partial(detect_and_append, name, extract)
            for name, extract in extracts.items()
        ])))
        if any(counts.values()):
            self.rebuild_reports()
        return counts

    # -- gold --------------------------------------------------------------
    def _write_gold(self, name: str, report: DataFrame) -> None:
        report.write.mode("overwrite").parquet(self.paths.gold(name))

    def rebuild_reports(self) -> None:
        """Full rebuild of both reports (``dags/track_delta.py:438, 548``),
        from the silver views; the two writes overlap."""
        ac = self.silver("advertiser_campaigns")
        imp_d = self.silver("advertiser_campaigns_impressions")
        clk_d = self.silver("advertiser_campaigns_clicks")
        self._concurrently([
            partial(self._write_gold, "advertiser_campaigns_totals_report",
                    totals_report(ac, as_of=self.as_of)),
            partial(self._write_gold, "advertiser_campaigns_daily_ctr_report",
                    daily_ctr_report(ac, imp_d, clk_d)),
        ])

    def gold(self, name: str) -> DataFrame:
        """Public gold reader: the report as the last rebuild wrote it."""
        return self.spark.read.parquet(self.paths.gold(name))
