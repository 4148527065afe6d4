"""Output checks, run untimed.

* ETL: each silver read view equals a full recompute from the final bronze,
  and both gold reports equal a rebuild over the same silver views
  (as multisets, so duplicates count).
* Queries: each result matches its DuckDB oracle under the repository's
  own comparison (``tools/oracle_check.py``: same columns, same row count,
  same multiset of canonical cells).
"""

from __future__ import annotations

import sys
from functools import reduce
from pathlib import Path

import duckdb
from pyspark.sql import functions as F

from data_engineering_task_adtech_data_pipeline_spark.plans import reports, silver
from data_engineering_task_adtech_data_pipeline_spark.schemas import TESTDATA_TABLES

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
from oracle_check import UnhashableCell, frame_multiset  # noqa: E402


def _mismatched(pairs: dict[str, tuple]) -> list[str]:
    """Names of the ``(got, expected)`` frame pairs that differ as
    multisets of rows, compared in one Spark job: each row is encoded as
    JSON and must occur as often on both sides."""
    sides = []
    for name, (got, expected) in pairs.items():
        row = F.to_json(F.struct(*expected.columns)).alias("_row")
        sides += [got.select(F.lit(name).alias("_check"), row, F.lit(1).alias("_side")),
                  expected.select(F.lit(name).alias("_check"), row,
                                  F.lit(-1).alias("_side"))]
    diff = (reduce(lambda a, b: a.unionByName(b), sides)
            .groupBy("_check", "_row").agg(F.sum("_side").alias("_d"))
            .where(F.col("_d") != 0))
    return sorted({r._check for r in diff.select("_check").distinct().collect()})


def etl_checks(p, as_of: str) -> dict[str, bool]:
    """Pass/fail per check for a :class:`Pipeline` ``p``."""
    adv, camp = p.bronze("advertiser"), p.bronze("campaign")
    imp, clk = p.bronze("impressions"), p.bronze("clicks")
    recompute = {
        "advertiser_campaigns": silver.advertiser_campaigns(adv, camp, imp, clk),
        "advertiser_campaigns_impressions": silver.events_daily(imp, camp, "impressions"),
        "advertiser_campaigns_clicks": silver.events_daily(clk, camp, "clicks"),
    }
    pairs = {f"silver {name} == recompute from bronze": (p.silver(name), expected)
             for name, expected in recompute.items()}
    ac = p.silver("advertiser_campaigns")
    pairs["gold daily ctr report == rebuild over silver"] = (
        p.gold("advertiser_campaigns_daily_ctr_report"),
        reports.daily_ctr_report(ac, p.silver("advertiser_campaigns_impressions"),
                                 p.silver("advertiser_campaigns_clicks")),
    )
    pairs["gold totals report == rebuild over silver"] = (
        p.gold("advertiser_campaigns_totals_report"),
        reports.totals_report(ac, as_of=as_of),
    )
    bad = set(_mismatched(pairs))
    return {name: name not in bad for name in pairs}


class QueryOracle:
    """DuckDB over the same parquet files the Spark queries read."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        for t in TESTDATA_TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def compare(self, sql: str, spark_pdf) -> str | None:
        """A description of the mismatch, or ``None`` when the result
        matches."""
        duck_pdf = self.con.execute(sql).df()
        if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
            return f"columns differ: {sorted(spark_pdf.columns)} vs {sorted(duck_pdf.columns)}"
        if len(spark_pdf) != len(duck_pdf):
            return f"rowcount {len(spark_pdf)} vs {len(duck_pdf)}"
        try:
            if frame_multiset(spark_pdf) != frame_multiset(duck_pdf):
                return "value mismatch against the DuckDB oracle"
        except UnhashableCell as exc:
            return f"unhashable cell: {exc}"
        return None

    def close(self) -> None:
        self.con.close()
