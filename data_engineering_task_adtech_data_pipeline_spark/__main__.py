"""CLI — the reference's ``scripts/main.py`` argparse surface
(``scripts/main.py:13-61``) re-expressed over the Spark pipeline:

    python -m data_engineering_task_adtech_data_pipeline_spark batch \
        --root /tmp/lake --advertisers 5 --campaigns 3 --impressions 1000
    python -m data_engineering_task_adtech_data_pipeline_spark initial-load --root /tmp/lake
    python -m data_engineering_task_adtech_data_pipeline_spark track-deltas --root /tmp/lake
    python -m data_engineering_task_adtech_data_pipeline_spark stats --root /tmp/lake
    python -m data_engineering_task_adtech_data_pipeline_spark reset --root /tmp/lake
"""

from __future__ import annotations

import argparse

from . import fs
from .plans.pipeline import Pipeline
from .plans.stats import campaign_stats, table_counts
from .session import get_spark
from .sources.generators import GenConfig, gen_all

BRONZE = ("advertiser", "campaign", "impressions", "clicks")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="adspark")
    p.add_argument("command", choices=["batch", "initial-load", "track-deltas", "stats", "reset"])
    p.add_argument("--root", required=True, help="lake root directory")
    p.add_argument("--advertisers", type=int, default=5)
    p.add_argument("--campaigns", type=int, default=3)
    p.add_argument("--impressions", type=int, default=1000)
    p.add_argument("--ctr", type=float, default=0.08)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--id-offset", type=int, default=0)
    p.add_argument("--append", action="store_true", help="append batch to existing bronze")
    p.add_argument("--as-of", default=None, help="report clock, YYYY-MM-DD")
    args = p.parse_args(argv)

    spark = get_spark("adspark-cli")
    pipe = Pipeline(spark, args.root, as_of=args.as_of)

    if args.command == "batch":
        cfg = GenConfig(
            advertisers=args.advertisers,
            campaigns_per_advertiser=args.campaigns,
            impressions_per_campaign=args.impressions,
            ctr=args.ctr,
            seed=args.seed,
            id_offset=args.id_offset,
        )
        tables = gen_all(spark, cfg)
        (pipe.append_bronze if args.append else pipe.write_bronze)(tables)
        print({name: df.count() for name, df in tables.items()})
    elif args.command == "initial-load":
        pipe.initial_load()
        print({"silver_totals": pipe.silver("advertiser_campaigns").count()})
    elif args.command == "track-deltas":
        print(pipe.track_deltas())
    elif args.command == "stats":
        tables = {name: pipe.bronze(name) for name in BRONZE}
        print(table_counts(tables))
        campaign_stats(
            tables["advertiser"], tables["campaign"],
            tables["impressions"], tables["clicks"],
        ).show(100, truncate=False)
    elif args.command == "reset":
        # through the Hadoop FileSystem, like every other lake path, so a
        # file://, hdfs:// or s3a:// root is removed, not read as a local
        # relative path
        fs.delete(spark, args.root)
        print(f"removed {args.root}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
