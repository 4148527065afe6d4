"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then compares
row count, column names, and order-insensitive values.

Faithfulness note (round-2 fix): the driver pulls the DuckDB side through
pandas (``.df()``), where ``DECIMAL(p,s)`` and HUGEINT (DuckDB's
``SUM(BIGINT)`` widening) coerce to float64 — so a Spark ``Decimal('100.00')``
against an oracle ``100.0`` hash-mismatches even though the values are equal.
Round 1's gate compared typed ``fetchall()`` cells and was blind to this
(it said 41/41 while the driver said 28/41). This version normalizes BOTH
sides through the same pandas path the driver uses: DuckDB via ``.df()``,
Spark via ``.toPandas()``, then cell canonicalization that keeps the pandas
dtype distinctions (Decimal-vs-float, int-vs-float) visible. A raw
list/array cell is reported as a failure (the driver's canonicalizer raises
``unhashable type: 'list'`` on those — emit joined strings instead).

If this passes, the driver's order-insensitive value hash passes.

Usage: python tools/oracle_check.py [--json OUT.json] [sf_dir] [query ...]

``--json`` records the full-registry result as a per-round committed
artifact (ADVICE r6: the driver's 50-entry window no longer re-checks
rotated-out queries, so the full local gate must leave a recorded trail,
not just a terminal PASS line).
"""

from __future__ import annotations

import datetime as dt
import math
import sys
import time
from collections import Counter
from decimal import Decimal
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402
from data_engineering_task_adtech_data_pipeline_spark.schemas import (  # noqa: E402
    TESTDATA_TABLES,
)
from data_engineering_task_adtech_data_pipeline_spark.session import get_spark  # noqa: E402


class UnhashableCell(Exception):
    """A cell the driver's pandas canonicalizer would crash on."""


def normalize_cell(v):
    """Canonical string for one pandas-materialized cell.

    Deliberately preserves the distinctions the driver's hash sees:
    ``Decimal('100.00')`` != ``100.0`` != ``100`` — so terminal columns must
    be cast to the same pandas-visible type on both engine and oracle sides.
    """
    if isinstance(v, (list, np.ndarray, dict, set)):
        raise UnhashableCell(type(v).__name__)
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return "NULL"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"float:{v!r}"
    if isinstance(v, int):
        return f"int:{v}"
    if isinstance(v, Decimal):
        return f"Decimal:{v}"
    if isinstance(v, pd.Timestamp):
        return f"ts:{v.isoformat()}"
    if isinstance(v, dt.datetime):
        return f"ts:{v.isoformat()}"
    if isinstance(v, dt.date):
        # pandas/duckdb materialize DATE as midnight datetime64; align.
        return f"ts:{dt.datetime(v.year, v.month, v.day).isoformat()}"
    if isinstance(v, (bytes, bytearray)):
        return f"bytes:{bytes(v).hex()}"
    return f"{type(v).__name__}:{v}"


def frame_multiset(pdf: pd.DataFrame) -> Counter:
    cols = sorted(pdf.columns)
    out = Counter()
    for row in pdf[cols].itertuples(index=False, name=None):
        out[tuple(normalize_cell(v) for v in row)] += 1
    return out


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if argv and argv[0] == "--json":
        json_out = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    from data_engineering_task_adtech_data_pipeline_spark.operators import (
        chunking,
    )

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    record: dict = {}
    for name, fn in queries.items():
        if only and name not in only:
            continue
        t0 = time.time()
        sdf = fn(spark, sf_dir)
        spark_pdf = sdf.toPandas()
        chunking.release_persisted()  # drop per-query caches and checkpoints
        if name not in oracles:
            problems = []
            try:
                frame_multiset(spark_pdf)  # driver still hashes rows-only
            except UnhashableCell as e:
                problems.append(f"unhashable cell type in Spark output: {e}")
            if not len(spark_pdf):
                problems.append("rows-only query returned 0 rows")
            status = "rows-only" if not problems else "FAIL(rows-only)"
            print(f"  {name}: {status} ({len(spark_pdf)} rows) "
                  f"[{time.time()-t0:.1f}s]")
            record[name] = {
                "status": status,
                "rows": len(spark_pdf),
                "problems": problems,
                "sec": round(time.time() - t0, 2),
            }
            for p in problems:
                print(f"    !! {p}")
                failures.append((name, p))
            continue
        duck_pdf = con.execute(oracles[name]).df()

        problems = []
        if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
            problems.append(
                f"columns differ: spark={sorted(spark_pdf.columns)} "
                f"duck={sorted(duck_pdf.columns)}"
            )
        elif len(spark_pdf) != len(duck_pdf):
            problems.append(f"rowcount {len(spark_pdf)} vs {len(duck_pdf)}")
        else:
            try:
                sm, dm = frame_multiset(spark_pdf), frame_multiset(duck_pdf)
            except UnhashableCell as e:
                problems.append(f"unhashable cell type: {e} "
                                "(driver canonicalizer would crash)")
            else:
                if sm != dm:
                    diff_s = list((sm - dm).items())[:3]
                    diff_d = list((dm - sm).items())[:3]
                    problems.append(
                        f"value mismatch; spark-only={diff_s} duck-only={diff_d}"
                    )
        status = "OK" if not problems else "FAIL"
        print(f"  {name}: {status} ({len(spark_pdf)} rows) "
              f"[{time.time()-t0:.1f}s]")
        record[name] = {
            "status": status,
            "rows": len(spark_pdf),
            "problems": problems,
            "sec": round(time.time() - t0, 2),
        }
        for p in problems:
            print(f"    !! {p}")
            failures.append((name, p))

    print(f"\n{'PASS' if not failures else 'FAIL'}: "
          f"{len(failures)} failing checks")
    if json_out:
        import json

        payload = {
            "sf_dir": sf_dir,
            "checked": len(record),
            "failing": len(failures),
            "queries": record,
        }
        Path(json_out).write_text(json.dumps(payload, indent=1) + "\n")
        print(f"recorded: {json_out}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
