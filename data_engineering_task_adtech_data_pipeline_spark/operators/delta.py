"""Distributed CDC: high-watermark change detection as anti-join dataflow.

The reference detects changes by fetching *every* key's watermark tuple to
the Airflow worker and doing a Python ``set`` difference
(``dags/track_delta.py:121-123, 284-286, 386-388``), then inlines the changed
keys back into SQL as a ``VALUES (%s,%s,%s)...`` literal list and re-runs
the extract joined to it (``:127-128, 191-216``). Both steps are O(keys) on
a single node and die at 100 TB. Here the two steps are one anti-join that
never leaves the cluster:

    upserts = full_extract LEFT ANTI olap_state ON keys+[version]

An extract row whose ``keys + [version]`` tuple is absent from the OLAP
state is exactly a row the reference's set difference flags and its
``VALUES`` re-extract returns, so the extract is evaluated once per cycle
instead of once for the difference and again for the re-extract. Rows with
a NULL key or version are dropped first: the reference's inner join against
the ``VALUES`` list can never match them (``changed_rows``).

Caveat (inherent to high-watermark CDC, shared with the reference): a new
row whose timestamp does NOT advance its key's max watermark is invisible to
change detection — the reference's tuple set-diff misses it identically.
The invariant "incremental == full recompute" therefore assumes per-key
time-advancing arrivals (true for event streams stamped at ingest); found
and pinned by ``tests/test_properties.py``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def watermarks(
    df: DataFrame,
    keys: Sequence[str],
    watermark_col: Column,
    alias: str = "rtm_delta",
) -> DataFrame:
    """Per-key high watermark: ``GREATEST``-style max version per key
    (``dags/track_delta.py:42-88``)."""
    return df.groupBy(*keys).agg(watermark_col.alias(alias))


def changed_keys(
    oltp_keys: DataFrame,
    olap_keys: DataFrame,
    keys: Sequence[str],
    version: str = "rtm_delta",
) -> DataFrame:
    """Keys whose watermark is new or moved: distributed set-difference
    (anti-join) over ``keys + [version]`` (``dags/track_delta.py:121-123``)."""
    return oltp_keys.join(
        olap_keys.select(*keys, version),
        on=[*keys, version],
        how="left_anti",
    )


def changed_rows(
    extract: DataFrame,
    olap_state: DataFrame,
    keys: Sequence[str],
    version: str = "rtm_delta",
) -> DataFrame:
    """Rows of the extract whose ``keys + [version]`` tuple is new or moved
    against the OLAP state — the reference's set difference plus its
    ``VALUES`` re-extract (``dags/track_delta.py:121-128, 191-216``) as one
    anti-join, so the extract is evaluated once.

    Equal, duplicates included, to semi-joining the extract against its own
    ``changed_keys``; rows with a NULL in ``keys + [version]`` are dropped
    because that semi-join's equi-join can never match them."""
    on = [*keys, version]
    fresh = extract
    for c in on:
        fresh = fresh.where(F.col(c).isNotNull())
    # USING joins move the join keys to the front; restore the extract's
    # column order so appended files keep a stable schema
    return fresh.join(olap_state.select(*on), on=on, how="left_anti").select(
        *extract.columns
    )


def scd2_history(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    attr_cols: Sequence[str],
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Build an SCD Type-2 history from an event/observation log: per
    key, consecutive observations with UNCHANGED ``attr_cols`` collapse
    into one validity interval; each emitted row carries
    ``valid_from`` (the first observation of the attribute state) and
    ``valid_to`` (the next state's valid_from; NULL = current). The
    classic warehouse dimension-versioning build, expressed as two window
    passes — change detection via null-safe lag comparison, interval
    close via lead.

    The reference's delta tables keep only the LATEST version per key
    (``dags/track_delta.py`` + ReplacingMergeTree, our q06/q59); SCD2 is
    the full-history twin a warehouse needs for as-of joins
    (``operators.joins.asof_join`` consumes exactly this shape).

    Scale shape (100 TB): both windows partition by the dimension key —
    never a global sort; the change filter drops unchanged observations
    BEFORE the second window, so interval rows shuffle once at
    change-cardinality, not observation-cardinality.
    """
    order = [F.col(order_col).asc()] + [F.col(t).asc() for t in tiebreak]
    w = W.partitionBy(*keys).orderBy(*order)
    state = F.struct(*[F.col(a) for a in attr_cols])
    changed = df.withColumn(
        "__chg",
        ~state.eqNullSafe(F.lag(state).over(w))
        | F.lag(state).over(w).isNull(),
    )
    # first row per key has lag NULL: eqNullSafe(NULL struct) is false,
    # so ~false = true already — the explicit isNull arm documents intent
    intervals = changed.where(F.col("__chg")).select(
        *keys,
        *attr_cols,
        F.col(order_col).alias("valid_from"),
        *tiebreak,
    )
    # the interval-close window must replay the SAME total order as the
    # change detection (two changes can share a valid_from timestamp —
    # without the tiebreak the lead() would be nondeterministic)
    w2 = W.partitionBy(*keys).orderBy(
        F.col("valid_from").asc(), *[F.col(t).asc() for t in tiebreak]
    )
    return intervals.withColumn(
        "valid_to", F.lead("valid_from").over(w2)
    ).drop(*[t for t in tiebreak if t not in attr_cols and t not in keys])
