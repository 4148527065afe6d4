"""The on-disk maintenance protocol of the package's persisted stores.

The reference's only non-append semantic is ClickHouse's
``ReplacingMergeTree``: append-only parts plus a background merge
(``dags/initial_load_generate_postgres_data.py:97-98``). Four stores keep
that shape on plain parquet, and all of them maintain it through this
module alone:

- the persisted IVF index (``similarity.ivf_index_*``);
- the persisted MinHash index (``dedup.minhash_index_*``);
- the duplicate-component store (``dedup.components_*``);
- the upsert table (``upsert.compact`` and the write fence).

The protocol has five parts:

- **generation** — a marker file holding an int: 0 at build, +1 per
  compaction that consumed a delta or folded tombstones (and, in a fenced
  upsert table, +1 per write). Streaming checkpoints pin it
  (``streaming.jobs._pin_generation``) and refuse to replay epochs across
  a fold.
- **tombstones** — id-grain deletes appended to ``<root>/tombstones``;
  readers anti-join them, :func:`compact` folds them physically.
- **delta read** (:func:`read_delta`) — only a directory that is absent or
  holds no committed files reads as empty; any other failure (a corrupt
  part file) raises, so a delta is never silently dropped.
- **staging** — :func:`compact` renames the delta to ``.compacting``
  before folding it, so new streamed epochs cannot race the fold.
- **swap** (:func:`swap`) — a table rewrite is written to ``.rewriting``,
  the live table renamed to ``.old``, the rewrite renamed in and ``.old``
  deleted.

Crash contract: plain parquet has no atomic multi-directory commit, so
each step is DETECTABLE rather than atomic. A leftover ``.compacting``
directory means a previous run may have appended some of its rows; the
next compaction refuses, and recovery is manual (verify whether the base
holds the staged ids, then delete the staging directory if it does or
rename it back if it does not). A leftover ``.rewriting`` or ``.old``
directory refuses the next rewrite; exactly one complete copy of the
table exists, so keep it under the table's name, delete the other and
re-run (tombstone folds and latest-version rewrites are idempotent).
All probes, renames and deletes go through :mod:`fs` (Hadoop
FileSystem); on S3A a rename is copy+delete, which widens the crash
window but leaves both directories visible, so the refusals still fire.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fs

TOMBSTONES = "tombstones"

_GENERATION = "generation"
# inside a table directory: the "_" prefix keeps it out of parquet reads
_TABLE_GENERATION = "_write_generation"
_STAGED, _REWRITING, _OLD = ".compacting", ".rewriting", ".old"


def _read_marker(spark: SparkSession, path: str) -> int | None:
    if not fs.exists(spark, path):
        return None
    return int(fs.read_text(spark, path).strip())


def generation(spark: SparkSession, root: str) -> int | None:
    """The generation of the store at ``root`` (None when there is no
    marker: a root written before markers existed skips the guards)."""
    return _read_marker(spark, fs.join(root, _GENERATION))


def set_generation(spark: SparkSession, root: str, gen: int) -> None:
    fs.write_text(spark, fs.join(root, _GENERATION), str(gen))


def table_generation(spark: SparkSession, path: str) -> int:
    """Monotone write-generation of a fenced upsert table (0 if never
    written through ``upsert._write_fence``) — cache keys derived from
    table state should include this."""
    return _read_marker(spark, fs.join(path, _TABLE_GENERATION)) or 0


def set_table_generation(spark: SparkSession, path: str, gen: int) -> None:
    fs.write_text(spark, fs.join(path, _TABLE_GENERATION), str(gen))


def append_tombstones(
    spark: SparkSession, root: str, ids, id_col: str
) -> None:
    """Append deleted ids (a DataFrame with an ``id_col`` column, or an
    iterable of ints) to ``<root>/tombstones``, stored under ``id_col``."""
    if isinstance(ids, DataFrame):
        df = ids.select(F.col(id_col))
    else:
        df = spark.createDataFrame([(i,) for i in ids], f"{id_col} long")
    df.write.mode("append").parquet(fs.join(root, TOMBSTONES))


def tombstones(spark: SparkSession, root: str) -> DataFrame | None:
    """The tombstone table of ``root`` (None when nothing is deleted)."""
    return read_delta(spark, fs.join(root, TOMBSTONES))


def read_delta(spark: SparkSession, path: str) -> DataFrame | None:
    """Rows of an appended delta, without the ``__epoch_id`` partition
    column of an epoch-landed one (``streaming.jobs.read_epochs``). None
    when ``path`` is absent or holds no committed files; every other read
    failure raises."""
    if not fs.is_dir(spark, path):
        return None
    from pyspark.errors import AnalysisException

    from ..streaming.jobs import read_epochs

    try:
        return read_epochs(spark, path)
    except AnalysisException as e:
        if e.getCondition() != "UNABLE_TO_INFER_SCHEMA":
            raise
        return None


def live_overlays(spark: SparkSession, root: str, delta_dir: str) -> list[str]:
    """Names of what a compaction of ``root`` has yet to fold: a staged
    delta (counted on sight: its rows may be half-applied), a delta or a
    tombstone table holding rows."""
    delta = fs.join(root, delta_dir)
    live = [delta_dir] if _has_rows(spark, delta) else []
    if fs.is_dir(spark, delta + _STAGED):
        live.append(delta_dir + _STAGED)
    if _has_rows(spark, fs.join(root, TOMBSTONES)):
        live.append(TOMBSTONES)
    return live


def _has_rows(spark: SparkSession, path: str) -> bool:
    rows = read_delta(spark, path)
    return rows is not None and not rows.isEmpty()


def _refuse_leftovers(spark: SparkSession, path: str) -> None:
    for leftover in (path + _REWRITING, path + _OLD):
        if fs.is_dir(spark, leftover):
            name = path.rstrip("/").rsplit("/", 1)[-1]
            raise RuntimeError(
                f"interrupted tombstone fold or compaction at {leftover}: "
                "keep whichever complete directory holds the table as "
                f"'{name}', delete the other, then re-run"
            )


def swap(
    spark: SparkSession,
    path: str,
    rows: DataFrame,
    partition_by: Sequence[str],
) -> None:
    """Replace the table at ``path`` by ``rows`` (which may read ``path``):
    write ``.rewriting``, rename the live table to ``.old``, rename the
    rewrite in, delete ``.old``. Refuses while a leftover of either
    exists."""
    _refuse_leftovers(spark, path)
    rewriting = path + _REWRITING
    writer = rows.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(rewriting)
    fs.rename(spark, path, path + _OLD)
    fs.rename(spark, rewriting, path)
    fs.delete(spark, path + _OLD)


def compact(
    spark: SparkSession,
    root: str,
    delta_dir: str,
    tables: Mapping[str, Sequence[str]],
    fold_delta: Callable[[DataFrame], None],
    id_col: str | None,
) -> int:
    """One maintenance pass over an index root; returns the number of delta
    rows folded.

    1. Refuse, before anything moves: a staged delta, a swap leftover of
       any of ``tables`` (name -> partition columns), or tombstones whose
       id column (``id_col``; when None, the tombstone table's own
       column) a table does not carry.
    2. Stage ``<root>/<delta_dir>`` to ``.compacting``, pass its rows to
       ``fold_delta`` (which appends them to the base tables), delete the
       staging directory.
    3. Fold the tombstones: every table is rewritten without the deleted
       ids through :func:`swap`, then the tombstone table is dropped.
    4. Bump the generation iff step 2 consumed committed delta files or
       step 3 folded.
    """
    delta = fs.join(root, delta_dir)
    staging = delta + _STAGED
    if fs.is_dir(spark, staging):
        raise RuntimeError(
            f"interrupted compaction at {staging}: its rows may or may not "
            "already be in the base — verify, then delete it (appended) or "
            f"rename it back to {delta_dir} (not appended)"
        )
    paths = {fs.join(root, name): part for name, part in tables.items()}
    for path in paths:
        _refuse_leftovers(spark, path)
    tomb = tombstones(spark, root)
    if tomb is not None:
        key = id_col or tomb.columns[0]
        for path in paths:
            cols = spark.read.parquet(path).columns
            if key not in cols:
                raise ValueError(
                    f"tombstone id column {key!r} not in {path} columns "
                    f"{cols} — deletes must use the same id_col the index "
                    "was written with"
                )
    n, consumed = 0, False
    if fs.is_dir(spark, delta):
        fs.rename(spark, delta, staging)
        rows = read_delta(spark, staging)
        if rows is not None:
            n, consumed = rows.count(), True
            if n:
                fold_delta(rows)
        fs.delete(spark, staging)
    if tomb is not None:
        dead = F.broadcast(
            tomb.select(F.col(tomb.columns[0]).alias(key)).distinct()
        )
        for path, partition_by in paths.items():
            # read after the delta fold, so its appended rows are listed
            live = spark.read.parquet(path).join(dead, [key], "left_anti")
            swap(spark, path, live, partition_by)
        fs.delete(spark, fs.join(root, TOMBSTONES))
    if consumed or tomb is not None:
        set_generation(spark, root, (generation(spark, root) or 0) + 1)
    return n
