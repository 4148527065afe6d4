"""Path-scheme-agnostic filesystem helpers (Hadoop FileSystem API).

Every persisted layout in this package (silver/gold lake dirs, the
ReplacingMergeTree-style upsert table, the base/delta indexes) must work
wherever Spark itself can read — local disk in tests, HDFS or S3A at the
100 TB deployment the docstrings describe. Driver-side ``os.path`` /
``shutil`` calls silently disagree with Spark about what exists as soon as
the path carries a scheme (``os.path.isdir("s3a://...")`` is always
False), which turns "union the streamed delta" into "serve stale results
with no error". These helpers route every existence probe, rename, delete
and marker-file read/write through the SAME Hadoop ``FileSystem`` the
executors use, via the JVM gateway — so a probe agrees with the scan that
follows it on every scheme Spark supports.

Semantics notes for callers:

* ``rename`` is atomic on HDFS and local filesystems; on S3A it is a
  non-atomic server-side copy+delete. Code that relies on rename for
  crash-*detection* (the ``operators.store`` staging and swap) stays
  correct — a torn rename leaves both dirs visible, which the store's
  leftover guards treat as an interrupted run — but code must never rely
  on rename for isolation on object stores.
* There is no reference analog to cite: the reference delegates all
  storage maintenance to its databases (e.g. ClickHouse merges,
  ``dags/initial_load_generate_postgres_data.py:97-98``); the equivalent
  obligation here is "never assume POSIX".
"""

from __future__ import annotations

import contextlib

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, path: str):
    """Resolve ``path`` to (FileSystem, Path) through the active Hadoop
    configuration — the scheme (file://, hdfs://, s3a://, or bare) picks
    the implementation exactly as it does for ``spark.read``."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_and_path(spark, path)
    return bool(fs.exists(p))


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_and_path(spark, path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, p = _fs_and_path(spark, path)
    fs.mkdirs(p)


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """Delete ``path``; returns False if it did not exist."""
    fs, p = _fs_and_path(spark, path)
    return bool(fs.delete(p, recursive))


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` -> ``dst``, raising on failure (Hadoop's rename
    returns False instead of raising for most failure modes — a silent
    False here would corrupt compaction staging)."""
    fs, s = _fs_and_path(spark, src)
    _, d = _fs_and_path(spark, dst)
    if not fs.rename(s, d):
        raise IOError(f"rename failed: {src} -> {dst}")


def join(base: str, *parts: str) -> str:
    """Scheme-preserving path join (``os.path.join`` would also work for
    URI-style paths on POSIX hosts, but this makes no platform
    assumptions and never swallows a scheme)."""
    out = base.rstrip("/")
    for part in parts:
        out += "/" + part.strip("/")
    return out


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Atomically-enough write of a small driver-side marker file
    (overwrite mode); used for index metadata like the compaction
    generation marker."""
    fs, p = _fs_and_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def create_exclusive(spark: SparkSession, path: str, text: str) -> bool:
    """Atomically create ``path`` with ``text`` — returns False (creating
    nothing) if it already exists. This is the fencing primitive for
    single-writer enforcement.

    Atomicity by scheme (review r7 — the original claim that Hadoop
    ``create(p, overwrite=false)`` is atomic on local FS was wrong:
    ``RawLocalFileSystem`` implements it as a non-atomic exists()-then-
    create):

    * local / no-scheme paths: ``java.io.File.createNewFile()`` — a
      single O_EXCL syscall, genuinely atomic;
    * HDFS: Hadoop ``create(overwrite=false)`` — atomic in the NameNode;
    * classic S3A: create-no-overwrite is check-then-write (NOT atomic);
      there, prefer a lakehouse table format whose commit protocol owns
      write isolation — same caveat family as ``rename``.
    """
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    uri = jpath.toUri()
    scheme = uri.getScheme()
    if scheme is None or scheme == "file":
        f = jvm.java.io.File(uri.getPath())
        parent = f.getParentFile()
        if parent is not None:
            parent.mkdirs()
        if not f.createNewFile():  # atomic O_EXCL create-if-absent
            return False
        write_text(spark, path, text)
        return True
    fs, p = _fs_and_path(spark, path)
    try:
        out = fs.create(p, False)
    except Exception as exc:  # py4j wraps the Java exception
        # Classify by the JAVA EXCEPTION CLASS, not message substrings
        # (ADVICE r7: a transient error whose text merely contains
        # "already exists" must not be silently reported as lock-held,
        # and an FS raising a plain IOException("File exists") must
        # still classify as held).
        cls = ""
        je = getattr(exc, "java_exception", None)
        if je is not None:
            with contextlib.suppress(Exception):
                cls = str(je.getClass().getName())
        if "FileAlreadyExistsException" in cls:
            return False
        # Ambiguous failure: re-probe existence before deciding. If the
        # file IS there, someone holds it (held); if not, the failure
        # was transient/environmental — surface it.
        if fs.exists(p):
            return False
        raise
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    return True


def read_text(spark: SparkSession, path: str) -> str:
    fs, p = _fs_and_path(spark, path)
    inp = fs.open(p)
    try:
        return str(
            spark._jvm.org.apache.commons.io.IOUtils.toString(inp, "UTF-8")
        )
    finally:
        inp.close()


def fingerprint(spark: SparkSession, path: str) -> "tuple | None":
    """Cheap content fingerprint of a directory: (name, length, mtime) of
    each child, from ONE listStatus RPC; None if the path is absent (the
    not-found error from listStatus IS the absence probe — no separate
    exists() call, so a concurrent delete between two RPCs cannot leak a
    FileNotFoundException to the caller; it returns None like any other
    miss). The validity token for driver-side memos over write-once/
    rewritten-whole tables (the minhash params memo): an overwrite
    rewrites part files — new names or mtimes — so a stale memo entry
    MISSES and re-reads instead of serving values from before an external
    rebuild. Caveat: a byte- AND metadata-preserving restore of an older
    directory (``cp -p``, some object-store copies) reproduces the old
    tuple and would revalidate a stale entry — callers for whom that
    matters should fold a content checksum into the memoed value."""
    fs, p = _fs_and_path(spark, path)
    try:
        statuses = fs.listStatus(p)
    except Exception as e:  # py4j wraps java.io.FileNotFoundException
        if "FileNotFoundException" in str(getattr(e, "java_exception", e)):
            return None
        raise
    return tuple(
        sorted(
            (str(s.getPath().getName()), int(s.getLen()),
             int(s.getModificationTime()))
            for s in statuses
        )
    )


def qualified(spark: SparkSession, path: str) -> str:
    """The filesystem-qualified form of ``path`` (scheme + authority +
    normalized path, e.g. ``file:/root/x`` for a bare ``/root/x//``) —
    the canonical memo key: relative/absolute/trailing-slash aliases of
    the same directory all map to one string, so driver-side caches keyed
    by it cannot hold duplicate entries for one physical table."""
    fs, p = _fs_and_path(spark, path)
    return str(fs.makeQualified(p).toString())


def list_names(spark: SparkSession, path: str) -> "list[str]":
    """Child entry names of a directory (empty list if absent) — Hadoop
    FileSystem listStatus, so hdfs:// and s3a:// roots behave like local
    paths (same scheme-agnostic discipline as the other helpers)."""
    fs, p = _fs_and_path(spark, path)
    if not fs.exists(p):
        return []
    return [s.getPath().getName() for s in fs.listStatus(p)]
