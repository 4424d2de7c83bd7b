"""Driver-side filesystem metadata ops via the Hadoop FileSystem API,
and the one store-rewrite protocol every parquet store uses.

The engine's stores do a handful of driver-side metadata operations
(existence probes before dedup gates, tmp-dir cleanup after snapshot
swaps). `os.path` only understands the local filesystem; on `s3a://` or
`gs://` paths it silently answers False and the logic that depends on it
(e.g. the anti-join dedup gate in OfflineStore.append) degrades without
an error. Going through Hadoop's FileSystem — the same abstraction the
executors' parquet I/O uses — makes these probes correct on every scheme
Spark itself can read.

Every store rewrite goes through one of two helpers here, and no other
module renames on the Hadoop FS:

- :func:`replace_dir` swaps a whole directory (compaction, vacuum,
  the online snapshot upsert);
- :func:`fold_in` rewrites a set-semantic append log file by file
  (sketch stores, the signature index, the impact posting log).

Both check every rename and never delete the only copy of a row.

Every writer of a feature-store directory records the Spark schema of
what it wrote (:func:`record_schema`, ``_schema.json`` inside the data
directory; Spark's file index and :func:`list_data_files` skip
``_``-prefixed names), and every read of it goes through
:func:`reader` or :func:`read_dir`, which pass that schema to
``spark.read.schema`` — so no read runs a parquet schema-inference job.
A directory without the file (written before the record existed, or by
hand) is read by inference. Reads never change the store: only writers
call :func:`restore_swap` to finish a swap killed between its renames.
"""

from __future__ import annotations

import json
import uuid

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql.types import StructType

SCHEMA_FILE = "_schema.json"


def _fs_and_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, jpath = _fs_and_path(spark, path)
    return bool(fs.exists(jpath))


def child_names(spark: SparkSession, path: str) -> list[str]:
    """Names of direct children of ``path`` (empty if it doesn't exist)."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    return [st.getPath().getName() for st in fs.listStatus(jpath)]


def delete(spark: SparkSession, path: str) -> None:
    """Recursive delete; no-op if absent."""
    fs, jpath = _fs_and_path(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def rename(spark: SparkSession, src: str, dst: str) -> bool:
    """File or directory rename; False on failure. Atomic on HDFS/POSIX;
    on object stores it is a copy+delete. Only :func:`replace_dir`,
    :func:`restore_swap` and :func:`fold_in` call it."""
    fs, jsrc = _fs_and_path(spark, src)
    jdst = spark._jvm.org.apache.hadoop.fs.Path(dst)
    return bool(fs.rename(jsrc, jdst))


def write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create/overwrite a small text file (manifests, markers) through
    the same FileSystem abstraction as the data I/O — works on every
    scheme the store accepts, unlike driver-local ``open()``."""
    fs, jpath = _fs_and_path(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def write_text_atomic(spark: SparkSession, path: str, text: str) -> None:
    """Write a small text file via tmp + rename so a reader (or a crash)
    never observes a torn/truncated file — the round-9 ADVICE fix for
    manifest/floor writes, where a half-written JSON made every
    subsequent ``retention_floor()``/``read(as_of)`` raise
    ``JSONDecodeError``.

    Overwrites rename OVER the existing destination through
    ``FileContext`` with ``Options.Rename.OVERWRITE`` (POSIX/HDFS
    semantics: the destination atomically flips old→new, a concurrent
    reader never observes it MISSING — the round-10 ADVICE fix for the
    delete-then-rename window, where a ``retention_floor()`` read
    racing a floor rewrite transiently defaulted to 0 and could admit
    an as-of pin below the real floor). Where ``FileContext`` is
    unsupported (some object-store connectors expose only the
    ``FileSystem`` API) the fallback is delete-then-rename — on those
    stores rename is copy+delete anyway, so no atomicity is lost that
    the store could have provided; the failure window is a briefly
    missing destination, never a torn one (callers read-with-default,
    and SnapshotManifests.retention_floor retries when it can see a
    rewrite in flight). Concurrent writers of the SAME path remain a
    single-writer contract (see SnapshotManifests)."""
    fs, jpath = _fs_and_path(spark, path)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    write_text(spark, tmp, text)
    jvm = spark._jvm
    jtmp = jvm.org.apache.hadoop.fs.Path(tmp)
    try:
        fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
            jpath.toUri(), spark._jsc.hadoopConfiguration()
        )
        arr = spark.sparkContext._gateway.new_array(
            jvm.org.apache.hadoop.fs.Options.Rename, 1
        )
        arr[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
        fc.rename(jtmp, jpath, arr)  # void: throws on failure
        return
    except Exception:
        # UnsupportedFileSystemException (no AbstractFileSystem for the
        # scheme) or any FileContext failure: fall through to the
        # FileSystem-API path rather than leave the tmp stranded.
        if not fs.exists(jtmp):
            # rename is all-or-nothing: tmp gone + dst present means the
            # rename took effect before the exception surfaced
            if fs.exists(jpath):
                return
            raise
    if fs.exists(jpath):
        fs.delete(jpath, False)
    if not fs.rename(jtmp, jpath):
        raise IOError(f"write_text_atomic: rename {tmp} -> {path} failed")


def restore_swap(spark: SparkSession, path: str) -> None:
    """Finish a :func:`replace_dir` killed between its two renames: the
    store then sits at ``{path}.old`` and ``path`` is missing. Writers
    call it before they probe ``path``; readers never do, since a
    reader that ran between a live swap's two renames would move the
    old store back under the writer's second rename."""
    old = f"{path}.old"
    if exists(spark, path) or not exists(spark, old):
        return
    if not rename(spark, old, path):
        raise IOError(f"restore: rename {old} -> {path} failed")


def record_schema(
    spark: SparkSession, path: str, df: DataFrame, partition_by=()
) -> None:
    """Record in ``{path}/_schema.json`` the schema a read of ``path``
    returns once ``df`` is written there partitioned by
    ``partition_by``: the data columns, then the partition columns.
    Written atomically, so a concurrent reader never sees it torn."""
    cols = [f for f in df.schema if f.name not in partition_by]
    cols += [df.schema[c] for c in partition_by]
    write_text_atomic(spark, f"{path}/{SCHEMA_FILE}", StructType(cols).json())


def recorded_schema(spark: SparkSession, path: str) -> StructType | None:
    """The schema :func:`record_schema` stored for ``path``, or None."""
    p = f"{path}/{SCHEMA_FILE}"
    if not exists(spark, p):
        return None
    return StructType.fromJson(json.loads(read_text(spark, p)))


def reader(spark: SparkSession, path: str) -> DataFrameReader:
    """``spark.read`` for the parquet directory ``path``, carrying its
    recorded schema when there is one: building the read then launches
    no job. Without a record, Spark infers the schema as usual."""
    schema = recorded_schema(spark, path)
    return spark.read if schema is None else spark.read.schema(schema)


def read_dir(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet directory ``path`` read with its recorded schema, as
    :func:`reader` does, or None when it does not exist. Changes nothing
    on the store."""
    schema = recorded_schema(spark, path)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    return spark.read.parquet(path) if exists(spark, path) else None


def replace_dir(
    spark: SparkSession, path: str, df: DataFrame, *, partition_by=()
) -> None:
    """Replace the parquet directory ``path`` with ``df``, partitioned
    by the columns ``partition_by``, and record its schema.

    The rewrite and its ``_schema.json`` land in ``{path}.tmp``, then
    ``path -> {path}.old`` (only if ``path`` exists) and ``.tmp ->
    path``, then ``.old`` is deleted. A killed run's leftovers are
    handled first: a store left at ``.old`` with no ``path`` is renamed
    back, and any remaining ``.tmp``/``.old`` is cleared. Writing
    elsewhere first is what lets ``df``'s plan read ``path`` itself (an
    upsert, a compaction). A failed second rename rolls the old store
    back and raises ``IOError``, so the store is never left missing.
    The swap is atomic on HDFS/POSIX; on object stores a rename is
    copy+delete with a visible window — run rewrites in the maintenance
    path, not concurrently with appends."""
    tmp, old = f"{path}.tmp", f"{path}.old"
    restore_swap(spark, path)
    delete(spark, tmp)
    delete(spark, old)
    writer = df.write.partitionBy(*partition_by) if partition_by else df.write
    writer.mode("overwrite").parquet(tmp)
    record_schema(spark, tmp, df, partition_by)
    had = exists(spark, path)
    if had and not rename(spark, path, old):
        raise IOError(f"replace_dir: rename {path} -> {old} failed")
    if not rename(spark, tmp, path):
        if had:
            rename(spark, old, path)
        raise IOError(f"replace_dir: rename {tmp} -> {path} failed")
    delete(spark, old)


def fold_in(
    spark: SparkSession, path: str, transform, *, partition_by: str | None = None
) -> dict:
    """Rewrite the append log at ``path`` through ``transform`` without a
    directory swap: snapshot the data-file listing, read exactly those
    files as a row set, write ``transform``'s result to a tmp dir, rename
    each file into the store (into its ``partition_by=V`` dir when the
    store is partitioned — files renamed into the root would collide
    with partition discovery), then delete exactly the snapshotted files.

    The store must read as a set (idempotent merges: sketch MAX/bottom-K,
    bucket membership, per-epoch distinct postings). Then it is safe
    under a concurrent appender and a crash at any step: between
    rename-in and delete the store holds both the transformed rows and
    the originals and reads identically, and a file appended after the
    snapshot is never deleted. A failed rename raises ``IOError`` before
    any delete, with the snapshot intact (the tmp dir is left behind;
    the next fold deletes it, as it deletes every ``{path}.swap-*`` dir
    of an earlier run — the single-writer contract).

    Returns ``{"files_before", "files_after"}``."""
    root = path.rstrip("/")
    parent, _, name = root.rpartition("/")
    parent = parent or "."
    for n in child_names(spark, parent):
        if n.startswith(f"{name}.swap-"):
            delete(spark, f"{parent}/{n}")
    snapshot = [p for p, _s in list_data_files(spark, root)]
    if not snapshot:
        return {"files_before": 0, "files_after": 0}
    # basePath keeps the partition column on a file-list read
    out = transform(spark.read.option("basePath", root).parquet(*snapshot).distinct())
    stamp = uuid.uuid4().hex[:8]
    tmp = f"{root}.swap-{stamp}"
    if partition_by is None:
        out.repartition(1).write.parquet(tmp)
    else:
        out.repartition(partition_by).write.partitionBy(partition_by).parquet(tmp)
    for i, (f_, _s) in enumerate(list_data_files(spark, tmp)):
        part_dir = f"{f_.rsplit('/', 2)[1]}/" if partition_by else ""
        dst = f"{root}/{part_dir}fold-{stamp}-{i}.parquet"
        if not rename(spark, f_, dst):
            raise IOError(f"fold_in: rename {f_} -> {dst} failed")
    delete(spark, tmp)
    for f_ in snapshot:
        delete(spark, f_)
    return {
        "files_before": len(snapshot),
        "files_after": len(list_data_files(spark, root)),
    }


def read_text(spark: SparkSession, path: str) -> str:
    fs, jpath = _fs_and_path(spark, path)
    stream = fs.open(jpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def list_data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """Recursive (path, size) listing of data files under ``path``,
    skipping hidden/commit markers (_SUCCESS, ._*). Driver-side metadata
    only — one RPC stream, no data read; cardinality is file count, not
    row count."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    out: list[tuple[str, int]] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        out.append((st.getPath().toString(), int(st.getLen())))
    return out


def list_file_stats(spark: SparkSession, path: str) -> list[tuple[str, int, int]]:
    """Recursive (path, size, mtime_ms) listing of data files — the
    fingerprint input for session fit caches (plans/_base.py
    corpus_fingerprint). Same traversal as :func:`list_data_files`,
    plus modification time so a same-size rewrite still changes the
    fingerprint."""
    fs, jpath = _fs_and_path(spark, path)
    if not fs.exists(jpath):
        return []
    out: list[tuple[str, int, int]] = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        out.append(
            (st.getPath().toString(), int(st.getLen()), int(st.getModificationTime()))
        )
    return out
