"""Snapshot-manifest versioning for append-mostly parquet stores — the
E220 time-travel discipline factored out of ``OfflineStore`` so EVERY
store that appends files (the feature store, the dedup-ingest curated
corpus, any future sink) gets bit-identical as-of replays from the same
few lines.

Contract (proved for the feature store in round 9, reused verbatim):

- every mutation records a manifest — the exact data-file list that
  composes that version — as ``{meta}/manifests/v=N.json``;
- an as-of read scans EXACTLY those files (``basePath`` keeps partition
  columns), so "the table as of version N" reproduces bit-identically
  after later appends: appends are file-additive, versioning is free;
- ops that REWRITE or DROP files (compact/retire/vacuum) advance a
  retention floor; as-of pins below the floor RAISE instead of
  silently resolving wrong (the E199 vacuum contract);
- manifest and floor writes go through ``fs.write_text_atomic`` (tmp +
  rename), so a crash mid-write never leaves torn JSON that poisons
  every later read — the round-9 ADVICE fix.

The floor marker is the one retention floor of every versioned store:
:func:`read_floor` / :func:`write_floor` keep it for these manifests
and for the model registry and the ANN index (their vacuums,
``operators/snapshot.vacuum_versions``), keyed by a meta directory.

Single-writer contract: ``record()`` assigns ``version() + 1`` from a
listing, which is NOT safe under concurrent writers — two simultaneous
appends could claim the same version and one manifest would shadow the
other. Every current producer is a single sequential writer (an
``availableNow`` streaming job's foreachBatch, or a driver-side
maintenance call); a multi-writer deployment needs an external lock or
a log-structured catalog (Delta/Iceberg) in place of this file-number
protocol. Documented rather than enforced: a lock marker cannot be made
atomic on object stores any more than the version claim itself.

100 TB shape: a manifest is one driver-side metadata-RPC stream at
write time and O(files) JSON; no row is read, copied, or rewritten to
create a version.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from aqi_featurestore_spark.sources import fs


def read_floor(spark: SparkSession, meta: str) -> int:
    """The retention floor recorded in ``{meta}/floor.json``: the lowest
    version a versioned store can still replay; 0 when none is recorded.

    A missing marker normally means "no compact/retire/vacuum ever ran".
    On stores whose overwrites cannot rename-over-existing (see
    ``fs.write_text_atomic``'s fallback) a floor REWRITE has a brief
    missing-destination window; defaulting to 0 inside it would
    transiently admit an as-of pin below the real floor (round-10
    ADVICE). The retry triggers only when a ``floor.json.tmp-*`` sibling
    is visible — evidence of a rewrite in flight — so the common
    never-compacted store pays one directory listing, no sleep. No
    Spark job runs."""
    import time

    marker = f"{meta}/floor.json"
    for _ in range(5):
        if fs.exists(spark, marker):
            return int(json.loads(fs.read_text(spark, marker))["floor"])
        if not any(
            n.startswith("floor.json.tmp-") for n in fs.child_names(spark, meta)
        ):
            return 0
        time.sleep(0.05)
    return 0


def write_floor(spark: SparkSession, meta: str, version: int) -> None:
    """Record ``version`` as the retention floor in ``{meta}/floor.json``
    (tmp + rename: a reader or a crash never sees it torn)."""
    fs.write_text_atomic(
        spark, f"{meta}/floor.json", json.dumps({"floor": int(version)})
    )


def check_floor(
    spark: SparkSession, meta: str, version: int | None, caller: str
) -> None:
    """Raise when a pin at ``version`` falls below the floor of
    ``{meta}/floor.json``: that history was compacted or dropped, and
    resolving it would silently return a wrong snapshot. ``None`` (the
    current view) is never below it."""
    if version is None:
        return
    floor = read_floor(spark, meta)
    if int(version) < floor:
        raise ValueError(
            f"{caller}: version {version} is below the retention floor "
            f"{floor} at {meta!r} — a compact/retire/vacuum rewrote or "
            f"dropped that history; keep a longer maintenance window "
            f"(keep_versions) or archive the derived dataset"
        )


class SnapshotManifests:
    """Version bookkeeping for one data directory. Pure metadata — the
    owning store keeps writing its parquet however it already does and
    calls :meth:`record` after each mutation."""

    def __init__(
        self, spark: SparkSession, data_path: str, *, meta_dir: str | None = None
    ) -> None:
        self.spark = spark
        self.data_path = data_path
        self.meta = meta_dir or f"{data_path}.meta"

    def _manifest_path(self, version: int) -> str:
        return f"{self.meta}/manifests/v={version}.json"

    def version(self) -> int:
        """Highest recorded version (0 = no mutation recorded — either
        an empty store or one predating the manifest discipline)."""
        names = fs.child_names(self.spark, f"{self.meta}/manifests")
        vs = [
            int(n[2:-5])
            for n in names
            if n.startswith("v=") and n.endswith(".json")
        ]
        return max(vs, default=0)

    def retention_floor(self) -> int:
        """Lowest replayable version; as-of pins below it raise."""
        return read_floor(self.spark, self.meta)

    def record(
        self,
        op: str,
        *,
        files: list[tuple[str, int]] | None = None,
        extra: dict | None = None,
    ) -> int:
        """Record the store's CURRENT file list as the next version.
        ``files`` lets a caller that already listed (e.g. to diff new
        files for per-file stats) skip the second listing; ``extra``
        merges caller payload (file stats, op detail) into the JSON."""
        v = self.version() + 1
        manifest = {
            "version": v,
            "op": op,
            "files": files
            if files is not None
            else fs.list_data_files(self.spark, self.data_path),
        }
        if extra:
            manifest.update(extra)
        fs.write_text_atomic(
            self.spark, self._manifest_path(v), json.dumps(manifest)
        )
        return v

    def set_floor(self, version: int) -> None:
        write_floor(self.spark, self.meta, version)

    def manifest(self, as_of: int) -> dict:
        """Load one version's manifest, with the E199 raise paths."""
        check_floor(self.spark, self.meta, as_of, "as_of read")
        mpath = self._manifest_path(as_of)
        if not fs.exists(self.spark, mpath):
            raise ValueError(
                f"as_of={as_of}: no manifest at {mpath} — versions run "
                f"1..{self.version()} (0 predates the store's history)"
            )
        return json.loads(fs.read_text(self.spark, mpath))

    def read_as_of(self, as_of: int) -> DataFrame:
        """Scan exactly the files of version ``as_of`` (``basePath``
        keeps any partition columns) — the bit-identical replay — with
        the directory's recorded schema (``fs.reader``)."""
        files = [p for p, _sz in self.manifest(as_of)["files"]]
        if not files:
            raise ValueError(f"read_as_of({as_of}): version is empty")
        return (
            fs.reader(self.spark, self.data_path)
            .option("basePath", self.data_path)
            .parquet(*files)
        )
