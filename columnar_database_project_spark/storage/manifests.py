"""ManifestStore — file-granular snapshots: a version IS a file list.

Versioning whole DIRECTORIES would make every DML op rewrite the
entire table, even a DELETE that touches one block: correct, but it
scales with TABLE size, not CHANGE size — at 100 TB a selective delete
must not move 100 TB. This store records
each version as a MANIFEST (an explicit list of immutable block
files), so a copy-on-write op writes only the blocks it changes and
carries every untouched block BY REFERENCE into the next manifest —
zero IO for the unchanged 99%. This is the core Iceberg/Delta design
(snapshot = manifest of data files), scaled down to a single JSON per
version.

Layout:

    <root>/data/c*/part-*.parquet           immutable block files, one
                                            fresh directory per writer
                                            (``stage``)
    <root>/_manifests/m<version>.json       {"version", "files"
                                            (root-relative), "schema",
                                            "dvs", "blocks"}

The ``_manifests/`` listing is the head: the committed versions are
its ``m<version>.json`` files, the latest the highest.

``blocks`` maps each named file to its zone-map records (one per row
group: row count and per-column min / max / null count, the
``sources.index.footer_records`` format), as Iceberg's data-file
``lower_bounds`` / ``upper_bounds`` / ``record_count`` and Delta's
``add.stats`` do. A commit reads the footer of a file only when its
base snapshot does not already record it, so each footer is read once,
when a commit first names its file. The zone-map index of a version
(``MicroBlockIndex.for_version``), the DML triage and the compaction
debt read these records, not the files.

Concurrency story: an operation reads one ``Snapshot`` (one listing
and one manifest, parsed once), stages its new files in a directory of
its own and commits version ``base.version + 1``: it writes the whole
manifest to a temp file (a name no version matches) and hard-links it
to ``m<version>.json``. The link is put-if-absent, as Delta's create of
``_delta_log/N.json`` is, so commit order is version order; when
another writer committed first, the link fails and ``CommitConflict``
publishes nothing. There is no rebase: the loser re-runs.

Crash story: a crash before the link leaves staged files and maybe a
temp manifest that no version names — invisible to readers, reclaimed
by ``vacuum``. Readers resolve listing → manifest → files.

``vacuum`` is reference-counted: a block file created by commit 3 may
be referenced by manifests 3..9, so files are deleted only when NO
surviving manifest names them — the part directory-granular retention
cannot express.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import time
from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterable

from columnar_database_project_spark.sources.index import footer_records

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession


def read_with_schema(
    spark: "SparkSession", files: list[str], schema_json: str
) -> "DataFrame":
    """Read block files as the manifest schema says: the schema is
    passed to the reader, so no inference job runs, a column no file
    has yet (metadata-only ``add_column``) reads as typed NULL, and
    column order follows the manifest. This is the one read path every
    consumer of a manifest's files must use: a raw
    ``spark.read.parquet`` on pre-evolution blocks would miss added
    columns."""
    from pyspark.sql import types as T

    schema = T.StructType.fromJson(json.loads(schema_json))
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(*files)


def spark_file_name(path: str) -> str:
    """``_metadata.file_name`` of a block file as Spark reports it: the
    base name, percent-encoded as a ``java.net.URI`` path (ASCII
    characters outside the URI path set; non-ASCII is kept)."""
    from urllib.parse import quote

    return "".join(
        c if ord(c) > 127 else quote(c, safe="!$&'()*+,;=:@")
        for c in os.path.basename(path)
    )


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


class CommitConflict(RuntimeError):
    """A commit's base snapshot is no longer the head: another writer
    committed in between, and publishing would discard its version."""


@dataclass(frozen=True)
class Snapshot:
    """One committed version, parsed once. Every file key is an
    absolute path, as ``files`` lists it; read-only by convention.

    ``files``: block files in manifest order. ``dvs``: file → deleted
    row positions (``_metadata.row_index`` space), only for files that
    have any. ``blocks``: file → zone-map records."""

    version: int
    files: tuple[str, ...]
    schema_json: str
    dvs: dict[str, tuple[int, ...]]
    blocks: dict[str, list[dict]]

    @classmethod
    def _parse(cls, root: str, doc: dict) -> "Snapshot":
        at = lambda f: os.path.join(root, f)  # noqa: E731
        dvs = {at(f): tuple(p) for f, p in doc.get("dvs", {}).items()}
        blocks = {at(f): recs for f, recs in doc["blocks"].items()}
        return cls(
            doc["version"], tuple(map(at, doc["files"])), doc["schema"], dvs, blocks
        )

    def live_rows(self, files: Iterable[str]) -> int:
        """Rows of ``files`` that this snapshot serves: their recorded
        row counts minus their deletion vectors."""
        return sum(
            sum(g["rows"] for g in self.blocks[f]) - len(self.dvs.get(f, ()))
            for f in files
        )

    def read(
        self, spark: "SparkSession", files: list[str] | None = None
    ) -> "DataFrame":
        """Read ``files`` (default: all) with this snapshot's schema
        (``read_with_schema``) and its deletion vectors applied. This is
        the one read path for a version's rows: a rewrite that ignored
        pending DVs would resurrect logically-deleted rows.

        Only the DV'd files pay for the per-row ``_metadata`` columns;
        clean files scan untouched and union back, so a version without
        DVs costs nothing extra. Up to 4,096 positions in all, the DV is
        one SQL predicate on (``_metadata.file_name``,
        ``_metadata.row_index``), built in one JVM call whatever its size
        (Spark turns each IN list into a hash set). Above that it is a
        broadcast anti-join against the DV frame, which is bounded by
        construction: ``delete_where_mor`` refuses to grow a version's
        DVs past ``cow.MOR_DV_MAX_ROWS`` and falls back to CoW."""
        from columnar_database_project_spark.functions.broadcast_policy import (
            bounded_broadcast,
        )

        from pyspark.sql import functions as F

        files = list(self.files) if files is None else files
        dvs = self.dvs
        dv_files = [f for f in files if f in dvs]
        if not dv_files:
            return read_with_schema(spark, files, self.schema_json)
        raw = read_with_schema(spark, dv_files, self.schema_json)
        if sum(len(dvs[f]) for f in dv_files) <= 4096:
            hit = " OR ".join(
                f"(_metadata.file_name = {_sql_str(spark_file_name(f))} AND "
                f"_metadata.row_index IN ({','.join(map(str, dvs[f]))}))"
                for f in dv_files
            )
            tainted = raw.filter(F.expr(f"NOT ({hit})"))
        else:
            dv_df = spark.createDataFrame(
                [(spark_file_name(f), int(p)) for f in dv_files for p in dvs[f]],
                "_file string, _pos long",
            )
            tainted = (
                raw.withColumn("_file", F.col("_metadata.file_name"))
                .withColumn("_pos", F.col("_metadata.row_index"))
                .join(
                    bounded_broadcast(
                        dv_df,
                        1_048_576,
                        "DV frame ≤ MOR_DV_MAX_ROWS by delete_where_mor's "
                        "fallback-to-CoW guard",
                    ),
                    on=["_file", "_pos"],
                    how="left_anti",
                )
                .drop("_file", "_pos")
            )
        clean_files = [f for f in files if f not in dvs]
        if not clean_files:
            return tainted
        return read_with_schema(spark, clean_files, self.schema_json).unionByName(
            tainted
        )


# A committed version's manifest; temp manifests never match it.
MANIFEST = re.compile(r"m(\d{6,})\.json")


class ManifestStore:
    """Commit log over file-list manifests: the ``_manifests/`` listing
    is the head."""

    def __init__(self, root: str) -> None:
        self.root = root
        self._mdir = os.path.join(root, "_manifests")
        os.makedirs(self._mdir, exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # ------------------------------------------------------------ manifests
    def versions(self) -> list[int]:
        return sorted(
            int(m.group(1))
            for m in map(MANIFEST.fullmatch, os.listdir(self._mdir))
            if m
        )

    def latest(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._mdir, f"m{version:06d}.json")

    def _doc(self, version: int) -> dict:
        """The stored manifest of committed ``version``; ``ValueError``
        when there is none."""
        try:
            with open(self._manifest_path(version)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            raise ValueError(f"version {version!r} not committed") from None

    def _load(self, version: int) -> Snapshot:
        return Snapshot._parse(self.root, self._doc(version))

    def snapshot(self, version: int | None = None) -> Snapshot | None:
        """The committed ``version`` (default: the head) as a
        ``Snapshot``: one manifest read, after one listing for the
        head. ``None`` when the head is asked of an empty store."""
        if version is None:
            version = self.latest()
            if version is None:
                return None
        return self._load(version)

    def files_for(self, version: int | None = None) -> list[str]:
        """Absolute block-file paths of a committed version (default
        latest)."""
        snap = self.snapshot(version)
        if snap is None:
            raise ValueError("empty store")
        return list(snap.files)

    # -------------------------------------------------------------- writes
    def stage(self) -> str:
        """A fresh data directory, this writer's alone, for the files a
        commit will CREATE; invisible to readers until a commit names
        them. Its name starts with its creation time, so a later
        writer's files sort after an earlier one's, as block ids (file
        order) expect."""
        return tempfile.mkdtemp(
            prefix=f"c{time.time_ns():020d}-", dir=os.path.join(self.root, "data")
        )

    def _publish(self, doc: dict) -> Snapshot:
        """Commit ``doc`` as its version: the link of a fully written
        temp manifest to ``m<version>.json`` is the commit point, and
        fails when that exists (``CommitConflict``: nothing published)."""
        fd, tmp = tempfile.mkstemp(prefix=".m", suffix=".tmp", dir=self._mdir)
        with os.fdopen(fd, "w") as fh:
            json.dump(doc, fh)
        try:
            os.link(tmp, self._manifest_path(doc["version"]))
        except FileExistsError:
            os.unlink(tmp)
            raise CommitConflict(
                f"commit: v{doc['version']} was committed by another writer; "
                "nothing committed"
            ) from None
        os.unlink(tmp)
        return Snapshot._parse(self.root, doc)

    def commit(
        self,
        base: Snapshot | None,
        new_files: list[str],
        carried_files: Iterable[str],
        *,
        schema_json: str | None = None,
        dvs: dict | None = None,
    ) -> Snapshot:
        """Publish carried (root-relative or absolute under root) + new
        files as the version after ``base``, the snapshot the operation
        read (``None`` for an empty store: version 1); return the
        committed snapshot. ``CommitConflict`` if that version exists,
        i.e. the head is no longer ``base``.

        ``base`` supplies the schema (unless ``schema_json`` is given),
        the named files' zone-map records (a new file's footer is read)
        and, unless ``dvs`` is given, the deletion vectors of the files
        still named: a rewritten file drops its deleted rows, a carried
        one keeps its vector. ``dvs`` (the merge-on-read verbs): the
        version's full file → row positions; a DV for an unnamed file
        is an error."""
        if schema_json is None:
            if base is None:
                raise ValueError("commit: an empty store needs a schema")
            schema_json = base.schema_json
        rel = []
        for f in list(carried_files) + list(new_files):
            if os.path.isabs(f):
                f = os.path.relpath(f, self.root)
            if f.startswith(".."):
                raise ValueError(f"commit: file outside store root: {f!r}")
            rel.append(f)
        # Deletion vectors and Bloom sidecar bitmaps are keyed by file
        # BASENAME; two referenced files sharing a basename would
        # silently cross-wire DV positions / bloom bits between them.
        # Spark's UUID'd part names make collisions near-impossible —
        # this assert turns "near" into "loudly".
        by_base: dict[str, str] = {}
        for f in rel:
            b = os.path.basename(f)
            if b in by_base and by_base[b] != f:
                raise ValueError(
                    f"commit: basename collision {b!r} between "
                    f"{by_base[b]!r} and {f!r} — DV/bloom keying "
                    "requires unique basenames across the manifest"
                )
            by_base[b] = f
        # a path listed twice (e.g. carried and re-passed) is ONE file
        doc = {
            "version": base.version + 1 if base else 1,
            "files": sorted(set(rel)),
            "schema": schema_json,
        }
        rel_set = set(rel)
        if dvs is None:
            dvs = {
                f: p
                for f, p in (base.dvs.items() if base else ())
                if os.path.relpath(f, self.root) in rel_set
            }
        dv_doc = {}
        for f, positions in dvs.items():
            if os.path.isabs(f):
                f = os.path.relpath(f, self.root)
            if f not in rel_set:
                raise ValueError(f"commit: deletion vector for unreferenced file {f!r}")
            if positions:
                dv_doc[f] = sorted(int(p) for p in set(positions))
        if dv_doc:
            doc["dvs"] = dv_doc
        known = base.blocks if base else {}
        doc["blocks"] = {}
        for f in doc["files"]:
            path = os.path.join(self.root, f)
            doc["blocks"][f] = known[path] if path in known else footer_records(path)
        return self._publish(doc)

    # --------------------------------------------------------------- reads
    def read(self, spark: "SparkSession", version: int | None = None) -> "DataFrame":
        """The snapshot as a DataFrame (``Snapshot.read``). An
        all-rows-deleted version has an empty file list — served as an
        empty frame of the recorded schema, not an error.

        The files are read with the manifest schema
        (``read_with_schema``), so existing rows of an added
        column read NULL — the lakehouse-standard metadata-only
        evolution semantics (Delta/Iceberg ADD COLUMN). Deletion
        vectors (merge-on-read DELETE, ``cow.delete_where_mor``) are
        applied transparently — a logically-deleted row never
        surfaces."""
        snap = self.snapshot(version)
        if snap is None:
            raise ValueError("empty store")
        return snap.read(spark)

    # ------------------------------------------------------ schema evolution
    def add_column(self, name: str, ddl_type: str) -> dict:
        """Metadata-only ADD COLUMN: a new version with the SAME file
        list and deletion vectors and an extended schema — zero data
        IO, any table size.
        Existing rows read as NULL (see ``read``); later rewrites
        materialize the column in the blocks they touch. Adding an
        existing column is an error; the added column is nullable by
        construction."""
        from pyspark.sql import types as T

        snap = self.snapshot()
        if snap is None:
            raise ValueError("add_column: empty store")
        schema = T.StructType.fromJson(json.loads(snap.schema_json))
        if name in [f.name for f in schema.fields]:
            raise ValueError(f"add_column: column {name!r} already exists")
        parsed = T.StructType.fromDDL(f"`{name}` {ddl_type}")
        new_field = T.StructField(name, parsed.fields[0].dataType, True)
        new_schema = T.StructType(schema.fields + [new_field])
        done = self.commit(snap, [], snap.files, schema_json=new_schema.json())
        return {"version": done.version, "column": name, "type": ddl_type}

    # --------------------------------------------------------- observability
    def history(self) -> list[dict]:
        """DESCRIBE HISTORY: one record per committed version —
        file/DV/schema facts, all from manifests (no data IO). Newest
        last."""
        out = []
        prev_files: set[str] = set()
        for v in self.versions():
            snap = self._load(v)
            files = set(snap.files)
            out.append(
                {
                    "version": v,
                    "files": len(files),
                    "files_added": len(files - prev_files),
                    "files_removed": len(prev_files - files),
                    "dv_files": len(snap.dvs),
                    "dv_rows": sum(len(p) for p in snap.dvs.values()),
                    "columns": len(json.loads(snap.schema_json)["fields"]),
                }
            )
            prev_files = files
        return out

    # ----------------------------------------------------------- retention
    def rollback(self, version: int) -> Snapshot:
        """Delta ``RESTORE``: commit ``version``'s files, schema,
        deletion vectors and zone-map records, as stored, as the
        version after the head. No footer is read and no version
        is removed, so the versions in between still time-travel.
        ``ValueError`` if ``version`` is not committed."""
        return self._publish({**self._doc(version), "version": self.latest() + 1})

    def vacuum(self, keep_last: int = 1, dry_run: bool = False) -> dict:
        """Reference-counted retention: keep the last ``keep_last``
        committed versions, then delete (a) the manifests below them,
        oldest first, (b) temp manifests a crashed or failed commit
        left and (c) data files NO surviving manifest references (a
        commit dir left with none goes whole, sidecars included).
        Returns {"versions_removed", "files_removed"}; the temp
        manifests are listed as files. A version committed while it
        runs is above the kept window, so it survives; the files an
        in-flight writer has staged do not (one writer per table while
        vacuum runs).

        ``dry_run=True`` reports the same plan without touching
        manifests or files — the pre-flight every retention job at
        scale runs before an irreversible delete."""
        vs = self.versions()
        keep = vs[-keep_last:] if keep_last > 0 else []
        referenced: set[str] = set()
        for v in keep:
            referenced.update(
                os.path.relpath(f, self.root) for f in self._load(v).files
            )
        dropped = vs[: len(vs) - len(keep)]
        temps = [
            os.path.join("_manifests", f)
            for f in sorted(os.listdir(self._mdir))
            if not MANIFEST.fullmatch(f)
        ]
        files_removed: list[str] = []
        dirs_emptied: list[str] = []
        ddir = os.path.join(self.root, "data")
        for cdir in sorted(os.listdir(ddir)):
            if not os.path.isdir(os.path.join(ddir, cdir)):
                continue
            data = [
                os.path.join("data", cdir, f)
                for f in sorted(os.listdir(os.path.join(ddir, cdir)))
                if not (f.endswith(".crc") or f == "_SUCCESS")
            ]
            files_removed += [f for f in data if f not in referenced]
            if not referenced.intersection(data):
                dirs_emptied.append(cdir)
        report = {"versions_removed": dropped, "files_removed": temps + files_removed}
        if dry_run:
            return {**report, "dry_run": True}
        for v in dropped:
            os.unlink(self._manifest_path(v))
        for f in report["files_removed"]:
            os.unlink(os.path.join(self.root, f))
        for cdir in dirs_emptied:
            shutil.rmtree(os.path.join(ddir, cdir))
        return report
