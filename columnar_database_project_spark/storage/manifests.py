"""ManifestStore — file-granular snapshots: a version IS a file list.

Versioning whole DIRECTORIES would make every DML op rewrite the
entire table, even a DELETE that touches one block: correct, but it
scales with TABLE size, not CHANGE size — at 100 TB a selective delete
must not move 100 TB. This store records
each version as a MANIFEST (an explicit list of immutable block
files), so a copy-on-write op writes only the blocks it changes and
carries every untouched block BY REFERENCE into the next manifest —
zero IO for the unchanged 99%. This is the core Iceberg/Delta design
(snapshot = manifest of data files; commit = atomic pointer swap),
scaled down to a single JSON per version.

Layout:

    <root>/data/c<version>/part-*.parquet   immutable block files,
                                            grouped by the commit that
                                            created them
    <root>/_manifests/m<version>.json       {"version", "files"
                                            (root-relative), "schema",
                                            "blocks"}
    <root>/_manifest.json                   {"versions": [...]} head
                                            log, atomic os.replace swap

``blocks`` maps each named file to its zone-map records (one per row
group: row count and per-column min / max / null count, the
``sources.index.footer_records`` format), as Iceberg's data-file
``lower_bounds`` / ``upper_bounds`` / ``record_count`` and Delta's
``add.stats`` do. A commit reads the footer of a file only when its
base snapshot does not already record it, so each footer is read once,
when a commit first names its file. The zone-map index of a version
(``MicroBlockIndex.for_version``), the DML triage and the compaction
debt read these records, not the files.

An operation reads one ``Snapshot`` (``snapshot()``: the head log and
one manifest, parsed once) and commits against it. Concurrency story:
a commit whose base is no longer the head fails (``CommitConflict``),
as does a second commit of one version number. The check catches a
commit that landed before it ran; it is not atomic with the head swap,
so two commits whose check→swap windows overlap can still race.

Crash story: a crash mid-write leaves data files and possibly an
m*.json that the head log never names — invisible to readers,
reclaimed by ``vacuum``. Readers resolve head log → manifest → files;
never directory listings.

``vacuum`` is reference-counted: a block file created by commit 3 may
be referenced by manifests 3..9, so files are deleted only when NO
surviving manifest names them — the part directory-granular retention
cannot express.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
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


def list_block_files(path: str) -> list[str]:
    """The data files of one Spark-written directory (sorted; crc /
    _SUCCESS / hidden sidecars excluded)."""
    out = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not out:
        out = sorted(
            p
            for p in glob.glob(os.path.join(path, "part-*"))
            if not p.endswith((".crc", "_SUCCESS"))
        )
    return out


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


class ManifestStore:
    """Commit log over file-list manifests."""

    HEAD = "_manifest.json"

    def __init__(self, root: str) -> None:
        self.root = root
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # ------------------------------------------------------------- head log
    def _head_path(self) -> str:
        return os.path.join(self.root, self.HEAD)

    def versions(self) -> list[int]:
        try:
            with open(self._head_path()) as fh:
                return sorted(json.load(fh)["versions"])
        except (OSError, ValueError, KeyError):
            return []

    def latest(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _write_head(self, versions: list[int]) -> None:
        tmp = self._head_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"versions": sorted(versions)}, fh)
        os.replace(tmp, self._head_path())

    # ------------------------------------------------------------ manifests
    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, "_manifests", f"m{version:06d}.json")

    def _load(self, version: int) -> Snapshot:
        with open(self._manifest_path(version)) as fh:
            return Snapshot._parse(self.root, json.load(fh))

    def snapshot(self, version: int | None = None) -> Snapshot | None:
        """The committed ``version`` (default: the head) as a
        ``Snapshot``: one head-log read and one manifest read. ``None``
        when the head is asked of an empty store."""
        vs = self.versions()
        if version is None:
            if not vs:
                return None
            version = vs[-1]
        elif version not in vs:
            raise ValueError(f"version {version!r} not committed")
        return self._load(version)

    def files_for(self, version: int | None = None) -> list[str]:
        """Absolute block-file paths of a committed version (default
        latest)."""
        snap = self.snapshot(version)
        if snap is None:
            raise ValueError("empty store")
        return list(snap.files)

    # -------------------------------------------------------------- writes
    def stage_next(self) -> tuple[int, str]:
        """(version, data dir) for the files a new commit will CREATE.
        Carried-over files are named in the manifest, not copied.
        The dir is NOT yet committed — invisible to readers until
        ``commit``. Numbering continues past rollbacks, so a new write
        never lands in a dir a rolled-back version still names."""
        staged = [
            int(d[1:])
            for d in os.listdir(os.path.join(self.root, "data"))
            if d.startswith("c") and d[1:].isdigit()
        ]
        logged = [
            int(f[1:7])
            for f in os.listdir(os.path.join(self.root, "_manifests"))
            if f.startswith("m") and f[1:7].isdigit()
        ]
        v = max(staged + logged, default=0) + 1
        return v, os.path.join(self.root, "data", f"c{v:06d}")

    def commit(
        self,
        base: Snapshot | None,
        version: int,
        new_files: list[str],
        carried_files: Iterable[str],
        *,
        schema_json: str | None = None,
        dvs: dict | None = None,
    ) -> Snapshot:
        """Publish ``version`` = carried (root-relative or absolute
        under root) + new files on top of ``base``, the snapshot the
        operation read (``None`` for an empty store); return the
        committed snapshot. ``CommitConflict`` if the head is no longer
        ``base``. Manifest first, head-log swap second — a crash
        between the two leaves an unreferenced manifest, never a
        dangling head entry.

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
            "version": version,
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
        # base check after the footer reads: next to the head swap
        vs = self.versions()
        if version in vs:
            raise ValueError(f"commit: v{version} already committed")
        head = vs[-1] if vs else None
        if head != (base.version if base else None):
            raise CommitConflict(
                f"commit: v{version} read v{base.version if base else None} "
                f"but the head is v{head}; nothing committed"
            )
        with open(self._manifest_path(version), "w") as fh:
            json.dump(doc, fh)
        self._write_head(vs + [version])
        return Snapshot._parse(self.root, doc)

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
        v, _stage = self.stage_next()
        self.commit(snap, v, [], snap.files, schema_json=new_schema.json())
        return {"version": v, "column": name, "type": ddl_type}

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
    def rollback(self, version: int) -> None:
        vs = self.versions()
        if version not in vs:
            raise ValueError(f"rollback: v{version} is not committed")
        self._write_head([v for v in vs if v <= version])

    def vacuum(self, keep_last: int = 1, dry_run: bool = False) -> dict:
        """Reference-counted retention: keep the last ``keep_last``
        committed versions, then delete (a) manifests of dropped or
        never-committed versions and (b) data files NO surviving
        manifest references (a commit dir left with none goes whole,
        sidecars included). Returns {"versions_removed",
        "files_removed"}.

        ``dry_run=True`` reports the same plan without touching head
        log, manifests or files — the pre-flight every retention job at
        scale runs before an irreversible delete."""
        vs = self.versions()
        keep = vs[-keep_last:] if keep_last > 0 else []
        referenced: set[str] = set()
        for v in keep:
            referenced.update(
                os.path.relpath(f, self.root) for f in self._load(v).files
            )
        mdir = os.path.join(self.root, "_manifests")
        stale = [
            f
            for f in sorted(os.listdir(mdir))
            if f.startswith("m") and f[1:7].isdigit() and int(f[1:7]) not in keep
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
        report = {
            "versions_removed": [int(f[1:7]) for f in stale],
            "files_removed": files_removed,
        }
        if dry_run:
            return {**report, "dry_run": True}
        self._write_head(keep)
        for f in stale:
            os.unlink(os.path.join(mdir, f))
        for f in files_removed:
            os.unlink(os.path.join(self.root, f))
        for cdir in dirs_emptied:
            shutil.rmtree(os.path.join(ddir, cdir))
        return report
