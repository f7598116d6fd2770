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
``add.stats`` do. A commit reads the footer of a file only when the
head manifest does not already record it, so each footer is read once,
when a commit first names its file. The zone-map index of a version
(``MicroBlockIndex.for_version``), the DML triage and the compaction
debt read these records, not the files.

Crash story: a crash mid-write leaves data files and possibly an
m*.json that the head log never names — invisible to readers,
reclaimed by ``vacuum``. Readers resolve head log → manifest → files;
never directory listings. Concurrent WRITERS are out of scope
(single-writer per table); a second commit of the same version fails
loudly instead of clobbering.

``vacuum`` is reference-counted: a block file created by commit 3 may
be referenced by manifests 3..9, so files are deleted only when NO
surviving manifest names them — the part directory-granular retention
cannot express.
"""

from __future__ import annotations

import glob
import json
import os
from typing import TYPE_CHECKING

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

    def _read_manifest(self, version: int) -> dict:
        if version not in self.versions():
            raise ValueError(f"version {version!r} not committed")
        with open(self._manifest_path(version)) as fh:
            return json.load(fh)

    def files_for(self, version: int | None = None) -> list[str]:
        """Absolute block-file paths of a committed version (default
        latest)."""
        v = self.latest() if version is None else version
        if v is None:
            raise ValueError("empty store")
        m = self._read_manifest(v)
        return [os.path.join(self.root, f) for f in m["files"]]

    def blocks_for(
        self, version: int | None = None
    ) -> list[tuple[str, list[dict]]]:
        """(absolute path, zone-map records) of each block file of a
        committed version (default latest), in file order."""
        v = self.latest() if version is None else version
        if v is None:
            raise ValueError("empty store")
        m = self._read_manifest(v)
        return [(os.path.join(self.root, f), m["blocks"][f]) for f in m["files"]]

    def schema_json(self, version: int | None = None) -> str:
        v = self.latest() if version is None else version
        return self._read_manifest(v)["schema"]

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
        version: int,
        new_files: list[str],
        carried_files: list[str],
        schema_json: str,
        meta: dict | None = None,
        dvs: dict | None = None,
    ) -> None:
        """Publish ``version`` = carried (root-relative or absolute
        under root) + new files. Manifest first, head-log swap second —
        a crash between the two leaves an unreferenced manifest, never
        a dangling head entry. ``meta`` is carried verbatim in the
        manifest (e.g. ``{"txn": {"batch_id": N}}`` for the streaming
        sink's exactly-once dedup). ``dvs``: deletion vectors — file →
        row positions logically deleted from that (still-referenced)
        file; a DV for a file the manifest doesn't name is an error.
        Every named file's zone-map records are copied from the head
        manifest, or read from its footer if the head does not name
        it."""
        vs = self.versions()
        if version in vs:
            raise ValueError(f"commit: v{version} already committed")
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
        if meta:
            doc["meta"] = meta
        if dvs:
            rel_set = set(rel)
            dv_doc = {}
            for f, positions in dvs.items():
                if os.path.isabs(f):
                    f = os.path.relpath(f, self.root)
                if f not in rel_set:
                    raise ValueError(
                        f"commit: deletion vector for unreferenced file {f!r}"
                    )
                if positions:
                    dv_doc[f] = sorted(int(p) for p in set(positions))
            if dv_doc:
                doc["dvs"] = dv_doc
        head = self._read_manifest(vs[-1])["blocks"] if vs else {}
        doc["blocks"] = {
            f: head[f] if f in head else footer_records(os.path.join(self.root, f))
            for f in doc["files"]
        }
        with open(self._manifest_path(version), "w") as fh:
            json.dump(doc, fh)
        self._write_head(vs + [version])

    def dvs_for(self, version: int | None = None) -> dict[str, list[int]]:
        """Deletion vectors of a version: file (root-relative) → sorted
        deleted row positions (``_metadata.row_index`` space). Empty
        dict when the version has none."""
        v = self.latest() if version is None else version
        return dict(self._read_manifest(v).get("dvs", {}))

    def meta_for(self, version: int) -> dict:
        return self._read_manifest(version).get("meta", {})

    def txn_batch_ids(self) -> set[int]:
        """Batch ids of every COMMITTED streaming-sink transaction —
        the replay-dedup set (a crashed write never committed, so its
        batch id is absent and the replay goes through). O(committed
        versions) driver-side manifest reads: control plane, and only
        versions that survive vacuum can dedup — vacuum past a
        still-replayable batch would double-append, so keep retention
        longer than the source's replay horizon (standard lakehouse
        sink contract)."""
        out: set[int] = set()
        for v in self.versions():
            bid = self.meta_for(v).get("txn", {}).get("batch_id")
            if bid is not None:
                out.add(int(bid))
        return out

    # --------------------------------------------------------------- reads
    def read(self, spark: "SparkSession", version: int | None = None) -> "DataFrame":
        """The snapshot as a DataFrame. An all-rows-deleted version has
        an empty file list — served as an empty frame of the recorded
        schema, not an error.

        The files are read with the manifest schema
        (``read_with_schema``), so existing rows of an added
        column read NULL — the lakehouse-standard metadata-only
        evolution semantics (Delta/Iceberg ADD COLUMN). Deletion
        vectors (merge-on-read DELETE, ``cow.delete_where_mor``) are
        applied transparently — a logically-deleted row never
        surfaces."""
        v = self.latest() if version is None else version
        if v is None:
            raise ValueError("empty store")
        return self.read_subset(spark, self.files_for(v), version=v)

    def read_subset(
        self,
        spark: "SparkSession",
        files: list[str],
        version: int | None = None,
    ) -> "DataFrame":
        """Read a SUBSET of a version's files with that version's schema
        (``read_with_schema``) and its deletion vectors applied (only
        the vectors covering these files). This is the one read path the
        CoW verbs use for touched blocks: a rewrite that ignored pending
        DVs would resurrect logically-deleted rows.

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

        m = self._read_manifest(self.latest() if version is None else version)
        schema_json, dvs = m["schema"], m.get("dvs", {})
        rel = {f: os.path.relpath(f, self.root) for f in files}
        dv_files = [f for f in files if dvs.get(rel[f])]
        if not dv_files:
            return read_with_schema(spark, files, schema_json)
        raw = read_with_schema(spark, dv_files, schema_json)
        if sum(len(dvs[rel[f]]) for f in dv_files) <= 4096:
            hit = " OR ".join(
                f"(_metadata.file_name = {_sql_str(spark_file_name(f))} AND "
                f"_metadata.row_index IN ({','.join(map(str, dvs[rel[f]]))}))"
                for f in dv_files
            )
            tainted = raw.filter(F.expr(f"NOT ({hit})"))
        else:
            dv_df = spark.createDataFrame(
                [(spark_file_name(f), int(p)) for f in dv_files for p in dvs[rel[f]]],
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
        clean_files = [f for f in files if not dvs.get(rel[f])]
        if not clean_files:
            return tainted
        return read_with_schema(spark, clean_files, schema_json).unionByName(tainted)

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

        v_cur = self.latest()
        if v_cur is None:
            raise ValueError("add_column: empty store")
        schema = T.StructType.fromJson(json.loads(self.schema_json(v_cur)))
        if name in [f.name for f in schema.fields]:
            raise ValueError(f"add_column: column {name!r} already exists")
        parsed = T.StructType.fromDDL(f"`{name}` {ddl_type}")
        new_field = T.StructField(name, parsed.fields[0].dataType, True)
        new_schema = T.StructType(schema.fields + [new_field])
        v, _stage = self.stage_next()
        self.commit(
            v, [], self.files_for(v_cur), new_schema.json(),
            dvs=self.dvs_for(v_cur),
        )
        return {"version": v, "column": name, "type": ddl_type}

    # --------------------------------------------------------- observability
    def history(self) -> list[dict]:
        """DESCRIBE HISTORY: one record per committed version —
        file/DV/schema facts plus txn meta, all from manifests (no
        data IO). Newest last."""
        import json as _json

        out = []
        prev_files: set[str] = set()
        for v in self.versions():
            m = self._read_manifest(v)
            files = set(m["files"])
            dvs = m.get("dvs", {})
            out.append(
                {
                    "version": v,
                    "files": len(files),
                    "files_added": len(files - prev_files),
                    "files_removed": len(prev_files - files),
                    "dv_files": len(dvs),
                    "dv_rows": sum(len(p) for p in dvs.values()),
                    "columns": len(_json.loads(m["schema"])["fields"]),
                    "txn_batch_id": m.get("meta", {})
                    .get("txn", {})
                    .get("batch_id"),
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
        manifest references. Returns {"versions_removed",
        "files_removed"}.

        ``dry_run=True`` reports what WOULD be removed without touching
        head log, manifests or files — the pre-flight every retention
        job at scale runs before an irreversible delete."""
        vs = self.versions()
        keep = vs[-keep_last:] if keep_last > 0 else []
        referenced: set[str] = set()
        for v in keep:
            referenced.update(self._read_manifest(v)["files"])
        if dry_run:
            versions_removed = [v for v in vs if v not in keep]
            mdir = os.path.join(self.root, "_manifests")
            for f in sorted(os.listdir(mdir)):
                if f.startswith("m") and f[1:7].isdigit():
                    v = int(f[1:7])
                    if v not in keep and v not in versions_removed:
                        versions_removed.append(v)
            files_removed = []
            ddir = os.path.join(self.root, "data")
            for cdir in sorted(os.listdir(ddir)):
                cpath = os.path.join(ddir, cdir)
                if not os.path.isdir(cpath):
                    continue
                for f in sorted(os.listdir(cpath)):
                    if f.endswith(".crc") or f == "_SUCCESS":
                        continue
                    rel = os.path.join("data", cdir, f)
                    if rel not in referenced:
                        files_removed.append(rel)
            return {
                "versions_removed": sorted(versions_removed),
                "files_removed": files_removed,
                "dry_run": True,
            }
        self._write_head(keep)
        versions_removed = []
        mdir = os.path.join(self.root, "_manifests")
        for f in sorted(os.listdir(mdir)):
            if f.startswith("m") and f[1:7].isdigit():
                v = int(f[1:7])
                if v not in keep:
                    os.unlink(os.path.join(mdir, f))
                    versions_removed.append(v)
        files_removed = []
        ddir = os.path.join(self.root, "data")
        for cdir in sorted(os.listdir(ddir)):
            cpath = os.path.join(ddir, cdir)
            if not os.path.isdir(cpath):
                continue
            kept_data = 0
            for f in sorted(os.listdir(cpath)):
                if f.endswith(".crc") or f == "_SUCCESS":
                    continue  # sidecars live and die with their dir
                rel = os.path.join("data", cdir, f)
                if rel in referenced:
                    kept_data += 1
                else:
                    os.unlink(os.path.join(cpath, f))
                    files_removed.append(rel)
            if kept_data == 0:
                import shutil

                shutil.rmtree(cpath)
        return {
            "versions_removed": versions_removed,
            "files_removed": files_removed,
        }
