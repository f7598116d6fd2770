"""Per-block Bloom-filter sidecars — point-lookup pruning where zone
maps are blind.

Zone maps (``sources/index.py``, the reference's thesis —
microblock_index.py:107-171) prune on VALUE RANGES, which is exactly
wrong for the other canonical access pattern: equality lookup on a
high-cardinality key over a hash-distributed layout. There every
block's [min, max] spans nearly the whole key domain, so
``WHERE doc_id = X`` predicts ALL blocks — yet X lives in exactly one.
A per-block Bloom filter answers "is X possibly in this block?" in
O(k) bit probes with a bounded false-positive rate and ZERO false
negatives, so it composes soundly with the three-valued zone-map
evaluation: candidate iff zone-map says MAYBE *and* bloom says MAYBE.
This is the same sidecar design Parquet itself standardized
(split-block bloom filters, parquet-format BloomFilter.md) and
Impala/Iceberg expose; we materialize it engine-side so the
cache/prefetch stack and ``engine.explain`` see it, exactly like the
zone-map index.

Scale shape: the BUILD is one distributed scan — each task hashes its
Arrow batches into per-(file, column) partial bitmaps (numpy OR — the
merge is associative/commutative), and only KB-sized bitmaps reach the
driver: ~1.2 MB per 1 000 blocks per column at the default 1 % FPR,
control-plane sized like the footer index. The LOOKUP is driver-side
O(k) per block — metadata time, before any data page is read.

Determinism: hashing is blake2b over a canonical byte encoding
(process- and session-independent — never Python ``hash()``, which is
salted per process). Double hashing (Kirsch–Mitzenmacher) derives the
k probe positions from two 64-bit halves of one digest, the standard
construction with the same asymptotic FPR as k independent hashes.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import json
import math
import os
from dataclasses import dataclass

import numpy as np

# Bloom parameters for target FPR p and capacity n:
#   m = -n ln p / (ln 2)^2  bits,  k = (m/n) ln 2  hashes.
DEFAULT_FPR = 0.01

# Columns are covered explicitly (build_bloom_index(cols=...)): blooms
# only ever help = / IN on selective keys, and a filter per (block ×
# column) for every column would waste sidecar space on columns that
# are range-filtered (dates, amounts) where zone maps already win.

_SIDECAR = "_blooms.npz"  # leading underscore: hidden to Spark's file listing
# Current _canon encoding revision (see BlockBloomIndex.encoding_version).
ENCODING_VERSION = 2
# Encodings introduced in v2: values a v1 build never inserted, so a
# v1 sidecar must answer MAYBE for them instead of "provably absent".
_V2_ONLY_ENCODINGS = frozenset({b"f:nan"})


def _canon(v) -> bytes | None:
    """Canonical byte encoding of a lookup/stored value — keyed by
    VALUE across every form SQL equality could coerce together, so a
    stored datetime matches the string literal the WHERE clause
    carries, and a DOUBLE 5.0 matches the int literal 5. The soundness
    rule: the bloom must say MAYBE whenever equality COULD hold under
    any engine's coercion — unifying coercible forms only adds
    collisions (false positives), never false negatives, which is the
    direction a pruning filter must err.

    Concretely: numerics encode by value (5 == 5.0 == "5" == "05");
    strings that parse as ISO timestamps encode like datetimes
    ('1998-03-31' matches the footer/parquet datetime); everything
    else is type-tagged. Returns None ONLY for NULL: SQL ``col = NULL``
    matches no row, so "absent" is the sound answer for it — and for
    nothing else. Float NaN gets its own encoding (Spark SQL treats
    NaN = NaN as TRUE, so "absent" would be a false negative), and the
    literal STRING 'nan' must NOT ride the float coercion into that
    bucket-of-None: it is a perfectly ordinary string value that can
    be stored and looked up.
    """
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return b"b:1" if v else b"b:0"
    if isinstance(v, (int, np.integer)):
        return b"i:%d" % int(v)
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return b"f:nan"
        if f.is_integer():
            return b"i:%d" % int(f)
        return b"f:" + repr(f).encode()
    if isinstance(v, str):
        try:
            return _canon(int(v))
        except ValueError:
            pass
        try:
            f = float(v)
            if not math.isnan(f):
                return _canon(f)
            # 'nan'/'NaN'/... parse as float NaN but are ordinary
            # strings — fall through to the s: encoding (a float-NaN
            # VALUE never equals the string, so no unification needed)
        except ValueError:
            pass
        try:
            return _canon(_dt.datetime.fromisoformat(v))
        except ValueError:
            pass
        return b"s:" + v.encode("utf-8")
    if isinstance(v, (bytes, bytearray)):
        return b"y:" + bytes(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return b"t:" + v.isoformat().encode()
    if isinstance(v, _dt.date):
        return b"t:" + _dt.datetime.combine(v, _dt.time()).isoformat().encode()
    return b"s:" + str(v).encode("utf-8")


def _hash2(data: bytes) -> tuple[int, int]:
    """Two independent 64-bit hashes from one blake2b digest."""
    d = hashlib.blake2b(data, digest_size=16).digest()
    return (
        int.from_bytes(d[:8], "little"),
        int.from_bytes(d[8:], "little") | 1,  # odd → full-period stepping
    )


def _params(capacity: int, fpr: float) -> tuple[int, int]:
    """(m bits, k hashes) for the target capacity/FPR; m is rounded up
    to a byte multiple."""
    m = max(64, int(math.ceil(-capacity * math.log(fpr) / (math.log(2) ** 2))))
    m = (m + 7) // 8 * 8
    k = max(1, round(m / capacity * math.log(2)))
    return m, k


def _set_bits(bitmap: np.ndarray, m: int, k: int, values) -> None:
    """Hash each canonicalizable value into the bitmap (in place)."""
    for v in values:
        enc = _canon(v)
        if enc is None:
            continue
        h1, h2 = _hash2(enc)
        for i in range(k):
            pos = (h1 + i * h2) % m
            bitmap[pos >> 3] |= 1 << (pos & 7)


def _test_bits(bitmap: np.ndarray, m: int, k: int, enc: bytes) -> bool:
    h1, h2 = _hash2(enc)
    for i in range(k):
        pos = (h1 + i * h2) % m
        if not (bitmap[pos >> 3] >> (pos & 7)) & 1:
            return False
    return True


@dataclass
class BlockBloomIndex:
    """Per-(block file × column) Bloom filters for a microblock table.

    ``bitmaps``: (file basename, column) → uint8 bitmap of ``m`` bits.
    Keyed by basename so a relocated table directory keeps its sidecar
    valid (block files are unique within a table directory).
    """

    m: int
    k: int
    fpr: float
    columns: list[str]
    bitmaps: dict[tuple[str, str], np.ndarray]
    # Encoding revision of _canon at build time. Version 2 (r8) added
    # the NaN encoding b"f:nan"; sidecars written before the field
    # existed load as version 1 and must answer MAYBE for encodings
    # their build never inserted — otherwise the false negative the
    # r8 fix removed silently persists for old sidecars.
    encoding_version: int = 2

    # ------------------------------------------------------------ lookup
    def covers(self, column: str) -> bool:
        return column in self.columns

    def might_contain(self, file_path: str, column: str, value) -> bool:
        """Three-valued membership: False = value provably absent from
        the block, True = maybe present (or the bloom cannot decide —
        uncovered column/file, unencodable value → sound MAYBE, except
        NULL, which ``=`` never matches)."""
        if column not in self.columns:
            return True
        bm = self.bitmaps.get((os.path.basename(file_path), column))
        if bm is None:
            return True  # file unknown to the sidecar (e.g. post-build append)
        enc = _canon(value)
        if enc is None:
            return False  # _canon is None ONLY for SQL NULL: `= NULL` matches no row
        if self.encoding_version < 2 and enc in _V2_ONLY_ENCODINGS:
            return True  # pre-v2 builds never inserted these bits
        return _test_bits(bm, self.m, self.k, enc)

    # ----------------------------------------------------------- persist
    def save(self, table_path: str) -> str:
        """Write the sidecar into the table directory. The leading
        underscore keeps it invisible to Spark's input listing (same
        convention as _SUCCESS / _metadata), and the index builder's
        globs only match ``*.parquet`` / ``part-*``."""
        out = os.path.join(table_path, _SIDECAR)
        keys = sorted(self.bitmaps)
        meta = {
            "m": self.m,
            "k": self.k,
            "fpr": self.fpr,
            "columns": self.columns,
            "keys": keys,
            "encoding_version": self.encoding_version,
        }
        arrays = {f"b{i}": self.bitmaps[key] for i, key in enumerate(keys)}
        np.savez_compressed(
            out, meta=np.frombuffer(json.dumps(meta).encode(), dtype=np.uint8),
            **arrays,
        )
        return out

    @classmethod
    def load(cls, table_path: str) -> "BlockBloomIndex":
        src = os.path.join(table_path, _SIDECAR)
        with np.load(src) as z:
            meta = json.loads(bytes(z["meta"]).decode())
            bitmaps = {
                tuple(key): z[f"b{i}"] for i, key in enumerate(meta["keys"])
            }
        return cls(
            m=meta["m"], k=meta["k"], fpr=meta["fpr"],
            columns=meta["columns"], bitmaps=bitmaps,
            # sidecars written before the field existed are version 1
            encoding_version=int(meta.get("encoding_version", 1)),
        )


def _build_bitmaps(
    spark, df, columns: list[str], m: int, k: int
) -> dict[tuple[str, str], "np.ndarray"]:
    """One distributed scan of ``df`` (which must carry ``_file``) →
    per-(file basename, column) OR-merged bitmaps."""
    from collections.abc import Iterator

    import pandas as pd

    cols = list(columns)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        partials: dict[tuple[str, str], np.ndarray] = {}
        for pdf in batches:
            for fname, grp in pdf.groupby("_file", sort=False):
                base = os.path.basename(str(fname))
                for c in cols:
                    bm = partials.get((base, c))
                    if bm is None:
                        bm = np.zeros(m // 8, dtype=np.uint8)
                        partials[(base, c)] = bm
                    _set_bits(bm, m, k, grp[c].tolist())
        yield pd.DataFrame(
            {
                "file": [f for f, _ in partials],
                "column": [c for _, c in partials],
                "bitmap": [bm.tobytes() for bm in partials.values()],
            }
        )

    rows = df.mapInPandas(
        kernel, schema="file string, column string, bitmap binary"
    ).collect()
    bitmaps: dict[tuple[str, str], np.ndarray] = {}
    for r in rows:
        key = (r["file"], r["column"])
        part = np.frombuffer(r["bitmap"], dtype=np.uint8)
        if key in bitmaps:
            bitmaps[key] = bitmaps[key] | part
        else:
            bitmaps[key] = part.copy()
    return bitmaps


def build_bloom_index(
    spark,
    table_path: str,
    columns: list[str],
    block_rows: int | None = None,
    fpr: float = DEFAULT_FPR,
) -> BlockBloomIndex:
    """Distributed Bloom build: one scan of ``columns``, per-task
    partial bitmaps, driver-side OR-merge.

    Each ``mapInPandas`` task hashes its Arrow batches into one partial
    bitmap per (file, column) it saw and emits ONLY the bitmaps
    (``m/8`` bytes each) — the OR-merge is associative and commutative,
    so partials from tasks that split one block file combine exactly
    like the reference's footer pass combines row groups. Nothing
    corpus-proportional ever reaches the driver.

    ``block_rows``: bloom capacity per block; defaults to the observed
    max rows per file (one cheap metadata-sized pre-agg) so the FPR
    target holds for the densest block.
    """
    from pyspark.sql import functions as F

    df = spark.read.parquet(table_path)
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"bloom columns not in table: {missing}")

    src = df.select(
        F.input_file_name().alias("_file"), *[F.col(c) for c in columns]
    )
    if block_rows is None:
        block_rows = int(
            src.groupBy("_file").count().agg(F.max("count")).first()[0] or 1
        )
    m, k = _params(block_rows, fpr)
    bitmaps = _build_bitmaps(spark, src, list(columns), m, k)
    return BlockBloomIndex(
        m=m, k=k, fpr=fpr, columns=list(columns), bitmaps=bitmaps
    )


def bloom_may_match(pred, blooms: BlockBloomIndex, file_path: str) -> bool:
    """Three-valued Bloom evaluation of a predicate tree against one
    block's filters — the point-lookup complement of
    ``Pred.may_match`` (zone maps), with identical soundness rules:
    False only when the block PROVABLY holds no matching row.

    Only ``=`` and ``IN`` are decidable by a bloom (membership);
    ranges, inequality and null tests stay MAYBE. ``AND`` narrows,
    ``OR`` widens, ``NOT`` is MAYBE (absence of evidence of x is not
    evidence a block is all-x)."""
    from columnar_database_project_spark.plans.predicate import (
        And,
        Cmp,
        InList,
        Not,
        Or,
    )

    if isinstance(pred, Cmp) and pred.op == "=":
        return blooms.might_contain(file_path, pred.col, pred.value)
    if isinstance(pred, InList):
        if not blooms.covers(pred.col):
            return True
        return any(
            blooms.might_contain(file_path, pred.col, v) for v in pred.values
        )
    if isinstance(pred, And):
        return bloom_may_match(pred.left, blooms, file_path) and bloom_may_match(
            pred.right, blooms, file_path
        )
    if isinstance(pred, Or):
        return bloom_may_match(pred.left, blooms, file_path) or bloom_may_match(
            pred.right, blooms, file_path
        )
    if isinstance(pred, Not):
        return True
    return True
