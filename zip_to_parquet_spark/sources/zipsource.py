"""Archive member source (zip and tar) — the reference's core capability,
Spark-first.

Reference semantics re-expressed (SURVEY.md §2 A1/A2/A3, B1/B2, F1/F2):

- one zip archive → one unit of work (the reference spawns one thread per
  archive, builder.rs:54-73); whole archives are packed into size-balanced
  read partitions the way Spark's own file sources pack small files, so a
  1000-executor cluster still fans out over a large corpus while a small
  one is not paid for task by task;
- one compressed member → one output row of the fixed 4-column schema
  (name, source, body, hash), /root/reference/src/builder.rs:256-274;
- member-name glob filter applied inside the scan before materializing the
  row (builder.rs:180-183) — and, per the SURVEY §2.B bug note, *no glob
  means keep every member* (the intended semantics; the reference's work
  pass emits zero rows without -g, an acknowledged regression there);
- ``--no-body/--no-source/--no-hash`` null the column values, never drop
  columns (builder.rs:185-217); ``body=False, sha=False`` together skip
  decompression entirely — the hand-rolled projection pushdown
  (builder.rs:185-186) becomes a source option here;
- hash is standard 64-char lowercase SHA-256 hex (deliberate divergence from
  the reference's unpadded/Debug-quoted encoding, builder.rs:196-209 —
  SURVEY §2 F1).

Implementation: a PySpark 4 Python Data Source yielding Arrow RecordBatches.
The archive bytes are read directly by the Python worker that owns the
partition (no JVM→Python re-shipping of archive bytes). On a real cluster
the archive paths must be on shared storage visible to executors (the same
contract as any file-based source); ship this package via ``--py-files`` so
workers can unpickle the reader.

Scale notes: members are decompressed one at a time and flushed in bounded
Arrow batches, so peak memory per task ≈ one decompressed member + one batch
(mirrors the reference's bounded-channel posture, builder.rs:53,188-190);
a packed partition reads its archives one after another, each with its own
buffers, so the bound holds per archive. Many-archive inputs pack whole
archives, in path order, by ``FilePartition.maxSplitBytes``' rule: each
archive costs its size plus ``spark.sql.files.openCostInBytes``, and the
target is that total over ``defaultParallelism``, clamped between the open
cost and ``spark.sql.files.maxPartitionBytes``. Many small archives thus
pack into about ``defaultParallelism`` tasks, and a large corpus into
partitions of at most ``maxPartitionBytes`` of compressed input. Path
order keeps rows in the same order as one partition per archive. A task
costs a Python worker round trip before it reads a byte, so on small
inputs the task count, not the member work, sets the scan time. A JUMBO
archive (more than ``split_members`` central-directory entries) splits
into member-index-range partitions that are never packed — the central
directory is random-access, so each task opens the file independently and
reads only its slice, bounding per-task time by the range size instead of
the largest archive. The member count comes from the end-of-central-
directory record alone (the last 98 bytes, or the 64 KiB comment window
when the record is not among them; no CD parse), gated on file size so
small archives cost the driver nothing beyond the stat it already does.
The same tail read, one per archive, is all ``count_members`` reads when
no member glob is given: a million small archives cost the driver about
100 MB of reads and start no Spark job. Every zip read checks that the
central directory holds as many entries as its end record's total, so
the count equals the rows read for every zip the reader accepts; a zip
damaged inside a central-directory entry is counted by that total and
fails (or is skipped) when it is read.

Tar archives (paths ending ``.tar``, ``.tar.gz``/``.tgz``, ``.tar.bz2``/
``.tbz2``, ``.tar.xz``/``.txz``; every other path is read as a zip) go
through the same reader with a different member iterator. Tar has no
central directory — it is a sequence of 512-byte header blocks, usually
inside one compressed stream — so an archive is read in ONE sequential pass
(``tarfile`` stream mode) that yields regular files only, in stream order,
and then reads the stream to its end: a cut or damaged archive raises (the
decompressors' checksums, a zero end-of-archive block followed only by NUL
padding) instead of yielding fewer rows. Plain tar checksums only its header
blocks, so a damaged byte in a plain tar's member data (or pax header data)
reads through unnoticed.
There are no member ranges: a tar is always one slice, packed like any
small zip. Name filters still run before a member's body is read, but a
compressed tar must inflate the skipped bytes to advance. Glob, null flags,
hashing, ``strict_hash``, ``on_error`` and the one-member-plus-one-batch
memory bound are the zip path's.

The same reader serves one other column set, the central-directory probe
``name, source, crc32 long, size long, csize long``, given as the user
schema (any other user schema is a ValueError). Its rows come from each
member's central-directory entry, so no member is decompressed; packing,
jumbo ranges, pushdown, ``on_error`` and the entry-count check are the
member rows'. A tar has no central directory: under the probe it is a
ZipFormatError.

Divergences by design (SURVEY §2 H): empty input glob raises at plan time
(the reference silently writes an empty file — its NoInputsFound error is
dead code); invalid member glob raises ValueError at plan time (the
reference panics mid-job).
"""

from __future__ import annotations

import bz2
import glob as _pyglob
import gzip
import hashlib
import json
import lzma
import os
import re
import struct
import tarfile
import zipfile
import zlib
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    In,
    InputPartition,
    IsNotNull,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)

from zip_to_parquet_spark.functions.globs import glob_to_regex

__all__ = ["read_zip_members", "count_members", "ZipMembersDataSource", "ZipFormatError"]

# zipfile's native codecs, plus zstd (method 93 — modern zips; the
# reference's zip crate decodes it by default, /root/reference/Cargo.toml:13).
# Python's zipfile can't decode 93, so those members go through a manual
# raw-stream + pyarrow-zstd path (_read_zstd_member). Anything else raises
# a typed error.
_ZSTD_METHOD = 93
_SUPPORTED_METHODS = {
    zipfile.ZIP_STORED,
    zipfile.ZIP_DEFLATED,
    zipfile.ZIP_BZIP2,
    zipfile.ZIP_LZMA,
}
# General-purpose flag bits this engine cannot read past: encrypted (0),
# compressed patched data (5), strong encryption (6).
_UNREADABLE_FLAGS = 0x1 | 0x20 | 0x40


# The two column sets the reader serves: the reference's member rows (the
# default) and the central-directory probe; each column's Arrow type.
_MEMBER_COLUMNS = ("name", "source", "body", "hash")
_PROBE_COLUMNS = ("name", "source", "crc32", "size", "csize")
_PROBE_SCHEMA = "name string, source string, crc32 long, size long, csize long"
_ARROW_TYPES = {"name": "string", "source": "string", "body": "binary", "hash": "string",
                "crc32": "int64", "size": "int64", "csize": "int64"}

# A read batch is flushed at batch_rows rows or once its member bodies
# reach this many bytes, whichever comes first.
_BATCH_BYTES = 32 << 20

# The stream reader drops an archive whose mtime is more than this many
# seconds behind the newest archive it has listed.
_STREAM_LATENESS_S = 300.0


class ZipFormatError(ValueError):
    """A member uses a compression method or a feature (encryption, patched
    data) this engine cannot decode."""


def _strict_hash_hex(digest: bytes) -> str:
    """The reference's exact hash encoding (builder.rs:196-209): each digest
    byte rendered with Rust's unpadded ``{:x}`` (so 0x0e → "e", dropping
    leading zeros) and the joined string wrapped in Debug quotes by
    ``format!("{:x?}", hash)``. Lossy and non-standard — our default column
    is plain 64-char lowercase hex (the documented divergence, SURVEY §2
    F1) — but ``strict_hash=True`` reproduces it bit-for-bit so parity with
    reference output files is checkable."""
    return '"' + "".join(format(b, "x") for b in digest) + '"'


def _read_zstd_member(fh, info: zipfile.ZipInfo, path: str) -> bytes:
    """Decode a zstd (method 93) member zipfile can't: seek to the member's
    local header, read ``compress_size`` raw bytes, decompress with
    pyarrow's zstd codec, and CRC-check like zipfile would. CRC/format
    failures raise BadZipFile so ``on_error='skip'`` treats them exactly
    like any other corrupt-archive error."""
    import pyarrow as pa

    if not pa.Codec.is_available("zstd"):  # pragma: no cover - env guard
        raise ZipFormatError(
            f"member {info.filename!r} in {path} is zstd-compressed but "
            "pyarrow lacks zstd support in this environment"
        )
    fh.seek(info.header_offset)
    header = fh.read(30)
    if len(header) != 30 or header[:4] != b"PK\x03\x04":
        raise zipfile.BadZipFile(
            f"bad local file header for member {info.filename!r} in {path}"
        )
    fnlen, extralen = struct.unpack("<HH", header[26:30])
    fh.seek(info.header_offset + 30 + fnlen + extralen)
    raw = fh.read(info.compress_size)
    if len(raw) != info.compress_size:
        raise zipfile.BadZipFile(
            f"truncated zstd member {info.filename!r} in {path}"
        )
    try:
        data = pa.input_stream(pa.py_buffer(raw), compression="zstd").read()
    except (pa.lib.ArrowInvalid, OSError) as exc:
        raise zipfile.BadZipFile(
            f"zstd decode failed for member {info.filename!r} in {path}: {exc}"
        ) from exc
    if zlib.crc32(data) & 0xFFFFFFFF != info.CRC:
        raise zipfile.BadZipFile(
            f"CRC mismatch for zstd member {info.filename!r} in {path}"
        )
    return data


def _member_bytes(fh, zf: zipfile.ZipFile, info: zipfile.ZipInfo, path: str) -> bytes:
    """One member's decoded bytes: zstd through _read_zstd_member, the
    native codecs through zipfile, anything else a ZipFormatError. ``fh`` is
    the file object ``zf`` reads from. A member flagged encrypted (flag bit
    0), patched (bit 5) or strongly encrypted (bit 6) is a ZipFormatError
    too, not zipfile's RuntimeError or NotImplementedError."""
    if info.flag_bits & _UNREADABLE_FLAGS:
        raise ZipFormatError(
            f"member {info.filename!r} in {path} is encrypted or patched "
            f"(flag bits {info.flag_bits:#06x})"
        )
    if info.compress_type == _ZSTD_METHOD:
        return _read_zstd_member(fh, info, path)
    if info.compress_type not in _SUPPORTED_METHODS:
        raise ZipFormatError(
            f"unsupported zip compression (method {info.compress_type}) "
            f"for member {info.filename!r} in {path}"
        )
    return zf.read(info)


# Minimum possible central-directory entry: 46-byte fixed header + a
# nonempty filename. Lets partitions() skip the EOCD tail read entirely
# for any archive too small to exceed the split threshold, and bounds how
# many entries a classic end record's 16-bit total can stand for.
_MIN_CD_ENTRY = 46

# The end-of-central-directory records, as zipfile reads them: the classic
# EOCD (22 bytes, then a comment of up to 64 KiB), and before it the ZIP64
# locator (20 bytes) and the ZIP64 EOCD (56 bytes, no extensible data).
_EOCD = struct.Struct("<4s4H2LH")
_EOCD64_LOCATOR = struct.Struct("<4sLQL")
_EOCD64 = struct.Struct("<4sQ2H2L4Q")
_EOCD64_SPAN = _EOCD64_LOCATOR.size + _EOCD64.size


def _eocd_member_count(path: str) -> int | None:
    """The member total an archive's end-of-central-directory record vouches
    for, or None when it vouches for none: no record, a non-zero disk field,
    a directory whose offset and size do not fit before the record, or a
    classic 16-bit total that may have wrapped: a directory of at least
    ``(total + 0x10000) * 46`` bytes may hold ``total + k * 0x10000``
    entries from a writer without ZIP64.

    Reads the tail the way zipfile's ``_EndRecData`` does: the last 98
    bytes (the classic record and the ZIP64 records before it), and the
    64 KiB comment window only when the signature is not among them. Never
    parses the central directory, so a million-member archive costs one
    bounded tail read."""
    with open(path, "rb") as fh:
        size = fh.seek(0, os.SEEK_END)
        base = max(size - _EOCD.size - _EOCD64_SPAN, 0)
        fh.seek(base)
        buf = fh.read()
        last = buf[-_EOCD.size:]
        if len(last) == _EOCD.size and last[:4] == b"PK\x05\x06" and last[-2:] == b"\0\0":
            i = len(buf) - _EOCD.size  # zipfile's no-comment fast path
        else:
            i = buf.rfind(b"PK\x05\x06")
            if i < 0:
                base = max(size - (1 << 16) - _EOCD.size, 0)
                fh.seek(base)
                buf = fh.read()
                i = buf.rfind(b"PK\x05\x06")
            if i < 0 or i + _EOCD.size > len(buf):
                return None
        at = base + i
        if base > max(at - _EOCD64_SPAN, 0):  # a comment pushed the ZIP64 records out
            base = max(at - _EOCD64_SPAN, 0)
            fh.seek(base)
            buf = fh.read(size - base)
            i = at - base
    _, disk, disk_cd, _, total, size_cd, offset_cd, _ = _EOCD.unpack_from(buf, i)
    zip64 = False
    if i >= _EOCD64_LOCATOR.size:
        sig, z_disk, _, n_disks = _EOCD64_LOCATOR.unpack_from(buf, i - _EOCD64_LOCATOR.size)
        if sig == b"PK\x06\x07":
            if z_disk or n_disks > 1 or i < _EOCD64_SPAN:
                return None  # zipfile raises on these
            rec = _EOCD64.unpack_from(buf, i - _EOCD64_SPAN)
            if rec[0] == b"PK\x06\x06":
                zip64 = True
                disk, disk_cd, _, total, size_cd, offset_cd = rec[4:]
    if disk or disk_cd:
        return None
    # zipfile's "concat": bytes prepended to the archive (a stub), never < 0.
    if at - size_cd - offset_cd - (_EOCD64_SPAN if zip64 else 0) < 0:
        return None
    if not zip64 and size_cd >= (total + 0x10000) * _MIN_CD_ENTRY:
        return None
    return total


class _ZipSlice(NamedTuple):
    path: str
    # Half-open member-index range [start, end) into the central
    # directory's infolist order; end=None means "to the last member".
    # (0, None) — the default — is the whole archive.
    start: int = 0
    end: int | None = None


@dataclass
class _ZipPartition(InputPartition):
    # The archive slices one task reads, in order: several whole small
    # archives packed together, or one member range of a jumbo archive.
    slices: list[_ZipSlice]


# Suffixes read as tar, each with its decompressor (None: plain tar); every
# other path is read as a zip — the per-file format pick of Hadoop's
# suffix-keyed codec lookup.
_TAR_CODECS = {".tar": None, ".tar.gz": gzip.open, ".tgz": gzip.open,
               ".tar.bz2": bz2.open, ".tbz2": bz2.open,
               ".tar.xz": lzma.open, ".txz": lzma.open}


def _is_tar(path: str) -> bool:
    return path.lower().endswith(tuple(_TAR_CODECS))


def _zip_members(fh, sl: _ZipSlice):
    """``(name, read, info)`` per member of a zip slice, in central-directory
    order: ``read()`` returns the decoded bytes, ``None`` marks a directory
    entry (kept as a row with an empty body); ``info`` is the ZipInfo.

    zipfile walks the central directory by its byte size and never counts
    the entries, so a damaged comment-length field hides the entries after
    it. The walk must find the total the end record vouches for."""
    try:
        zf = zipfile.ZipFile(fh)
    except NotImplementedError as exc:  # an entry's "version needed" above 6.3
        raise ZipFormatError(f"{sl.path}: {exc}") from exc
    with zf:
        infos = zf.infolist()
        total = _eocd_member_count(sl.path)
        if total is not None and total != len(infos):
            raise zipfile.BadZipFile(
                f"central directory of {sl.path} lists {len(infos)} entries, "
                f"its end record {total}"
            )
        if sl.start or sl.end is not None:
            infos = infos[sl.start : sl.end]
        for info in infos:
            yield info.filename, (
                None if info.is_dir() else lambda i=info: _member_bytes(fh, zf, i, sl.path)
            ), info


def _tar_members(fh, sl: _ZipSlice):
    """``(name, read, info)`` per regular-file member of a tar, in stream
    order: one sequential pass, so ``read`` is valid only until the next
    member; ``info`` is the TarInfo.

    The stream is read to its end, so a damaged archive raises instead of
    ending early. The gzip, bz2 and xz readers check their own checksums
    at EOF, which tarfile's stream mode never reaches. tarfile ends its
    iteration quietly at a cut or damaged header (past the first member);
    only a full zero block may end it, and only NUL padding may follow."""
    path = sl.path.lower()
    codec = next(c for suf, c in _TAR_CODECS.items() if path.endswith(suf))
    ending = [b""]

    class Info(tarfile.TarInfo):
        @classmethod
        def frombuf(cls, buf, encoding, errors):
            ending[0] = buf
            return super().frombuf(buf, encoding, errors)

    raw = codec(fh) if codec else fh
    with tarfile.open(fileobj=raw, mode="r|", tarinfo=Info) as tf:
        for m in tf:
            if m.isfile():
                # tarfile keeps name bytes that are not UTF-8 as surrogates,
                # which Arrow cannot store: raise here, under on_error.
                m.name.encode()
                yield m.name, lambda m=m: tf.extractfile(m).read(), m
        if ending[0] != tarfile.NUL * tarfile.BLOCKSIZE:
            raise tarfile.ReadError(f"tar ends without a zero block at {tf.offset}")
        while chunk := tf.fileobj.read(1 << 16):
            if chunk.strip(tarfile.NUL):
                raise tarfile.ReadError("data after the tar end-of-archive block")


def _pack(sized: list[tuple[list[_ZipSlice], int]], max_bytes: int,
          open_cost: int, min_partitions: int) -> list[_ZipPartition]:
    """Bin-pack archives into read partitions by Spark's file-split rule
    (``FilePartition.maxSplitBytes`` / ``getFilePartitions``): the target
    is ``min(max_bytes, max(open_cost, Σ(size + open_cost) / min_partitions))``
    and a partition closes when the next archive would push it past that.
    Unlike Spark's next-fit-decreasing, archives keep their input order,
    so rows come out in the same order as one partition per archive.
    ``sized`` pairs each archive's slices with its file size; an archive
    split into several member ranges keeps one partition per range (the
    split exists to spread work, so packing never merges it)."""
    total = sum(size + open_cost for _, size in sized)
    target = min(max_bytes, max(open_cost, total // min_partitions))
    parts: list[_ZipPartition] = []
    bin_: list[_ZipSlice] = []
    filled = 0

    def close():
        nonlocal bin_, filled
        if bin_:
            parts.append(_ZipPartition(bin_))
        bin_, filled = [], 0

    for slices, size in sized:
        if len(slices) > 1:
            close()
            parts.extend(_ZipPartition([sl]) for sl in slices)
            continue
        if filled + size > target:
            close()
        bin_ += slices
        filled += size + open_cost
    close()
    return parts


class ZipMembersReader(DataSourceReader):
    def __init__(self, options: dict, skip_acc=None, columns=_MEMBER_COLUMNS):
        # Optional SparkContext accumulator counting archives dropped by
        # on_error='skip' — the Spark-native analog of the reference's
        # per-archive error log (builder.rs:65-71). Travels driver →
        # executor with the pickled reader; updates flow back on task
        # completion, so the caller reads an exact job-wide count.
        self.skip_acc = skip_acc
        self.columns = tuple(columns)
        if self.columns not in (_MEMBER_COLUMNS, _PROBE_COLUMNS):
            raise ValueError(
                f"zipmembers reads the columns {_MEMBER_COLUMNS} or {_PROBE_COLUMNS}, "
                f"not {self.columns}"
            )
        self.probe = self.columns == _PROBE_COLUMNS
        self.paths: list[str] = json.loads(options.get("paths", "[]"))
        self.member_regex: str | None = options.get("member_regex") or None
        self.with_body = options.get("body", "true") == "true"
        self.with_source = options.get("source", "true") == "true"
        self.with_hash = options.get("hash", "true") == "true"
        self.batch_rows = int(options.get("batch_rows", "1024"))
        self.on_error = options.get("on_error", "fail")
        self.strict_hash = options.get("strict_hash", "false") == "true"
        # Jumbo-archive splitting threshold (0 disables): archives whose
        # central directory lists more members than this split into
        # member-index-range partitions.
        self.split_members = int(options.get("split_members", "65536"))
        # Packing inputs (see _pack): read_zip_members passes the session's
        # confs; a reader built without them gets Spark's defaults.
        self.max_partition_bytes = int(options.get("max_partition_bytes", str(128 << 20)))
        self.open_cost_bytes = int(options.get("open_cost_bytes", str(4 << 20)))
        self.min_partitions = int(options.get("min_partitions", "1"))

        # Populated by pushFilters (Catalyst filter pushdown, Spark 4.1+):
        # per-member name predicates evaluated before decompression, and
        # source predicates that prune whole archives at planning time.
        self.name_preds: list = []
        self.source_preds: list = []

    @staticmethod
    def _compile(filters: list):
        """Filter objects → one python predicate (AND of all)."""
        fns = []
        for f in filters:
            if isinstance(f, EqualTo):
                fns.append(lambda s, v=f.value: s == v)
            elif isinstance(f, In):
                fns.append(lambda s, vs=set(f.value): s in vs)
            elif isinstance(f, StringStartsWith):
                fns.append(lambda s, v=f.value: s.startswith(v))
            elif isinstance(f, StringEndsWith):
                fns.append(lambda s, v=f.value: s.endswith(v))
            elif isinstance(f, StringContains):
                fns.append(lambda s, v=f.value: v in s)
            # IsNotNull: name/source are non-null whenever pushed — no-op.
        return lambda s: all(fn(s) for fn in fns)

    def pushFilters(self, filters):
        """Absorb name/source predicates (SURVEY §4: the reference applies
        its member filter inside the scan, builder.rs:180-183 — this is the
        Catalyst-integrated version). `name` predicates skip members before
        decompression; `source` predicates prune whole archives from the
        partition list — file-level pruning. Everything else, and any
        source predicate while the source column is nulled (--no-source),
        stays with Spark."""
        supported = (EqualTo, In, StringStartsWith, StringEndsWith, StringContains, IsNotNull)
        for f in filters:
            col = f.attribute[0] if len(f.attribute) == 1 else None
            if not isinstance(f, supported):
                yield f
            elif col == "name":
                if not isinstance(f, IsNotNull):
                    self.name_preds.append(f)
            elif col == "source" and self.with_source:
                if not isinstance(f, IsNotNull):
                    self.source_preds.append(f)
            else:
                yield f

    def partitions(self):
        # Whole archives pack into size-balanced partitions by Spark's
        # file-split rule (_pack): executors each open only their own
        # local/shared files, and nothing is centralized on the driver.
        # Pushed source predicates prune archives here, before any task
        # launches.
        #
        # Jumbo zips split into member-index ranges so the largest archive
        # no longer bounds per-task time; a tar has no index, so it is
        # always one slice. The size gate (an archive under
        # split_members·46 bytes CANNOT list that many CD entries) keeps
        # the driver cost at the stat it already pays; only plausibly-jumbo
        # zips get the EOCD tail read. A file unreadable here, or one whose
        # end record vouches for no total, falls through to a single slice
        # so any error surfaces in the task, where on_error applies.
        paths = self.paths
        if self.source_preds:
            pred = self._compile(self.source_preds)
            paths = [p for p in paths if pred(p)]
        sized: list[tuple[list[_ZipSlice], int]] = []
        for p in paths:
            try:
                size = os.path.getsize(p)
            except OSError:
                size = 0
            n = None
            if (self.split_members > 0 and size > self.split_members * _MIN_CD_ENTRY
                    and not _is_tar(p)):
                try:
                    n = _eocd_member_count(p)
                except OSError:
                    n = None
            if n is not None and n > self.split_members:
                slices = [
                    _ZipSlice(p, s, min(s + self.split_members, n))
                    for s in range(0, n, self.split_members)
                ]
            else:
                slices = [_ZipSlice(p)]
            sized.append((slices, size))
        return _pack(
            sized, self.max_partition_bytes, self.open_cost_bytes, self.min_partitions
        )

    def read(self, partition: _ZipPartition):
        pattern = re.compile(self.member_regex) if self.member_regex else None
        name_pred = self._compile(self.name_preds) if self.name_preds else None
        for sl in partition.slices:
            yield from self._read_slice(sl, pattern, name_pred)

    def _read_slice(self, sl: _ZipSlice, pattern, name_pred):
        """One archive (or one member range of a zip): its own Arrow
        buffers and its own error handling, so on_error and the memory
        bound stay per archive inside a packed partition. The path's suffix
        picks the member iterator (_is_tar); everything after it is shared.
        Probe rows come from the member's ZipInfo, never its bytes."""
        import pyarrow as pa

        need_decompress = self.with_body or self.with_hash
        source = sl.path if self.with_source else None
        cols: list[list] = [[] for _ in self.columns]
        pending_bytes = 0

        def flush():
            nonlocal pending_bytes
            batch = pa.RecordBatch.from_arrays(
                [pa.array(v, type=_ARROW_TYPES[c]) for c, v in zip(self.columns, cols)],
                names=list(self.columns),
            )
            for v in cols:
                v.clear()
            pending_bytes = 0
            return batch

        members = _tar_members if _is_tar(sl.path) else _zip_members
        try:
            if self.probe and members is _tar_members:
                raise ZipFormatError(f"{sl.path} is a tar: it has no central directory")
            with open(sl.path, "rb") as fh:
                for name, read, info in members(fh, sl):
                    if pattern is not None and not pattern.match(name):
                        continue
                    if name_pred is not None and not name_pred(name):
                        continue
                    if self.probe:
                        row = (name, source, info.CRC, info.file_size, info.compress_size)
                    else:
                        data = read() if need_decompress and read is not None else b""
                        digest = None
                        if self.with_hash:
                            h = hashlib.sha256(data)
                            digest = (_strict_hash_hex(h.digest()) if self.strict_hash
                                      else h.hexdigest())
                        if self.with_body:
                            pending_bytes += len(data)
                        row = (name, source, data if self.with_body else None, digest)
                    for v, x in zip(cols, row):
                        v.append(x)
                    if len(cols[0]) >= self.batch_rows or pending_bytes >= _BATCH_BYTES:
                        yield flush()
        except (zipfile.BadZipFile, ZipFormatError, OSError, tarfile.TarError,
                EOFError, zlib.error, lzma.LZMAError, UnicodeError) as exc:
            # ZipFormatError (unsupported compression method, missing zstd
            # codec) must take the same skip path as structural corruption:
            # permissive mode means "convert what this engine can read",
            # and the reference logs-and-fails per archive the same way
            # for undecodable members (builder.rs:65-71).
            if self.on_error == "skip":
                # Permissive mode: a corrupt archive is dropped instead of
                # failing the job (the reference fails the whole run,
                # builder.rs:65-71 — that remains our default). The buffered
                # partial batch is discarded, so an archive smaller than one
                # batch (the common case) contributes zero rows. Best-effort
                # caveat: batches already yielded for an archive larger than
                # batch_rows/_BATCH_BYTES before a mid-read CRC failure cannot
                # be retracted under bounded-memory streaming — use
                # on_error='fail' (default) where atomicity matters.
                import sys

                # Count once per ARCHIVE, not per split range: whole-archive
                # corruption fails every range, but only the start==0 slice
                # increments, keeping the "archives skipped" semantic exact.
                # (A mid-range CRC failure in a later split logs without
                # counting — that archive already emitted earlier ranges, a
                # case the best-effort caveat above covers either way.)
                if self.skip_acc is not None and sl.start == 0:
                    self.skip_acc.add(1)
                print(
                    f"zipmembers: skipping unreadable archive {sl.path}: {exc}",
                    file=sys.stderr,
                )
                return
            raise
        if cols[0]:
            yield flush()


class ZipMembersStreamReader(DataSourceStreamReader):
    """Incremental zip ingestion: each micro-batch picks up archives that
    appeared in the watched directory since the last committed offset.

    Offsets are an (mtime high-watermark, recent-file list) pair — bounded
    steady-state, unlike a grow-forever processed-path list. ``wm`` is the
    max mtime listed; ``seen`` holds ``[mtime, path]`` pairs for files
    within _STREAM_LATENESS_S (300) seconds of the watermark. A batch
    processes the files of ``end.seen`` that are neither in ``start.seen``
    nor older than ``start``'s lateness horizon — so an archive landing
    with an mtime more than 300 s behind the newest file is dropped as
    too late (copy jobs and object stores that lag further lose
    archives), and at a million archives the offset stays
    O(arrival-rate × lateness) instead of O(all files ever).

    Two deliberately-unbounded moments: the first offset of a fresh query
    enumerates the whole backfill (those files genuinely all need
    processing), and the first offset after a driver restart re-enumerates
    the directory once (the start offset's horizon then excludes
    already-processed files, so nothing is reprocessed) — steady-state
    offsets are small either way.

    Replay-safe: ``partitions(start, end)`` derives the batch purely from
    the two checkpointed offsets, so a restarted query re-plans the
    identical batch. One InputPartition per new archive, read by the same
    member-exploding logic as the batch reader — executors decompress in
    parallel; the driver only lists the directory.
    """

    def __init__(self, options: dict, skip_acc=None, columns=_MEMBER_COLUMNS):
        self._batch = ZipMembersReader(options, skip_acc=skip_acc, columns=columns)
        self.pattern: str = options["stream_glob"]
        # Listing horizon; None = enumerate everything (fresh query or
        # just-restarted driver). Ratchets to wm - _STREAM_LATENESS_S after
        # each listing, which keeps steady-state offsets bounded.
        self._horizon: float | None = None

    def _snapshot(self) -> list[tuple[float, str]]:
        files = []
        for p in _pyglob.glob(self.pattern, recursive=True):
            try:
                files.append((os.path.getmtime(p), p))
            except OSError:
                continue  # raced with a delete between glob and stat
        return files

    def initialOffset(self) -> dict:
        return {"wm": 0.0, "seen": []}

    def latestOffset(self) -> dict:
        files = self._snapshot()
        wm = max((mt for mt, _ in files), default=0.0)
        if self._horizon is not None:
            files = [(mt, p) for mt, p in files if mt >= self._horizon]
        self._horizon = max(self._horizon or float("-inf"), wm - _STREAM_LATENESS_S)
        return {"wm": wm, "seen": sorted([mt, p] for mt, p in files)}

    def partitions(self, start: dict, end: dict):
        done = {p for _, p in start["seen"]}
        # start.wm == 0 ⇒ start is the initial offset: no horizon,
        # everything unseen is new.
        horizon = start["wm"] - _STREAM_LATENESS_S if start["wm"] else float("-inf")
        new = sorted(p for mt, p in end["seen"] if p not in done and mt >= horizon)
        return [_ZipPartition([_ZipSlice(p)]) for p in new]

    def read(self, partition: _ZipPartition):
        return self._batch.read(partition)

    def commit(self, end: dict) -> None:
        pass


class ZipMembersDataSource(DataSource):
    """``spark.read.format("zipmembers")`` — one row per zip member.
    ``spark.readStream`` with a ``stream_glob`` option tails a directory of
    arriving archives."""

    # Optional skip-counter accumulator. Options are string-only, so the
    # accumulator rides a class attribute: read_zip_members registers a
    # dynamic subclass carrying it, which cloudpickle serializes BY VALUE
    # (dynamic classes always are), while this importable base stays
    # by-reference. None ⇒ counting disabled.
    _skip_acc = None

    @classmethod
    def name(cls) -> str:
        return "zipmembers"

    def schema(self) -> str:
        return "name string, source string, body binary, hash string"

    def reader(self, schema) -> ZipMembersReader:
        return ZipMembersReader(self.options, type(self)._skip_acc, schema.fieldNames())

    def streamReader(self, schema) -> ZipMembersStreamReader:
        return ZipMembersStreamReader(self.options, type(self)._skip_acc, schema.fieldNames())


def _expand_patterns(patterns: list[str] | str) -> list[str]:
    if isinstance(patterns, str):
        patterns = [patterns]
    paths: list[str] = []
    seen = set()
    for p in patterns:
        matches = sorted(_pyglob.glob(p, recursive=True))
        for m in matches:
            if m not in seen:
                seen.add(m)
                paths.append(m)
    if not paths:
        # Deliberate divergence: the reference's NoInputsFound is dead code
        # and it silently writes an empty parquet (SURVEY §2 H).
        raise ValueError(f"no input archives match patterns: {patterns!r}")
    return paths


_BYTE_UNITS = {"": 1, "b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40,
               "p": 1 << 50}


def _conf_bytes(spark: SparkSession, key: str) -> int:
    """A byte-size conf as Spark reads it: "134217728b", "64m", "4kb", "4096"."""
    num, unit = re.fullmatch(r"(\d+)([a-z]?)b?", spark.conf.get(key).strip().lower()).groups()
    return int(num) * _BYTE_UNITS[unit]


def _register_source(spark: SparkSession, skip_counter) -> None:
    """Register the ``zipmembers`` data source for both readers: ship this
    package (workers must import this module to unpickle the source), and
    with a ``skip_counter`` register a dynamic subclass carrying it —
    pickled by value, accumulator included."""
    from zip_to_parquet_spark.runtime import ensure_shipped

    ensure_shipped(spark)
    source_cls = ZipMembersDataSource
    if skip_counter is not None:
        source_cls = type(
            "ZipMembersDataSourceCounted",
            (ZipMembersDataSource,),
            {"_skip_acc": skip_counter},
        )
    spark.dataSource.register(source_cls)


def _load(spark: SparkSession, patterns: list[str] | str, skip_counter=None,
          schema: str | None = None, **options: str) -> DataFrame:
    """The one batch load of the ``zipmembers`` source: the archive paths,
    the session's packing confs (see _pack), the reader ``options`` and, if
    given, a user ``schema`` (the probe's)."""
    paths = _expand_patterns(patterns)
    _register_source(spark, skip_counter)
    # Runtime conf (the driver harness owns its session): without it Spark
    # refuses a reader that implements pushFilters.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    reader = spark.read.format("zipmembers").options(
        paths=json.dumps(paths),
        max_partition_bytes=str(_conf_bytes(spark, "spark.sql.files.maxPartitionBytes")),
        open_cost_bytes=str(_conf_bytes(spark, "spark.sql.files.openCostInBytes")),
        min_partitions=str(spark.sparkContext.defaultParallelism),
        **options,
    )
    return (reader.schema(schema) if schema else reader).load()


def read_zip_members(
    spark: SparkSession,
    patterns: list[str] | str,
    member_glob: str | None = None,
    body: bool = True,
    source: bool = True,
    sha: bool = True,
    on_error: str = "fail",
    batch_rows: int = 1024,
    strict_hash: bool = False,
    skip_counter=None,
    split_members: int = 65536,
) -> DataFrame:
    """Read zip and tar archives as one DataFrame row per member (reference
    A1+A2); a path's suffix picks its format (see the module docstring).

    Multiple patterns/archives concatenate with UNION ALL bag semantics —
    duplicates kept, order undefined (SURVEY §2 C). ``member_glob`` filters
    member names inside the scan (B1). ``body/source/sha=False`` null the
    respective column (B2); ``body=False, sha=False`` never decompresses —
    the projection pushdown of builder.rs:185-186 as a source option.
    ``strict_hash=True`` emits the reference's quote-wrapped unpadded hex
    encoding instead of standard 64-char hex (see _strict_hash_hex).

    ``skip_counter``: optional ``spark.sparkContext.accumulator(0)``; with
    ``on_error='skip'`` each dropped archive adds 1, giving callers an exact
    job-wide skip count (the reference logs every failed archive,
    builder.rs:65-71). The binding happens at ``.load()`` (schema resolution
    instantiates the source), so interleaved reads each capture their own
    counter.

    ``split_members``: archives whose central directory lists more than
    this many members split into member-index-range partitions (0
    disables) — per-task time is bounded by the range, not the largest
    archive. Whole archives pack into read partitions by the session's
    ``spark.sql.files.maxPartitionBytes``, ``spark.sql.files.openCostInBytes``
    and ``defaultParallelism``; see the module docstring's scale notes.
    """
    return _load(
        spark, patterns, skip_counter,
        member_regex=glob_to_regex(member_glob) if member_glob else "",
        body="true" if body else "false", source="true" if source else "false",
        hash="true" if sha else "false", strict_hash="true" if strict_hash else "false",
        on_error=on_error, batch_rows=str(batch_rows), split_members=str(split_members),
    )


def read_zip_members_stream(
    spark: SparkSession,
    pattern: str,
    member_glob: str | None = None,
    body: bool = True,
    source: bool = True,
    sha: bool = True,
    on_error: str = "fail",
    skip_counter=None,
) -> DataFrame:
    """Streaming variant of :func:`read_zip_members`: tail a directory glob
    for newly-arriving zip archives; each micro-batch explodes only the new
    archives (exact-once via checkpointed path-set offsets).

    ``skip_counter``: as in the batch reader — with ``on_error='skip'``
    each dropped archive adds 1; the count accumulates ACROSS micro-batches
    (a monitoring counter, not a per-batch metric)."""
    member_regex = glob_to_regex(member_glob) if member_glob else ""
    _register_source(spark, skip_counter)
    return (
        spark.readStream.format("zipmembers")
        .option("stream_glob", pattern)
        .option("member_regex", member_regex)
        .option("body", "true" if body else "false")
        .option("source", "true" if source else "false")
        .option("hash", "true" if sha else "false")
        .option("on_error", on_error)
        .load()
    )


def count_members(
    spark: SparkSession,
    patterns: list[str] | str,
    member_glob: str | None = None,
) -> int:
    """Reference A3/D1: count glob-matching members without decompressing
    any member. The reference runs this as a separate sequential pre-pass
    that re-opens every archive (builder.rs:24-41).

    Without ``member_glob`` and with only zip inputs, the count is the sum
    of each archive's end-of-central-directory total, read on the driver
    (one tail read per archive, see _eocd_member_count), and no Spark job
    starts. Directory entries count, as they are rows. Any tar input, or
    any zip whose end record vouches for no total, sends the whole count
    to the distributed scan below, as does a glob: ``read_zip_members``
    with the body/hash projection pushed down (central directory only; a
    tar takes its one sequential pass).

    So without a glob, a zip damaged inside a central-directory entry is
    counted by its end record's total: it fails (or is skipped) when it is
    read, not at count time."""
    if not member_glob:
        total = 0
        for p in _expand_patterns(patterns):
            try:
                n = None if _is_tar(p) else _eocd_member_count(p)
            except OSError:
                n = None
            if n is None:
                break
            total += n
        else:
            return total
    df = read_zip_members(spark, patterns, member_glob, body=False, source=False, sha=False)
    return df.count()


def read_zip_central_directory(
    spark: SparkSession,
    patterns: list[str] | str,
) -> DataFrame:
    """Metadata-only archive scan: one row per member straight from each
    zip's CENTRAL DIRECTORY — (name, source, crc32, size, csize) — with
    zero decompression (the directory stores CRC-32 and both sizes for
    every member; ~50 bytes of metadata per member vs the full compressed
    stream).

    This is the probe an INCREMENTAL ingest runs first: compare
    (name, crc32, size) against the previous run's manifest and only the
    new/changed members ever get decompressed (see
    :func:`extract_member_hashes`) — at 100 TB the nightly cost becomes
    O(members) metadata + O(churn) decompression instead of O(corpus).
    Extension beyond the reference surface (the reference re-reads every
    member every run, builder.rs:24-41); schema is additive — the
    reference's 4-column member schema (SURVEY §1) is untouched.

    Read by the one archive reader under the probe schema (see the module
    docstring): archives pack by size, a jumbo zip splits into member
    ranges, name/source filters push into the scan, and a zip whose central
    directory does not hold its end record's entry total fails. A tar has
    no central directory and fails.
    """
    return _load(spark, patterns, schema=_PROBE_SCHEMA)


def extract_member_hashes(to_extract: DataFrame) -> DataFrame:
    """Scoped extraction: decompress and sha256 ONLY the (source, name)
    members listed in ``to_extract`` — the second half of an incremental
    ingest (the first half, :func:`read_zip_central_directory`, decides
    WHICH members changed without touching member bytes).

    One applyInPandas group per archive: each task opens its archive once
    and random-accesses just the named members (zipfile seeks straight to
    each member's local header via the central directory — untouched
    members are never read). Output (name, source, hash) uses the same
    standard sha256 hex as ``read_zip_members``. Cost is O(churn bytes),
    independent of corpus size; the groupBy key is the archive path, so
    skew equals per-archive churn (bounded by archive size).
    """
    import pandas as _pd

    def ex(key, pdf):
        path = key[0]
        hashes = []
        with open(path, "rb") as fh, zipfile.ZipFile(fh) as zf:
            for nm in pdf["name"]:
                data = _member_bytes(fh, zf, zf.getinfo(nm), path)
                hashes.append(hashlib.sha256(data).hexdigest())
        return _pd.DataFrame(
            {"name": pdf["name"], "source": path, "hash": hashes}
        )

    return (
        to_extract.select("source", "name")
        .groupBy("source")
        .applyInPandas(ex, schema="name string, source string, hash string")
    )
