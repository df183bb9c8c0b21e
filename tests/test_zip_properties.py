"""Property tests of the one archive-member reader, without a JVM.

``ZipMembersReader(options).partitions()`` and ``.read()`` are driven
directly over random archive sets — zips with stored, deflated, empty,
ZIP64-extended and directory members, non-ASCII names, archive comments of
up to 64 KiB and prepended stubs (one of them over a lowered
``split_members``), mixed with tar, tar.gz/tgz, tar.bz2 and tar.xz
archives — under random packing confs, and checked against a stdlib
``zipfile``/``tarfile`` reference; every zip's end-record total must be its
reference row count. The central-directory probe columns read each zip's
``infolist()`` metadata and refuse every tar. Damaged archives (one flipped
bit, or a cut) must read as the reference, be skipped once, or fail.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
import lzma
import os
import random
import tarfile
import tempfile
import zipfile
import zlib
from unittest import mock

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from zip_to_parquet_spark.sources.zipsource import (
    ZipFormatError,
    ZipMembersReader,
    _eocd_member_count,
)

_COLS = ("name", "source", "body", "hash")
_PROBE_COLS = ("name", "source", "crc32", "size", "csize")
_TAR_MODES = {".tar": "w", ".tar.gz": "w:gz", ".tgz": "w:gz", ".tar.bz2": "w:bz2",
              ".tbz2": "w:bz2", ".tar.xz": "w:xz", ".txz": "w:xz"}

_NAME = st.text(st.characters(categories=("L", "N"), codec="utf-8"), min_size=1, max_size=6)
_DATA = st.binary(max_size=200)
# Incompressible member bytes, so a compressed tar cut halfway through its
# stream is cut inside member data.
_NOISE = random.Random(0).randbytes(4096)
# Archive comments and self-extractor stubs: text without the "PK" of a
# zip signature, which zipfile assumes a comment never holds.
_FILLER = b"zip comment or stub; " * 3300
_SETTINGS = settings(max_examples=30, deadline=None,
                     suppress_health_check=[HealthCheck.too_slow])


@st.composite
def _zip_spec(draw, min_members=0):
    """(".zip", [(name, data or None for a directory entry, method, zip64)],
    {"comment": bytes, "stub": bytes, "zip64_end": bool})."""
    members = []
    for i in range(draw(st.integers(min_members, min_members + 5))):
        name = f"{i}_{draw(_NAME)}"
        if draw(st.integers(0, 5)) == 0:
            members.append((name + "/", None, zipfile.ZIP_STORED, False))
        else:
            method = draw(st.sampled_from([zipfile.ZIP_STORED, zipfile.ZIP_DEFLATED]))
            members.append((name, draw(_DATA), method, draw(st.booleans())))
    comment = _FILLER[:draw(st.one_of(st.integers(0, 100), st.integers(0, 0xFFFF)))]
    stub = _FILLER[:draw(st.sampled_from([0, 0, 1, 300]))]
    return ".zip", members, {"comment": comment, "stub": stub, "zip64_end": draw(st.booleans())}


@st.composite
def _tar_spec(draw):
    """(suffix, [(name, data or None for a directory entry)], {})."""
    members = []
    for i in range(draw(st.integers(0, 5))):
        name = f"{i}_{draw(_NAME)}"
        members.append((name, None if draw(st.integers(0, 5)) == 0 else draw(_DATA)))
    return draw(st.sampled_from(sorted(_TAR_MODES))), members, {}


def _write(path: str, members, comment: bytes = b"", stub: bytes = b"",
           zip64_end: bool = False) -> None:
    """A zip (after ``stub``, e.g. a self-extractor) or a tar of ``members``;
    a zip member with ``zip64`` set carries ZIP64 size fields, and
    ``zip64_end`` writes the ZIP64 end records zipfile writes past 65,535
    members."""
    if path.endswith(".zip"):
        buf = io.BytesIO()
        limit = -1 if zip64_end else zipfile.ZIP_FILECOUNT_LIMIT
        with (mock.patch.object(zipfile, "ZIP_FILECOUNT_LIMIT", limit),
              zipfile.ZipFile(buf, "w") as zf):
            for name, data, method, zip64 in members:
                if data is None:
                    zf.writestr(zipfile.ZipInfo(name), b"")
                else:
                    info = zipfile.ZipInfo(name)
                    info.compress_type = method
                    with zf.open(info, "w", force_zip64=zip64) as f:
                        f.write(data)
            zf.comment = comment
        with open(path, "wb") as f:
            f.write(stub + buf.getvalue())
        return
    mode = next(m for suf, m in _TAR_MODES.items() if path.endswith(suf))
    with tarfile.open(path, mode) as tf:
        for name, data in members:
            ti = tarfile.TarInfo(name)
            if data is None:
                ti.type = tarfile.DIRTYPE
                tf.addfile(ti)
            else:
                ti.size = len(data)
                tf.addfile(ti, io.BytesIO(data))


def _write_set(d: str, specs) -> list[str]:
    """One file per spec, named so that path order is spec order."""
    paths = []
    for i, (suffix, members, dress) in enumerate(specs):
        p = os.path.join(d, f"a{i:03d}{suffix}")
        _write(p, members, **dress)
        paths.append(p)
    return paths


def _reference(path: str) -> list[tuple]:
    """(name, source, body, hash) of every member, by the stdlib alone."""
    def row(name, data):
        return name, path, data, hashlib.sha256(data).hexdigest()

    if path.endswith(".zip"):
        with zipfile.ZipFile(path) as zf:
            return [row(i.filename, b"" if i.is_dir() else zf.read(i)) for i in zf.infolist()]
    with tarfile.open(path) as tf:
        return [row(m.name, tf.extractfile(m).read()) for m in tf.getmembers() if m.isfile()]


def _probe_reference(path: str) -> list[tuple]:
    """(name, source, crc32, size, csize) of every zip member, by zipfile."""
    with zipfile.ZipFile(path) as zf:
        return [(i.filename, path, i.CRC, i.file_size, i.compress_size) for i in zf.infolist()]


def _read_all(options: dict, skip_acc=None, columns=_COLS) -> list[tuple]:
    reader = ZipMembersReader(options, skip_acc=skip_acc, columns=columns)
    rows = []
    for part in reader.partitions():
        for batch in reader.read(part):
            rows += zip(*(batch.column(c).to_pylist() for c in columns))
    return rows


class _Counter:
    """Stands in for the SparkContext accumulator: ``add`` only."""

    def __init__(self):
        self.value = 0

    def add(self, n):
        self.value += n


_PACKING = st.fixed_dictionaries({
    "max_partition_bytes": st.integers(1, 1 << 14).map(str),
    "open_cost_bytes": st.integers(0, 1 << 12).map(str),
    "min_partitions": st.integers(1, 12).map(str),
})


@_SETTINGS
@given(
    specs=st.lists(st.one_of(_zip_spec(), _tar_spec()), min_size=1, max_size=6),
    split=st.integers(2, 4),
    jumbo=st.data(),
    packing=_PACKING,
    batch_rows=st.integers(1, 8),
)
def test_every_member_once_in_path_then_archive_order(specs, split, jumbo, packing,
                                                      batch_rows):
    at = jumbo.draw(st.integers(0, len(specs)), label="jumbo position")
    big = jumbo.draw(_zip_spec(min_members=split + 1), label="jumbo")
    specs = specs[:at] + [big] + specs[at:]
    with tempfile.TemporaryDirectory() as d:
        paths = _write_set(d, specs)
        want = [r for p in paths for r in _reference(p)]
        options = {"paths": json.dumps(paths), "split_members": str(split),
                   "batch_rows": str(batch_rows), **packing}

        reader = ZipMembersReader(options)
        slices = [sl for part in reader.partitions() for sl in part.slices]
        assert len([sl for sl in slices if sl.path == paths[at]]) > 1  # the jumbo split
        got = _read_all(options)
        assert got == want
        assert sorted(got) == sorted(want)
        for p in paths:
            if p.endswith(".zip"):
                assert _eocd_member_count(p) == len(_reference(p))

        for i, flag in enumerate(("source", "body", "hash"), start=1):
            nulled = [tuple(None if j == i else v for j, v in enumerate(r)) for r in want]
            assert _read_all({**options, flag: "false"}) == nulled, flag

        zips = [p for p in paths if p.endswith(".zip")]
        skips = _Counter()
        probe = _read_all({**options, "on_error": "skip"}, skips, _PROBE_COLS)
        assert probe == [r for p in zips for r in _probe_reference(p)]
        assert skips.value == len(paths) - len(zips)  # each tar once
        if len(zips) < len(paths):
            with pytest.raises(ZipFormatError, match="no central directory"):
                _read_all(options, columns=_PROBE_COLS)


def _truncated(path: str, n: int, data: bytes) -> None:
    """An archive of ``n`` members cut off inside member data. A zip keeps
    its central directory (so it still splits into member ranges, each of
    which fails); a plain tar is cut halfway into its last member's bytes,
    a compressed one halfway through its stream."""
    members = [(f"m{i}", data, zipfile.ZIP_STORED, False) for i in range(n)]
    if path.endswith(".zip"):
        _write(path, members)
        raw = open(path, "rb").read()
        with zipfile.ZipFile(path) as zf:
            cd = zf.start_dir
        cut = raw[: cd - len(data) // 2] + raw[cd:]
    else:
        _write(path, [m[:2] for m in members])
        raw = open(path, "rb").read()
        if path.endswith(".tar"):
            with tarfile.open(path) as tf:
                end = tf.getmembers()[-1].offset_data + len(data) // 2
        else:
            end = len(raw) // 2
        cut = raw[:end]
    with open(path, "wb") as f:
        f.write(cut)


@_SETTINGS
@given(
    specs=st.lists(st.one_of(_zip_spec(), _tar_spec()), min_size=0, max_size=5),
    bad=st.data(),
    split=st.integers(2, 4),
    packing=_PACKING,
)
def test_truncated_archive_is_skipped_once_or_fails(specs, bad, split, packing):
    at = bad.draw(st.integers(0, len(specs)), label="truncated position")
    suffix = bad.draw(st.sampled_from([".zip", ".tar", ".tar.gz", ".tar.xz"]), label="kind")
    n = bad.draw(st.integers(1, 3 * split), label="members")
    with tempfile.TemporaryDirectory() as d:
        paths = _write_set(d, specs[:at] + [(suffix, [], {})] + specs[at:])
        _truncated(paths[at], n, _NOISE)
        want = [r for p in paths if p != paths[at] for r in _reference(p)]
        options = {"paths": json.dumps(paths), "split_members": str(split), **packing}

        skips = _Counter()
        assert _read_all({**options, "on_error": "skip"}, skip_acc=skips) == want
        assert skips.value == 1

        with pytest.raises((zipfile.BadZipFile, tarfile.TarError, OSError, EOFError)):
            _read_all({**options, "on_error": "fail"})


def _tar_data_bytes(path: str) -> set[int]:
    """Offsets of a plain tar's data bytes: member data, and the data of a
    member's extended (pax) headers between its first header block and its
    last. Tar checksums only header blocks, so a flip in these bytes is
    the one damage no reader can see."""
    out = set()
    with tarfile.open(path) as tf:
        for m in tf.getmembers():
            out.update(range(m.offset + tarfile.BLOCKSIZE, m.offset_data - tarfile.BLOCKSIZE))
            out.update(range(m.offset_data, m.offset_data + m.size))
    return out


def _read_or_error(options: dict):
    """(rows, skips) of one read, or None when it raised an archive error."""
    skips = _Counter()
    try:
        return _read_all(options, skip_acc=skips), skips.value
    except (tarfile.TarError, OSError, EOFError, zlib.error, lzma.LZMAError, UnicodeError):
        return None


@settings(max_examples=200, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(spec=_tar_spec(), damage=st.data())
def test_damaged_tar_reads_reference_rows_skips_once_or_fails(spec, damage):
    suffix = spec[0]
    with tempfile.TemporaryDirectory() as d:
        [path] = _write_set(d, [spec])
        want = _reference(path)
        raw = open(path, "rb").read()
        exempt = _tar_data_bytes(path) if suffix == ".tar" else set()
        if damage.draw(st.booleans(), label="flip (else cut)"):
            at = damage.draw(st.integers(0, len(raw) - 1), label="byte")
            bit = damage.draw(st.integers(0, 7), label="bit")
            bad = raw[:at] + bytes([raw[at] ^ (1 << bit)]) + raw[at + 1:]
        else:
            at = damage.draw(st.integers(0, len(raw) - 1), label="cut")
            bad = raw[:at]
        with open(path, "wb") as f:
            f.write(bad)
        options = {"paths": json.dumps([path])}

        failed = _read_or_error({**options, "on_error": "fail"})
        skipped = _read_or_error({**options, "on_error": "skip"})
        if at in exempt and len(bad) == len(raw):
            # The hit member's name or body may differ; its row may not go.
            assert skipped == ([], 1) or (len(skipped[0]), skipped[1]) == (len(want), 0)
            return
        assert failed is None or failed == (want, 0)
        assert skipped in ((want, 0), ([], 1))


def _three_member_tar(path: str) -> list[tuple]:
    _write(path, [(f"m{i}", _NOISE[:100 * (i + 1)]) for i in range(3)])
    return _reference(path)


def test_plain_tar_cut_at_a_header_boundary_is_not_a_shorter_archive(tmp_path):
    # tarfile ends its iteration without an error at a short header block.
    path = str(tmp_path / "a.tar")
    _three_member_tar(path)
    with open(path, "r+b") as f:
        f.truncate(1024)
    options = {"paths": json.dumps([path])}
    assert _read_or_error({**options, "on_error": "skip"}) == ([], 1)
    with pytest.raises(tarfile.ReadError):
        _read_all({**options, "on_error": "fail"})


def test_damaged_header_of_an_empty_last_member_fails(tmp_path):
    # The damaged header is a full block that ends tarfile's iteration,
    # and only NUL padding follows it: the end block must be a zero block.
    path = str(tmp_path / "a.tar")
    _write(path, [("a", b"x"), ("b", b"")])
    raw = bytearray(open(path, "rb").read())
    with tarfile.open(path) as tf:
        raw[tf.getmember("b").offset] ^= 1
    open(path, "wb").write(raw)
    with pytest.raises(tarfile.ReadError):
        _read_all({"paths": json.dumps([path]), "on_error": "fail"})


def test_tar_gz_cut_to_three_bytes_is_skipped(tmp_path):
    # tarfile's own gzip header parser raised TypeError on this input.
    path = str(tmp_path / "a.tar.gz")
    _three_member_tar(path)
    with open(path, "r+b") as f:
        f.truncate(3)
    options = {"paths": json.dumps([path])}
    assert _read_or_error({**options, "on_error": "skip"}) == ([], 1)
    with pytest.raises(EOFError):
        _read_all({**options, "on_error": "fail"})


def test_tar_gz_crc_trailer_is_checked(tmp_path):
    path = str(tmp_path / "a.tar.gz")
    _three_member_tar(path)
    raw = bytearray(open(path, "rb").read())
    raw[-8] ^= 1  # first byte of the gzip CRC-32 trailer
    open(path, "wb").write(raw)
    with pytest.raises(gzip.BadGzipFile):
        _read_all({"paths": json.dumps([path]), "on_error": "fail"})


def test_data_after_the_tar_end_block_fails(tmp_path):
    # Two tars concatenated: tarfile stops at the first end-of-archive
    # block, so the second one's members would be lost without a word.
    a, b = str(tmp_path / "a.tar"), str(tmp_path / "b.tar")
    _three_member_tar(a)
    _write(b, [("late", b"x")])
    with open(a, "ab") as f:
        f.write(open(b, "rb").read())
    with pytest.raises(tarfile.ReadError):
        _read_all({"paths": json.dumps([a]), "on_error": "fail"})


# What the reader raises for a damaged zip under on_error='fail'.
_ZIP_ERRORS = (zipfile.BadZipFile, ZipFormatError, OSError, EOFError, zlib.error)


def test_every_single_bit_flip_of_a_zip_reads_reference_rows_or_fails(tmp_path):
    # zipfile walks the central directory by its byte size: a flipped
    # comment-length field hid the entries after it until the walk had to
    # find the end record's total.
    path = str(tmp_path / "a.zip")
    _write(path, [("a.txt", b"stored " * 10, zipfile.ZIP_STORED, False),
                  ("demo", b"deflated " * 30, zipfile.ZIP_DEFLATED, False),
                  ("c.bin", _NOISE[:200], zipfile.ZIP_DEFLATED, False)])
    want = _reference(path)
    raw = open(path, "rb").read()
    options = {"paths": json.dumps([path])}
    for at in range(len(raw)):
        for bit in range(8):
            with open(path, "wb") as f:
                f.write(raw[:at] + bytes([raw[at] ^ (1 << bit)]) + raw[at + 1:])
            # The probe never reads member data: all rows, or an error.
            try:
                probe = _read_all({**options, "on_error": "fail"}, columns=_PROBE_COLS)
            except _ZIP_ERRORS:
                pass
            else:
                assert len(probe) == len(want), ("probe", at, bit)
            try:
                got = _read_all({**options, "on_error": "fail"})
            except _ZIP_ERRORS:
                continue
            # A flip may turn a member's name into a directory entry's
            # ("demo" -> "dem/"), which is never read; no row may go.
            assert len(got) == len(want), (at, bit)
            for g, w in zip(got, want):
                assert g == w or g[0].endswith("/"), (at, bit)
            skips = _Counter()
            assert _read_all({**options, "on_error": "skip"}, skip_acc=skips) == got
            assert skips.value == 0


@pytest.mark.parametrize("bit", [0, 5, 6])
def test_encrypted_or_patched_member_is_a_format_error(tmp_path, bit):
    # zipfile raises RuntimeError (bit 0) or NotImplementedError (5, 6),
    # which on_error='skip' did not catch.
    good, bad = str(tmp_path / "a.zip"), str(tmp_path / "b.zip")
    _write(good, [("a", b"kept", zipfile.ZIP_DEFLATED, False)])
    _write(bad, [("b", b"flagged", zipfile.ZIP_DEFLATED, False)])
    raw = bytearray(open(bad, "rb").read())
    with zipfile.ZipFile(bad) as zf:
        flags = zf.start_dir + 8  # the central-directory entry's flag bits
    raw[flags] |= 1 << bit
    open(bad, "wb").write(raw)
    options = {"paths": json.dumps([good, bad])}

    skips = _Counter()
    assert _read_all({**options, "on_error": "skip"}, skip_acc=skips) == _reference(good)
    assert skips.value == 1
    with pytest.raises(ZipFormatError, match="encrypted or patched"):
        _read_all({**options, "on_error": "fail"})
