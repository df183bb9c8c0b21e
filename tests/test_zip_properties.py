"""Property tests of the one archive-member reader, without a JVM.

``ZipMembersReader(options).partitions()`` and ``.read()`` are driven
directly over random archive sets — zips with stored, deflated, empty and
directory members and non-ASCII names (one of them over a lowered
``split_members``), mixed with tar, tar.gz/tgz, tar.bz2 and tar.xz
archives — under random packing confs, and checked against a stdlib
``zipfile``/``tarfile`` reference.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import random
import tarfile
import tempfile
import zipfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from zip_to_parquet_spark.sources.zipsource import ZipMembersReader

_COLS = ("name", "source", "body", "hash")
_TAR_MODES = {".tar": "w", ".tar.gz": "w:gz", ".tgz": "w:gz", ".tar.bz2": "w:bz2",
              ".tbz2": "w:bz2", ".tar.xz": "w:xz", ".txz": "w:xz"}

_NAME = st.text(st.characters(categories=("L", "N"), codec="utf-8"), min_size=1, max_size=6)
_DATA = st.binary(max_size=200)
# Incompressible member bytes, so a compressed tar cut halfway through its
# stream is cut inside member data.
_NOISE = random.Random(0).randbytes(4096)
_SETTINGS = settings(max_examples=30, deadline=None,
                     suppress_health_check=[HealthCheck.too_slow])


@st.composite
def _zip_spec(draw, min_members=0):
    """(".zip", [(name, data or None for a directory entry, method)])."""
    members = []
    for i in range(draw(st.integers(min_members, min_members + 5))):
        name = f"{i}_{draw(_NAME)}"
        if draw(st.integers(0, 5)) == 0:
            members.append((name + "/", None, zipfile.ZIP_STORED))
        else:
            method = draw(st.sampled_from([zipfile.ZIP_STORED, zipfile.ZIP_DEFLATED]))
            members.append((name, draw(_DATA), method))
    return ".zip", members


@st.composite
def _tar_spec(draw):
    """(suffix, [(name, data or None for a directory entry)])."""
    members = []
    for i in range(draw(st.integers(0, 5))):
        name = f"{i}_{draw(_NAME)}"
        members.append((name, None if draw(st.integers(0, 5)) == 0 else draw(_DATA)))
    return draw(st.sampled_from(sorted(_TAR_MODES))), members


def _write(path: str, members) -> None:
    if path.endswith(".zip"):
        with zipfile.ZipFile(path, "w") as zf:
            for name, data, method in members:
                if data is None:
                    zf.writestr(zipfile.ZipInfo(name), b"")
                else:
                    zf.writestr(name, data, compress_type=method)
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
    for i, (suffix, members) in enumerate(specs):
        p = os.path.join(d, f"a{i:03d}{suffix}")
        _write(p, members)
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


def _read_all(options: dict, skip_acc=None) -> list[tuple]:
    reader = ZipMembersReader(options, skip_acc=skip_acc)
    rows = []
    for part in reader.partitions():
        for batch in reader.read(part):
            rows += zip(*(batch.column(c).to_pylist() for c in _COLS))
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

        for i, flag in enumerate(("source", "body", "hash"), start=1):
            nulled = [tuple(None if j == i else v for j, v in enumerate(r)) for r in want]
            assert _read_all({**options, flag: "false"}) == nulled, flag


def _truncated(path: str, n: int, data: bytes) -> None:
    """An archive of ``n`` members cut off inside member data. A zip keeps
    its central directory (so it still splits into member ranges, each of
    which fails); a plain tar is cut halfway into its last member's bytes,
    a compressed one halfway through its stream."""
    members = [(f"m{i}", data, zipfile.ZIP_STORED) for i in range(n)]
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
        paths = _write_set(d, specs[:at] + [(suffix, [])] + specs[at:])
        _truncated(paths[at], n, _NOISE)
        want = [r for p in paths if p != paths[at] for r in _reference(p)]
        options = {"paths": json.dumps(paths), "split_members": str(split), **packing}

        skips = _Counter()
        assert _read_all({**options, "on_error": "skip"}, skip_acc=skips) == want
        assert skips.value == 1

        with pytest.raises((zipfile.BadZipFile, tarfile.TarError, OSError, EOFError)):
            _read_all({**options, "on_error": "fail"})
