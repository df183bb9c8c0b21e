"""Tar/tar.gz members through the one archive reader, read_zip_members:
round-trip, member glob, flag semantics."""

from __future__ import annotations

import hashlib
import io
import tarfile

import pytest

from zip_to_parquet_spark.sources.zipsource import read_zip_members


@pytest.fixture(scope="module")
def tar_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("tars")
    members = {
        "a.txt": b"alpha",
        "sub/b.log": b"beta-log",
        "c.txt": b"gamma",
    }

    # Plain tar with a directory entry (must be skipped) and a duplicate
    # member name (bag semantics: both kept).
    with tarfile.open(d / "plain.tar", "w") as tf:
        di = tarfile.TarInfo("sub")
        di.type = tarfile.DIRTYPE
        tf.addfile(di)
        for name, data in members.items():
            ti = tarfile.TarInfo(name)
            ti.size = len(data)
            tf.addfile(ti, io.BytesIO(data))
        dup = tarfile.TarInfo("a.txt")
        dup.size = 3
        tf.addfile(dup, io.BytesIO(b"dup"))

    with tarfile.open(d / "zipped.tar.gz", "w:gz") as tf:
        data = b"zeta" * 100
        ti = tarfile.TarInfo("z.txt")
        ti.size = len(data)
        tf.addfile(ti, io.BytesIO(data))
    return d


def test_tar_roundtrip_bodies_and_hashes(spark, tar_dir):
    rows = read_zip_members(spark, f"{tar_dir}/*.tar*").collect()
    got = sorted((r.name, bytes(r.body), r.hash) for r in rows)
    want = sorted(
        [
            ("a.txt", b"alpha", hashlib.sha256(b"alpha").hexdigest()),
            ("a.txt", b"dup", hashlib.sha256(b"dup").hexdigest()),
            ("sub/b.log", b"beta-log", hashlib.sha256(b"beta-log").hexdigest()),
            ("c.txt", b"gamma", hashlib.sha256(b"gamma").hexdigest()),
            ("z.txt", b"zeta" * 100, hashlib.sha256(b"zeta" * 100).hexdigest()),
        ]
    )
    assert got == want
    # source column carries the archive path.
    assert all(r.source and r.source.rstrip("/").split("/")[-1] in
               ("plain.tar", "zipped.tar.gz") for r in rows)


def test_tar_member_glob_filters_inside_the_pass(spark, tar_dir):
    rows = read_zip_members(spark, f"{tar_dir}/*.tar*", member_glob="**/*.log").collect()
    assert sorted(r.name for r in rows) == ["sub/b.log"]


def test_tar_flag_semantics_null_values_not_columns(spark, tar_dir):
    df = read_zip_members(
        spark, f"{tar_dir}/plain.tar", body=False, sha=False, source=False
    )
    assert df.columns == ["name", "source", "body", "hash"]
    rows = df.collect()
    assert len(rows) == 4
    assert all(r.body is None and r.hash is None and r.source is None for r in rows)
    assert all(r.name for r in rows)


def test_tar_empty_glob_errors_at_plan_time(spark, tmp_path):
    with pytest.raises(ValueError, match="no input archives"):
        read_zip_members(spark, f"{tmp_path}/nothing/*.tar")
