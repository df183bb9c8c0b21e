"""Round-trip property tests for the zip pipeline (FIXTURES.md §B).

Build zip → run engine → read back → assert SURVEY §1 invariants.
"""

from __future__ import annotations

import hashlib
import io
import random
import zipfile

import pytest

from zip_to_parquet_spark.sources.zipsource import (
    ZipFormatError,
    count_members,
    read_zip_members,
)

FIXED_DATE = (2020, 1, 1, 0, 0, 0)  # byte-stable archives across runs


def make_zip(path, members, compression=zipfile.ZIP_DEFLATED):
    with zipfile.ZipFile(path, "w", compression) as zf:
        for name, data in members:
            zi = zipfile.ZipInfo(name, date_time=FIXED_DATE)
            zi.compress_type = compression
            zf.writestr(zi, data)
    return str(path)


BASIC = [
    ("a.txt", b"alpha"),
    ("sub/b.png", b"\x89PNG fake"),
    ("sub/deep/c.csv", b"x,y\n1,2\n"),
]


def test_basic_roundtrip(spark, tmp_path):
    zp = make_zip(tmp_path / "basic.zip", BASIC)
    rows = {r["name"]: r for r in read_zip_members(spark, zp).collect()}
    assert set(rows) == {"a.txt", "sub/b.png", "sub/deep/c.csv"}
    for name, data in BASIC:
        r = rows[name]
        assert bytes(r["body"]) == data
        assert r["hash"] == hashlib.sha256(data).hexdigest()
        assert r["source"] == zp


def test_schema_is_fixed_4_columns(spark, tmp_path):
    zp = make_zip(tmp_path / "basic.zip", BASIC)
    df = read_zip_members(spark, zp, body=False, source=False, sha=False)
    # Flags null values, never drop columns (SURVEY §1.1).
    assert df.columns == ["name", "source", "body", "hash"]


def test_glob_filter_and_intended_noglob(spark, tmp_path):
    members = [("x.png", b"1"), ("y.txt", b"2"), ("d/z.png", b"3")]
    zp = make_zip(tmp_path / "glob.zip", members)
    got = {r["name"] for r in read_zip_members(spark, zp, member_glob="**/*.png").collect()}
    assert got == {"x.png", "d/z.png"}
    # No glob ⇒ ALL members — intended semantics; the reference emits zero
    # rows here (bug documented at SURVEY §2.B, builder.rs:180-226).
    assert read_zip_members(spark, zp).count() == 3


def test_union_all_bag_semantics(spark, tmp_path):
    members = [("same.txt", b"identical")]
    z1 = make_zip(tmp_path / "dupes.zip", members + [("same.txt", b"identical")])
    z2 = make_zip(tmp_path / "dupes2.zip", members)
    df = read_zip_members(spark, [str(tmp_path / "dupes*.zip")])
    rows = df.collect()
    assert len(rows) == 3  # duplicates kept, within and across archives
    assert {r["source"] for r in rows} == {z1, z2}


def test_null_projection_flags(spark, tmp_path):
    zp = make_zip(tmp_path / "flags.zip", BASIC)
    for flag, col in [("body", "body"), ("source", "source"), ("sha", "hash")]:
        df = read_zip_members(spark, zp, **{flag: False})
        vals = [r[col] for r in df.collect()]
        assert vals == [None] * 3, f"{col} should be all-null with {flag}=False"
        others = [c for c in ("name", "source", "body", "hash") if c != col]
        for r in df.collect():
            assert r["name"] is not None
            _ = others


def test_skip_decompression_pushdown(spark, tmp_path):
    """body=False, sha=False must never decompress: a corrupt deflate stream
    would raise if read (reference fast path builder.rs:185-186)."""
    zp = make_zip(tmp_path / "corrupt.zip", [("ok.txt", b"fine")])
    # Corrupt the compressed bytes of the member, leaving the central
    # directory intact: flip bytes in the middle of the file.
    raw = bytearray(open(zp, "rb").read())
    start = raw.find(b"fine") if b"fine" in raw else 40
    for i in range(30, 34):
        raw[i] ^= 0xFF
    open(zp, "wb").write(bytes(raw))

    df = read_zip_members(spark, zp, body=False, sha=False)
    rows = df.collect()  # must not raise: central directory only
    assert rows[0]["name"] == "ok.txt"
    assert rows[0]["body"] is None and rows[0]["hash"] is None


def test_empty_zip(spark, tmp_path):
    zp = make_zip(tmp_path / "empty.zip", [])
    df = read_zip_members(spark, zp)
    assert df.count() == 0
    assert df.columns == ["name", "source", "body", "hash"]


def test_big_member(spark, tmp_path):
    data = random.Random(42).randbytes(8 * 1024 * 1024)
    zp = make_zip(tmp_path / "big.zip", [("big.bin", data)])
    r = read_zip_members(spark, zp).collect()[0]
    assert bytes(r["body"]) == data
    assert r["hash"] == hashlib.sha256(data).hexdigest()


def test_compression_methods(spark, tmp_path):
    zp = str(tmp_path / "methods.zip")
    with zipfile.ZipFile(zp, "w") as zf:
        for name, method in [
            ("stored.txt", zipfile.ZIP_STORED),
            ("deflate.txt", zipfile.ZIP_DEFLATED),
            ("bzip2.txt", zipfile.ZIP_BZIP2),
            ("lzma.txt", zipfile.ZIP_LZMA),
        ]:
            zi = zipfile.ZipInfo(name, date_time=FIXED_DATE)
            zi.compress_type = method
            zf.writestr(zi, b"payload-" + name.encode())
    rows = {r["name"]: bytes(r["body"]) for r in read_zip_members(spark, zp).collect()}
    assert rows == {n: b"payload-" + n.encode() for n in rows}
    assert len(rows) == 4


def make_zstd_zip(path, members):
    """Hand-assemble a zip whose members use zstd (method 93) — zipfile
    can't write one, so build local headers + central directory + EOCD
    directly (APPNOTE 4.4.5: method 93, version-needed 6.3)."""
    import struct
    import zlib

    import pyarrow as pa

    codec = pa.Codec("zstd")
    out = io.BytesIO()
    central = []
    for name, data in members:
        comp = codec.compress(data, asbytes=True)
        crc = zlib.crc32(data) & 0xFFFFFFFF
        nb = name.encode()
        central.append((nb, crc, len(comp), len(data), out.tell()))
        out.write(b"PK\x03\x04")
        out.write(struct.pack("<HHHHHIIIHH", 63, 0, 93, 0, 0, crc,
                              len(comp), len(data), len(nb), 0))
        out.write(nb)
        out.write(comp)
    cd_start = out.tell()
    for nb, crc, csize, usize, offset in central:
        out.write(b"PK\x01\x02")
        out.write(struct.pack("<HHHHHHIIIHHHHHII", 63, 63, 0, 93, 0, 0, crc,
                              csize, usize, len(nb), 0, 0, 0, 0, 0, offset))
        out.write(nb)
    cd_size = out.tell() - cd_start
    out.write(b"PK\x05\x06")
    out.write(struct.pack("<HHHHIIH", 0, 0, len(central), len(central),
                          cd_size, cd_start, 0))
    with open(path, "wb") as fh:
        fh.write(out.getvalue())
    return str(path)


def test_zstd_member_roundtrip(spark, tmp_path):
    """zstd members (method 93) decode like the reference's zip crate does
    (/root/reference/Cargo.toml:13): bodies and hashes match the original
    payloads, mixed alongside a deflate archive in the same read."""
    payloads = [("a.txt", b"zstd payload " * 1000), ("dir/b.bin", bytes(range(256)) * 7)]
    zzp = make_zstd_zip(tmp_path / "zstd.zip", payloads)
    dzp = make_zip(tmp_path / "deflate.zip", [("c.txt", b"deflate payload")])
    rows = {r["name"]: r for r in read_zip_members(spark, [zzp, dzp]).collect()}
    want = dict(payloads) | {"c.txt": b"deflate payload"}
    assert {n: bytes(r["body"]) for n, r in rows.items()} == want
    for n, r in rows.items():
        assert r["hash"] == hashlib.sha256(want[n]).hexdigest()
    # Central-directory-only paths never touch the zstd codec.
    assert count_members(spark, zzp) == 2


def test_zstd_member_corrupt_stream(spark, tmp_path):
    """A method-93 member whose data isn't valid zstd → BadZipFile naming
    the member; with on_error='skip' the archive drops cleanly."""
    zp = str(tmp_path / "badzstd.zip")
    with zipfile.ZipFile(zp, "w", zipfile.ZIP_STORED) as zf:
        zi = zipfile.ZipInfo("z.txt", date_time=FIXED_DATE)
        zf.writestr(zi, b"not a zstd frame")
    raw = bytearray(open(zp, "rb").read())
    lh = raw.find(b"PK\x03\x04")
    raw[lh + 8 : lh + 10] = (93).to_bytes(2, "little")
    cd = raw.find(b"PK\x01\x02")
    raw[cd + 10 : cd + 12] = (93).to_bytes(2, "little")
    open(zp, "wb").write(bytes(raw))

    with pytest.raises(Exception) as ei:
        read_zip_members(spark, zp).collect()
    assert "z.txt" in str(ei.value)
    ok = make_zip(tmp_path / "ok.zip", [("good.txt", b"fine")])
    rows = read_zip_members(spark, [zp, ok], on_error="skip").collect()
    assert [r["name"] for r in rows] == ["good.txt"]


def test_unknown_method_clear_error(spark, tmp_path):
    """A genuinely unknown compression method (97/AES-ish) still raises the
    typed ZipFormatError naming method and member."""
    zp = str(tmp_path / "unknown.zip")
    with zipfile.ZipFile(zp, "w", zipfile.ZIP_STORED) as zf:
        zi = zipfile.ZipInfo("z.txt", date_time=FIXED_DATE)
        zf.writestr(zi, b"data")
    raw = bytearray(open(zp, "rb").read())
    lh = raw.find(b"PK\x03\x04")
    raw[lh + 8 : lh + 10] = (97).to_bytes(2, "little")
    cd = raw.find(b"PK\x01\x02")
    raw[cd + 10 : cd + 12] = (97).to_bytes(2, "little")
    open(zp, "wb").write(bytes(raw))

    with pytest.raises(Exception) as ei:
        read_zip_members(spark, zp).collect()
    assert "method 97" in str(ei.value) and "z.txt" in str(ei.value)


def test_strict_hash_mode(spark, tmp_path):
    """strict_hash=True reproduces the reference's hash encoding
    (builder.rs:196-209: unpadded per-byte {:x} + Debug quotes), pinned as
    a literal. sha256("hello") standard hex is 2cf24dba5fb0a30e26e83...;
    the strict encoding renders byte 0x0e as "e" and 0x04 as "4" (leading
    zeros dropped) and wraps the result in quotes."""
    zp = make_zip(tmp_path / "s.zip", [("h.txt", b"hello")])
    strict = read_zip_members(spark, zp, strict_hash=True).collect()[0]["hash"]
    assert strict == '"2cf24dba5fb0a3e26e83b2ac5b9e29e1b161e5c1fa7425e7343362938b9824"'
    default = read_zip_members(spark, zp).collect()[0]["hash"]
    assert default == hashlib.sha256(b"hello").hexdigest()
    assert len(default) == 64 and len(strict) < 66  # lossy encoding really is shorter


def test_unicode_names(spark, tmp_path):
    name = "données/π.txt"
    zp = make_zip(tmp_path / "unicode.zip", [(name, b"bytes")])
    rows = read_zip_members(spark, zp).collect()
    assert rows[0]["name"] == name


def test_row_group_size_single_file(spark, tmp_path):
    import pyarrow.parquet as pq

    from zip_to_parquet_spark.sinks import write_single_parquet_file

    members = [(f"m{i:04d}.txt", f"data-{i}".encode()) for i in range(250)]
    zp = make_zip(tmp_path / "many.zip", members)
    out = str(tmp_path / "out.parquet")
    n = write_single_parquet_file(
        read_zip_members(spark, zp), out, row_group_rows=100
    )
    assert n == 250
    pf = pq.ParquetFile(out)
    assert pf.metadata.num_rows == 250
    sizes = [pf.metadata.row_group(i).num_rows for i in range(pf.metadata.num_row_groups)]
    assert max(sizes) <= 100  # reference --row-group-size contract (A4)
    assert sum(sizes) == 250


@pytest.mark.parametrize("n", [199, 200, 201])
def test_single_file_row_groups_are_full_but_the_last(spark, tmp_path, n):
    """Every row group holds exactly ``row_group_rows`` rows except the
    last, for row counts below, at and above a multiple of the cap. The
    rows come from several member-range partitions in 13-row Arrow
    batches, so neither lines up with the cap."""
    import pyarrow.parquet as pq

    from zip_to_parquet_spark.sinks import write_single_parquet_file

    cap = 100
    sizes = [n // 3 + 7, n // 3 - 5]
    sizes.append(n - sum(sizes))
    for i, k in enumerate(sizes):
        make_zip(tmp_path / f"a{i}.zip", [(f"m{j:03d}", b"x" * j) for j in range(k)])
    df = read_zip_members(spark, str(tmp_path / "*.zip"), batch_rows=13, split_members=45)
    out = str(tmp_path / "out.parquet")
    assert write_single_parquet_file(df, out, row_group_rows=cap) == n
    md = pq.ParquetFile(out).metadata
    groups = [md.row_group(i).num_rows for i in range(md.num_row_groups)]
    assert groups == [cap] * (n // cap) + ([n % cap] if n % cap else [])
    assert open(out, "rb").read() == _row_funnel_bytes(df, tmp_path, cap)


def _row_funnel_bytes(df, tmp_path, row_group_rows):
    """The single-file format as the row funnel wrote it: the rows of
    ``df.collect()`` rebuilt into pyarrow arrays from Python lists, one
    snappy row group per ``row_group_rows`` rows. The Arrow sink must
    write these bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = {"string": pa.string(), "binary": pa.binary(), "bigint": pa.int64()}
    schema = pa.schema(
        [pa.field(f.name, types[f.dataType.simpleString()], f.nullable)
         for f in df.schema.fields]
    )
    rows = df.collect()
    path = str(tmp_path / "row_funnel.parquet")
    with pq.ParquetWriter(path, schema, compression="snappy") as writer:
        for at in range(0, len(rows), row_group_rows):
            group = rows[at : at + row_group_rows]
            writer.write_batch(pa.RecordBatch.from_arrays(
                [pa.array([r[i] for r in group], type=f.type)
                 for i, f in enumerate(schema)],
                schema=schema,
            ))
    with open(path, "rb") as fh:
        return fh.read()


@pytest.mark.parametrize(
    "case", ["null_bodies", "no_rows", "central_directory", "large_var_types"]
)
def test_single_file_bytes_match_the_row_funnel(spark, tmp_path, case):
    """The Arrow sink writes the row funnel's bytes on null values, on zero
    rows (no row group at all), on the probe's long columns, and when Spark
    encodes its Arrow batches with large var types."""
    import contextlib

    from zip_to_parquet_spark.runtime import pinned_conf
    from zip_to_parquet_spark.sinks import write_single_parquet_file
    from zip_to_parquet_spark.sources.zipsource import read_zip_central_directory

    for i in range(3):
        make_zip(tmp_path / f"a{i}.zip",
                 [(f"a{i}/m{j:02d}.txt", b"y" * j) for j in range(20 + 7 * i)])
    paths = str(tmp_path / "*.zip")
    pinned = contextlib.nullcontext()
    if case == "null_bodies":
        df = read_zip_members(spark, paths, body=False, batch_rows=13)
    elif case == "no_rows":
        df = read_zip_members(spark, paths, member_glob="**/*.none")
    elif case == "central_directory":
        df = read_zip_central_directory(spark, paths)
    else:
        df = read_zip_members(spark, paths, batch_rows=13)
        pinned = pinned_conf(spark, "spark.sql.execution.arrow.useLargeVarTypes", "true")
    out = str(tmp_path / "out.parquet")
    with pinned:
        n = write_single_parquet_file(df, out, row_group_rows=10)
    expected = _row_funnel_bytes(df, tmp_path, 10)
    assert n == (0 if case == "no_rows" else 81)
    assert open(out, "rb").read() == expected


def test_stdout_sink_writes_the_single_file_bytes(spark, tmp_path, monkeypatch):
    import types

    from zip_to_parquet_spark.sinks import write_parquet_stdout, write_single_parquet_file

    members = [(f"m{i:03d}.txt", f"data-{i}".encode()) for i in range(150)]
    df = read_zip_members(spark, make_zip(tmp_path / "s.zip", members))
    out = str(tmp_path / "out.parquet")
    assert write_single_parquet_file(df, out, row_group_rows=40) == 150
    stdout = types.SimpleNamespace(buffer=io.BytesIO())
    monkeypatch.setattr("sys.stdout", stdout)
    assert write_parquet_stdout(df, row_group_rows=40) == 150
    assert stdout.buffer.getvalue() == open(out, "rb").read()


def test_single_file_raises_on_a_damaged_archive(spark, tmp_path):
    """on_error='fail' (the default): a damaged archive fails the write;
    the sink never returns a short file as a success."""
    from zip_to_parquet_spark.sinks import write_single_parquet_file

    make_zip(tmp_path / "good.zip", BASIC)
    open(tmp_path / "bad.zip", "wb").write(b"this is not a zip file")
    df = read_zip_members(spark, str(tmp_path / "*.zip"))
    with pytest.raises(Exception, match="not a zip file"):
        write_single_parquet_file(df, str(tmp_path / "out.parquet"))


def test_empty_input_glob_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no input archives"):
        read_zip_members(spark, str(tmp_path / "nothing-*.zip"))


def test_invalid_member_glob_raises_at_plan_time(spark, tmp_path):
    zp = make_zip(tmp_path / "basic.zip", BASIC)
    with pytest.raises(ValueError, match="unterminated"):
        read_zip_members(spark, zp, member_glob="foo[")


def test_count_members(spark, tmp_path):
    zp = make_zip(tmp_path / "basic.zip", BASIC)
    assert count_members(spark, zp) == 3
    assert count_members(spark, zp, member_glob="sub/**") == 2


def _many_member_zip(path, n):
    """``n`` empty members; past 65,535, zipfile adds the ZIP64 end records."""
    with zipfile.ZipFile(path, "w") as z:
        for i in range(n):
            z.writestr(f"m{i:06d}.txt", b"")
    return str(path)


def test_count_members_without_glob_equals_the_scan(spark, tmp_path):
    """Without a glob, count_members sums the zips' end-record totals; each
    must equal the scan's row count. A tar in the input sends the whole
    count to the scan."""
    import tarfile

    basic = make_zip(tmp_path / "basic.zip", BASIC)
    dirs = str(tmp_path / "dirs.zip")
    with zipfile.ZipFile(dirs, "w") as z:
        for name in ("sub/", "sub/deep/", "sub/deep/f.txt"):
            z.writestr(name, b"" if name.endswith("/") else b"data")
    commented = make_zip(tmp_path / "commented.zip", BASIC)
    with zipfile.ZipFile(commented, "a") as z:
        z.comment = b"archive comment " * 500
    stub = str(tmp_path / "stub.zip")
    with open(stub, "wb") as f:
        f.write(b"#!/bin/sh\nexit 0\n" + open(basic, "rb").read())
    z64 = _many_member_zip(tmp_path / "z64.zip", 65540)
    tgz = str(tmp_path / "mix.tar.gz")
    with tarfile.open(tgz, "w:gz") as tf:
        for name in ("t1", "t2"):
            ti = tarfile.TarInfo(name)
            ti.size = 2
            tf.addfile(ti, io.BytesIO(b"tt"))

    cases = {"basic": (basic, 3), "dirs": (dirs, 3), "commented": (commented, 3),
             "stub": (stub, 3), "zip64": (z64, 65540), "mix": ([basic, tgz], 5)}
    for case, (patterns, n) in cases.items():
        scan = read_zip_members(spark, patterns, body=False, sha=False).count()
        assert count_members(spark, patterns) == scan == n, case


def test_count_members_without_glob_starts_no_spark_job(spark, tmp_path):
    import tarfile

    tracker = spark.sparkContext.statusTracker()
    a = make_zip(tmp_path / "a.zip", BASIC)
    b = make_zip(tmp_path / "b.zip", BASIC[:1])
    before = set(tracker.getJobIdsForGroup())
    assert count_members(spark, str(tmp_path / "*.zip")) == 4
    assert set(tracker.getJobIdsForGroup()) == before

    # The tracker does see the scan a tar input falls back to.
    tar = str(tmp_path / "c.tar")
    with tarfile.open(tar, "w") as tf:
        tf.addfile(tarfile.TarInfo("empty"))
    assert count_members(spark, [a, b, tar]) == 5
    assert set(tracker.getJobIdsForGroup()) - before


def test_count_members_wrap_ambiguous_end_record_takes_the_scan(spark, tmp_path):
    """A classic end record stores the total mod 65536 when a writer
    without ZIP64 passes 65535 entries: here 70,000 entries under a total
    of 4,464. The directory is too large for that total, so the count
    falls back to the scan, which reads all 70,000."""
    import struct

    from zip_to_parquet_spark.sources.zipsource import _eocd_member_count

    n = 70000
    zp = _many_member_zip(tmp_path / "wrap.zip", n)
    raw = open(zp, "rb").read()
    with zipfile.ZipFile(zp) as z:
        start = z.start_dir
    end_cd = len(raw) - 22 - 20 - 56  # classic EOCD, ZIP64 locator, ZIP64 EOCD
    eocd = struct.pack("<4s4H2LH", b"PK\x05\x06", 0, 0, n % 65536, n % 65536,
                       end_cd - start, start, 0)
    with open(zp, "wb") as f:
        f.write(raw[:end_cd] + eocd)
    with zipfile.ZipFile(zp) as z:
        assert len(z.infolist()) == n
    assert _eocd_member_count(zp) is None
    assert count_members(spark, zp) == n


def test_count_members_without_end_record_raises(spark, tmp_path):
    bad = str(tmp_path / "bad.zip")
    open(bad, "wb").write(b"this is not a zip file")
    with pytest.raises(Exception, match="not a zip file"):
        count_members(spark, bad)


def test_on_error_skip(spark, tmp_path):
    good = make_zip(tmp_path / "good.zip", BASIC)
    bad = str(tmp_path / "bad.zip")
    open(bad, "wb").write(b"this is not a zip file")
    df = read_zip_members(spark, [str(tmp_path / "*.zip")], on_error="skip")
    assert df.count() == 3  # bad archive skipped, good one intact
    with pytest.raises(Exception):
        read_zip_members(spark, [str(tmp_path / "*.zip")]).count()  # default: fail


def test_on_error_skip_counter(spark, tmp_path):
    """Permissive mode is observable: each archive dropped by
    on_error='skip' bumps the caller's accumulator exactly once (executor →
    driver on task completion), the Spark-native form of the reference's
    per-archive error log (builder.rs:65-71)."""
    make_zip(tmp_path / "good.zip", BASIC)
    open(tmp_path / "bad1.zip", "wb").write(b"not a zip")
    open(tmp_path / "bad2.zip", "wb").write(b"PK\x03\x04 truncated junk")
    # An archive whose member uses an unsupported compression method
    # (Deflate64, method 9) must take the same skip path as structural
    # corruption — ZipFormatError is a skip-mode error, not a job-killer.
    m9 = str(tmp_path / "bad3.zip")
    with zipfile.ZipFile(m9, "w", zipfile.ZIP_STORED) as zf:
        zf.writestr("d64.txt", b"whatever")
    raw = bytearray(open(m9, "rb").read())
    lh = raw.find(b"PK\x03\x04")
    raw[lh + 8 : lh + 10] = (9).to_bytes(2, "little")
    cd = raw.find(b"PK\x01\x02")
    raw[cd + 10 : cd + 12] = (9).to_bytes(2, "little")
    open(m9, "wb").write(bytes(raw))
    acc = spark.sparkContext.accumulator(0)
    df = read_zip_members(
        spark, [str(tmp_path / "*.zip")], on_error="skip", skip_counter=acc
    )
    assert df.count() == 3
    assert acc.value == 3
    # A second action re-reads and re-counts — accumulator semantics, so
    # callers read it once per job (documented; the CLI runs one action).
    df.count()
    assert acc.value == 6


def test_on_error_skip_mid_read_yields_nothing(spark, tmp_path):
    """A CRC failure on a LATER member must not leak the earlier, already-
    buffered members of the same archive (skip = the archive contributes
    zero rows, not a silent partial archive)."""
    good = make_zip(tmp_path / "good.zip", BASIC)
    bad = make_zip(
        tmp_path / "bad.zip",
        [("first.txt", b"readable"), ("second.txt", b"to-be-corrupted")],
        compression=zipfile.ZIP_STORED,
    )
    raw = bytearray(open(bad, "rb").read())
    at = raw.find(b"to-be-corrupted")
    assert at != -1
    raw[at] ^= 0xFF  # stored data no longer matches the member CRC
    open(bad, "wb").write(bytes(raw))

    df = read_zip_members(spark, [str(tmp_path / "*.zip")], on_error="skip")
    names = {r["name"] for r in df.collect()}
    assert names == {"a.txt", "sub/b.png", "sub/deep/c.csv"}  # good.zip only
    assert "first.txt" not in names  # buffered partial batch was discarded


def test_streaming_zip_source_incremental(spark, tmp_path):
    """New archives are picked up incrementally; checkpointed offsets make
    re-drains exactly-once (batch 2 reads only b.zip)."""
    import hashlib
    import os
    import zipfile

    from zip_to_parquet_spark.sources.zipsource import read_zip_members_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt, out_pq = str(tmp_path / "ckpt"), str(tmp_path / "out")

    def make_zip(name, members):
        with zipfile.ZipFile(in_dir / name, "w") as z:
            for m, data in members:
                z.writestr(m, data)

    def drain():
        stream = read_zip_members_stream(spark, f"{in_dir}/*.zip")
        q = (
            stream.writeStream.trigger(availableNow=True)
            .format("parquet")
            .option("path", out_pq)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    make_zip("a.zip", [("x.txt", b"hello"), ("y.txt", b"world")])
    drain()
    assert sorted(r.name for r in spark.read.parquet(out_pq).collect()) == [
        "x.txt",
        "y.txt",
    ]

    make_zip("b.zip", [("z.txt", b"again")])
    drain()
    rows = spark.read.parquet(out_pq).collect()
    assert sorted(r.name for r in rows) == ["x.txt", "y.txt", "z.txt"]
    by_name = {r.name: r for r in rows}
    assert by_name["z.txt"].hash == hashlib.sha256(b"again").hexdigest()
    assert os.path.basename(by_name["z.txt"].source) == "b.zip"


def test_streaming_offsets_bounded_watermark(tmp_path):
    """Offsets are an (mtime watermark, recent-window) pair: steady-state
    size is O(files within the lateness window), not O(all files ever);
    backfill processes fully; restarts don't reprocess; too-late arrivals
    drop (documented watermark trade)."""
    import os
    import time

    from zip_to_parquet_spark.sources.zipsource import ZipMembersStreamReader

    d = tmp_path / "w"
    d.mkdir()
    now = time.time()

    def touch(name, age_sec):
        p = d / name
        with zipfile.ZipFile(p, "w") as z:
            z.writestr("m.txt", b"x")
        os.utime(p, (now - age_sec, now - age_sec))
        return str(p)

    # Backfill: 50 archives spread over ~14 hours — far beyond lateness.
    backfill = [touch(f"old{i:03d}.zip", 1000 + i * 1000) for i in range(50)]
    opts = {"stream_glob": f"{d}/*.zip"}
    r = ZipMembersStreamReader(opts)
    start = r.initialOffset()
    end1 = r.latestOffset()
    # First batch enumerates and processes the whole backfill.
    first = r.partitions(start, end1)
    assert all(len(p.slices) == 1 for p in first)  # one partition per archive
    assert sorted(p.slices[0].path for p in first) == sorted(backfill)

    # Steady state: one fresh archive → next offset holds only the
    # lateness window (the fresh file plus the file *at* the previous
    # watermark), not the 50 backfill paths.
    fresh = touch("fresh.zip", 0)
    end2 = r.latestOffset()
    assert {p for _, p in end2["seen"]} == {fresh, backfill[0]}
    assert [p.slices[0].path for p in r.partitions(end1, end2)] == [fresh]

    # Driver restart: a fresh reader re-enumerates once, but the start
    # offset's horizon excludes everything already processed.
    r2 = ZipMembersStreamReader(opts)
    end3 = r2.latestOffset()
    assert len(end3["seen"]) == 51  # one-time full listing after restart
    assert r2.partitions(end2, end3) == []
    # ...and its next listing is bounded again.
    fresh2 = touch("fresh2.zip", 0)
    end4 = r2.latestOffset()
    assert {p for _, p in end4["seen"]} == {fresh, fresh2}
    assert [p.slices[0].path for p in r2.partitions(end3, end4)] == [fresh2]

    # A file landing with an mtime older than the lateness allowance is
    # dropped as too late.
    touch("straggler.zip", 9000)
    end5 = r2.latestOffset()
    assert r2.partitions(end4, end5) == []


def test_filter_pushdown_name_and_source(spark, tmp_path):
    """Catalyst filter pushdown into the zip source: name predicates filter
    members inside the scan (before decompression); source predicates prune
    whole archives from the partition list at planning time."""
    import zipfile

    from pyspark.sql import functions as F

    from zip_to_parquet_spark.sources.zipsource import read_zip_members

    for arch, members in (("a.zip", ["x.txt", "y.png"]), ("b.zip", ["z.txt"])):
        with zipfile.ZipFile(tmp_path / arch, "w") as z:
            for m in members:
                z.writestr(m, m.encode())

    df = read_zip_members(spark, f"{tmp_path}/*.zip")

    # Name pushdown: endswith + correctness.
    out = df.filter(F.col("name").endswith(".txt")).select("name")
    assert sorted(r.name for r in out.collect()) == ["x.txt", "z.txt"]

    # Source pushdown prunes archives: only b.zip's partition remains.
    pruned = df.filter(F.col("source").endswith("b.zip"))
    assert pruned.rdd.getNumPartitions() == 1
    assert [r.name for r in pruned.collect()] == ["z.txt"]

    # Unsupported predicates still evaluate correctly post-scan.
    mixed = df.filter(
        (F.col("name").endswith(".txt")) & (F.length("name") > 1)
    )
    assert sorted(r.name for r in mixed.collect()) == ["x.txt", "z.txt"]

    # --no-source: source is NULL, so source predicates must NOT prune
    # (Spark's residual filter then correctly drops every row).
    nosrc = read_zip_members(spark, f"{tmp_path}/*.zip", source=False)
    assert nosrc.filter(F.col("source").endswith("b.zip")).count() == 0


def test_empty_and_dir_entry_archives(spark, tmp_path):
    """An archive with zero members yields zero rows (not an error); pure
    directory entries produce rows with empty bodies, matching the
    reference's member-indexed iteration."""
    import hashlib
    import zipfile

    from zip_to_parquet_spark.sources.zipsource import read_zip_members

    with zipfile.ZipFile(tmp_path / "empty.zip", "w"):
        pass
    with zipfile.ZipFile(tmp_path / "dirs.zip", "w") as z:
        z.writestr("sub/", b"")
        z.writestr("sub/file.txt", b"data")

    df = read_zip_members(spark, f"{tmp_path}/*.zip")
    rows = {r.name: r for r in df.collect()}
    assert set(rows) == {"sub/", "sub/file.txt"}
    assert rows["sub/"].body == b""
    assert rows["sub/file.txt"].hash == hashlib.sha256(b"data").hexdigest()


def test_large_members_flush_by_bytes(spark, tmp_path):
    """Members larger than a batch's byte bound force per-batch flushes;
    bodies and hashes survive multi-batch assembly intact."""
    import hashlib
    import zipfile

    from zip_to_parquet_spark.sources.zipsource import read_zip_members

    blobs = {f"big{i}.bin": bytes([i]) * (3 * 1024 * 1024) for i in range(3)}
    with zipfile.ZipFile(tmp_path / "big.zip", "w", zipfile.ZIP_DEFLATED) as z:
        for name, data in blobs.items():
            z.writestr(name, data)

    df = read_zip_members(spark, f"{tmp_path}/big.zip", batch_rows=2)
    rows = {r.name: r for r in df.collect()}
    assert set(rows) == set(blobs)
    for name, data in blobs.items():
        assert rows[name].hash == hashlib.sha256(data).hexdigest()
        assert len(rows[name].body) == len(data)


def test_csv_members_malformed_lines(spark, tmp_path):
    # PERMISSIVE (default): malformed lines yield null columns, line_no
    # and member name preserved. FAILFAST: the job raises.
    import zipfile

    import pytest
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    from zip_to_parquet_spark.functions.recordize import parse_csv_members
    from zip_to_parquet_spark.sources.zipsource import read_zip_members

    p = tmp_path / "bad.zip"
    with zipfile.ZipFile(p, "w") as zf:
        zf.writestr("t.csv", "id,val\n1,10\nnot-a-number,20\n3,30\n")
    members = read_zip_members(spark, str(p), sha=False)

    rows = sorted(
        tuple(r)
        for r in parse_csv_members(members, "id BIGINT, val BIGINT").collect()
    )
    assert rows == [
        ("t.csv", 1, 1, 10),
        ("t.csv", 2, None, 20),
        ("t.csv", 3, 3, 30),
    ]

    with pytest.raises((Py4JJavaError, PySparkException)):
        parse_csv_members(
            members, "id BIGINT, val BIGINT", options={"mode": "FAILFAST"}
        ).collect()


def test_stream_on_error_skip_counter(spark, tmp_path):
    """The streaming reader threads the same skip accumulator as the batch
    reader: a corrupt archive arriving mid-stream is dropped, counted, and
    later micro-batches keep draining."""
    from zip_to_parquet_spark.sources.zipsource import read_zip_members_stream

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    ckpt, out_pq = str(tmp_path / "ckpt"), str(tmp_path / "out")
    acc = spark.sparkContext.accumulator(0)

    def drain():
        stream = read_zip_members_stream(
            spark, f"{in_dir}/*.zip", on_error="skip", skip_counter=acc
        )
        q = (
            stream.writeStream.trigger(availableNow=True)
            .format("parquet")
            .option("path", out_pq)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.awaitTermination()

    with zipfile.ZipFile(in_dir / "good.zip", "w") as z:
        z.writestr("a.txt", b"alpha")
    (in_dir / "bad.zip").write_bytes(b"not a zip at all")
    drain()
    assert acc.value == 1
    assert [r.name for r in spark.read.parquet(out_pq).collect()] == ["a.txt"]

    with zipfile.ZipFile(in_dir / "later.zip", "w") as z:
        z.writestr("b.txt", b"beta")
    drain()
    assert acc.value == 1  # bad.zip not reprocessed: offsets advanced past it
    assert sorted(r.name for r in spark.read.parquet(out_pq).collect()) == [
        "a.txt",
        "b.txt",
    ]


def test_jumbo_archive_splits_into_partitions(spark, tmp_path):
    """An archive with more members than split_members yields multiple
    member-index-range partitions with an IDENTICAL output bag (every
    member exactly once, bodies/hashes intact), and the reader-level
    partition list shows the split. The EOCD fast count must agree with
    the real central directory."""
    from zip_to_parquet_spark.sources.zipsource import (
        ZipMembersReader,
        _eocd_member_count,
    )
    import json

    members = [(f"m{i:04d}.txt", f"payload-{i}".encode()) for i in range(120)]
    zp = make_zip(tmp_path / "jumbo.zip", members)
    assert _eocd_member_count(zp) == 120

    # Reader-level: 120 members / threshold 50 -> 3 range partitions.
    rdr = ZipMembersReader(
        {"paths": json.dumps([zp]), "split_members": "50"}
    )
    parts = rdr.partitions()
    assert len(parts) == 3
    assert [[(s.start, s.end) for s in p.slices] for p in parts] == [
        [(0, 50)],
        [(50, 100)],
        [(100, 120)],
    ]

    # End-to-end: split output bag == unsplit output bag.
    def bag(df):
        return sorted(
            (r["name"], bytes(r["body"]), r["hash"]) for r in df.collect()
        )

    split_df = read_zip_members(spark, zp, split_members=50)
    assert split_df.rdd.getNumPartitions() == 3
    unsplit = bag(read_zip_members(spark, zp, split_members=0))
    assert bag(split_df) == unsplit
    assert len(unsplit) == 120


def test_small_archive_never_splits(spark, tmp_path):
    """Default threshold: a small archive stays one partition (the size
    gate must not even attempt an EOCD read for it)."""
    from zip_to_parquet_spark.sources.zipsource import ZipMembersReader
    import json

    zp = make_zip(tmp_path / "small.zip", BASIC)
    rdr = ZipMembersReader({"paths": json.dumps([zp])})
    parts = rdr.partitions()
    assert len(parts) == 1 and parts[0].slices == [(zp, 0, None)]


def test_small_archives_pack_in_path_order(tmp_path):
    """Whole archives pack into read partitions by Spark's file-split rule,
    next-fit in path order: every archive lands exactly once and bundles
    keep the input order. A jumbo archive's member ranges keep one
    partition each and close the bundle before them. The target is
    min(maxPartitionBytes, max(openCost, Σ(size + openCost) / minPartitions))."""
    import json
    import os

    from zip_to_parquet_spark.sources.zipsource import ZipMembersReader

    small = [
        make_zip(
            tmp_path / f"a{i:02d}.zip", [(f"m{i:02d}.txt", b"x" * 100)], zipfile.ZIP_STORED
        )
        for i in range(10)
    ]
    jumbo = make_zip(tmp_path / "j.zip", [(f"j{i:03d}.txt", b"") for i in range(30)])
    size = os.path.getsize(small[0])
    cost = 1000

    def layout(paths, max_bytes, min_partitions):
        rdr = ZipMembersReader(
            {
                "paths": json.dumps(paths),
                "split_members": "10",
                "max_partition_bytes": str(max_bytes),
                "open_cost_bytes": str(cost),
                "min_partitions": str(min_partitions),
            }
        )
        return [
            [(os.path.basename(s.path), s.start, s.end) for s in p.slices]
            for p in rdr.partitions()
        ]

    def whole(*idx):
        return [(f"a{i:02d}.zip", 0, None) for i in idx]

    # maxPartitionBytes binds: three archives fit (3·size + 2·cost).
    got = layout(small[:5] + [jumbo] + small[5:], 3 * size + 2 * cost, 1)
    assert got == [
        whole(0, 1, 2),
        whole(3, 4),
        [("j.zip", 0, 10)],
        [("j.zip", 10, 20)],
        [("j.zip", 20, 30)],
        whole(5, 6, 7),
        whole(8, 9),
    ]
    flat = [s for p in got for s in p if s[0] != "j.zip"]
    assert flat == whole(*range(10))  # each archive once, in path order

    # Σ(size + cost) / minPartitions binds: 10 archives over 2 partitions.
    assert layout(small, 1 << 30, 2) == [whole(0, 1, 2, 3, 4), whole(5, 6, 7, 8, 9)]
    # The open cost is the floor: more partitions wanted than archives
    # gives one archive per partition, never an empty one.
    assert layout(small, 1 << 30, 20) == [whole(i) for i in range(10)]


def _equal_archives(tmp_path, n):
    """``n`` stored archives of identical byte size, named in path order."""
    return [
        make_zip(
            tmp_path / f"p{i:03d}.zip",
            [(f"p{i:03d}/m{j}.txt", f"body-{i:03d}-{j}".encode()) for j in range(3)],
            compression=zipfile.ZIP_STORED,
        )
        for i in range(n)
    ]


def test_open_cost_above_max_partition_bytes_unpacks(spark, tmp_path):
    """Packing changes the task count, never the rows: with
    spark.sql.files.openCostInBytes above maxPartitionBytes every archive
    gets its own partition (as in Spark's own file sources), and the output
    bag and the single-file parquet bytes equal the packed run's."""
    from zip_to_parquet_spark.sinks import write_single_parquet_file
    from zip_to_parquet_spark.sources.zipsource import _conf_bytes

    dp = spark.sparkContext.defaultParallelism
    n = 3 * dp
    _equal_archives(tmp_path, n)

    def run(tag):
        df = read_zip_members(spark, str(tmp_path / "*.zip"))
        out = str(tmp_path / f"{tag}.parquet")
        write_single_parquet_file(df, out, row_group_rows=4)
        bag = sorted(
            (r["source"], r["name"], bytes(r["body"]), r["hash"]) for r in df.collect()
        )
        with open(out, "rb") as fh:
            return df.rdd.getNumPartitions(), bag, fh.read()

    packed = run("packed")
    key = "spark.sql.files.openCostInBytes"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(2 * _conf_bytes(spark, "spark.sql.files.maxPartitionBytes")))
    try:
        unpacked = run("unpacked")
    finally:
        spark.conf.set(key, prev)
    # Equal archives, total / defaultParallelism = 3 archives' cost: three
    # per partition.
    assert packed[0] == dp
    assert unpacked[0] == n
    assert len(packed[1]) == 3 * n
    assert unpacked[1] == packed[1]
    assert unpacked[2] == packed[2]


def test_on_error_skip_inside_packed_partition(spark, tmp_path):
    """A corrupt archive packed between two good ones drops alone: the
    archive after it in the same partition still emits its rows, and the
    skip counter counts exactly one archive."""
    from pyspark.sql import functions as F

    dp = spark.sparkContext.defaultParallelism
    paths = _equal_archives(tmp_path, 3 * dp)
    bad = paths[1]
    raw = bytearray(open(bad, "rb").read())
    at = raw.find(b"body-001-0")
    raw[at] ^= 0xFF  # same size, but the member CRC no longer matches
    open(bad, "wb").write(bytes(raw))

    acc = spark.sparkContext.accumulator(0)
    df = read_zip_members(
        spark, str(tmp_path / "*.zip"), on_error="skip", skip_counter=acc
    )
    pids: dict[str, set] = {}
    for r in df.select("source", F.spark_partition_id().alias("pid")).collect():
        pids.setdefault(r["source"], set()).add(r["pid"])
    assert acc.value == 1
    assert sorted(pids) == sorted(p for p in paths if p != bad)
    # The archives on both sides of the bad one share its partition.
    assert pids[paths[0]] == pids[paths[2]] and len(pids[paths[0]]) == 1


def test_central_directory_scan_no_decompression(spark, tmp_path):
    """read_zip_central_directory reports (name, crc32, sizes) straight
    from the central directory — values must match zipfile's metadata and
    zlib.crc32 of the original bytes, for every member, without a body or
    hash column in sight. It is the zipmembers scan itself: no shuffle and
    no pandas stage; a user schema other than the member rows or the probe
    is refused."""
    import json
    import zlib

    from zip_to_parquet_spark.sources.zipsource import (
        ZipMembersReader,
        read_zip_central_directory,
    )

    members = [(f"m{i}.txt", f"payload {i} {'x' * i}".encode()) for i in range(5)]
    p = make_zip(tmp_path / "cd.zip", members)
    df = read_zip_central_directory(spark, p)
    rows = {r["name"]: r for r in df.collect()}
    assert set(rows) == {n for n, _ in members}
    for name, data in members:
        r = rows[name]
        assert r["crc32"] == zlib.crc32(data)
        assert r["size"] == len(data)
        assert r["csize"] > 0
        assert r["source"].endswith("cd.zip")

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "MapInPandas" not in plan, plan
    assert "BatchScan zipmembers" in plan, plan

    with pytest.raises(ValueError, match="zipmembers reads the columns"):
        ZipMembersReader({}, columns=["name", "source", "crc32"])
    with pytest.raises(Exception, match="zipmembers reads the columns"):
        spark.read.format("zipmembers").schema("name string, size long").option(
            "paths", json.dumps([p])).load().collect()


def test_extract_member_hashes_scoped(spark, tmp_path):
    """Only the requested (source, name) members are extracted; hashes are
    standard sha256 hex of the decompressed bytes."""
    from zip_to_parquet_spark.sources.zipsource import extract_member_hashes

    members = [(f"m{i}.txt", f"data-{i}".encode()) for i in range(4)]
    p = make_zip(tmp_path / "ex.zip", members)
    want = spark.createDataFrame(
        [(p, "m1.txt"), (p, "m3.txt")], "source string, name string"
    )
    got = {
        r["name"]: r["hash"] for r in extract_member_hashes(want).collect()
    }
    assert got == {
        "m1.txt": hashlib.sha256(b"data-1").hexdigest(),
        "m3.txt": hashlib.sha256(b"data-3").hexdigest(),
    }


def test_extract_member_hashes_decodes_zstd_like_read_zip_members(spark, tmp_path):
    """Scoped extraction decodes a zstd (method 93) member through the same
    decoder as the full read, so both report the same hash."""
    from zip_to_parquet_spark.sources.zipsource import extract_member_hashes

    p = make_zstd_zip(tmp_path / "zstd.zip", [("a.txt", b"zstd " * 500), ("b.txt", b"x")])
    full = {r["name"]: r["hash"] for r in read_zip_members(spark, p).collect()}
    want = spark.createDataFrame([(p, "a.txt")], "source string, name string")
    got = {r["name"]: r["hash"] for r in extract_member_hashes(want).collect()}
    assert got == {"a.txt": full["a.txt"]}
    assert got["a.txt"] == hashlib.sha256(b"zstd " * 500).hexdigest()


# ---------------------------------------------------------------------------
# Partitioned sink: layout, dynamic overwrite, pruning
# ---------------------------------------------------------------------------
def test_write_partitioned_dynamic_overwrite_and_pruning(spark, tmp_path):
    import os

    from zip_to_parquet_spark.sinks import write_partitioned

    out = str(tmp_path / "part_tbl")
    df1 = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "c")], "id long, k string"
    )
    write_partitioned(df1, out, ["k"])
    dirs = sorted(d for d in os.listdir(out) if d.startswith("k="))
    assert dirs == ["k=a", "k=b", "k=c"]
    # Small-files control: one file per partition directory.
    for d in dirs:
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)

    # Dynamic overwrite: rewriting only k=a must leave b and c intact.
    df2 = spark.createDataFrame([(9, "a")], "id long, k string")
    write_partitioned(df2, out, ["k"])
    got = sorted(
        (r.id, r.k) for r in spark.read.parquet(out).collect()
    )
    assert got == [(3, "b"), (4, "c"), (9, "a")]

    # Read-side payoff: a partition-column filter prunes directories.
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        spark.read.parquet(out).filter("k = 'b'").explain("formatted")
    plan = buf.getvalue()
    import re

    assert re.search(r"PartitionFilters: \[.*k#\d+ = b", plan), plan


def test_write_partitioned_files_per_partition_salt(spark, tmp_path):
    import os

    from zip_to_parquet_spark.sinks import write_partitioned

    out = str(tmp_path / "salted_tbl")
    df = spark.createDataFrame(
        [(i, "a") for i in range(200)] + [(i, "b") for i in range(200)],
        "id long, k string",
    )
    write_partitioned(df, out, ["k"], files_per_partition=2)
    for d in ("k=a", "k=b"):
        files = [
            f
            for f in os.listdir(os.path.join(out, d))
            if f.endswith(".parquet")
        ]
        # pmod keeps the salt domain at exactly files_per_partition —
        # signed % would allow up to 2*n-1 files.
        assert 1 <= len(files) <= 2, (d, files)
    got = sorted(r.id for r in spark.read.parquet(out).filter("k='a'").collect())
    assert got == list(range(200))


def test_jsonl_shards_writer_atomic_roundtrip(spark, tmp_path):
    """Python DataSource WRITER (completes the reader/streamReader/writer
    API surface): sharded JSONL with two-phase commit. Round-trip via
    spark.read.json must preserve the rows; the sink dir must contain
    only finalized part files + _SUCCESS (no temp shards)."""
    import os

    from zip_to_parquet_spark.schema import load_table
    from zip_to_parquet_spark.sources.jsonlsink import write_jsonl_shards

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang", "n_chars"
    )
    out = str(tmp_path / "shards")
    write_jsonl_shards(docs.repartition(4), out)

    files = sorted(os.listdir(out))
    assert "_SUCCESS" in files
    parts = [f for f in files if f.startswith("part-")]
    assert len(parts) == 4
    assert not [f for f in files if f.startswith("_tmp_")]

    back = spark.read.json(out)
    a = {(r["doc_id"], r["lang"], r["n_chars"]) for r in docs.collect()}
    b = {(r["doc_id"], r["lang"], r["n_chars"]) for r in back.collect()}
    assert a == b

    # Overwrite mode replaces the shard set (no stale parts linger).
    write_jsonl_shards(docs.repartition(2), out)
    parts2 = [f for f in sorted(os.listdir(out)) if f.startswith("part-")]
    assert len(parts2) == 2


def test_jsonl_shards_failed_overwrite_preserves_old_data(spark, tmp_path):
    """The all-or-nothing claim under failure: an overwrite whose job
    dies mid-write must leave the PREVIOUS dataset fully readable (no
    plan-time delete), with temp shards swept. Also: append mode and
    binary columns are rejected loudly."""
    import os

    import pytest
    from pyspark.sql import functions as F
    from zip_to_parquet_spark.schema import load_table
    from zip_to_parquet_spark.sources.jsonlsink import write_jsonl_shards

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "lang"
    )
    out = str(tmp_path / "shards")
    write_jsonl_shards(docs.repartition(3), out)
    before = sorted(f for f in os.listdir(out) if f.endswith(".jsonl"))

    # A poisoned second write: every task throws before finishing.
    from pyspark.sql.functions import udf

    @udf("long")
    def boom(x):
        raise RuntimeError("poisoned row")

    with pytest.raises(Exception):
        write_jsonl_shards(docs.withColumn("doc_id", boom("doc_id")), out)

    after = sorted(f for f in os.listdir(out) if f.endswith(".jsonl"))
    assert after == before  # old shards untouched
    assert not [f for f in os.listdir(out) if f.startswith("_tmp_")]
    assert spark.read.json(out).count() == docs.count()

    with pytest.raises(Exception, match="overwrite"):
        write_jsonl_shards(docs, out, mode="append")

    binary_df = docs.withColumn("b", F.col("lang").cast("binary"))
    with pytest.raises(Exception, match="binary"):
        write_jsonl_shards(binary_df, str(tmp_path / "bin"))


def test_jsonl_stream_abort_tolerates_none_messages(tmp_path):
    """ADVICE r8: on the task-failure path Spark passes None for tasks
    that produced no commit message; abort must sweep leftover _tmp_
    shards without dereferencing them, and must not raise when the sink
    dir does not exist yet."""
    import os

    from zip_to_parquet_spark.sources.jsonlsink import JsonlStreamShardWriter

    root = tmp_path / "stream_sink"
    w = JsonlStreamShardWriter({"path": str(root)})

    # Sink dir absent (job died before any task wrote): no-op, no raise.
    w.abort([None, None], batchId=0)

    # Leftover temp shards + a mix of None and real commit messages.
    os.makedirs(root)
    (root / "_tmp_deadbeef.jsonl").write_text('{"x":1}\n')
    (root / "_tmp_cafebabe.jsonl").write_text('{"x":2}\n')
    (root / "keep.jsonl").write_text('{"x":3}\n')

    class Msg:
        tmp_name = "_tmp_deadbeef.jsonl"

    w.abort([None, Msg(), None], batchId=1)
    left = sorted(os.listdir(root))
    assert left == ["keep.jsonl"]  # all temps swept, real data untouched


def test_zip64_eocd_member_count(tmp_path):
    """A 65,540-member archive overflows the classic EOCD's 2-byte total
    (0xFFFF sentinel) and stdlib zipfile writes a ZIP64 EOCD — the fast
    count must defer to its 8-byte total (the 100 TB jumbo-archive path:
    a million-member zip reports its size from one bounded tail read,
    reference parity for builder.rs's per-archive iteration at sizes the
    reference never handled). Also covers the sentinel's interaction
    with a trailing archive comment (the EOCD scan must skip past it)."""
    import zipfile as zf

    from zip_to_parquet_spark.sources.zipsource import _eocd_member_count

    n = 65540  # > 0xFFFF - 1 forces the ZIP64 EOCD
    zp = _many_member_zip(tmp_path / "z64.zip", n)
    assert _eocd_member_count(zp) == n

    # Same archive with a zip comment: the signature scan must look back
    # past the comment bytes before finding the EOCD pair.
    zc = str(tmp_path / "z64c.zip")
    with zf.ZipFile(zc, "w") as z:
        for i in range(n):
            z.writestr(f"m{i:06d}.txt", b"")
        z.comment = b"trailing comment " * 100
    assert _eocd_member_count(zc) == n

    # Jumbo-split planning must work off the ZIP64 total: index-range
    # partitions tile [0, n) exactly (reader-level, no Spark needed).
    import json

    from zip_to_parquet_spark.sources.zipsource import ZipMembersReader

    rdr = ZipMembersReader(
        {"paths": json.dumps([zp]), "split_members": "10000"}
    )
    parts = rdr.partitions()
    assert all(len(p.slices) == 1 for p in parts)
    spans = sorted((s.start, s.end) for p in parts for s in p.slices)
    assert spans[0][0] == 0 and spans[-1][1] == n
    assert all(a[1] == b[0] for a, b in zip(spans, spans[1:]))
    assert len(parts) == -(-n // 10000)  # ceil: 7 partitions
