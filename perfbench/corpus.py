"""Seeded zip corpus for the ``zip_ingest`` workload, plus its manifest check.

The corpus is ``N_ARCHIVES`` archives of Pareto-sized members (2 KiB to
256 KiB; three quarters deflated text, one quarter stored random bytes) and
one jumbo archive of more than 65,536 tiny members, which is the member count
above which the zip source splits one archive into several partitions.

Text bodies are slices of one seeded word pool, so generation costs one pool
build plus deflate, not a word join per member. The manifest lists every
member as ``[archive, name, size, method, sha256]``. A finished corpus is
cached under its seed and ``GENERATOR_VERSION``; bump the version whenever
the bytes this module writes change.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import zipfile
from collections import Counter

import numpy as np

GENERATOR_VERSION = 1

N_ARCHIVES = 16
BODY_BYTES = 8 * 1024 * 1024  # decompressed bytes over the N_ARCHIVES archives
MIN_SIZE, MAX_SIZE, PARETO_ALPHA = 2 * 1024, 256 * 1024, 1.2
JUMBO_MEMBERS = 66_000  # > 65,536, the zip source's split threshold
JUMBO_SIZES = (16, 256)
JUMBO = "jumbo.zip"
JUMBO_SEED = 65_537

_WORDS = (
    "the a of and to in is for on with as by at from that this be are was "
    "row column table parquet zip member archive hash body source batch spark "
    "stream window join scan filter sort group merge vector query data value "
    "key part order line customer fast slow big small"
).split()
_FIXED_DATE = (2020, 1, 1, 0, 0, 0)


def _text_pool(rng: np.random.Generator, nbytes: int) -> bytes:
    words = np.array([w.encode() + b" " for w in _WORDS], dtype=object)
    n_words = nbytes // 5 + 1
    return b"".join(words[rng.integers(0, len(words), n_words)])[:nbytes]


def _pareto_sizes(rng: np.random.Generator, total: int) -> list[int]:
    sizes: list[int] = []
    acc = 0
    while acc < total:
        draw = MIN_SIZE * (1.0 - rng.random(256)) ** (-1.0 / PARETO_ALPHA)
        for s in np.minimum(draw, MAX_SIZE).astype(int).tolist():
            sizes.append(s)
            acc += s
            if acc >= total:
                break
    return sizes


def _add(zf: zipfile.ZipFile, manifest: list, archive: str, name: str,
         body: bytes, deflate: bool) -> None:
    zi = zipfile.ZipInfo(name, date_time=_FIXED_DATE)
    zi.compress_type = zipfile.ZIP_DEFLATED if deflate else zipfile.ZIP_STORED
    zf.writestr(zi, body)
    manifest.append([archive, name, len(body), "deflate" if deflate else "stored",
                     hashlib.sha256(body).hexdigest()])


def _generate_regular(out_dir: str, seed: int, body_bytes: int) -> list:
    rng = np.random.default_rng(seed)
    pool = _text_pool(rng, 4 * MAX_SIZE + 1024 * 1024)
    manifest: list = []
    sizes = _pareto_sizes(rng, body_bytes)
    owner = rng.integers(0, N_ARCHIVES, len(sizes))
    is_text = rng.random(len(sizes)) < 0.75
    offsets = rng.integers(0, len(pool) - MAX_SIZE, len(sizes))
    for a in range(N_ARCHIVES):
        archive = f"part{a:02d}.zip"
        with zipfile.ZipFile(os.path.join(out_dir, archive), "w") as zf:
            for i in np.flatnonzero(owner == a).tolist():
                if is_text[i]:
                    body = pool[offsets[i]: offsets[i] + sizes[i]]
                else:
                    body = rng.bytes(sizes[i])
                ext = "txt" if is_text[i] else "bin"
                _add(zf, manifest, archive, f"d{i % 7}/m{i:06d}.{ext}", body,
                     deflate=bool(is_text[i]))
    return manifest


def _generate_jumbo(out_dir: str, members: int) -> list:
    rng = np.random.default_rng(JUMBO_SEED)
    pool = _text_pool(rng, 1024 * 1024)
    lo, hi = JUMBO_SIZES
    sizes = rng.integers(lo, hi, members).tolist()
    offsets = rng.integers(0, len(pool) - hi, members).tolist()
    text = (rng.random(members) < 0.75).tolist()
    manifest: list = []
    with zipfile.ZipFile(os.path.join(out_dir, JUMBO), "w") as zf:
        for i in range(members):
            body = pool[offsets[i]: offsets[i] + sizes[i]] if text[i] else rng.bytes(sizes[i])
            _add(zf, manifest, JUMBO, f"t{i // 1000:03d}/n{i:06d}", body, deflate=text[i])
    return manifest


def _cached(d: str, make) -> list:
    mpath = os.path.join(d, "manifest.json")
    if os.path.exists(mpath):
        with open(mpath) as fh:
            return json.load(fh)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    manifest = make(d)
    with open(mpath + ".tmp", "w") as fh:
        json.dump(manifest, fh)
    os.replace(mpath + ".tmp", mpath)
    return manifest


def cached_corpus(cache_root: str, seed: int, body_bytes: int = BODY_BYTES,
                  jumbo_members: int = JUMBO_MEMBERS) -> tuple[str, str, list]:
    """``(archive glob, jumbo archive path, manifest)`` for ``seed``.

    The ``N_ARCHIVES`` Pareto archives come from ``seed``. The jumbo archive
    is the same for every seed, so it is built once per cache; its size is
    set by the split threshold it must cross, not by the input mix."""
    tag = f"v{GENERATOR_VERSION}-b{body_bytes}"
    regular = os.path.join(cache_root, f"corpus-{tag}-s{seed}")
    jumbo = os.path.join(cache_root, f"jumbo-v{GENERATOR_VERSION}-m{jumbo_members}")
    manifest = _cached(regular, lambda d: _generate_regular(d, seed, body_bytes))
    manifest += _cached(jumbo, lambda d: _generate_jumbo(d, jumbo_members))
    return os.path.join(regular, "*.zip"), os.path.join(jumbo, JUMBO), manifest


def manifest_summary(manifest: list) -> dict:
    return {
        "members": len(manifest),
        "body_bytes": sum(m[2] for m in manifest),
        "archives": len({m[0] for m in manifest}),
    }


def member_multiset(manifest: list) -> Counter:
    """(archive basename, name, size, sha256) multiset of the manifest."""
    return Counter((m[0], m[1], m[2], m[4]) for m in manifest)


def check_members(expected: Counter, rows) -> list[str]:
    """Compare ``(source, name, size, hash)`` output rows against the
    manifest multiset; return one message per problem (empty when equal)."""
    got = Counter((os.path.basename(s), n, z, h) for s, n, z, h in rows)
    if got == expected:
        return []
    problems = []
    n_got, n_exp = sum(got.values()), sum(expected.values())
    if n_got != n_exp:
        problems.append(f"member count {n_got} != manifest {n_exp}")
    missing = expected - got
    extra = got - expected
    if missing or extra:
        problems.append(
            f"{sum(missing.values())} manifest members missing or altered, "
            f"{sum(extra.values())} unexpected, e.g. {next(iter(missing or extra))}"
        )
    return problems
