"""Benchmark inputs: the pinned sf0.01 fixtures and per-seed stream dirs.

The fixture tables (the sf0.01 row of TESTDATA.md) are copied once into
the benchmark's work dir and checked against `fixtures.sha256`, so every
run reads the same bytes from inside the checkout.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil

from gen_events import write_events

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The generated stream: thousands of keys (state grows with them) at a
# size where one streaming rung takes about a second on 4 cores.
STREAM_ROWS = 20_000
STREAM_KEYS = 2_000
STREAM_SKEW = 0.8


def _digests() -> dict[str, str]:
    with open(os.path.join(HERE, "fixtures.sha256")) as fh:
        return {name: digest for digest, name in (line.split() for line in fh if line.strip())}


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def fixture_source() -> str:
    """The sf0.01 fixture directory named in TESTDATA.md."""
    with open(os.path.join(ROOT, "TESTDATA.md")) as fh:
        m = re.search(r"^\|\s*0\.01\s*\|\s*`([^`]+)`", fh.read(), re.M)
    if not m:
        raise RuntimeError("TESTDATA.md names no sf0.01 directory")
    return m.group(1).rstrip("/")


def fixture_dir(work: str) -> str:
    """The verified local copy of the sf0.01 tables (made on first use)."""
    dst = os.path.join(work, "sf0.01")
    digests = _digests()
    if all(os.path.exists(os.path.join(dst, n)) for n in digests):
        return dst
    src, tmp = fixture_source(), dst + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, digest in digests.items():
        shutil.copyfile(os.path.join(src, name), os.path.join(tmp, name))
        if _sha256(os.path.join(tmp, name)) != digest:
            raise RuntimeError(f"{src}/{name} does not match fixtures.sha256")
    os.rename(tmp, dst)
    return dst


def stream_dir(work: str, run_dir: str, seed: int) -> str:
    """Fixture tables plus a seed-generated events table, under run_dir."""
    fixtures = fixture_dir(work)
    dst = os.path.join(run_dir, "stream")
    os.makedirs(dst)
    for name in _digests():
        if name != "events.parquet":
            os.link(os.path.join(fixtures, name), os.path.join(dst, name))
    write_events(os.path.join(dst, "events.parquet"), seed, STREAM_ROWS,
                 STREAM_KEYS, STREAM_SKEW)
    return dst
