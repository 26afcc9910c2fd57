"""Benchmark inputs: the engine's test tables and an sf1 mirror of them.

``data/`` holds copies of the engine's deterministic test tables at
sf0.1 and sf0.001 (a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``), with their SHA-256 digests in
``data/SHA256SUMS``. sf1 is the sf0.1 copy scaled 10x with
``tools/make_scaled_sf.py`` (per-copy key strides and content
perturbation, row groups sized to split across cores); it is generated
once into ``.data/sf1`` with a manifest of content hashes and reused
only while every hash matches.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from datetime import datetime

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
GENERATED = os.path.join(HERE, ".data")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
SHIPPED = ("0.001", "0.1")
SCALED = {"1": ("0.1", 10)}  # sf -> (source sf, factor)


def _digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _shipped_digests() -> dict[str, str]:
    """``{"sf0.1/lineitem.parquet": sha256, ...}`` from SHA256SUMS."""
    with open(os.path.join(DATA, "SHA256SUMS")) as f:
        return {name: digest for digest, name in
                (line.split() for line in f if line.strip())}


def _check_shipped(sf: str) -> str:
    d = os.path.join(DATA, f"sf{sf}")
    want = _shipped_digests()
    for t in TABLES:
        rel = f"sf{sf}/{t}.parquet"
        if _digest(os.path.join(DATA, rel)) != want[rel]:
            raise RuntimeError(f"{rel} does not match its SHA-256 in "
                               "data/SHA256SUMS")
    return d


def _manifest_ok(d: str, expect: dict) -> bool:
    """True when ``d`` holds a manifest matching ``expect`` and every
    table file still hashes to its recorded digest."""
    try:
        with open(os.path.join(d, "MANIFEST.json")) as f:
            manifest = json.load(f)
    except (FileNotFoundError, ValueError):
        return False
    if {k: manifest.get(k) for k in expect} != expect:
        return False
    files = manifest.get("sha256", {})
    return set(files) == set(TABLES) and all(
        os.path.exists(os.path.join(d, f"{t}.parquet"))
        and _digest(os.path.join(d, f"{t}.parquet")) == files[t]
        for t in TABLES
    )


def ensure_mirror(sf: str, repo_root: str) -> str:
    """Directory holding the ``sf`` tables ("0.001", "0.1" or "1").
    The shipped scales are checked against their digests; sf1 is
    generated on first use and reused while its hashes match."""
    if sf in SHIPPED:
        return _check_shipped(sf)
    src_sf, factor = SCALED[sf]
    src = _check_shipped(src_sf)
    tool = os.path.join(repo_root, "tools", "make_scaled_sf.py")
    d = os.path.join(GENERATED, f"sf{sf}")
    # the source tables and the scaling tool decide the content
    expect = {"source": {t: _shipped_digests()[f"sf{src_sf}/{t}.parquet"]
                         for t in TABLES},
              "tool": _digest(tool), "factor": factor}
    if _manifest_ok(d, expect):
        return d
    shutil.rmtree(d, ignore_errors=True)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run([sys.executable, tool, str(factor), src, tmp],
                   check=True, stdout=subprocess.DEVNULL, cwd=repo_root)
    manifest = dict(expect)
    manifest["sha256"] = {t: _digest(os.path.join(tmp, f"{t}.parquet"))
                          for t in TABLES}
    manifest["created"] = datetime.now().isoformat(timespec="seconds")
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, d)
    return d


def describe(sf_dir: str) -> dict:
    """Rows, bytes and row groups per table (from parquet footers)."""
    out = {}
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        md = pq.ParquetFile(path).metadata
        out[t] = {"rows": md.num_rows, "bytes": os.path.getsize(path),
                  "row_groups": md.num_row_groups}
    return out


def fingerprint(sf_dir: str) -> str:
    """One digest for the content of every table in ``sf_dir``, from
    its recorded per-table digests."""
    if os.path.dirname(os.path.abspath(sf_dir)) == DATA:
        sf = os.path.basename(sf_dir)
        digests = _shipped_digests()
        parts = [digests[f"{sf}/{t}.parquet"] for t in TABLES]
    else:
        with open(os.path.join(sf_dir, "MANIFEST.json")) as f:
            digests = json.load(f)["sha256"]
        parts = [digests[t] for t in TABLES]
    return hashlib.sha256(" ".join(parts).encode()).hexdigest()
