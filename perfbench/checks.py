"""Output checks, run on every measured step.

Checks read the engine's committed checkpoint directly with pyarrow (no
Spark job), so checking adds little to a run.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow.dataset as ds


class CheckFailed(Exception):
    pass


def read_column_table(root: str, table: str, columns: list[str], upto_wave: int | None = None):
    """Concatenate `columns` of every parquet file under root/table/wave=K
    (K <= upto_wave when given) into a dict of numpy arrays. The files are
    read in parallel: a big wave leaves hundreds of them."""
    tdir = os.path.join(root, table)
    files = []
    if os.path.isdir(tdir):
        for wdir in sorted(os.listdir(tdir)):
            if upto_wave is not None and int(wdir.split("=")[1]) > upto_wave:
                continue
            for dirpath, _dirs, names in os.walk(os.path.join(tdir, wdir)):
                files.extend(os.path.join(dirpath, fn) for fn in sorted(names)
                             if fn.endswith(".parquet"))
    if not files:
        return {c: np.array([], dtype=object) for c in columns}
    t = ds.dataset(files, format="parquet").to_table(columns=columns, use_threads=True)
    return {c: t.column(c).to_numpy() for c in columns}


def frontier_digest(root: str, last_wave: int) -> tuple[str, int]:
    """Check the frontier log of a finished run and return (digest, rows).

    url_key must be unique and seq must be exactly 0..rows-1. The digest is
    a sha256 over (seq, url_key) in seq order: two runs on the same inputs
    must produce the same one.
    """
    f = read_column_table(root, "frontier", ["seq", "url_key"], upto_wave=last_wave + 1)
    seq, keys = f["seq"].astype(np.int64), f["url_key"]
    n = len(seq)
    if len(np.unique(keys)) != n:
        raise CheckFailed(f"frontier url_key not unique ({n} rows)")
    order = np.argsort(seq, kind="stable")
    seq, keys = seq[order], keys[order]
    if n and not np.array_equal(seq, np.arange(n, dtype=np.int64)):
        raise CheckFailed("frontier seq is not contiguous from 0")
    h = hashlib.sha256()
    for s, k in zip(seq.tolist(), keys.tolist()):
        h.update(f"{s}:{k}\n".encode())
    return h.hexdigest(), n


def visited_in_frontier(root: str, last_wave: int) -> int:
    """visited must be a subset of the frontier; returns visited rows."""
    v = read_column_table(root, "visited", ["url_key"], upto_wave=last_wave)["url_key"]
    f = read_column_table(root, "frontier", ["url_key"], upto_wave=last_wave + 1)["url_key"]
    missing = set(v.tolist()) - set(f.tolist())
    if missing:
        raise CheckFailed(f"{len(missing)} visited url_keys are not in the frontier")
    return len(v)


def check_crawl(root: str, last_wave: int) -> tuple[str, int, int]:
    """All frontier checks for one run; returns (digest, frontier rows,
    visited rows)."""
    digest, n_frontier = frontier_digest(root, last_wave)
    return digest, n_frontier, visited_in_frontier(root, last_wave)


def dir_bytes(root: str) -> dict[str, tuple[int, int]]:
    """{table: (files, bytes)} for every table directory under root."""
    out: dict[str, tuple[int, int]] = {}
    for table in sorted(os.listdir(root)):
        tdir = os.path.join(root, table)
        if not os.path.isdir(tdir):
            continue
        n = b = 0
        for dirpath, _dirs, files in os.walk(tdir):
            for fn in files:
                n += 1
                b += os.path.getsize(os.path.join(dirpath, fn))
        out[table] = (n, b)
    return out
