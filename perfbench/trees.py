"""Seeded source trees for the upload workloads, and the byte check that
says whether a file landed in the fake store.

Names, sizes, contents and mtimes are all drawn from one numpy Generator,
so a seed always gives the same tree. Files sit two directory levels deep,
the shape `sources.ingest` fans its walk out over.
"""

from __future__ import annotations

import os
import re

import numpy as np

# Name of the root directory of every tree, passed to `upload --cutoff`; keys
# start below it as long as no directory above the checkout has this name.
CUTOFF = "srcroot"

NAME_WORDS = ("scan", "page", "folio", "plate", "leaf", "map", "reel", "box")
EXTS = ("tif", "jpg", "xml", "txt", "pdf", "dat")


def build(root: str, rng: np.random.Generator, sizes: list[int], fanout: tuple[int, int],
          mtime_ns: int, tag: str = "f") -> list[str]:
    """Write one file per entry of `sizes` under `root`, spread over
    fanout[0] x fanout[1] directories, all with mtime `mtime_ns`."""
    words = rng.integers(0, len(NAME_WORDS), len(sizes))
    exts = rng.integers(0, len(EXTS), len(sizes))
    blob = rng.bytes(int(sum(sizes)))
    paths, offset = [], 0
    for i, size in enumerate(sizes):
        a, b = i % fanout[0], (i // fanout[0]) % fanout[1]
        d = os.path.join(root, f"d{a:02d}", f"s{b:02d}")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{NAME_WORDS[words[i]]}-{tag}{i:06d}.{EXTS[exts[i]]}")
        with open(path, "wb") as fh:
            fh.write(blob[offset:offset + size])
        offset += size
        os.utime(path, ns=(mtime_ns, mtime_ns))
        paths.append(path)
    return paths


def small_sizes(rng: np.random.Generator, n: int) -> list[int]:
    """0-4 KiB, uniform."""
    return rng.integers(0, 4097, n).tolist()


def remote_sizes(rng: np.random.Generator, n: int, big_mib: tuple[int, ...]) -> list[int]:
    """Heavy-tailed: lognormal around 16 KiB (capped at 2 MiB) scaled to a
    fixed 24 KiB mean, plus one file of each size in `big_mib` at seeded
    positions. The seed moves names, shapes and positions; the total bytes
    stay the same, so every seed asks for the same amount of work."""
    sizes = np.minimum(rng.lognormal(np.log(16 * 1024), 1.2, n), 2 * 2**20)
    sizes = np.floor(sizes * (24 * 1024 * n / sizes.sum())).astype(int)
    for pos, mib in zip(rng.choice(n, len(big_mib), replace=False), big_mib):
        sizes[pos] = mib * 2**20
    return sizes.tolist()


def object_key(path: str) -> str:
    """The key `cli upload --cutoff CUTOFF` derives: the path after the
    first `CUTOFF/` component, without a leading slash
    (functions.paths.object_key). Keys are then the same on every run,
    wherever the tree sits."""
    key = re.sub("^.*?" + re.escape(CUTOFF) + "/", "", path, count=1)
    return key[1:] if key.startswith("/") else key


def stored_bytes(container_dir: str, key: str) -> bytes | None:
    """The object at `key`, or its `key/part-NNNN` objects concatenated in
    part order; None when neither is there."""
    path = os.path.join(container_dir, key)
    if os.path.isfile(path):
        with open(path, "rb") as fh:
            return fh.read()
    if not os.path.isdir(path):
        return None
    parts = sorted(p for p in os.listdir(path) if p.startswith("part-") and p[5:].isdigit())
    if not parts or parts != [f"part-{n:04d}" for n in range(len(parts))]:
        return None
    chunks = []
    for p in parts:
        with open(os.path.join(path, p), "rb") as fh:
            chunks.append(fh.read())
    return b"".join(chunks)


def state(container_dir: str, path: str) -> str:
    """What the store holds for the file at `path`: "ok" when it is every
    byte of the file, "missing" when the object or one of its parts is
    absent, "corrupt" when it has other bytes."""
    with open(path, "rb") as fh:
        want = fh.read()
    got = stored_bytes(container_dir, object_key(path))
    if got == want:
        return "ok"
    if got is None or (len(got) < len(want) and want.startswith(got)):
        return "missing"
    return "corrupt"
