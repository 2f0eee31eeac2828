"""Output checks that do not run the program under test.

Expected results come from the generator's ground truth, from DuckDB over
the same Parquet the program wrote or read, or from the pure-Python
reimplementations below.
"""

from __future__ import annotations

import numpy as np

P1 = np.uint64(0x9E3779B185EBCA87)
P2 = np.uint64(0xC2B2AE3D27D4EB4F)
P3 = np.uint64(0x165667B19E3779F9)
P4 = np.uint64(0x85EBCA77C2B2AE63)
P5 = np.uint64(0x27D4EB2F165667C5)


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * P2
    h = h ^ (h >> np.uint64(29))
    h = h * P3
    return h ^ (h >> np.uint64(32))


def xxhash64_long_int(values: np.ndarray, int_seed: int, seed: int = 42) -> np.ndarray:
    """Spark's ``xxhash64(long_col, lit(int_seed))`` (XXH64 ``hashLong`` then
    ``hashInt``, starting from Spark's default seed 42) as signed int64."""
    with np.errstate(over="ignore"):
        v = values.astype(np.int64).view(np.uint64)
        h = np.full(v.shape, seed, dtype=np.uint64) + P5 + np.uint64(8)
        h = h ^ (_rotl(v * P2, 31) * P1)
        h = _rotl(h, 27) * P1 + P4
        h = _fmix(h)
        h = h + P5 + np.uint64(4)
        h = h ^ (np.uint64(int_seed & 0xFFFFFFFF) * P1)
        h = _rotl(h, 23) * P2 + P3
        return _fmix(h).view(np.int64)


def expected_sample(ids: np.ndarray, n: int, seed: int) -> set[int]:
    """The ``n`` ids that ``deterministic_sample(df, n, [id], seed)`` keeps:
    the smallest by ``xxhash64(id, seed)``."""
    order = np.argsort(xxhash64_long_int(ids, seed), kind="stable")
    return set(ids[order[:n]].tolist())


def shingles(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str, n: int = 3) -> float:
    sa, sb = shingles(a, n), shingles(b, n)
    return round(len(sa & sb) / max(len(sa | sb), 1), 6)


class Checks:
    """Counts check outcomes and ground-truth items found; ``failures``
    keeps a one-line reason for each failed check."""

    def __init__(self) -> None:
        self.failures: list[str] = []
        self.run = 0
        self.found = 0
        self.expected = 0

    def check(self, ok: bool, what: str) -> bool:
        self.run += 1
        if not ok:
            self.failures.append(what)
        return ok

    def items(self, found: int, expected: int) -> None:
        self.found += found
        self.expected += expected

    @property
    def recall(self) -> float:
        return self.found / self.expected if self.expected else 0.0
