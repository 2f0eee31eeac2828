"""Seeded input generator for the benchmark workloads.

Everything here is derived from ``(workload, seed, size)`` with numpy's
PCG64 generator, so the same arguments give byte-identical files and a
different seed gives different ones. The generator also records the ground
truth each workload's output check needs, computed from how the input was
built, never from the program under test:

* caption lists in the reference's ``id|||File:x.jpg|||caption`` format,
  with control characters and trailing-dot variants, plus each caption's
  token count, sentence count and shortest sentence (the v1 filter columns);
* three caption shapes (COCO-like, F30k-like, WICSMMIR-like);
* a dedup corpus with planted exact and one-token-edit duplicates, and an
  embedding table with planted near neighbours, each with its pair list;
* the file names whose image fetch fails (about 5%), decided by a CRC of
  the name that :func:`make_fetcher` applies the same way.

Work is vectorised: tokens, lengths, variants and ids are drawn as NumPy
arrays; Python loops only build the vocabularies and join strings.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np

# Control characters that neither Java's, RE2's nor Python's ``\s`` treat
# as whitespace, so every engine tokenizes the captions the same way.
CONTROL_CHARS = [chr(c) for c in [*range(0x01, 0x09), *range(0x0E, 0x1C), 0x7F]]
FETCH_FAIL_PER_MILLE = 50
_CONSONANTS = list("bcdfghjklmnprstvwz")
_VOWELS = list("aeiou")


def make_vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lowercase pseudo-words of 2 to 4 syllables."""
    syl = np.array([c + v for c in _CONSONANTS for v in _VOWELS])
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        k = rng.integers(2, 5, size=2 * n)
        picks = rng.integers(0, len(syl), size=(2 * n, 4))
        for row, length in zip(picks, k):
            w = "".join(syl[row[:length]])
            if w not in seen:
                seen.add(w)
                out.append(w)
                if len(out) == n:
                    break
    return np.array(out, dtype=object)


@dataclass
class Captions:
    """Generated captions plus their v1-filter ground truth."""

    ids: np.ndarray  # int64, unique
    files: np.ndarray  # object, ``File:<Name>.<ext>``
    captions: np.ndarray  # object
    num_tok: np.ndarray  # int64
    num_sent: np.ndarray  # int64
    min_sent_len: np.ndarray  # int64


# name: (sentences lo..hi, tokens per sentence lo..hi, proper-noun share,
#        control-char share). Bounds are inclusive.
SHAPES = {
    "coco": ((1, 1), (8, 14), 0.02, 0.0),
    "f30k": ((1, 2), (9, 20), 0.04, 0.0),
    "wicsmmir": ((1, 6), (3, 25), 0.12, 0.03),
}


def gen_captions(seed: int, n: int, shape: str = "wicsmmir", id_base: int = 0) -> Captions:
    """``n`` captions of one shape. Tokens are words, so the token count is
    the word count; sentences end in ``.`` except for the trailing-dot
    variants (final dot missing or doubled)."""
    sent_rng, tok_rng, pn_share, cc_share = SHAPES[shape]
    rng = np.random.default_rng([seed, zlib.crc32(shape.encode())])
    vocab = make_vocab(rng, 4000)
    proper = np.array([w.capitalize() for w in make_vocab(rng, 600)], dtype=object)

    n_sent = rng.integers(sent_rng[0], sent_rng[1] + 1, size=n)
    sent_owner = np.repeat(np.arange(n), n_sent)
    sent_len = rng.integers(tok_rng[0], tok_rng[1] + 1, size=len(sent_owner))
    tok_sent = np.repeat(np.arange(len(sent_len)), sent_len)
    n_tok = len(tok_sent)

    # Zipf-like word ranks so the vocabulary has a head and a long tail.
    ranks = (rng.zipf(1.15, size=n_tok) - 1) % len(vocab)
    words = vocab[ranks]
    is_pn = rng.random(n_tok) < pn_share
    words[is_pn] = proper[rng.integers(0, len(proper), size=int(is_pn.sum()))]

    sent_start = np.concatenate([[0], np.cumsum(sent_len)[:-1]])
    words[sent_start] = np.array([w.capitalize() for w in words[sent_start]], dtype=object)
    sent_end = sent_start + sent_len - 1
    words[sent_end] = words[sent_end] + "."

    # Trailing-dot variants on each caption's last sentence.
    cap_last = np.cumsum(n_sent) - 1
    last_tok = sent_end[cap_last]
    variant = rng.random(n)
    nodot = last_tok[variant < 0.06]
    words[nodot] = np.array([w[:-1] for w in words[nodot]], dtype=object)
    twodots = last_tok[(variant >= 0.06) & (variant < 0.09)]
    words[twodots] = words[twodots] + "."

    # Control characters go in front of a word so no sentence boundary moves.
    if cc_share:
        cc_caps = np.flatnonzero(rng.random(n) < cc_share)
        tok_start = np.concatenate([[0], np.cumsum(sent_len)])[np.concatenate([[0], np.cumsum(n_sent)])[:-1]]
        cap_tok = np.bincount(sent_owner, weights=sent_len, minlength=n).astype(np.int64)
        pos = tok_start[cc_caps] + (rng.random(len(cc_caps)) * cap_tok[cc_caps]).astype(np.int64)
        chars = np.array(CONTROL_CHARS, dtype=object)[rng.integers(0, len(CONTROL_CHARS), size=len(pos))]
        words[pos] = chars + words[pos]

    tok_bounds = np.concatenate([[0], np.cumsum(np.bincount(sent_owner, weights=sent_len, minlength=n))]).astype(np.int64)
    captions = np.empty(n, dtype=object)
    wl = words.tolist()
    for i in range(n):
        captions[i] = " ".join(wl[tok_bounds[i] : tok_bounds[i + 1]])

    ids = id_base + rng.permutation(n).astype(np.int64) + 1
    tags = rng.integers(0, 2**40, size=n)
    exts = np.array(["jpg", "JPG", "png"], dtype=object)[rng.integers(0, 3, size=n)]
    files = np.array(
        [f"File:{shape.capitalize()}_{t:010x}_{i}.{e}" for t, i, e in zip(tags.tolist(), ids.tolist(), exts)],
        dtype=object,
    )
    return Captions(
        ids=ids,
        files=files,
        captions=captions,
        num_tok=np.diff(tok_bounds),
        num_sent=n_sent.astype(np.int64),
        min_sent_len=np.minimum.reduceat(sent_len, np.concatenate([[0], np.cumsum(n_sent)[:-1]])).astype(np.int64),
    )


def caption_list_bytes(c: Captions) -> bytes:
    lines = [f"{i}|||{f}|||{t}" for i, f, t in zip(c.ids.tolist(), c.files, c.captions)]
    return ("\n".join(lines) + "\n").encode("utf-8")


def fetch_fails(name: str) -> bool:
    """Whether the image for a canonical file name (``File:`` stripped) fails
    to fetch: a CRC decides, so the fetcher and the ground truth agree."""
    return zlib.crc32(name.encode()) % 1000 < FETCH_FAIL_PER_MILLE


def make_fetcher():
    """Deterministic local stand-in for the Wikimedia fetch: the image for a
    URL is a RawGrid raster derived from the file name at the URL's end, and
    names selected by :func:`fetch_fails` fail on both URLs.

    Returned as a closure so Spark pickles it by value: the benchmark's own
    modules are not importable in the Python workers.
    """
    fail_per_mille = FETCH_FAIL_PER_MILLE

    def fetch(url: str, fallback: str | None) -> bytes | None:
        import struct
        import zlib as _zlib

        import numpy as _np

        name = url.rsplit("px-", 1)[-1]
        h = _zlib.crc32(name.encode())
        if h % 1000 < fail_per_mille:
            return None
        w, hgt = 24 + h % 41, 24 + (h >> 8) % 41
        pix = (_np.arange(w * hgt * 3, dtype=_np.uint32) * (h | 1) >> 7).astype(_np.uint8)
        return b"RG" + struct.pack(">HHH", w, hgt, 3) + pix.tobytes()

    return fetch


def canonical_name(file: str) -> str:
    """The name the program's URL builder puts at the end of the URL, for
    generated names (ASCII letters, digits and ``_``; first letter upper)."""
    return file.removeprefix("File:")


@dataclass
class DedupCorpus:
    ids: np.ndarray
    texts: np.ndarray
    exact_pairs: np.ndarray  # (k, 2) int64: (original id, exact copy id)
    near_pairs: np.ndarray  # (k, 2) int64: (original id, one-token-edit id)
    vec_ids: np.ndarray
    vectors: np.ndarray  # float32 (n, dim)
    vec_pairs: np.ndarray  # (k, 2) int64: planted near neighbours


def gen_dedup(seed: int, n_docs: int, n_vecs: int, dim: int = 32,
              exact_share: float = 0.02, near_share: float = 0.10,
              vec_share: float = 0.05) -> DedupCorpus:
    """Text corpus with ``exact_share`` exact copies and ``near_share``
    one-token-substitution copies (each of a distinct original), and an
    embedding table with ``vec_share`` planted near neighbours."""
    rng = np.random.default_rng([seed, 7])
    vocab = make_vocab(rng, 6000)
    n_exact = int(n_docs * exact_share)
    n_near = int(n_docs * near_share)
    n_base = n_docs - n_exact - n_near
    lens = rng.integers(20, 41, size=n_base)
    bounds = np.concatenate([[0], np.cumsum(lens)])
    toks = rng.integers(0, len(vocab), size=int(bounds[-1]))
    words = vocab[toks].tolist()
    base = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n_base)]

    src = rng.choice(n_base, size=n_exact + n_near, replace=False)
    exact_src, near_src = src[:n_exact], src[n_exact:]
    near = []
    for s in near_src.tolist():
        w = words[bounds[s] : bounds[s + 1]]
        pos = int(rng.integers(0, len(w)))
        repl = w[pos]
        while repl == w[pos]:
            repl = vocab[int(rng.integers(0, len(vocab)))]
        near.append(" ".join(w[:pos] + [repl] + w[pos + 1 :]))
    texts = np.array(base + [base[s] for s in exact_src.tolist()] + near, dtype=object)
    # Random ids, so a copy is as likely to get the lower id as its original.
    ids = rng.permutation(n_docs).astype(np.int64) + 1
    exact_pairs = np.stack([ids[exact_src], ids[n_base : n_base + n_exact]], axis=1)
    near_pairs = np.stack([ids[near_src], ids[n_base + n_exact :]], axis=1)

    n_vpairs = int(n_vecs * vec_share)
    vecs = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    vsrc = rng.choice(n_vecs - n_vpairs, size=n_vpairs, replace=False)
    vecs[n_vecs - n_vpairs :] = vecs[vsrc] + 0.02 * rng.standard_normal((n_vpairs, dim)).astype(np.float32)
    vec_ids = rng.permutation(n_vecs).astype(np.int64) + 1
    vec_pairs = np.stack([vec_ids[vsrc], vec_ids[n_vecs - n_vpairs :]], axis=1)
    return DedupCorpus(ids, texts, exact_pairs, near_pairs, vec_ids, vecs, vec_pairs)


def cache_dir(root: str, workload: str, seed: int, size: int) -> str:
    """Where one generated input set lives; ``root`` is ignored by git."""
    return os.path.join(root, f"{workload}-s{seed}-n{size}")

