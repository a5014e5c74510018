"""Output checks computed by the benchmark itself, independent of the
operators under test: fingerprints, exact Jaccard / cosine / SimHash
recomputation, and a plain union-find. Each check returns a list of
failure strings; an empty list means the output is correct."""

from __future__ import annotations

import functools
import hashlib
import re
from collections import Counter

import numpy as np

_JAVA_WS = re.compile("[ \t\n\x0b\f\r]+")


def triples_fingerprint(triples) -> str:
    """SHA-256 over the sorted (subj, pred, obj) set, one tab-joined line each."""
    lines = sorted("\t".join(t) for t in {tuple(t) for t in triples})
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct lower-cased word n-grams split on Java-regex whitespace,
    the tokenisation the dedup operators document."""
    toks = _JAVA_WS.split((text or "").strip(" ").lower())
    if len(toks) < n:
        return set()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    u = len(sa | sb)
    return len(sa & sb) / u if u else 0.0


@functools.lru_cache(maxsize=None)
def _token_votes(tok: str) -> np.ndarray:
    bits = np.unpackbits(np.frombuffer(hashlib.md5(tok.encode()).digest()[:8], np.uint8))
    return np.where(bits == 1, 1, -1)


def simhash64(text: str) -> int:
    """64-bit SimHash: per token the first 8 bytes of its MD5, MSB-first,
    each bit voting +/-1 weighted by the token count."""
    cnt = Counter((text or "").lower().split())
    if not cnt:
        return 0
    acc = np.zeros(64, dtype=np.int64)
    for tok, c in cnt.items():
        acc += c * _token_votes(tok)
    return int(sum(1 << i for i in range(64) if acc[i] > 0))


_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def simhash_pairs(text_by_id: dict, max_hamming: int) -> dict[tuple, int]:
    """{(id_a < id_b): Hamming distance} of every pair whose SimHashes
    differ in at most ``max_hamming`` bits, by brute force over all pairs."""
    ids = sorted(text_by_id)
    sigs = np.array([simhash64(text_by_id[i]) for i in ids], dtype=np.uint64)
    out = {}
    for k in range(len(ids) - 1):
        x = (sigs[k + 1:] ^ sigs[k]).view(np.uint8).reshape(-1, 8)
        dist = _POPCOUNT8[x].sum(axis=1)
        for j in np.flatnonzero(dist <= max_hamming):
            out[(ids[k], ids[k + 1 + j])] = int(dist[j])
    return out


def union_find_clusters(pairs) -> set[tuple]:
    """{(min member, size)} for every connected component of >= 2 nodes."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict = {}
    for x in parent:
        members.setdefault(find(x), []).append(x)
    return {(min(m), len(m)) for m in members.values() if len(m) >= 2}


def check_pairs_jaccard(pairs, text_by_id: dict, threshold: float, name: str) -> list[str]:
    bad = [(a, b) for a, b in pairs if jaccard(text_by_id[a], text_by_id[b]) < threshold]
    return [f"{name}: {len(bad)} reported pairs below Jaccard {threshold}, e.g. {bad[:3]}"] \
        if bad else []


def check_planted(found, planted, name: str) -> list[str]:
    missing = set(map(tuple, planted)) - set(map(tuple, found))
    return [f"{name}: {len(missing)} planted pairs not found, e.g. {sorted(missing)[:3]}"] \
        if missing else []
