"""The benchmark's own output checks agree with naive recomputation."""

from __future__ import annotations

import itertools
import random
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import checks as CK  # noqa: E402


def _texts(n: int) -> dict[int, str]:
    rng = random.Random(0)
    words = "a b c d e f g h".split()
    out = {}
    for i in range(n):
        if i and rng.random() < 0.2:
            out[i] = out[rng.randrange(i)] + " dup"
        else:
            out[i] = " ".join(rng.choices(words, k=rng.randint(5, 30)))
    return out


def test_simhash_pairs_match_pairwise_hamming():
    text = _texts(200)
    want = {}
    for a, b in itertools.combinations(sorted(text), 2):
        h = bin(CK.simhash64(text[a]) ^ CK.simhash64(text[b])).count("1")
        if h <= 3:
            want[(a, b)] = h
    assert want and CK.simhash_pairs(text, 3) == want


def test_union_find_clusters():
    assert CK.union_find_clusters([(3, 1), (1, 2), (7, 9), (10, 11), (11, 9)]) == {(1, 3), (7, 4)}
