"""Round-5 guards for the ADVICE.md items: minhash_plan degraded-regime
warning, coherent one-param LSH geometry, simhash block-count guard,
and the dedup_clusters pad-width contract for long string ids."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from ontology_learning_spark.operators.dedup import (
    dedup_clusters,
    minhash_plan,
    simhash_near_dups,
)
from ontology_learning_spark.operators.simsearch import _resolve_lsh_geometry, lsh_plan


def test_minhash_plan_warns_only_when_cap_binds():
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        assert minhash_plan(0.9) == (90, 10)
    assert not rec, "no warning expected when the midpoint clears"
    with pytest.warns(UserWarning, match="cap binds"):
        minhash_plan(0.5)


def test_lsh_geometry_one_param_is_coherent():
    assert _resolve_lsh_geometry(0.9, 12, 6) == (12, 6)
    assert _resolve_lsh_geometry(0.9, None, None, n=50_000) == lsh_plan(50_000, 0.9)
    with pytest.raises(ValueError):
        _resolve_lsh_geometry(0.9, None, None, n=None)
    import math

    p_bit = 1 - math.acos(0.9) / math.pi
    # only rows: bands solved from the recall target at that r
    b, r = _resolve_lsh_geometry(0.9, None, 8)
    assert r == 8
    assert 1 - (1 - p_bit ** r) ** b >= 0.99 or b == 128
    # only bands: the largest r whose recall target fits in b bands
    # (the code's criterion is the ln(1/miss)/p^r band requirement)
    import math as _m

    need = _m.log(1 / 0.01)
    b2, r2 = _resolve_lsh_geometry(0.9, 64, None)
    assert b2 == 64
    assert 1 - (1 - p_bit ** r2) ** 64 >= 0.99
    assert need / (p_bit ** (r2 + 1)) > 64
    # a band count below the recall requirement floors r at 4
    assert _resolve_lsh_geometry(0.9, 2, None) == (2, 4)


def test_simhash_blocks_guard(spark):
    df = spark.range(4).select(
        F.col("id").alias("doc_id"), F.lit("hello world text").alias("text")
    )
    with pytest.raises(ValueError, match="must be > max_hamming"):
        simhash_near_dups(df, max_hamming=3, blocks=3)
    # n_docs threading skips the count and matches the counted plan
    got = simhash_near_dups(df, max_hamming=3, blocks=None, n_docs=4).count()
    assert got == simhash_near_dups(df, max_hamming=3).count()


def test_dedup_clusters_long_string_ids_do_not_collide(spark):
    # two distinct 24-char ids sharing a 20-char prefix; under the old
    # fixed lpad(20) both truncated to the same CC node and idmap key,
    # merging two disjoint near-dup pairs into one corrupt cluster
    base = "Z" * 20
    text_a = "alpha beta gamma delta epsilon zeta eta theta"
    text_b = "one two three four five six seven eight nine"
    rows = [
        (base + "AAAA", text_a),
        (base + "BBBB", text_a + " iota"),
        ("shortA", text_b),
        ("shortB", text_b + " ten"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = dedup_clusters(df, threshold=0.5).orderBy("canonical_id").collect()
    assert [(r["canonical_id"], r["cluster_size"]) for r in out] == [
        (base + "AAAA", 2),
        ("shortA", 2),
    ]
