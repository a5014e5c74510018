"""Round-6 parity pins for the fused Arrow minhash band table.

Two layers:
1. ``functions.xxh64`` (scalar + vectorized) is bit-exact with the JVM
   ``F.xxhash64`` — the whole fast path rests on this.
2. ``minhash_band_table`` (one fused mapInArrow pass) emits row-for-row
   the same (id, band, bh) set as the JVM reference
   ``minhash_band_table_catalyst`` on adversarial texts and on the
   driver corpus, at two thresholds (different geometries), and with
   the product-block bound below one document's gram count; and
   ``minhash_lsh_candidates`` is exactly the set of pairs sharing a key
   of that reference table.
"""

import random

import pytest
from pyspark.sql import functions as F

from ontology_learning_spark.functions.xxh64 import xxh64_many, xxh64_signed, xxh64_str
from ontology_learning_spark.operators import dedup as DD
from ontology_learning_spark.operators.dedup import minhash_band_table
from ontology_learning_spark.oracle.dedup_reference import (
    minhash_band_table_catalyst,
    word_shingles_catalyst,
)

SF_DIR = "/root/testdata/sf0.001"


def test_xxh64_matches_jvm(spark):
    rng = random.Random(7)
    cases = ["", "a", "hello world", "naïve café", "日本語テキスト",
             "\x00\x01\x02", "x" * 31, "y" * 32, "z" * 33, "w" * 100, "€" * 40]
    for _ in range(400):
        n = rng.randrange(0, 90)
        cases.append("".join(
            chr(rng.choice([rng.randrange(32, 127), rng.randrange(0x80, 0x2FFF)]))
            for _ in range(n)))
    df = spark.createDataFrame([(s,) for s in cases], "s string")
    jvm = {r["s"]: r["h"] for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in cases:
        assert xxh64_str(s) == jvm[s]


def test_xxh64_many_matches_scalar():
    rng = random.Random(11)
    items = [b"", b"q" * 32, b"r" * 65, bytes(range(256))]
    items += [bytes(rng.randrange(0, 256) for _ in range(rng.randrange(0, 130)))
              for _ in range(800)]
    vec = xxh64_many(items)
    for b, got in zip(items, vec):
        assert xxh64_signed(b) == got


ADVERSARIAL = [
    ("a", None), ("b", ""), ("c", "one two"), ("d", "one two three"),
    ("e", "x \t\n y \x0b z w"), ("f", " lead trail  mid   gap words here "),
    ("g", "ünï çödé tökens ünï çödé tökens more"), ("h", "r r r r r r r r"),
    ("i", "A B C a b c A B C d"),
]


@pytest.mark.parametrize("threshold", [0.9, 0.7])
def test_band_table_parity_adversarial(spark, threshold):
    df = spark.createDataFrame(ADVERSARIAL, "doc_id string, text string")
    new = minhash_band_table(df, threshold=threshold)
    old = minhash_band_table_catalyst(df, threshold=threshold)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    assert [f.simpleString() for f in new.schema.fields] == \
        [f.simpleString() for f in old.schema.fields]


def test_band_table_parity_corpus(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    new = minhash_band_table(docs, threshold=0.9)
    old = minhash_band_table_catalyst(docs, threshold=0.9)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def _corpus_and_adversarial(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text")
    return docs.unionByName(spark.createDataFrame(ADVERSARIAL, "doc_id string, text string"))


def test_band_table_parity_gram_blocks(spark, monkeypatch):
    # a block bound below most docs' gram counts: docs straddle blocks,
    # and the 400-word doc spans eight of them
    monkeypatch.setattr(DD, "_BAND_CHUNK_GRAMS", 50)
    long_doc = spark.createDataFrame(
        [("long", " ".join(f"t{i % 397}" for i in range(400)))], "doc_id string, text string")
    df = _corpus_and_adversarial(spark).unionByName(long_doc)
    new = minhash_band_table(df, threshold=0.9)
    old = minhash_band_table_catalyst(df, threshold=0.9)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0


def test_lsh_candidates_equal_shared_band_keys(spark):
    # the corpus's candidate pairs are planted copies sharing most
    # bands; a family of 40 two-token edits of one doc adds ~200 pairs
    # that mostly share exactly one band key
    rng = random.Random(5)
    base = [f"w{rng.randrange(1000)}" for _ in range(60)]
    family = []
    for k in range(40):
        toks = list(base)
        for _ in range(2):
            toks[rng.randrange(60)] = f"v{k}x{rng.randrange(1000)}"
        family.append((f"fam{k:02d}", " ".join(toks)))
    df = _corpus_and_adversarial(spark).unionByName(
        spark.createDataFrame(family, "doc_id string, text string"))
    buckets: dict = {}
    for r in minhash_band_table_catalyst(df, threshold=0.9).collect():
        buckets.setdefault((r["band"], r["bh"]), []).append(r["id"])
    want = {(min(a, b), max(a, b))
            for ids in buckets.values() for a in ids for b in ids if a != b}
    got = {(r["id_a"], r["id_b"])
           for r in DD.minhash_lsh_candidates(df, threshold=0.9).collect()}
    assert want and got == want


def test_exploded_gram_hashes_parity(spark):
    from ontology_learning_spark.operators.dedup import exploded_gram_hashes

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    adv = spark.createDataFrame(ADVERSARIAL, "doc_id string, text string")
    for df, n in ((docs, 8), (docs, 3), (adv, 2)):
        ref = df.select(
            F.col("doc_id").alias("id"),
            F.explode(word_shingles_catalyst(F.col("text"), n)).alias("g"),
        ).select("id", F.xxhash64("g").alias("gh"))
        new = exploded_gram_hashes(df, "text", "doc_id", n)
        assert new.exceptAll(ref).count() == 0
        assert ref.exceptAll(new).count() == 0
