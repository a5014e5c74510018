"""Round-6 optimization guard: the Arrow-vectorized ``word_shingles``
must be bit-identical (element order included) to the pure-Catalyst
reference ``word_shingles_catalyst`` it replaced on the hot paths —
including the whitespace/edge semantics of the JVM chain it mirrors
(F.trim strips U+0020 only; Java ``\\s`` is [ \\t\\n\\x0B\\f\\r]; split
keeps leading empty tokens; array_distinct keeps first occurrence)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ontology_learning_spark.operators.dedup import word_shingles
from ontology_learning_spark.oracle.dedup_reference import word_shingles_catalyst

ADVERSARIAL_TEXTS = [
    None,
    "",
    " ",
    "   ",
    "one",
    "one two",
    "one two three",
    "one two three four five",
    "  leading and trailing  ",
    "\ttab\tseparated\ttokens\there\t",
    "mixed \t whitespace\nnewline\r carriage \x0b vt \f ff end",
    "UPPER Case MiXeD tokens repeat repeat repeat repeat",
    "a a a a a a a a",
    "a b a b a b a b",
    "x" * 500 + " y z w",
    "punct, tokens! with? marks; stay as-is",
    "unicode café naïve straße tokens here",
    "\n\nleading newlines stay because trim is space-only\n",
    "tab\tends the doc\t",
]


@pytest.mark.parametrize("n", [2, 3, 8])
def test_udf_shingles_bitwise_equal_catalyst(spark, n):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ADVERSARIAL_TEXTS)], "doc_id long, text string"
    )
    out = df.select(
        "doc_id",
        word_shingles_catalyst(F.col("text"), n).alias("ref"),
        word_shingles(F.col("text"), n).alias("opt"),
    ).collect()
    for r in out:
        assert r["ref"] == r["opt"], (n, r["doc_id"], r["ref"], r["opt"])


def test_udf_shingles_equal_on_driver_corpus(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    mismatch = docs.select(
        word_shingles_catalyst(F.col("text")).alias("ref"),
        word_shingles(F.col("text")).alias("opt"),
    ).where(F.col("ref") != F.col("opt")).count()
    assert mismatch == 0
