"""Pure-JVM reference forms of the dedup shingle and MinHash band paths.

No Python runs in either form, so each is independent of the Python
tokenizer and XXH64 port it checks. The package never calls them:
``tests/test_round6_shingles.py`` pins ``operators.dedup.word_shingles``
against ``word_shingles_catalyst``, and ``tests/test_round6_band_arrow.py``
pins ``minhash_band_table``, ``exploded_gram_hashes`` and
``minhash_lsh_candidates`` against forms built from these two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import _MERSENNE_P, SHINGLE_N, _hash_params, minhash_plan


def word_shingles_catalyst(col, n: int = SHINGLE_N):
    """Distinct word n-grams as an array column (pure Catalyst).

    Shape matters: referencing the tokenized array inside a per-element
    lambda (the round-1 form indexed `toks` via element_at per shingle)
    gets the regex split INLINED into the lambda by projection collapse
    — re-tokenizing the whole document once per shingle, O(tokens²)
    regex work per doc (measured 20s of the 21s minhash bench time at
    sf0.1). arrays_zip of n shifted slices evaluates the split O(n)
    times per ROW instead, and the zip/transform are per-element cheap.

    Kept as the JVM reference implementation (and the semantic twin of
    the DuckDB oracles); the package uses the vectorized
    ``operators.dedup.word_shingles`` — higher-order array functions are
    INTERPRETED expression eval (no whole-stage codegen), and the
    zip/struct/concat chain was measured at ~300 core-seconds for 2.6M
    shingles (50k docs) vs ~10 for the Arrow-vectorized form.
    ``tests/test_round6_shingles.py`` pins bitwise equality of the two
    on adversarial inputs (tabs/newlines/empties/nulls/repeats)."""
    toks = F.split(F.lower(F.trim(col)), r"\s+")
    k = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    zipped = F.arrays_zip(*[F.slice(toks, j + 1, k) for j in range(n)])
    grams = F.transform(
        zipped, lambda s: F.concat_ws(" ", *[s[str(j)] for j in range(n)])
    )
    return F.array_distinct(F.when(F.size(toks) >= n, grams).otherwise(F.array()))


def minhash_band_table_catalyst(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.9,
) -> DataFrame:
    """JVM reference for ``operators.dedup.minhash_band_table`` (and its
    semantic twin for the DuckDB oracles): explode of
    ``word_shingles_catalyst`` → one ``F.xxhash64`` per shingle →
    ``num_hashes`` plain arithmetic projections (whole-stage codegen) →
    groupBy-min → band struct explode, with the geometry of
    ``minhash_plan(threshold)``."""
    num_hashes, bands = minhash_plan(threshold)
    rows = num_hashes // bands
    params = _hash_params(num_hashes)
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles_catalyst(F.col(text_col))).alias("g"),
    ).withColumn("h", F.pmod(F.xxhash64("g"), F.lit(1 << 31)))
    sig = ex.groupBy("id").agg(
        *[F.min((F.col("h") * a + b) % _MERSENNE_P).alias(f"m{i}")
          for i, (a, b) in enumerate(params)]
    )
    return sig.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(F.concat_ws(",", *[F.col(f"m{b * rows + j}") for j in range(rows)])).alias("bh"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))
