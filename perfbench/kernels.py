"""Single-core kernel timings on fixed batches (traced runs only).

The batches do not depend on the run's seed, so a kernel's number moves
only when the kernel does. Each timing is the median of ``REPS`` passes.
"""

from __future__ import annotations

import statistics
import time

REPS = 3


def _median_time(fn) -> float:
    walls = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _texts(n: int) -> list[str]:
    from ontology_learning_spark.fixtures.generator import generate_documents
    from ontology_learning_spark.functions import semantics as S

    from inputs import span_doc_text

    return [S.preprocess_text(span_doc_text(d)) for d in generate_documents(n_docs=n, seed=0)]


def run(spark, surfaces: tuple[str, ...], tracer) -> dict:
    from ontology_learning_spark.fixtures import baseline
    from ontology_learning_spark.functions import extraction_rules as X
    from ontology_learning_spark.functions import semantics as S
    from ontology_learning_spark.functions.xxh64 import xxh64_many
    from ontology_learning_spark.operators.dedup import minhash_band_table

    texts = _texts(400)
    out = {}
    with tracer.span("kernel.matcher_build"):
        out["extraction_rules.matcher_build_s"] = _median_time(
            lambda: X.DictionaryMatcher(surfaces))
    X.get_matcher(surfaces)  # build outside the per-doc timing
    with tracer.span("kernel.extract_document"):
        out["extraction_rules.ms_per_doc"] = 1e3 * _median_time(
            lambda: [X.extract_document(t, surfaces) for t in texts]) / len(texts)

    grams = [g.encode() for t in texts for g in
             (" ".join(w) for w in zip(t.split(), t.split()[1:], t.split()[2:]))]
    n_bytes = sum(map(len, grams))
    with tracer.span("kernel.xxh64_many"):
        out["xxh64.mb_per_s"] = n_bytes / 1e6 / _median_time(lambda: xxh64_many(grams))

    names = sorted({S.normalize_name(r["name"]) for r in baseline.entity_catalog()})
    concepts = sorted({w for t in texts[:50] for w in t.split() if len(w) > 3})[:200]
    pairs = [(c, n) for c in concepts for n in names[:60]]
    with tracer.span("kernel.seq_ratio"):
        out["semantics.seq_ratio_pairs_per_s"] = len(pairs) / _median_time(
            lambda: [S.seq_ratio(a, b) for a, b in pairs])

    # the fused band table is a Spark operator: time it over a pinned
    # frame of the same fixed texts, replicated to a corpus-sized batch
    rows = [(i, texts[i % len(texts)] + f" copy{i}") for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(
        spark.sparkContext.defaultParallelism).cache()
    df.count()
    with tracer.span("kernel.minhash_band_table"):
        out["dedup.band_table_docs_per_s"] = len(rows) / _median_time(
            lambda: minhash_band_table(df, threshold=0.9).write.format("noop")
            .mode("overwrite").save())
    df.unpersist()
    return out
