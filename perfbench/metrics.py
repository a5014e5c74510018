"""Metric definitions. ``BENCHMARK.json`` lists the same names, units and
directions; ``test_benchmark_json`` keeps the two in step.

End-to-end metrics come from untraced runs. Each per-layer metric names
the end-to-end metric and workload it should move. A layer a workload
does not call reads 0 in that workload's traced run.
"""

from __future__ import annotations

# name, unit, better, bound, meaning
END_TO_END = [
    ("setup_s", "s", "lower", 0.25,
     "session start, workload preparation (the catalog on kg_flagship) and the warm-up pass"),
    ("wall_s", "s", "lower", 0.25, "median wall of one timed repetition"),
    ("items_per_s", "1/s", "higher", 0.25,
     "distinct triples / wall_s on kg_flagship (triples_per_s); input docs / wall_s elsewhere"),
]

PHASE_STATS = [("wall_s", "s"), ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                ("core_s", "s"), ("shuffle_write_bytes", "B"), ("spill_bytes", "B")]
PHASES = ["extract", "leg_offers", "leg_tech", "leg_triples", "decide", "canon", "count"]

_FLAG = "wall_s and items_per_s on kg_flagship"
_SCAN = "wall_s on near_dup_scan"
_DELTA = "delta_p50_s of the delta ingest in the traced near_dup_scan run (ungated)"

# name, unit, better, what it should move
PER_LAYER = [
    ("session.start_s", "s", "lower", "setup_s on every workload"),
    ("session.warmup_s", "s", "lower", "setup_s on every workload"),
    ("extraction_rules.ms_per_doc", "ms", "lower", f"{_FLAG} and {_DELTA}; not {_SCAN}"),
    ("extraction_rules.matcher_build_s", "s", "lower", "setup_s"),
    ("xxh64.mb_per_s", "MB/s", "higher", f"{_SCAN} and {_DELTA}"),
    ("dedup.band_table_docs_per_s", "1/s", "higher", f"{_SCAN} and {_DELTA}"),
    ("semantics.seq_ratio_pairs_per_s", "1/s", "higher", "the leg_offers phase of kg_flagship"),
    *[(f"pipeline.{p}.{s}", u, "lower", _FLAG) for p in PHASES for s, u in PHASE_STATS],
    ("pipeline.idle_core_frac", "ratio", "lower", f"{_FLAG} (job overhead of the tail)"),
    ("extraction.mentions", "count", "higher", "must repeat exactly (cut-point count)"),
    ("linking.concepts", "count", "higher", "must repeat exactly (cut-point count)"),
    ("linking.offers", "count", "higher", "must repeat exactly (cut-point count)"),
    ("decisions.rows", "count", "higher", "must repeat exactly (cut-point count)"),
    ("canonicalize.alias_edges", "count", "higher", "must repeat exactly (cut-point count)"),
    ("dedup.lsh_candidates", "count", "lower", _SCAN),
    ("dedup.verified_pairs", "count", "higher", f"must repeat exactly; {_SCAN}"),
    ("dedup.verify_yield", "ratio", "higher", _SCAN),
    ("dedup.minhash_s", "s", "lower", _SCAN),
    ("dedup.simhash_s", "s", "lower", _SCAN),
    ("dedup.clusters_s", "s", "lower", _SCAN),
    ("simsearch.emb_near_dups_s", "s", "lower", _SCAN),
    ("canonicalize.cc_s", "s", "lower", _SCAN),
    ("canonicalize.cc_driver_path", "flag", "higher",
     "1 when connected_components takes the driver union-find, 0 when distributed"),
    ("incremental.extract_batch_s", "s", "lower", _DELTA),
    ("incremental.near_dedup_batch_s", "s", "lower", _DELTA),
    ("incremental.bytes_written_per_doc", "B", "lower", _DELTA),
    ("incremental.state_bytes", "B", "lower", _DELTA),
    ("incremental.near_dedup_drift", "ratio", "lower", _DELTA),
    ("jvm.peak_rss_mb", "MB", "lower",
     "memory on every workload; printed with the end-to-end metrics but unbounded, since the "
     "JVM's high-water mark moves ~25% run to run with heap growth"),
    ("trace.overhead_s", "s", "lower", "none: traced wall_s minus untraced wall_s in one run"),
]
