"""The workloads, and the delta-ingest sequence that the traced
near_dup_scan run adds (``delta_ingest``). Each is driven closed-loop
from one driver thread: a call is made only after the previous one
returned.

A workload exposes
- ``load()``: reads the cached inputs into Spark (untimed);
- ``prepare()`` and ``warm()``: set-up, timed into ``setup_s``. The
  warm-up is ``WARM_PASSES`` untimed passes of the workload over its own
  inputs, so code generation, JIT compilation, Python workers and their
  caches are warm when the timed repetitions start (measured on 4
  cores: passes keep speeding up for ~5 passes as the JIT compiles the
  planner and operator code; the pass after one warm-up pass varied
  ~25% run to run, the third and fourth passes ~5-10%);
- ``rep()``: one timed repetition, returning its wall, the operations
  attempted and the failures found by checking every output;
- ``layer_metrics()``: traced runs only, the counts that need extra jobs.
"""

from __future__ import annotations

import inspect
import random
import shutil
import statistics
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import checks as CK
import inputs as IN

NEARDUP_THRESHOLD = 0.9
WARM_PASSES = 3
WARM_DOCS = 150
SIMHASH_MAX_HAMMING = 3


def _catalog_surfaces() -> tuple[str, ...]:
    from ontology_learning_spark.fixtures import baseline

    return tuple(sorted({r["name"].lower() for r in baseline.entity_catalog()}))


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Workload:
    def __init__(self, spark, paths: dict, meta: dict, seed: int, tracer, workdir: Path):
        self.spark = spark
        self.cores = spark.sparkContext.defaultParallelism
        self.paths = {k: str(v) for k, v in paths.items()}
        self.meta = meta
        self.seed = seed
        self.tracer = tracer
        self.workdir = workdir

    def prepare(self) -> None:
        pass


# ---------------------------------------------------------------------------


class KgFlagship(Workload):
    """run_pipeline over the span corpus with a prepared catalog, up to
    counting the triples (the timed region of bench.py's headline)."""

    name = "kg_flagship"
    n_docs = IN.FLAGSHIP_DOCS

    def prepare(self) -> None:
        from ontology_learning_spark.fixtures import baseline
        from ontology_learning_spark.operators import linking as L

        self.catalog = L.prepare_catalog(self.spark, baseline.entity_catalog()).cache()
        self.catalog.count()

    def _corpus(self, df):
        # ~1250 docs a partition with a floor of one per core: bench.py's sizing
        return df.repartition(max(self.cores, df.count() // 1250)).cache()

    def warm(self) -> None:
        from ontology_learning_spark.plans.pipeline import run_pipeline

        for _ in range(WARM_PASSES):
            run_pipeline(self.spark, self.docs, catalog_df=self.catalog).triples.count()

    def load(self) -> None:
        self.docs = self._corpus(self.spark.read.parquet(self.paths["docs"]))
        self.docs.count()
        self.expected = self.meta["expected"]
        self.observed: list[dict] = []
        self.sample = self._sample_mentions()

    def _sample_mentions(self) -> dict:
        """Reference mentions of a seeded 100-doc sample, computed with the
        extraction rules directly (no Spark): beside the expected mention
        count, a check of the mentions' content."""
        from ontology_learning_spark.functions import extraction_rules as X
        from ontology_learning_spark.functions import semantics as S

        docs = pq.read_table(self.paths["docs"]).to_pylist()
        surfaces = _catalog_surfaces()
        want = {}
        for d in random.Random(self.seed).sample(docs, 100):
            mentions, _ = X.extract_document(S.preprocess_text(IN.span_doc_text(d)), surfaces)
            want[d["doc_id"]] = sorted((m.surface, m.char_offset) for m in mentions
                                       if S.is_valid_concept(m.surface))
        return want

    def rep(self) -> dict:
        from ontology_learning_spark.plans.pipeline import run_pipeline

        sink: dict = {}
        with self.tracer.span("pipeline.run_pipeline") as sp:
            t0 = time.time()
            res = run_pipeline(self.spark, self.docs, catalog_df=self.catalog, timing_sink=sink)
            n_triples = res.triples.count()
            wall = time.time() - t0
        if sp is not None:
            self._phase_spans(sp, t0, sink, t0 + wall)
        self.last = res
        out = {
            "triples_sha256": CK.triples_fingerprint(
                tuple(r) for r in res.triples.select("subj", "pred", "obj").collect()),
            "triples": n_triples,
            "mentions": res.mentions.count(),
            "decisions": res.decisions.count(),
        }
        failures = []
        got = {d: [] for d in self.sample}
        for r in res.mentions.where(F.col("doc_id").isin(list(self.sample))).select(
                "doc_id", "surface", "char_offset").collect():
            got[r[0]].append((r[1], r[2]))
        bad = [d for d in self.sample if sorted(got[d]) != self.sample[d]]
        if bad:
            failures.append(f"kg_flagship: mentions of {len(bad)} sampled docs differ from "
                            f"the extraction rules, e.g. {bad[:3]}")
        if out != self.expected:
            failures.append(f"kg_flagship: output {out} != expected {self.expected}")
        if self.observed and out != self.observed[0]:
            failures.append(f"kg_flagship: output changed between repetitions: {out}")
        self.observed.append(out)
        return {"wall_s": wall, "attempted": 1, "failures": failures, "items": n_triples,
                "phases": sink}

    def _phase_spans(self, parent, t0: float, sink: dict, t_end: float) -> None:
        ms = lambda k: 1000.0 * (t0 + sink[k])  # noqa: E731
        legs_end = max(sink["leg_offers_done"], sink["leg_tech_done"], sink["leg_triples_done"])
        add = self.tracer.add
        add("pipeline.extract", 1000.0 * t0, ms("extract_done"), parent)
        for leg in ("offers", "tech", "triples"):
            add(f"pipeline.leg_{leg}", ms("extract_done"), ms(f"leg_{leg}_done"), parent,
                pool=f"leg-{leg}")
        add("pipeline.decide", 1000.0 * (t0 + legs_end), ms("decide_done"), parent)
        add("pipeline.canon", ms("decide_done"), ms("canon_done"), parent)
        add("pipeline.count", ms("canon_done"), 1000.0 * t_end, parent)

    def layer_metrics(self) -> dict:
        from ontology_learning_spark.functions import columns as C
        from ontology_learning_spark.operators import decisions as D

        res = self.last
        alias_edges = D.mapping_objects(res.decisions).select(
            F.col("name").alias("surface"),
            C.normalize_name_cached("canonical").alias("alias_of"),
        ).where(F.col("surface") != F.col("alias_of"))
        return {
            "extraction.mentions": res.mentions.count(),
            "linking.concepts": res.concepts.count(),
            "linking.offers": res.matches.count(),
            "decisions.rows": res.decisions.count(),
            "canonicalize.alias_edges": alias_edges.count(),
        }


# ---------------------------------------------------------------------------


class NearDupScan(Workload):
    """Read-only scan: MinHash-LSH pairs, SimHash pairs, near-dup clusters
    and embedding near-dups over the cached word-bag corpus."""

    name = "near_dup_scan"
    n_docs = IN.NEARDUP_DOCS

    def _ops(self) -> tuple[dict, dict]:
        from ontology_learning_spark.operators import dedup as DD
        from ontology_learning_spark.operators import simsearch as SS

        docs, n = self.docs, self.n_docs
        ops = {
            "dedup.ngram_jaccard_pairs": lambda: DD.ngram_jaccard_pairs(
                docs, threshold=NEARDUP_THRESHOLD),
            "dedup.simhash_near_dups": lambda: DD.simhash_near_dups(
                docs, max_hamming=SIMHASH_MAX_HAMMING, n_docs=n),
            "dedup.dedup_clusters": lambda: DD.dedup_clusters(
                docs, threshold=NEARDUP_THRESHOLD),
            "simsearch.embedding_near_dups": lambda: SS.embedding_near_dups(
                self.emb, threshold=NEARDUP_THRESHOLD, n_docs=n),
        }
        rows, walls = {}, {}
        for name, op in ops.items():
            with self.tracer.span(name):
                t0 = time.time()
                rows[name] = [tuple(r) for r in op().collect()]
                walls[name] = time.time() - t0
        return rows, walls

    def warm(self) -> None:
        for _ in range(WARM_PASSES):
            self._ops()

    def load(self) -> None:
        self.docs = self.spark.read.parquet(self.paths["docs"]).repartition(self.cores).cache()
        self.emb = self.spark.read.parquet(self.paths["embeddings"]).repartition(
            self.cores).cache()
        assert self.docs.count() == self.emb.count() == self.n_docs
        d = pq.read_table(self.paths["docs"]).to_pydict()
        self.text = dict(zip(d["doc_id"], d["text"]))
        # SimHash blocking is exact, so its output is checked for
        # completeness against a brute-force pass over all pairs
        self.simhash_want = CK.simhash_pairs(self.text, SIMHASH_MAX_HAMMING)
        e = pq.read_table(self.paths["embeddings"]).to_pydict()
        self.vec = {i: np.asarray(v, dtype=np.float64) for i, v in zip(e["vec_id"], e["embedding"])}
        self.op_walls: dict[str, list[float]] = {}

    def rep(self) -> dict:
        t0 = time.time()
        rows, walls = self._ops()
        wall = time.time() - t0
        for k, v in walls.items():
            self.op_walls.setdefault(k, []).append(v)
        self.last = rows
        return {"wall_s": wall, "attempted": len(rows), "failures": self._check(rows),
                "items": self.n_docs, "op_s": walls}

    def _check(self, rows: dict) -> list[str]:
        fails = []
        pairs = [(a, b) for a, b, _ in rows["dedup.ngram_jaccard_pairs"]]
        fails += CK.check_planted(pairs, self.meta["planted_pairs"], "ngram_jaccard_pairs")
        fails += CK.check_pairs_jaccard(pairs, self.text, NEARDUP_THRESHOLD, "ngram_jaccard_pairs")

        got_s = {(a, b): h for a, b, h in rows["dedup.simhash_near_dups"]}
        if got_s != self.simhash_want:
            diff = set(got_s.items()) ^ set(self.simhash_want.items())
            fails.append(f"simhash_near_dups: {len(diff)} (pair, Hamming) rows differ from a "
                         f"brute-force pass over all pairs, e.g. {sorted(diff)[:3]}")

        got = {(c, s) for c, s in rows["dedup.dedup_clusters"]}
        want = CK.union_find_clusters(pairs)
        if got != want:
            fails.append(f"dedup_clusters: {len(got ^ want)} clusters differ from a "
                         f"union-find over the verified pairs")

        emb_pairs = [(a, b) for a, b, _ in rows["simsearch.embedding_near_dups"]]
        fails += CK.check_planted(emb_pairs, self.meta["planted_emb_pairs"], "embedding_near_dups")
        low = []
        for a, b, _ in rows["simsearch.embedding_near_dups"]:
            va, vb = self.vec[a], self.vec[b]
            if float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))) < NEARDUP_THRESHOLD:
                low.append((a, b))
        if low:
            fails.append(f"embedding_near_dups: {len(low)} pairs below cosine "
                         f"{NEARDUP_THRESHOLD}, e.g. {low[:3]}")
        return fails

    def layer_metrics(self) -> dict:
        from ontology_learning_spark.operators import canonicalize as CC
        from ontology_learning_spark.operators import dedup as DD

        with self.tracer.span("dedup.minhash_lsh_candidates"):
            cands = DD.minhash_lsh_candidates(self.docs, threshold=NEARDUP_THRESHOLD).count()
        pairs = self.last["dedup.ngram_jaccard_pairs"]
        edges = self.spark.createDataFrame([(str(a), str(b)) for a, b, _ in pairs],
                                           "src string, dst string")
        with self.tracer.span("canonicalize.connected_components"):
            t0 = time.time()
            CC.connected_components(edges).count()
            cc_s = time.time() - t0
        # the driver union-find runs at or below small_threshold edges
        small = inspect.signature(CC.connected_components).parameters["small_threshold"].default
        return {
            "dedup.lsh_candidates": cands,
            "dedup.verified_pairs": len(pairs),
            "dedup.verify_yield": len(pairs) / cands if cands else 0.0,
            "dedup.minhash_s": median(self.op_walls["dedup.ngram_jaccard_pairs"]),
            "dedup.simhash_s": median(self.op_walls["dedup.simhash_near_dups"]),
            "dedup.clusters_s": median(self.op_walls["dedup.dedup_clusters"]),
            "simsearch.emb_near_dups_s": median(self.op_walls["simsearch.embedding_near_dups"]),
            "canonicalize.cc_s": cc_s,
            "canonicalize.cc_driver_path": 1.0 if len(pairs) <= small else 0.0,
        }


# ---------------------------------------------------------------------------


def delta_ingest(spark, paths: dict, meta: dict, tracer, workdir: Path) -> dict:
    """A fixed delta sequence, each delta through run_incremental_batch
    (extraction, parquet write, manifest) and its text through
    run_streaming_near_dedup (band table, join against the growing
    state, verify, incremental components, mapping write), into fresh
    state. Warmed on two cut deltas first, run once, then checked.

    Not a timed workload: a run's set-up costs ~40 s, and a third timed
    workload does not fit the benchmark's time budget. The traced run of
    near_dup_scan calls it once, so the incremental layers keep their
    per-layer metrics and their output checks."""
    from ontology_learning_spark.operators import dedup as DD
    from ontology_learning_spark.operators import extraction as E

    surfaces = _catalog_surfaces()
    deltas = [(str(paths[f"delta{k}"]), str(paths[f"text{k}"])) for k in range(IN.DELTAS)]
    n_docs = IN.DELTAS * (IN.DELTA_DOCS + IN.DELTA_COPIES)

    # warm-up: the first two deltas cut to WARM_DOCS docs each, so both
    # fold paths (first batch, then incremental) run once before timing
    warm = workdir / "delta-warm"
    warm.mkdir(parents=True, exist_ok=True)
    cut = []
    for k, pair in enumerate(deltas[:2]):
        out = []
        for kind, path in zip(("docs", "text"), pair):
            dst = warm / f"{kind}{k}.parquet"
            pq.write_table(pq.read_table(path).slice(0, WARM_DOCS), dst)
            out.append(str(dst))
        cut.append(tuple(out))
    tracer.enabled = False
    _delta_sequence(spark, cut, warm / "run", surfaces, tracer)
    tracer.enabled = True
    shutil.rmtree(warm, ignore_errors=True)

    t0 = time.time()
    seq = _delta_sequence(spark, deltas, workdir / "delta", surfaces, tracer)
    wall = time.time() - t0

    # references, computed after the timed sequence: one
    # extract_pipeline over all deltas, one dedup_clusters over all text
    want_mentions = _fingerprint(E.extract_pipeline(
        spark.read.parquet(*[p for p, _ in deltas]), surfaces, pin=False)[0])
    want_clusters = {(r[0], r[1]) for r in DD.dedup_clusters(
        spark.read.parquet(*[p for _, p in deltas]), threshold=NEARDUP_THRESHOLD).collect()}

    fails = []
    got = _fingerprint(spark.read.parquet(str(seq["dirs"]["mentions"])))
    if got != want_mentions:
        fails.append(f"delta_ingest: mention union {got} != one extract_pipeline "
                     f"over all deltas {want_mentions}")
    mapping = spark.read.parquet(str(seq["dirs"]["state"] / "mapping" / f"v{len(deltas) - 1}"))
    got_c = {(r[0], r[1]) for r in mapping.groupBy("component").agg(
        F.count("*").alias("n")).where("n >= 2").collect()}
    if got_c != want_clusters:
        fails.append(f"delta_ingest: final mapping has {len(got_c ^ want_clusters)} "
                     f"clusters that differ from dedup_clusters over the same text")
    members = {r[0]: r[1] for r in mapping.collect()}
    lost = [p for p in meta["planted_pairs"]
            if members.get(p[0]) is None or members.get(p[0]) != members.get(p[1])]
    if lost:
        fails.append(f"delta_ingest: {len(lost)} planted copies not clustered with "
                     f"their source, e.g. {lost[:3]}")

    ndd = seq["near_dedup_s"]
    q = max(1, len(ndd) // 4)
    return {
        "wall_s": wall, "steps": seq["latency_s"], "attempted": 2 * len(deltas),
        "failures": fails, "extract_s": seq["extract_s"], "near_dedup_s": ndd,
        "layer": {
            "extraction.mentions": want_mentions[0],
            "incremental.extract_batch_s": median(seq["extract_s"]),
            "incremental.near_dedup_batch_s": median(ndd),
            "incremental.bytes_written_per_doc": _dir_bytes(seq["dirs"]["mentions"]) / n_docs,
            "incremental.state_bytes": _dir_bytes(seq["dirs"]["state"]),
            "incremental.near_dedup_drift": median(ndd[-q:]) / median(ndd[:q]),
        },
    }


def _delta_sequence(spark, deltas: list[tuple[str, str]], root: Path, surfaces, tracer) -> dict:
    from ontology_learning_spark.streaming.incremental import (
        run_incremental_batch,
        run_streaming_near_dedup,
    )

    shutil.rmtree(root, ignore_errors=True)
    d = {k: root / k for k in ("in_docs", "in_text", "mentions", "state", "ckpt")}
    for k in ("in_docs", "in_text"):
        d[k].mkdir(parents=True)
    ext, ndd, lat = [], [], []
    for k, (docs_path, text_path) in enumerate(deltas):
        # the delta lands (untimed), then the two closed-loop calls
        shutil.copy(docs_path, d["in_docs"] / f"part-{k:04d}.parquet")
        shutil.copy(text_path, d["in_text"] / f"part-{k:04d}.parquet")
        with tracer.span("incremental.run_incremental_batch"):
            t0 = time.time()
            run_incremental_batch(spark, str(d["in_docs"]), str(d["mentions"]),
                                  str(root / "manifest.json"), surfaces)
            t1 = time.time()
        with tracer.span("incremental.run_streaming_near_dedup"):
            run_streaming_near_dedup(spark, str(d["in_text"]), str(d["state"]),
                                     str(d["ckpt"]), threshold=NEARDUP_THRESHOLD)
            t2 = time.time()
        ext.append(t1 - t0)
        ndd.append(t2 - t1)
        lat.append(t2 - t0)
    return {"dirs": d, "extract_s": ext, "near_dedup_s": ndd, "latency_s": lat}


def _fingerprint(df) -> tuple[int, int]:
    """(rows, order-independent sum of per-row XXH64) of a mention table."""
    cols = ["doc_id", "surface", "char_offset", "norm_surface"]
    r = df.select(F.xxhash64(*cols).alias("h")).agg(
        F.count("*"), F.coalesce(F.sum(F.col("h").cast("decimal(38,0)")), F.lit(0))).first()
    return int(r[0]), int(r[1])


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


WORKLOADS = {w.name: w for w in (KgFlagship, NearDupScan)}
