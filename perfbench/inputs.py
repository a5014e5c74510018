"""Seeded benchmark inputs, cached per (workload, seed) as parquet.

Generation is pure Python (the flagship corpus alone takes several
seconds), so it stays out of every timed region and out of set-up: the
first run of a (workload, seed) writes the inputs under
``.perfbench/cache/`` and records a SHA-256 per file in a manifest;
later runs reuse the files only when every hash still matches, so a
stale or edited cache cannot silently change the input.

The package receives only these generated inputs; it never sees the
seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from checks import jaccard, triples_fingerprint

EXPECTED = Path(__file__).resolve().parent / "expected_kg_flagship.json"

# Bump when a generator below changes: old cache entries then miss.
GENERATOR_VERSION = 2

FLAGSHIP_DOCS = 5_000
NEARDUP_DOCS = 5_000
EMBED_DIM = 64
DELTAS = 3
DELTA_DOCS = 600
DELTA_COPIES = 6

SPANS_TYPE = pa.list_(pa.struct([
    ("kind", pa.string()), ("text", pa.string()),
    ("media_ref", pa.string()), ("offset", pa.int32()),
]))
SPAN_DOCS_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", SPANS_TYPE)])
TEXT_SCHEMA = pa.schema([("doc_id", pa.string()), ("text", pa.string())])


def _sha256(path: Path) -> str:
    h = hashlib.sha256()
    with path.open("rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def span_doc_text(doc: dict) -> str:
    """Text spans in offset order, space-joined (media spans carry no text)."""
    spans = sorted(doc["spans"], key=lambda s: s["offset"])
    return " ".join(s["text"] for s in spans if s["kind"] == "text" and s["text"])


# ---------------------------------------------------------------------------
# kg_flagship: interleaved span documents from the package's own generator
# ---------------------------------------------------------------------------


def flagship_expected(docs: list[dict]) -> dict:
    """The outputs kg_flagship checks, from the package's pure-Python
    oracle (``oracle.reference.run``), which does not use Spark."""
    from ontology_learning_spark.oracle import reference as O

    out = O.run(docs)
    return {
        "triples_sha256": triples_fingerprint(out["triples"]),
        "triples": len(out["triples"]),
        "mentions": len(out["mentions"]),
        "decisions": len(out["decisions"]),
    }


def _flagship(seed: int) -> tuple[dict[str, pa.Table], dict]:
    """The corpus, and its expected outputs: recorded in ``EXPECTED`` for
    seeds 0-63 (see ``record_expected.py``), else computed here with the
    oracle (~35 s, single-threaded, on a 4-vCPU VM; once per seed, since
    the input cache keeps it)."""
    from ontology_learning_spark.fixtures.generator import generate_documents

    docs = generate_documents(n_docs=FLAGSHIP_DOCS, seed=seed)
    expected = json.loads(EXPECTED.read_text()).get(str(seed))
    if expected is None:
        print(f"perfbench: seed {seed} has no recorded kg_flagship output; computing it "
              f"with the reference oracle (untimed)", file=sys.stderr)
        expected = flagship_expected(docs)
    return {"docs": pa.Table.from_pylist(docs, schema=SPAN_DOCS_SCHEMA)}, {"expected": expected}


# ---------------------------------------------------------------------------
# near_dup_scan: word-bag documents plus embeddings, with planted near-dups
# ---------------------------------------------------------------------------


# Shape of the sf ``documents`` and ``embeddings`` tables, measured on
# the sf0.01 and sf0.001 tables (500 rows each, the same shape in both;
# the corpus here has the 5k rows of the sf0.1 table that bench.py
# reads). Documents: 30 words drawn uniformly (top/median word frequency
# 1.06), 10-99 words a doc (quartiles 32-35 / 56 / 76-80), ids 0..n-1,
# ``lang`` en 39-44% and de/es/fr/zh 13-16% each, ``source`` src0..src19
# round-robin, ``n_chars`` = len(text). 5% of the docs (25 of 500) are a
# copy of another doc with " dup" appended, copies of copies included;
# 43-47 of 500 docs sit in a pair at trigram Jaccard >= 0.9.
# Embeddings: one 64-dim unit vector per doc, isotropic, a ``label`` in
# 0..9 that carries no direction (same-label mean cosine 0.00), largest
# pairwise cosine 0.48-0.51.
SF_WORDS = ("a agg batch big column customer data fast filter group hash join key line "
            "merge order part query row scan slow small sort spark stream table the value "
            "vector window").split()
SF_LANGS = (("en", 0.42), ("de", 0.145), ("es", 0.145), ("fr", 0.145), ("zh", 0.145))
SF_COPY_SHARE = 0.05
# Departure from the sf table, which has no embedding near-dups: 5% of
# the vectors get a planted neighbour at cosine >= 0.99, the same share
# as the document copies, so the verify step has pairs to keep.
EMB_PLANT_SHARE = 0.05
# A planted copy must be found when its trigram Jaccard with the source
# is at least this: at the 0.9 plan (9 rows x 10 bands) the LSH misses
# such a pair with probability (1 - 0.97^9)^10 < 1e-6. Copies of short
# docs sit nearer 0.9, where a miss is allowed.
PLANTED_MIN_JACCARD = 0.97


def neardup_tables(seed: int, n_docs: int = NEARDUP_DOCS) -> tuple[dict[str, pa.Table], dict]:
    """Documents and embeddings with the sf tables' measured shape (see
    above), one vector per doc. Metadata: the planted (source, copy)
    links that must be found, and the planted embedding neighbours."""
    rng = random.Random(seed * 7919 + 1)
    texts: list[str] = []
    planted: list[tuple[int, int]] = []
    for i in range(n_docs):
        if i and rng.random() < SF_COPY_SHARE:
            src = rng.randrange(i)
            texts.append(texts[src] + " dup")
            if jaccard(texts[src], texts[i]) >= PLANTED_MIN_JACCARD:
                planted.append((src, i))
        else:
            texts.append(" ".join(rng.choices(SF_WORDS, k=rng.randint(10, 99))))
    # copies land anywhere in id order, as in the sf table
    ids = list(range(n_docs))
    rng.shuffle(ids)
    order = sorted(range(n_docs), key=ids.__getitem__)
    langs, lang_w = zip(*SF_LANGS)
    docs = pa.table({
        "doc_id": pa.array(range(n_docs), type=pa.int64()),
        "text": pa.array([texts[k] for k in order], type=pa.string()),
        "lang": pa.array(rng.choices(langs, lang_w, k=n_docs), type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], type=pa.string()),
        "n_chars": pa.array([len(texts[k]) for k in order], type=pa.int64()),
    })
    planted_ids = sorted((min(ids[a], ids[b]), max(ids[a], ids[b])) for a, b in planted)

    nrng = np.random.default_rng(seed * 104729 + 3)
    vecs = nrng.standard_normal((n_docs, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    n_src = int(n_docs * EMB_PLANT_SHARE)
    pick = nrng.choice(n_docs, size=2 * n_src, replace=False)
    emb_planted: list[tuple[int, int]] = []
    for s, d in zip(pick[:n_src], pick[n_src:]):
        v = vecs[s] + 0.01 * nrng.standard_normal(EMBED_DIM)
        vecs[d] = v / np.linalg.norm(v)
        emb_planted.append((int(min(s, d)), int(max(s, d))))
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_docs), type=pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(nrng.integers(0, 10, n_docs), type=pa.int32()),
    })
    meta = {"planted_pairs": planted_ids, "planted_emb_pairs": sorted(emb_planted)}
    return {"docs": docs, "embeddings": emb}, meta


# ---------------------------------------------------------------------------
# delta_ingest: a fixed sequence of span-document deltas with edited copies
# ---------------------------------------------------------------------------


def delta_tables(seed: int, deltas: int = DELTAS,
                 delta_docs: int = DELTA_DOCS) -> tuple[dict[str, pa.Table], dict]:
    """``deltas`` deltas of ``delta_docs`` generator documents. Every delta
    after the first also carries ``DELTA_COPIES`` edited copies of
    earlier documents (one word appended to the last text span; sources
    have >= 40 words so each copy stays above the 0.9 Jaccard plan)."""
    from ontology_learning_spark.fixtures.generator import generate_documents

    rng = random.Random(seed * 31337 + 5)
    tables: dict[str, pa.Table] = {}
    earlier: list[dict] = []
    planted: list[tuple[str, str]] = []
    for k in range(deltas):
        docs = generate_documents(n_docs=delta_docs, seed=seed * 1000 + k)
        for d in docs:
            d["doc_id"] = f"d{k:02d}-{d['doc_id']}"
        long_src = [d for d in earlier if len(span_doc_text(d).split()) >= 40]
        for j, src in enumerate(rng.sample(long_src, min(DELTA_COPIES, len(long_src)))):
            spans = [dict(s) for s in src["spans"]]
            last = max((s for s in spans if s["kind"] == "text" and s["text"]),
                       key=lambda s: s["offset"])
            last["text"] = last["text"] + " revised"
            # same id length as the originals: both near-dup paths order
            # ids as strings, and dedup_clusters left-pads them first
            cp = {"doc_id": f"d{k:02d}-cpy-{j:06d}", "spans": spans}
            docs.append(cp)
            planted.append((src["doc_id"], cp["doc_id"]))
        earlier.extend(docs)
        tables[f"delta{k}"] = pa.Table.from_pylist(docs, schema=SPAN_DOCS_SCHEMA)
        tables[f"text{k}"] = pa.table({
            "doc_id": pa.array([d["doc_id"] for d in docs], type=pa.string()),
            "text": pa.array([span_doc_text(d) for d in docs], type=pa.string()),
        }, schema=TEXT_SCHEMA)
    return tables, {"planted_pairs": sorted(planted)}


_BUILDERS = {
    "kg_flagship": _flagship,
    "near_dup_scan": neardup_tables,
    "delta_ingest": delta_tables,
}


def load(workload: str, seed: int, cache_root: Path) -> tuple[dict[str, Path], dict, str]:
    """Return ({table name: parquet path}, generator metadata, cache status).

    Status is ``hit`` when every stored hash matched, ``miss`` when the
    entry did not exist, ``stale`` when a hash mismatch forced a rebuild.
    """
    entry = cache_root / f"{workload}-seed{seed}-v{GENERATOR_VERSION}"
    manifest = entry / "manifest.json"
    status = "miss"
    if manifest.exists():
        man = json.loads(manifest.read_text())
        paths = {name: entry / f"{name}.parquet" for name in man["files"]}
        if all(p.exists() and _sha256(p) == man["files"][n] for n, p in paths.items()):
            return paths, man["meta"], "hit"
        status = "stale"
    shutil.rmtree(entry, ignore_errors=True)
    tables, meta = _BUILDERS[workload](seed)
    tmp = entry.with_name(f"{entry.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    files = {}
    for name, table in tables.items():
        p = tmp / f"{name}.parquet"
        pq.write_table(table, p)
        files[name] = _sha256(p)
    (tmp / "manifest.json").write_text(json.dumps({"files": files, "meta": meta}))
    try:
        tmp.rename(entry)
    except OSError:  # a concurrent run published the same entry first
        shutil.rmtree(tmp, ignore_errors=True)
    return {name: entry / f"{name}.parquet" for name in files}, meta, status
