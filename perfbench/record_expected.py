#!/usr/bin/env python3
"""Record the expected kg_flagship outputs per seed with the pure-Python
oracle (``ontology_learning_spark.oracle.reference.run``), independent
of Spark:

    python3 perfbench/record_expected.py 0 1 2 3

Merges {seed: {triples_sha256, triples, mentions, decisions}} into
``perfbench/expected_kg_flagship.json``. The oracle takes ~35 s per
seed at the benchmark's corpus size; a recorded seed skips it when its
inputs are first generated (``inputs._flagship``).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

from inputs import EXPECTED, FLAGSHIP_DOCS, flagship_expected  # noqa: E402


def main() -> None:
    from ontology_learning_spark.fixtures.generator import generate_documents

    seeds = [int(s) for s in sys.argv[1:]]
    if not seeds:
        sys.exit("usage: record_expected.py SEED [SEED ...]")
    table = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    for s in seeds:
        table[str(s)] = flagship_expected(generate_documents(n_docs=FLAGSHIP_DOCS, seed=s))
    EXPECTED.write_text(json.dumps(
        dict(sorted(table.items(), key=lambda kv: int(kv[0]))), indent=1) + "\n")


if __name__ == "__main__":
    main()
