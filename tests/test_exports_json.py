"""Tests for robust JSON parse (E6), triple-string parse (S10), exports
(S11), latest-run lookup (A21), disjointness audit (A17)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from ontology_learning_spark.functions import json_parse as JP
from ontology_learning_spark.operators import exports as EX


def test_robust_json_three_tiers(spark):
    schema = "nodes array<string>"
    rows = [
        ('{"nodes": ["a", "b"]}',),                                # direct
        ('noise ```json\n{"nodes": ["c"]}\n``` trailing',),        # fenced
        ('prefix {"nodes": ["d"]} suffix',),                       # braced
        ("no json here",),                                          # null
    ]
    df = spark.createDataFrame(rows, "raw string")
    out = [r["p"] for r in df.select(JP.robust_json(F.col("raw"), schema).alias("p")).collect()]
    assert out[0]["nodes"] == ["a", "b"]
    assert out[1]["nodes"] == ["c"]
    assert out[2]["nodes"] == ["d"]
    assert out[3] is None


def test_parse_triple_strings(spark):
    rows = [('"Antenna" -> SUBCLASS_OF -> "RFComponent"',), ("a -> b",), ("x -> rel -> y",)]
    df = spark.createDataFrame(rows, "s string")
    out = [r["t"] for r in df.select(JP.parse_triple_strings(F.col("s")).alias("t")).collect()]
    assert (out[0]["subj"], out[0]["pred"], out[0]["obj"]) == ("Antenna", "SUBCLASS_OF", "RFComponent")
    assert out[1] is None
    assert out[2]["pred"] == "rel"


def test_exports_and_latest_run(spark, tmp_path):
    from ontology_learning_spark.sources.tables import ManifestLog

    ml = ManifestLog(tmp_path)
    ml.commit("r1", "triples", 10, 100.0)
    ml.commit("r2", "triples", 12, 90.0)
    assert EX.latest_run(str(tmp_path)) == "r2"

    EX.export_report({"nodes": 5}, {"extended": 2}, str(tmp_path / "report.json"))
    rep = json.loads((tmp_path / "report.json").read_text())
    assert rep == {"nodes": 5, "extended": 2}

    objs = spark.createDataFrame([('{"@type":"Product"}',)], "json_ld string")
    EX.export_jsonld(objs, str(tmp_path / "graph"))
    lines = spark.read.text(str(tmp_path / "graph")).collect()
    assert json.loads(lines[0]["value"])["@type"] == "Product"


def test_disjointness_violations(spark):
    edges = spark.createDataFrame(
        [("Resistor", "SUBCLASS_OF", "PassiveComponent"),
         ("Resistor", "SUBCLASS_OF", "ActiveComponent"),   # violation
         ("Diode", "SUBCLASS_OF", "ActiveComponent")],
        "src string, rel_type string, dst string",
    )
    v = EX.disjointness_violations(edges, [("PassiveComponent", "ActiveComponent")]).collect()
    assert [r["name"] for r in v] == ["Resistor"]


def test_subclass_cycles_and_consistency_report(spark):
    from ontology_learning_spark.operators import exports as EX

    edges = spark.createDataFrame(
        [
            # clean branch
            ("Resistor", "SUBCLASS_OF", "PassiveComponent"),
            ("PassiveComponent", "SUBCLASS_OF", "ElectronicComponent"),
            # planted 3-cycle with a chain leading in and out
            ("pre", "SUBCLASS_OF", "a"),
            ("a", "SUBCLASS_OF", "b"),
            ("b", "SUBCLASS_OF", "c"),
            ("c", "SUBCLASS_OF", "a"),
            ("c", "SUBCLASS_OF", "post"),
            # non-taxonomic edge must be ignored
            ("x", "RELATEDTO", "x"),
        ],
        "src string, rel_type string, dst string",
    )
    cyc = {r["name"] for r in EX.subclass_cycles(edges).collect()}
    assert cyc == {"a", "b", "c"}

    rep = EX.consistency_report(edges, [("PassiveComponent", "a")])
    rows = {(r["issue_type"], r["subject"]) for r in rep.collect()}
    assert ("subclass_cycle", "a") in rows
    assert all(t in ("subclass_cycle", "disjoint_class_violation") for t, _ in rows)

    clean = spark.createDataFrame(
        [("Resistor", "SUBCLASS_OF", "PassiveComponent")],
        "src string, rel_type string, dst string",
    )
    assert EX.subclass_cycles(clean).count() == 0

    # an 80-node cycle is closed in full (no round cap)
    ring = spark.createDataFrame(
        [(f"r{i}", "SUBCLASS_OF", f"r{(i + 1) % 80}") for i in range(80)],
        "src string, rel_type string, dst string",
    )
    assert {r["name"] for r in EX.subclass_cycles(ring).collect()} == {f"r{i}" for i in range(80)}


def test_axiom_interaction_clashes_and_same_as(spark):
    """Functional / inverse-functional axioms interact with class
    disjointness: two values only clash when provably distinct
    (disjoint families); same-family pairs are sameAs INFERENCES and
    must NOT be flagged."""
    edges = spark.createDataFrame(
        [
            ("Capacitor", "SUBCLASS_OF", "PassiveComponent"),
            ("Inductor", "SUBCLASS_OF", "PassiveComponent"),
            ("Transistor", "SUBCLASS_OF", "ActiveComponent"),
            ("Diode", "SUBCLASS_OF", "ActiveComponent"),
            # functional MADEBY: cross-family → clash
            ("gx", "MADEBY", "Capacitor"),
            ("gx", "MADEBY", "Transistor"),
            # functional MADEBY: same-family → sameAs only
            ("gy", "MADEBY", "Capacitor"),
            ("gy", "MADEBY", "Inductor"),
            # single-valued functional: never in the pair join
            ("gz", "MADEBY", "Diode"),
            # IFP SERIALNO: shared object, cross-family subjects → clash
            ("Capacitor", "SERIALNO", "sn1"),
            ("Diode", "SERIALNO", "sn1"),
            # IFP: shared object, same-family subjects → sameAs only
            ("Transistor", "SERIALNO", "sn2"),
            ("Diode", "SERIALNO", "sn2"),
        ],
        "src string, rel_type string, dst string",
    )
    disjoint = [("PassiveComponent", "ActiveComponent")]

    clashes = EX.axiom_interaction_clashes(edges, disjoint).collect()
    got = {(r["issue_type"], r["subject"]) for r in clashes}
    assert got == {
        ("functional_cardinality_clash", "gx"),
        ("ifp_distinct_subjects_clash", "Capacitor"),
    }
    details = {r["detail"] for r in clashes}
    assert "MADEBY maxCard-1 with provably-distinct objects: Capacitor vs Transistor" in details
    assert ("SERIALNO inverse-functional object sn1 shared by "
            "provably-distinct subjects: Capacitor vs Diode") in details

    same = {(r["a"], r["b"], r["via"]) for r in EX.inferred_same_as(edges).collect()}
    assert ("Capacitor", "Inductor", "MADEBY:gy") in same      # benign merge
    assert ("Capacitor", "Transistor", "MADEBY:gx") in same    # clashing pair still inferred
    assert ("Diode", "Transistor", "SERIALNO:sn2") in same
    assert not any(v.startswith("MADEBY:gz") for _, _, v in same)

    # report integration: clash rows ride along with the other classes
    rep_types = {r["issue_type"] for r in EX.consistency_report(edges, disjoint).collect()}
    assert {"functional_cardinality_clash", "ifp_distinct_subjects_clash"} <= rep_types


# ---------------------------------------------------------------------------
# RDF export (round 5)
# ---------------------------------------------------------------------------

_NT_RE = None


def _parse_nt_line(line):
    """Tiny independent N-Triples reader for the round-trip check."""
    import re
    import urllib.parse

    global _NT_RE
    if _NT_RE is None:
        _NT_RE = re.compile(
            r'^<([^>]*)> <([^>]*)> (?:<([^>]*)>|"((?:[^"\\]|\\.)*)") \.$'
        )
    m = _NT_RE.match(line)
    assert m, f"unparseable N-Triples line: {line!r}"
    base = "http://example.org/ontology#"

    def local(iri):
        assert iri.startswith(base)
        return urllib.parse.unquote(iri[len(base):])

    s, p = local(m.group(1)), local(m.group(2))
    if m.group(3) is not None:
        return (s, p, ("iri", local(m.group(3))))
    raw = m.group(4)
    out, i = [], 0
    esc = {"\\": "\\", '"': '"', "n": "\n", "r": "\r", "t": "\t"}
    while i < len(raw):
        if raw[i] == "\\":
            out.append(esc[raw[i + 1]])
            i += 2
        else:
            out.append(raw[i])
            i += 1
    return (s, p, ("lit", "".join(out)))


def test_ntriples_round_trip_with_hostile_strings(spark, tmp_path):
    from ontology_learning_spark.operators.exports import export_ntriples

    edges = spark.createDataFrame(
        [
            ("Antenna", "SUBCLASS_OF", "Component"),
            ("RF Filter", "RELATEDTO", "Antenna"),   # space in name
            ("Üñïçôde", "SUBCLASS_OF", "Component"),  # non-ASCII
        ],
        "src string, rel_type string, dst string",
    )
    props = spark.createDataFrame(
        [
            ("Antenna", "impedance", "50 Ω"),
            ("Antenna", "note", 'line1\nline2\t"quoted" back\\slash'),
        ],
        "name string, prop string, value string",
    )
    path = str(tmp_path / "nt")
    export_ntriples(edges, path, props=props)
    lines = [r["value"] for r in spark.read.text(path).collect()]
    parsed = {_parse_nt_line(ln) for ln in lines}
    want = {
        ("Antenna", "SUBCLASS_OF", ("iri", "Component")),
        ("RF Filter", "RELATEDTO", ("iri", "Antenna")),
        ("Üñïçôde", "SUBCLASS_OF", ("iri", "Component")),
        ("Antenna", "impedance", ("lit", "50 Ω")),
        ("Antenna", "note", ("lit", 'line1\nline2\t"quoted" back\\slash')),
    }
    assert parsed == want


def test_turtle_document_grouping_and_escaping(spark):
    from ontology_learning_spark.operators.exports import turtle_document

    edges = spark.createDataFrame(
        [("A", "SUBCLASS_OF", "B"), ("A", "RELATEDTO", "C")],
        "src string, rel_type string, dst string",
    )
    props = spark.createDataFrame(
        [("A", "note", 'x"y')], "name string, prop string, value string"
    )
    doc = turtle_document(edges, props)
    assert doc.startswith("@prefix ont: <http://example.org/ontology#> .")
    # one subject block, predicates ';'-joined, literal quote escaped
    assert doc.count(" .") == 1 + doc.count("@prefix")  # prefix line + subject block
    assert "ont:A " in doc and ";" in doc
    assert '\\"y"' in doc


def test_property_axiom_violations(spark):
    from ontology_learning_spark.operators import exports as EX

    edges = spark.createDataFrame(
        [
            ("a", "HASPART", "b"),
            ("b", "HASPART", "a"),      # asymmetric clash (both subjects)
            ("c", "HASPART", "c"),      # irreflexive clash
            ("x", "HASPART", "y"),      # one-way: fine
            ("p", "RELATEDTO", "q"),
            ("q", "RELATEDTO", "p"),    # RELATEDTO is not declared asymmetric
        ],
        "src string, rel_type string, dst string",
    )
    rows = {(r["issue_type"], r["subject"]) for r in EX.property_axiom_violations(edges).collect()}
    assert rows == {
        ("asymmetric_property_violation", "a"),
        ("asymmetric_property_violation", "b"),
        ("irreflexive_property_violation", "c"),
    }
    # clean one-way graph -> empty
    clean = spark.createDataFrame([("a", "HASPART", "b")], "src string, rel_type string, dst string")
    assert EX.property_axiom_violations(clean).count() == 0


def test_graphml_round_trip(spark):
    import xml.etree.ElementTree as ET

    from ontology_learning_spark.operators.exports import graphml_document

    nodes = spark.createDataFrame(
        [("A&B <weird>", "Baseline", False), ('q"uote', "learned_from_dataset", True)],
        "name string, source string, needs_review boolean",
    )
    edges = spark.createDataFrame(
        [("A&B <weird>", "SUBCLASS_OF", 'q"uote'), ('q"uote', "RELATEDTO", "undeclared ünït")],
        "src string, rel_type string, dst string",
    )
    doc = graphml_document(nodes, edges)
    ns = {"g": "http://graphml.graphdrawing.org/xmlns"}
    root = ET.fromstring(doc)
    graph = root.find("g:graph", ns)
    node_ids = {n.get("id") for n in graph.findall("g:node", ns)}
    assert node_ids == {"A&B <weird>", 'q"uote', "undeclared ünït"}
    got_edges = {
        (e.get("source"), e.find("g:data", ns).text, e.get("target"))
        for e in graph.findall("g:edge", ns)
    }
    assert got_edges == {
        ("A&B <weird>", "SUBCLASS_OF", 'q"uote'),
        ('q"uote', "RELATEDTO", "undeclared ünït"),
    }
    review = {
        n.get("id"): [d for d in n.findall("g:data", ns) if d.get("key") == "needs_review"]
        for n in graph.findall("g:node", ns)
    }
    assert review['q"uote'][0].text == "true"
