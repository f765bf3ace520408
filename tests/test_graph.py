"""G1-G4: hierarchy edges, ancestor closure, per-term graphs — checked
against a direct python replica of the reference recursion
(``term_graph_generator.py:13-49``) on the fixture ontology.
"""

import pytest
from pyspark.sql import functions as F

from ontology_mapper_spark.operators.graph import (
    ancestor_closure,
    hierarchy_edges,
    term_graphs_json,
)
from ontology_mapper_spark.sources.ontology import (
    fixture_onto_terms,
    fixture_ontology_rows,
    onto_terms_from_rows,
)


def _py_closure(rows):
    parents = {r["iri"]: set(r["parents"]) for r in rows}
    known = set(parents)
    out = set()
    for iri in parents:
        stack = list(parents[iri])
        seen = set()
        while stack:
            a = stack.pop()
            if (iri, a) in out or a in seen:
                continue
            out.add((iri, a))
            seen.add(a)
            if a in known:  # reference recurses only through retained terms
                stack.extend(parents[a])
    return out


@pytest.fixture(scope="module")
def onto(spark):
    return fixture_onto_terms(spark).cache()


@pytest.mark.spark
def test_hierarchy_edges(spark, onto):
    edges = hierarchy_edges(onto).collect()
    is_a = {(e["src"], e["dst"]) for e in edges if e["label"] == "IS_A"}
    rows = fixture_ontology_rows()
    exp = {(r["iri"], p) for r in rows for p in r["parents"]}
    assert is_a == exp
    inst = [(e["src"], e["dst"]) for e in edges if e["label"] == "INSTANCE_OF"]
    assert len(inst) == 2  # strain instances


@pytest.mark.spark
def test_ancestor_closure_matches_python(spark, onto):
    got = {(r["term"], r["anc"]) for r in ancestor_closure(onto).collect()}
    exp = _py_closure(fixture_ontology_rows())
    assert got == exp
    # diamond: food allergy reaches disease once, via two paths
    fa = [a for t, a in got if t.endswith("EFO_0003945")]
    assert sum(1 for a in fa if a.endswith("EFO_0000408")) == 1
    assert any(a.endswith("EFO_0003785") for a in fa)  # allergy path
    assert any(a.endswith("EFO_0000405") for a in fa)  # digestive path


@pytest.mark.spark
def test_closure_tolerates_missing_ancestor(spark):
    rows = fixture_ontology_rows()
    # drop 'disease' — paths through it must terminate there, edge retained
    rows = [r for r in rows if not r["iri"].endswith("EFO_0000408")]
    onto = onto_terms_from_rows(spark, rows)
    got = {(t, a) for t, a in
           ((r["term"], r["anc"]) for r in ancestor_closure(onto).collect())}
    asthma = "http://www.ebi.ac.uk/efo/EFO_0000270"
    anc = {a for t, a in got if t == asthma}
    assert any(a.endswith("EFO_0000408") for a in anc)  # edge to missing kept
    assert not any(a.endswith("EFO_0000001") for a in anc)  # no walk through it


@pytest.mark.spark
def test_closure_cycle_safe(spark):
    rows = [
        dict(iri="a", labels=["a"], synonyms=[], definitions=[], parents={"b": "b"},
             children={}, instances={}, restrictions={}, deprecated=False,
             term_type="class"),
        dict(iri="b", labels=["b"], synonyms=[], definitions=[], parents={"a": "a"},
             children={}, instances={}, restrictions={}, deprecated=False,
             term_type="class"),
    ]
    onto = onto_terms_from_rows(spark, rows)
    got = {(r["term"], r["anc"]) for r in ancestor_closure(onto).collect()}
    assert got == {("a", "b"), ("a", "a"), ("b", "a"), ("b", "b")}


@pytest.mark.spark
def test_term_graphs_json(spark, onto):
    graphs = {r["iri"]: r for r in term_graphs_json(onto).collect()}
    asthma = "http://www.ebi.ac.uk/efo/EFO_0000270"
    g = graphs[asthma]
    node_ids = {n["id"] for n in g["nodes"]}
    # self + full ancestor chain
    for frag in ("EFO_0000270", "EFO_0009531", "EFO_0000408", "EFO_0000001"):
        assert any(i.endswith(frag) for i in node_ids), frag
    # direct children present (asthma attack, deprecated phenotype)
    assert any(i.endswith("EFO_0009459") for i in node_ids)
    edges = {(e["from"], e["to"], e["label"]) for e in g["edges"]}
    assert all(l in ("IS_A", "INSTANCE_OF") for _, _, l in edges)
    # child edge direction: child -> term
    assert any(f.endswith("EFO_0009459") and t == asthma for f, t, l in edges)
    # instance graph
    strain = "http://www.ebi.ac.uk/efo/EFO_0005135"
    sg = graphs[strain]
    assert any(e["label"] == "INSTANCE_OF" for e in sg["edges"])
    # every graph's JSON is serializable via to_json
    js = term_graphs_json(onto).select(F.to_json(F.struct("iri", "nodes", "edges")))
    assert js.count() == len(graphs)


def _py_pagerank(edge_list, iterations=6):
    """Exact Python replica of pagerank_int's integer recurrence."""
    from collections import Counter, defaultdict

    nodes = {s for s, _ in edge_list} | {d for _, d in edge_list}
    outdeg = Counter(s for s, _ in edge_list)
    r = {n: 1_000_000 for n in nodes}
    for _ in range(iterations):
        acc = defaultdict(int)
        for s, d in edge_list:
            acc[d] += (r[s] * 85) // (100 * outdeg[s])
        r = {n: 150_000 + acc.get(n, 0) for n in nodes}
    return r


@pytest.mark.spark
def test_pagerank_int_matches_python_replica(spark, onto, cache_entries):
    from ontology_mapper_spark import release_pipeline_cache
    from ontology_mapper_spark.operators.graph import pagerank_int

    edges = hierarchy_edges(onto).select("src", "dst")
    el = [(row["src"], row["dst"]) for row in edges.collect()]
    want = _py_pagerank(el, iterations=6)
    got = {
        row["node"]: row["rank_micro"]
        for row in pagerank_int(edges, iterations=6).collect()
    }
    assert got == want
    # roots (IS_A targets) accumulate mass: some node must exceed the
    # no-inbound floor after propagation
    assert max(got.values()) > 150_000

    # an iteration count off the lineage-cut cadence: same recurrence,
    # and its pinned edge relation is released like any other pin
    release_pipeline_cache(spark)
    base = cache_entries()
    got4 = {
        row["node"]: row["rank_micro"]
        for row in pagerank_int(edges, iterations=4).collect()
    }
    assert got4 == _py_pagerank(el, iterations=4)
    release_pipeline_cache(spark)
    assert cache_entries() == base


@pytest.mark.spark
def test_pagerank_int_partition_invariant(spark, onto):
    """The integer formulation is exact — identical output under a
    different partitioning (a float PageRank would differ in last-ulp
    summation order)."""
    from ontology_mapper_spark.operators.graph import pagerank_int

    edges = hierarchy_edges(onto).select("src", "dst")
    a = {
        row["node"]: row["rank_micro"]
        for row in pagerank_int(edges.repartition(1), iterations=6).collect()
    }
    b = {
        row["node"]: row["rank_micro"]
        for row in pagerank_int(edges.repartition(13), iterations=6).collect()
    }
    assert a == b


@pytest.mark.spark
def test_pagerank_int_overflow_guard(spark):
    """A rank past the int64-safe ceiling must fail LOUDLY (Spark would
    otherwise wrap r*85 silently where DuckDB raises and the Python
    replica stays exact — three different outcomes for a
    bit-identical-by-contract operator). Driven through the operator's
    own guard via the test-only ceiling override."""
    from ontology_mapper_spark.operators.graph import pagerank_int

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("c", "b")], ["src", "dst"]
    )
    # sane ceiling: fine
    assert pagerank_int(edges, iterations=2).count() == 3
    # a ceiling below the initial rank trips on the first iteration
    with pytest.raises(Exception, match="int64-safe ceiling"):
        pagerank_int(edges, iterations=1, _max_rank=999_999).collect()


# ---------------------------------------------------------------- r4: entity
# co-occurrence graph, connected-components facade, N-Triples sink


def _toy_triples(spark):
    rows = [
        ("u1#0", "mappedTo", "E1", 0.9),
        ("u1#1", "mappedTo", "E2", 0.9),
        ("u2#0", "mappedTo", "E1", 0.9),
        ("u2#1", "mappedTo", "E2", 0.9),
        ("u2#2", "mappedTo", "E3", 0.9),
        ("u3#0", "mappedTo", "E3", 0.9),
        # hierarchy edge: must NOT contribute to co-occurrence
        ("E1", "IS_A", "E9", None),
    ]
    return spark.createDataFrame(
        rows, "subj string, pred string, obj string, score double"
    )


@pytest.mark.spark
def test_entity_cooccurrence_counts_and_lift(spark):
    """Known-value graph: 3 pages, E1+E2 co-mentioned twice. Lift in
    exact milli units: lift(a,b) = 1000 * co * n_pages / (cnt_a * cnt_b),
    floor division."""
    from ontology_mapper_spark.operators.graph import entity_cooccurrence

    out = {
        (r["entity_a"], r["entity_b"]): (r["co_count"], r["lift_milli"])
        for r in entity_cooccurrence(_toy_triples(spark)).collect()
    }
    # n_pages=3; cnt E1=2, E2=2, E3=2
    assert out == {
        ("E1", "E2"): (2, 1500),  # 1000*2*3 // (2*2)
        ("E1", "E3"): (1, 750),   # 1000*1*3 // (2*2)
        ("E2", "E3"): (1, 750),
    }


@pytest.mark.spark
def test_entity_cooccurrence_cap_and_dup_mentions(spark):
    """(a) duplicate mentions of one entity on a page count ONCE; (b) the
    per-page cap keeps the lexicographically smallest entities,
    deterministically."""
    from ontology_mapper_spark.operators.graph import entity_cooccurrence

    rows = [("p#%d" % i, "mappedTo", "E%d" % (i % 5), 0.5) for i in range(10)]
    # p mentions E0..E4, each twice -> pairs of the capped {E0, E1}
    df = spark.createDataFrame(
        rows, "subj string, pred string, obj string, score double"
    )
    out = entity_cooccurrence(df, max_entities_per_page=2).collect()
    assert {(r["entity_a"], r["entity_b"], r["co_count"]) for r in out} == {
        ("E0", "E1", 1)
    }


@pytest.mark.spark
def test_connected_components_facade(spark):
    from ontology_mapper_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("x", "y")], ["src", "dst"]
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(edges).collect()
    }
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


@pytest.mark.spark
def test_to_ntriples_escape_and_pred_map(spark):
    from ontology_mapper_spark.sinks import to_ntriples

    df = spark.createDataFrame(
        [("http://x/a b<c>\\d", "mappedTo", "http://y/{e}|f^g`h\"i", 0.5)],
        "subj string, pred string, obj string, score double",
    )
    [row] = to_ntriples(df).collect()
    assert row["nt"] == (
        "<http://x/a%20b%3Cc%3E%5Cd> "
        "<http://www.w3.org/2004/02/skos/core#closeMatch> "
        "<http://y/%7Be%7D%7Cf%5Eg%60h%22i> ."
    )


@pytest.mark.spark
def test_to_ntriples_unknown_pred_raises(spark):
    from ontology_mapper_spark.sinks import to_ntriples

    df = spark.createDataFrame(
        [("s", "bogusPred", "o", None)],
        "subj string, pred string, obj string, score double",
    )
    with pytest.raises(Exception, match="unknown predicate"):
        to_ntriples(df).collect()


@pytest.mark.spark
def test_kg_diff_statuses(spark):
    """All four churn statuses off one hand-built snapshot pair, plus
    null-safe score comparison (hierarchy edges carry null scores)."""
    from ontology_mapper_spark.operators.graph import kg_diff

    schema = "subj string, pred string, obj string, score double"
    prev = spark.createDataFrame(
        [
            ("u1", "mappedTo", "e1", 0.9),    # stable
            ("u2", "mappedTo", "e2", 0.8),    # rescored (0.8 -> 0.6)
            ("u3", "mappedTo", "e3", 0.7),    # removed
            ("c1", "IS_A", "p1", None),       # stable with null scores
        ],
        schema,
    )
    new = spark.createDataFrame(
        [
            ("u1", "mappedTo", "e1", 0.9),
            ("u2", "mappedTo", "e2", 0.6),
            ("u4", "mappedTo", "e4", 0.5),    # added
            ("c1", "IS_A", "p1", None),
        ],
        schema,
    )
    got = {
        (r["subj"], r["status"]): (r["prev_score_milli"], r["new_score_milli"])
        for r in kg_diff(prev, new).collect()
    }
    assert got == {
        ("u1", "stable"): (900, 900),
        ("u2", "rescored"): (800, 600),
        ("u3", "removed"): (700, None),
        ("u4", "added"): (None, 500),
        ("c1", "stable"): (None, None),
    }


@pytest.mark.spark
def test_kg_diff_self_is_all_stable_and_summary_matches(spark):
    """diff(X, X) is pure 'stable', and the summary is exactly the
    per-(pred, status) contingency of the row-level diff."""
    from ontology_mapper_spark.operators.graph import kg_diff, kg_diff_summary

    kg = spark.createDataFrame(
        [("u%d" % i, "mappedTo" if i % 3 else "IS_A", "e%d" % (i % 5),
          round(i * 0.01, 3)) for i in range(40)],
        "subj string, pred string, obj string, score double",
    )
    d = kg_diff(kg, kg)
    assert d.filter(F.col("status") != "stable").count() == 0
    prev, new = kg.filter("subj < 'u3'"), kg.filter("subj > 'u1'")
    expect = {
        (r["pred"], r["status"]): r["cnt"]
        for r in kg_diff(prev, new)
        .groupBy("pred", "status").agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    got = {
        (r["pred"], r["status"]): r["n_triples"]
        for r in kg_diff_summary(prev, new).collect()
    }
    assert got == expect and sum(got.values()) > 0
