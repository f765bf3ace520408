"""End-to-end map_terms parity with the reference's test behaviors
(``/root/reference/test/simple_tests.py``), on the deterministic fixture
ontology. Each test names the reference case it mirrors.
"""

import pytest
from pyspark.sql import functions as F

from ontology_mapper_spark.config import Mapper, MappingConfig
from ontology_mapper_spark.pipeline import map_terms, map_terms_df, mappings_to_triples
from ontology_mapper_spark.sources.ontology import fixture_onto_terms
from ontology_mapper_spark.sources.terms import mentions_from_dict, mentions_from_list

TERMS = ["asthma", "acute bronchitis", "colon disease", "carbon monoxide"]


@pytest.fixture(scope="module")
def onto(spark):
    return fixture_onto_terms(spark).cache()


@pytest.mark.spark
def test_default_mapping_shape(spark, onto):
    df = map_terms(spark, TERMS, onto).cache()
    assert df.columns == [
        "source_term_id",
        "source_term",
        "mapped_term_label",
        "mapped_term_curie",
        "mapped_term_iri",
        "mapping_score",
        "tags",
    ]
    rows = df.collect()
    assert all(r["mapping_score"] >= 0.3 for r in rows)
    by_term = {r["source_term"]: r for r in df.filter("mapping_score >= 0.9").collect()}
    assert by_term["asthma"]["mapped_term_iri"].endswith("EFO_0000270")
    assert by_term["asthma"]["mapped_term_curie"] == "EFO:0000270"
    # unmapped term absent without incl_unmapped
    assert df.filter(F.col("source_term") == "carbon monoxide").count() == 0
    # per-term cap (simple_tests: max_mappings default 3)
    counts = df.groupBy("source_term").count().collect()
    assert all(r["count"] <= 3 for r in counts)


@pytest.mark.spark
def test_tags_and_ignore(spark, onto):
    # mirrors simple_tests.py:94-104 (tagged terms, ignore filter)
    tagged = {
        "asthma": "disease",
        "protein level": ["measurement", "protein"],
        "margarita": ["ignore"],
        "mojito": None,
    }
    cfg = MappingConfig(incl_unmapped=True)
    df = map_terms(spark, tagged, onto, cfg).cache()
    rows = {(r["source_term"], r["tags"]) for r in df.collect()}
    asthma_tags = {t for s, t in rows if s == "asthma"}
    assert asthma_tags == {"disease"}
    protein_tags = {t for s, t in rows if s == "protein level"}
    assert protein_tags == {"measurement,protein"}
    # ignored term: present (unmapped row) but WITHOUT the unmapped tag
    margarita = [t for s, t in rows if s == "margarita"]
    assert margarita == ["ignore"]
    # untagged unmapped term gets the unmapped tag
    mojito = [t for s, t in rows if s == "mojito"]
    assert mojito == ["unmapped"]
    mojito_row = df.filter(F.col("source_term") == "mojito").collect()[0]
    assert mojito_row["mapped_term_iri"] == ""
    assert mojito_row["mapping_score"] == 0.0


@pytest.mark.spark
def test_tagged_input_unmapped_divergence_pinned(spark, onto):
    """DELIBERATE DIVERGENCE from t2t.py:319-323 (r2 VERDICT #6): the
    reference never appends 'unmapped' to list[TaggedTerm] inputs — its tag
    guard only runs on the plain-list branch, so TaggedTerm unmapped rows
    fall through silently untagged (a reference bug SURVEY.md U4 records).
    This engine tags every unmapped, non-ignored mention the same way
    regardless of input shape; pin that here so the divergence is a
    documented choice, not drift."""
    tagged = {"asthma": "disease", "xqzwkv": "custom"}  # xqzwkv won't map
    cfg = MappingConfig(incl_unmapped=True)
    rows = map_terms(spark, tagged, onto, cfg).collect()
    unmapped = [r for r in rows if r["source_term"] == "xqzwkv"]
    assert len(unmapped) == 1
    # reference would yield tags == "custom"; we deliberately append
    assert unmapped[0]["tags"] == "custom,unmapped"


@pytest.mark.spark
def test_unmapped_tag_all_unmapped(spark, onto):
    # simple_tests.py:225-235 — all-unmapped input still yields rows
    cfg = MappingConfig(incl_unmapped=True, min_score=0.99)
    df = map_terms(spark, ["isdjfnsdfwd", "mojito"], onto, cfg)
    rows = df.collect()
    assert len(rows) == 2
    assert all(r["tags"] == "unmapped" for r in rows)
    assert all(r["mapped_term_curie"] == "" for r in rows)


@pytest.mark.spark
def test_min_score_filter_empty(spark, onto):
    # simple_tests.py:218-223 — min_score ~1 with junk -> empty df
    cfg = MappingConfig(min_score=0.99)
    assert map_terms(spark, ["isdjfnsdfwd"], onto, cfg).count() == 0


@pytest.mark.spark
def test_untagged_list_tags_none_quirk(spark, onto):
    # reference _add_tags_to_df: str(None) == "None" for untagged lists
    df = map_terms(spark, ["asthma"], onto)
    assert {r["tags"] for r in df.collect()} == {"None"}


@pytest.mark.spark
def test_property_mapping(spark, onto):
    # simple_tests.py:117-136 — term_type='property'
    cfg = MappingConfig(term_type="property", min_score=0.6)
    df = map_terms(spark, ["contains", "disease location"], onto, cfg)
    rows = sorted(df.collect(), key=lambda r: r["mapping_score"])  # best last
    by_term = {r["source_term"]: r["mapped_term_iri"] for r in rows}
    assert by_term["contains"].endswith("efo/contains")
    assert by_term["disease location"].endswith("disease_location")
    # class-typed targets must not appear
    all_iris = [r["mapped_term_iri"] for r in df.collect()]
    assert not any(i.endswith("EFO_0000408") for i in all_iris)


@pytest.mark.spark
def test_excl_deprecated(spark, onto):
    cfg = MappingConfig(excl_deprecated=True, min_score=0.0, max_mappings=50)
    df = map_terms(spark, ["obsolete asthma phenotype"], onto, cfg)
    assert df.filter(F.col("mapped_term_iri").endswith("EFO_0005950")).count() == 0
    cfg2 = MappingConfig(excl_deprecated=False)
    df2 = map_terms(spark, ["obsolete asthma phenotype"], onto, cfg2)
    assert df2.filter(F.col("mapped_term_iri").endswith("EFO_0005950")).count() == 1


@pytest.mark.spark
def test_base_iris_filter(spark, onto):
    # simple_tests.py:184-196 — restrict to HP namespace
    cfg = MappingConfig(base_iris=("http://purl.obolibrary.org/obo/HP",))
    df = map_terms(spark, ["asthma", "allergy"], onto, cfg)
    iris = [r["mapped_term_iri"] for r in df.collect()]
    assert iris and all("obo/HP_" in i for i in iris)


@pytest.mark.spark
def test_mapper_dispatch_syntactic(spark, onto):
    # simple_tests.py:77-84 — syntactic smoke via each metric
    for mapper in (Mapper.LEVENSHTEIN, Mapper.JARO, Mapper.JACCARD, Mapper.FUZZY):
        cfg = MappingConfig(mapper=mapper, min_score=0.8)
        df = map_terms(spark, ["asthma"], onto, cfg)
        rows = df.collect()
        assert rows, mapper
        assert rows[0]["mapped_term_iri"].endswith("EFO_0000270")
        assert rows[0]["mapping_score"] >= 0.8


@pytest.mark.spark
def test_triples(spark, onto):
    cfg = MappingConfig(incl_unmapped=True)
    df = map_terms(spark, TERMS, onto, cfg)
    triples = mappings_to_triples(df).collect()
    assert all(t["pred"] == "mappedTo" for t in triples)
    assert all(t["obj"].startswith("http") for t in triples)
    # unmapped rows contribute no triples
    assert not any(t["obj"] == "" for t in triples)


@pytest.mark.spark
def test_dataframe_input_with_duplicate_terms(spark, onto):
    m = mentions_from_list(spark, ["asthma", "asthma", "allergy"])
    df = map_terms_df(m, onto, MappingConfig(max_mappings=1))
    rows = df.collect()
    # each mention row keeps its own id; duplicates map identically
    assert len({r["source_term_id"] for r in rows}) == 3
    scores = {r["mapping_score"] for r in rows if r["source_term"] == "asthma"}
    assert len(scores) == 1


@pytest.mark.spark
def test_cached_equals_fresh(spark, onto, tmp_path):
    # simple_tests.py:54-75 — cache ≡ URL-loaded results
    from ontology_mapper_spark.sources.ontology import (
        read_ontology_cache,
        write_ontology_cache,
    )

    path = str(tmp_path / "onto_cache")
    write_ontology_cache(onto, path)
    cached = read_ontology_cache(spark, path, term_type="any")
    fresh = map_terms(spark, TERMS, onto, MappingConfig(term_type="any"))
    from_cache = map_terms(spark, TERMS, cached, MappingConfig(term_type="any"))
    a = sorted(map(tuple, fresh.collect()))
    b = sorted(map(tuple, from_cache.collect()))
    assert a == b


@pytest.mark.spark
def test_pipeline_edge_case_inputs(spark):
    """Robustness: unicode terms, stopword-only terms (normalize to ""),
    punctuation-only terms, very long terms, and null tags flow through the
    whole pipeline without error; unmapped synthesis covers them all."""
    from ontology_mapper_spark.pipeline import map_terms
    from ontology_mapper_spark.sources.ontology import fixture_onto_terms

    terms = [
        "asthma",
        "Asthme sévère (héréditaire)",     # accented unicode
        "and the",                          # all stopwords -> norm ""
        "!!! ---",                          # punctuation only
        "x" * 2000,                         # very long single token
        "naïve 中文 term",                  # mixed scripts
    ]
    cfg = MappingConfig(min_score=0.3, max_mappings=2, incl_unmapped=True)
    out = map_terms(spark, terms, fixture_onto_terms(spark), cfg).collect()
    by_term = {}
    for r in out:
        by_term.setdefault(r["source_term"], []).append(r)
    assert set(by_term) == set(terms)  # every input surfaced
    assert any(r["mapped_term_iri"] for r in by_term["asthma"])
    for t in terms[2:5]:
        rows = by_term[t]
        assert len(rows) == 1 and rows[0]["tags"] == "unmapped", t
        assert rows[0]["mapping_score"] == 0.0


@pytest.mark.spark
def test_map_terms_accepts_file_paths(spark, tmp_path):
    """Reference input-shape parity (t2t.py:138-179): a str source is a
    newline list file, or CSV/TSV when csv_columns is given."""
    from ontology_mapper_spark.pipeline import map_terms
    from ontology_mapper_spark.sources.ontology import fixture_onto_terms

    onto = fixture_onto_terms(spark)
    lst = tmp_path / "terms.txt"
    lst.write_text("asthma\nacute bronchitis\n")
    a = map_terms(spark, str(lst), onto, MappingConfig(max_mappings=1))
    assert {r["source_term"] for r in a.collect()} == {"asthma",
                                                       "acute bronchitis"}

    csv = tmp_path / "terms.tsv"
    csv.write_text("term\tterm_id\nasthma\tID1\n")
    b = map_terms(spark, str(csv), onto, MappingConfig(max_mappings=1),
                  csv_columns=("term", "term_id"), separator="\t")
    rows = b.collect()
    assert rows and all(r["source_term_id"] == "ID1" for r in rows)


@pytest.mark.spark
def test_sequential_runs_do_not_accumulate_cache(spark, onto, cache_entries):
    """r2 VERDICT #5: map_terms_df persists the mention relation; repeated
    calls in one session must not accumulate cached relations. Each call
    reclaims the previous call's cache, and release_pipeline_cache() frees
    the last one. Counted in the CacheManager, where the ``onto``
    fixture's lazy ``.cache()`` is already registered before the
    baseline, however many tests ran first."""
    from ontology_mapper_spark.pipeline import release_pipeline_cache

    n_cached = cache_entries
    release_pipeline_cache(spark)
    base = n_cached()
    for _ in range(3):
        map_terms(spark, ["asthma", "acute bronchitis"], onto,
                  MappingConfig(max_mappings=1)).collect()
    # at most ONE mention relation cached, however many runs happened
    assert n_cached() <= base + 1
    release_pipeline_cache(spark)
    assert n_cached() == base


@pytest.mark.spark
def test_prebuilt_index_output_identical(spark, onto):
    """build_pipeline_index (r3): a prebuilt broadcast index must yield
    row-identical mappings to the per-call build, including under the
    dedup-scoring plan and config filters."""
    import dataclasses

    from ontology_mapper_spark.pipeline import build_pipeline_index, map_terms_df
    from ontology_mapper_spark.sources.terms import mentions_from_list

    cfg = MappingConfig(min_score=0.2, max_mappings=2)
    m = mentions_from_list(
        spark, ["asthma", "acute bronchitis", "asthma", "colon disease"]
    )
    idx = build_pipeline_index(onto, cfg)

    def rows(df):
        return sorted(map(tuple, df.collect()))

    assert rows(map_terms_df(m, onto, cfg, tfidf_index=idx)) == rows(
        map_terms_df(m, onto, cfg)
    )
    cfg_dd = dataclasses.replace(cfg, dedup_scoring=True)
    assert rows(map_terms_df(m, onto, cfg_dd, tfidf_index=idx)) == rows(
        map_terms_df(m, onto, cfg)
    )


@pytest.mark.spark
def test_inverted_index_auto_fallback(spark, onto):
    """Past inverted_index_min_labels the pipeline must dispatch to the
    pure-DataFrame inverted-index plan automatically — the broadcast plan's
    driver collect stops being viable at SNOMED/UMLS dimension scale. Both
    plans are proven output-equal elsewhere (tests/test_tfidf.py), so here
    we assert the dispatch itself via the physical plan: the broadcast plan
    is a zero-Exchange mapInPandas, the inverted plan hash-aggregates."""
    import dataclasses

    from ontology_mapper_spark.pipeline import map_terms_df
    from ontology_mapper_spark.sources.terms import mentions_from_list

    m = mentions_from_list(spark, ["asthma"])
    base = MappingConfig(max_mappings=1)

    def plan(cfg):
        return (
            map_terms_df(m, onto, cfg)
            ._jdf.queryExecution().optimizedPlan().toString()
        )

    # tiny ontology, default threshold: broadcast plan (no ngram explode)
    assert "posexplode" not in plan(base).lower()
    p_forced = plan(dataclasses.replace(base, inverted_index_min_labels=1))
    # threshold 1: the fixture ontology must trip the auto-fallback — the
    # inverted plan's signature is the n-gram explode + aggregate
    assert "explode" in p_forced.lower() or "generate" in p_forced.lower()
    # explicit prebuilt index wins over the threshold (proven broadcastable)
    from ontology_mapper_spark.pipeline import build_pipeline_index

    cfg_idx = dataclasses.replace(base, inverted_index_min_labels=1)
    idx = build_pipeline_index(onto, cfg_idx)
    p_idx = (
        map_terms_df(m, onto, cfg_idx, tfidf_index=idx)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "generate" not in p_idx.lower()


@pytest.mark.spark
def test_has_labels_boundary(spark):
    """The size probe behind every dimension dispatch answers ``>= n``:
    ``n=0`` is always true (the prefilter's ``prefilter_min_labels=0``
    force relies on it) and a table of exactly n rows reaches n."""
    from ontology_mapper_spark.pipeline import _has_labels

    labels = spark.createDataFrame([("a",), ("b",), ("c",)], "name string")
    assert [_has_labels(labels, n) for n in (0, 2, 3, 4)] == [
        True, True, True, False,
    ]


@pytest.mark.spark
def test_source_idf_pins_broadcast_plan_over_fallback(spark, onto):
    """r3 review: a caller-supplied whole-corpus IDF must pin the broadcast
    plan even past the inverted-index threshold — the inverted plan
    computes IDF from ITS input, which would silently break the
    bucketed==unbucketed contract CheckpointedRun relies on."""
    import dataclasses

    from ontology_mapper_spark.operators.tfidf import source_idf_map
    from ontology_mapper_spark.pipeline import map_terms_df
    from ontology_mapper_spark.sources.terms import mentions_from_list

    m = mentions_from_list(spark, ["asthma"])
    cfg = dataclasses.replace(
        MappingConfig(max_mappings=1), inverted_index_min_labels=1
    )
    idf = source_idf_map(m)
    p = (
        map_terms_df(m, onto, cfg, tfidf_source_idf=idf)
        ._jdf.queryExecution().optimizedPlan().toString()
    )
    assert "generate" not in p.lower()  # broadcast kernel, not the explode

    with pytest.raises(ValueError, match="inverted_index_min_labels"):
        dataclasses.replace(cfg, inverted_index_min_labels=0).validate()


@pytest.mark.spark
def test_session_pins_isolated_and_release_tolerant(spark, cache_entries):
    """Pins are keyed by the session object itself. Sibling sessions from
    spark.newSession() share one SparkContext (and one CacheManager), yet
    neither one's eviction nor its release may drop the other's pinned
    relation; and a pin whose unpersist raises (its session already
    stopped) must not abort releasing the rest."""
    from pyspark import StorageLevel

    from ontology_mapper_spark.session import pin, release_pipeline_cache

    level = StorageLevel.MEMORY_AND_DISK
    a, b = spark.newSession(), spark.newSession()

    class _StoppedPin:
        sparkSession = b

        def persist(self, level):
            return self

        def unpersist(self):
            raise RuntimeError("SparkContext was shut down")

    base = cache_entries()
    pin(_StoppedPin(), "stopped", 1, level)  # b's first pin: released first
    pin(a.range(7).toDF("a"), "kind", 1, level)
    pin(b.range(11).toDF("b"), "kind", 1, level)
    assert cache_entries() == base + 2
    # keep=1 evicts a's older pin, never the sibling's
    pin(a.range(13).toDF("a"), "kind", 1, level)
    assert cache_entries() == base + 2
    release_pipeline_cache(a)
    assert cache_entries() == base + 1  # b's pin survives a's release
    release_pipeline_cache(b)  # the raising unpersist does not stop it
    assert cache_entries() == base
