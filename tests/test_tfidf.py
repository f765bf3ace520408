"""J1/J2/T1/T2: TF-IDF cosine top-n join — oracle vs both physical plans.

The numpy oracle replays the reference kernel
(``tfidf_mapper.py:20-77``); both Spark implementations must reproduce it
exactly (scores to 1e-9 before rounding, identical candidate sets and order).
"""

import pytest
from pyspark.sql import functions as F

from ontology_mapper_spark.config import MappingConfig
from ontology_mapper_spark.operators.tfidf import (
    tfidf_map_broadcast,
    tfidf_map_inverted_index,
)
from ontology_mapper_spark.oracle.tfidf_oracle import tfidf_mappings
from ontology_mapper_spark.sources.ontology import (
    filter_terms_df,
    fixture_onto_terms,
    onto_labels_df,
)

SOURCE_TERMS = [
    "asthma",
    "acute bronchitis",
    "colon disease",
    "disease location",
    "food allergy",
    "asthma attack",
    "protein level",
    "allergy",
    "carbon monoxide",  # unmapped at default min_score
    "margarita",
    "mojito",
    "isdjfnsdfwd",
    "Multiple_sclerosis and the like",
    "BMI",
]


def _oracle_rows(spark, cfg: MappingConfig, terms=SOURCE_TERMS):
    onto = filter_terms_df(
        fixture_onto_terms(spark), cfg.base_iris, cfg.excl_deprecated, cfg.term_type
    )
    labels = (
        onto_labels_df(onto)
        .select("name", "iri", "display_label", "is_synonym")
        .orderBy("iri", "is_synonym", "name")
        .collect()
    )
    ids = [f"id{i}" for i in range(len(terms))]
    return tfidf_mappings(
        terms,
        ids,
        [r["name"] for r in labels],
        [r["iri"] for r in labels],
        [r["display_label"] for r in labels],
        max_mappings=cfg.max_mappings,
        min_score=cfg.min_score,
        ngram_length=cfg.ngram_length,
        ntop=cfg.ntop,
    )


def _spark_rows(spark, cfg: MappingConfig, impl, terms=SOURCE_TERMS):
    mentions = spark.createDataFrame(
        [(f"id{i}", t) for i, t in enumerate(terms)],
        ["source_term_id", "source_term"],
    )
    onto = filter_terms_df(
        fixture_onto_terms(spark), cfg.base_iris, cfg.excl_deprecated, cfg.term_type
    )
    out = impl(mentions, onto_labels_df(onto), cfg)
    return [
        r.asDict()
        for r in out.orderBy("source_term_id", F.desc("mapping_score"),
                             "mapped_term_iri").collect()
    ]


def _assert_matches_oracle(spark, cfg: MappingConfig, impl):
    got = _spark_rows(spark, cfg, impl)
    exp = _oracle_rows(spark, cfg)
    key = lambda r: (r["source_term_id"], r["mapped_term_iri"])  # noqa: E731
    got_m = {key(r): r for r in got}
    exp_m = {key(r): r for r in exp}
    assert set(got_m) == set(exp_m), (
        f"candidate sets differ: only_spark={set(got_m) - set(exp_m)} "
        f"only_oracle={set(exp_m) - set(got_m)}"
    )
    for k, e in exp_m.items():
        g = got_m[k]
        assert abs(g["mapping_score"] - e["mapping_score"]) < 5e-4, (k, g, e)
        assert g["mapped_term_label"] == e["mapped_term_label"], (k, g, e)
        assert g["source_term"] == e["source_term"]


@pytest.mark.spark
def test_broadcast_matches_oracle_defaults(spark):
    _assert_matches_oracle(spark, MappingConfig(), tfidf_map_broadcast)


@pytest.mark.spark
def test_inverted_index_matches_oracle_defaults(spark):
    _assert_matches_oracle(spark, MappingConfig(), tfidf_map_inverted_index)


@pytest.mark.spark
@pytest.mark.parametrize(
    "cfg",
    [
        MappingConfig(min_score=0.6, max_mappings=1),
        MappingConfig(min_score=0.0, max_mappings=5),
        MappingConfig(min_score=0.99),  # near-empty result (simple_tests.py:218-223)
        MappingConfig(term_type="property"),  # simple_tests.py:117-136
        MappingConfig(term_type="any", excl_deprecated=True),
        MappingConfig(base_iris=("http://purl.obolibrary.org/obo/HP",)),
        MappingConfig(min_score=0.0, max_mappings=5, ngram_length=2),
    ],
    ids=[
        "minscore06", "all_cands", "minscore099", "property", "any_nodepr",
        "hp_only", "bigram",
    ],
)
def test_both_impls_match_oracle_config_matrix(spark, cfg):
    _assert_matches_oracle(spark, cfg, tfidf_map_broadcast)
    _assert_matches_oracle(spark, cfg, tfidf_map_inverted_index)


@pytest.mark.spark
def test_impls_agree_exactly(spark):
    cfg = MappingConfig(min_score=0.2, max_mappings=4)
    a = _spark_rows(spark, cfg, tfidf_map_broadcast)
    b = _spark_rows(spark, cfg, tfidf_map_inverted_index)
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert ra["source_term_id"] == rb["source_term_id"]
        assert ra["mapped_term_iri"] == rb["mapped_term_iri"]
        assert abs(ra["mapping_score"] - rb["mapping_score"]) < 1e-9


@pytest.mark.spark
def test_high_threshold_yields_exact_match_only(spark):
    cfg = MappingConfig(min_score=0.99, max_mappings=3)
    rows = _spark_rows(spark, cfg, tfidf_map_broadcast, terms=["asthma", "mojito"])
    assert {r["source_term"] for r in rows} == {"asthma"}
    assert all(r["mapping_score"] >= 0.99 for r in rows)


@pytest.mark.spark
def test_target_index_matches_oracle_vectors(spark):
    """The one index feeder: every posting of ``build_target_index`` must
    equal the oracle's l2 tf-idf vector weight of its label, with nothing
    missing or extra. Checked with the self-fit IDF and with a frozen
    target_idf_map model fit on a subset (so some grams are unseen by it
    and take ln(1 + n_model) + 1)."""
    import math

    from ontology_mapper_spark.operators import tfidf as t
    from ontology_mapper_spark.oracle.tfidf_oracle import (
        _idf,
        _l2_tfidf,
        _tf_vectors,
    )
    from ontology_mapper_spark.sources.ontology import (
        filter_terms_df,
        fixture_onto_terms,
        onto_labels_df,
    )

    labels = onto_labels_df(
        filter_terms_df(fixture_onto_terms(spark), term_type="class")
    )
    names = [r["name"] for r in labels.orderBy(*t.LABEL_ORDER).collect()]
    tfs = _tf_vectors(names, 3)
    idf_map, n_model = frozen = t.target_idf_map(
        labels.filter(~F.col("is_synonym")), 3
    )
    unseen = math.log(1.0 + n_model) + 1.0
    assert any(g not in idf_map for tf in tfs for g in tf)

    def check(target_idf, idf):
        idx = t.build_target_index(labels, target_idf=target_idf)
        assert idx.n_labels == len(names)
        vecs = [_l2_tfidf(tf, idf) for tf in tfs]
        assert len(idx.lids) == sum(map(len, vecs))
        for g, row in idx.gram_ids.items():
            lo, hi = idx.indptr[row], idx.indptr[row + 1]
            for lid, w in zip(idx.lids[lo:hi], idx.wts[lo:hi]):
                assert abs(vecs[lid][g] - w) < 1e-12, (g, lid)

    check(frozen, {g: idf_map.get(g, unseen) for tf in tfs for g in tf})
    check(None, _idf(tfs))


@pytest.mark.spark
def test_target_index_builds_in_one_job_and_persists_nothing(
    spark, cache_entries
):
    """``build_target_index`` is one Arrow collect: one Spark job, no
    relation of its own left in the CacheManager, and a cache the caller
    holds on the labels is still held after the build."""
    from ontology_mapper_spark.operators import tfidf as t
    from ontology_mapper_spark.sources.ontology import (
        filter_terms_df,
        fixture_onto_terms,
        onto_labels_df,
    )

    sc = spark.sparkContext
    labels = onto_labels_df(
        filter_terms_df(fixture_onto_terms(spark), term_type="class")
    )

    def jobs_of_build(group):
        sc.setJobGroup(group, "build_target_index")
        try:
            t.build_target_index(labels)
        finally:
            for key in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
                sc.setLocalProperty(f"spark.{key}", None)
        # job events reach the status store through the async listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    before = cache_entries()
    assert jobs_of_build("tindex-plain") == 1
    assert cache_entries() == before
    labels.persist()
    try:
        assert jobs_of_build("tindex-persisted") == 1
        assert labels.storageLevel.useMemory
        assert cache_entries() == before + 1
    finally:
        labels.unpersist()


@pytest.mark.spark
def test_target_index_disk_cache_roundtrip(spark, tmp_path):
    """save/load_target_index: the vectorized-artifact counterpart of the
    reference's ontology pickle cache — a loaded index must map exactly
    like the one it was saved from, and a version mismatch fails loudly."""
    from ontology_mapper_spark.operators import tfidf as t
    from ontology_mapper_spark.sources.ontology import (
        filter_terms_df,
        fixture_onto_terms,
        onto_labels_df,
    )
    from ontology_mapper_spark.sources.pages import (
        detect_mentions,
        synthesize_pages,
    )

    labels = onto_labels_df(
        filter_terms_df(fixture_onto_terms(spark), term_type="class")
    )
    idx = t.build_target_index(labels)
    path = str(tmp_path / "efo.tindex")
    t.save_target_index(idx, path)
    idx2 = t.load_target_index(path)
    assert idx2.n_labels == idx.n_labels
    assert idx2.ngram_length == idx.ngram_length
    mentions = detect_mentions(synthesize_pages(spark, 30)).select(
        "source_term_id", "source_term"
    )
    cfg = MappingConfig()
    a = t.tfidf_map_broadcast(mentions, labels, cfg, target_index=idx)
    b = t.tfidf_map_broadcast(mentions, labels, cfg, target_index=idx2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))

    import pickle

    with open(path, "rb") as f:
        payload = pickle.load(f)
    payload["version"] = 999
    with open(path, "wb") as f:
        pickle.dump(payload, f)
    with pytest.raises(ValueError, match="version"):
        t.load_target_index(path)


def test_requests_transport_rejects_zero_retries():
    from ontology_mapper_spark.operators.api_mappers import RequestsTransport

    with pytest.raises(ValueError, match="max_retries"):
        RequestsTransport(max_retries=0)


@pytest.mark.spark
def test_inverted_plan_frozen_source_idf_matches_kernel(spark):
    """r4 ADVICE (high): slice-wise execution under the INVERTED plan.
    A frozen whole-corpus source model threaded into
    ``tfidf_map_inverted_index`` must score a slice exactly like the
    broadcast kernel does with the same model — including grams the model
    never saw (df=0 fallback)."""
    from ontology_mapper_spark.operators.tfidf import source_idf_map

    cfg = MappingConfig(min_score=0.0, max_mappings=5)
    full = spark.createDataFrame(
        [(f"id{i}", t) for i, t in enumerate(SOURCE_TERMS)],
        ["source_term_id", "source_term"],
    )
    model = source_idf_map(full, cfg.ngram_length)
    # slice includes a term whose grams are ABSENT from the model corpus
    slice_terms = ["asthma", "allergy", "zzqx unseen zxx"]
    mentions = spark.createDataFrame(
        [(f"s{i}", t) for i, t in enumerate(slice_terms)],
        ["source_term_id", "source_term"],
    )
    onto = filter_terms_df(
        fixture_onto_terms(spark), cfg.base_iris, cfg.excl_deprecated,
        cfg.term_type,
    )
    labels = onto_labels_df(onto)
    a = [
        r.asDict()
        for r in tfidf_map_broadcast(mentions, labels, cfg, source_idf=model)
        .orderBy("source_term_id", F.desc("mapping_score"), "mapped_term_iri")
        .collect()
    ]
    b = [
        r.asDict()
        for r in tfidf_map_inverted_index(
            mentions, labels, cfg, source_idf=model
        )
        .orderBy("source_term_id", F.desc("mapping_score"), "mapped_term_iri")
        .collect()
    ]
    assert len(a) == len(b) and len(a) > 0
    for ra, rb in zip(a, b):
        assert ra["source_term_id"] == rb["source_term_id"]
        assert ra["mapped_term_iri"] == rb["mapped_term_iri"]
        assert abs(ra["mapping_score"] - rb["mapping_score"]) < 1e-9


@pytest.mark.spark
def test_map_terms_df_rejects_kernel_index_with_inverted_plan(spark):
    """r4 ADVICE (high): an explicit use_inverted_index=True cannot honor
    a broadcast-kernel CSR index — must fail loudly, not silently refit."""
    from ontology_mapper_spark.pipeline import build_pipeline_index, map_terms_df

    onto = fixture_onto_terms(spark)
    mentions = spark.createDataFrame(
        [("id0", "asthma", None)], "source_term_id string, source_term string, tags array<string>"
    )
    idx = build_pipeline_index(onto)
    cfg = MappingConfig(use_inverted_index=True)
    with pytest.raises(ValueError, match="use_inverted_index"):
        map_terms_df(mentions, onto, cfg, tfidf_index=idx)


@pytest.mark.spark
def test_map_terms_df_threads_frozen_idf_into_inverted_plan(spark):
    """The documented >4M-label regime combination: use_inverted_index=True
    + frozen tfidf_source_idf. The frozen model must reach the inverted
    plan (not be silently dropped for a delta-local self-fit): scoring a
    SLICE with the full-corpus model equals the full run's rows for that
    slice."""
    from ontology_mapper_spark.operators.tfidf import source_idf_map
    from ontology_mapper_spark.pipeline import map_terms_df

    cfg = MappingConfig(use_inverted_index=True, min_score=0.1)
    onto = fixture_onto_terms(spark)
    full = spark.createDataFrame(
        [(f"id{i}", t, None) for i, t in enumerate(SOURCE_TERMS)],
        "source_term_id string, source_term string, tags array<string>",
    )
    model = source_idf_map(full, cfg.ngram_length)
    full_rows = {
        (r["source_term_id"], r["mapped_term_iri"]): r["mapping_score"]
        for r in map_terms_df(
            full, onto, cfg, tfidf_source_idf=model
        ).collect()
    }
    part = full.filter(F.col("source_term_id").isin("id0", "id5", "id7"))
    slice_rows = {
        (r["source_term_id"], r["mapped_term_iri"]): r["mapping_score"]
        for r in map_terms_df(
            part, onto, cfg, tfidf_source_idf=model
        ).collect()
    }
    expected = {
        k: v for k, v in full_rows.items() if k[0] in ("id0", "id5", "id7")
    }
    assert slice_rows == expected and len(slice_rows) > 0
