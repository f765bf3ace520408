"""A long-lived session advancing the KG one release at a time: repeated
cycles reuse the session's generated code, and a release leaves no
broadcast file behind."""

import os

import pytest
from pyspark.sql import functions as F

from ontology_mapper_spark.config import MappingConfig
from ontology_mapper_spark.operators.graph import (
    entity_cooccurrence,
    kg_diff_summary,
    pagerank_int,
)
from ontology_mapper_spark.operators.tfidf import source_idf_map
from ontology_mapper_spark.pipeline import (
    build_pipeline_index,
    construct_kg,
    construct_kg_from_mentions,
    incremental_kg,
    page_digests,
    triple_url,
)
from ontology_mapper_spark.session import release_pipeline_cache
from ontology_mapper_spark.sources.ontology import fixture_onto_terms
from ontology_mapper_spark.sources.pages import (
    detect_mentions,
    recrawl_pages,
    synthesize_pages,
)

CFG = MappingConfig(max_mappings=1)


def _compiles(spark) -> int:
    """Classes Spark's whole-stage and expression codegen compiled in
    this JVM so far (a cache hit compiles nothing)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _cached_classes(spark) -> int:
    """Entries in Spark's generated-code cache (``CodeGenerator.cache``,
    private: read through reflection; its superclass holds the Guava
    cache)."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    wrapper = field.get(cls.getField("MODULE$").get(None))
    inner = wrapper.getClass().getSuperclass().getDeclaredField("cache")
    inner.setAccessible(True)
    return inner.get(wrapper).size()


@pytest.mark.spark
def test_release_cycle_compiles_once(spark, tmp_path):
    """The second release cycle in a session compiles nothing it compiled
    before: the session's codegen cache holds a whole cycle's working set
    (Spark's default 100 entries did not, so every cycle recompiled all
    of it). It usually compiles nothing at all; now and then it meets a
    plan AQE had not picked before (the build side of a broadcast join
    follows which query stage finished first) and compiles that
    variant's few classes once, which the cache keeps."""
    d = str(tmp_path)
    onto = fixture_onto_terms(spark)
    prev = synthesize_pages(spark, 40)
    idf = source_idf_map(detect_mentions(prev), CFG.ngram_length)
    index = build_pipeline_index(onto, CFG)
    construct_kg(
        prev, onto, CFG, tfidf_source_idf=idf, tfidf_index=index
    ).write.parquet(f"{d}/prev_triples")
    page_digests(prev).write.parquet(f"{d}/prev_digests")
    prev_triples = spark.read.parquet(f"{d}/prev_triples")
    prev_digests = spark.read.parquet(f"{d}/prev_digests")
    recrawl = recrawl_pages(spark, 30, 45, mutate_every=3)
    # both cycles start released: a cycle that reads the set-up's pins
    # plans (and compiles) differently from one that recomputes
    release_pipeline_cache(spark)

    def cycle():
        incremental_kg(
            recrawl, prev_digests, prev_triples, onto, CFG,
            tfidf_source_idf=idf, tfidf_index=index,
        ).write.mode("overwrite").parquet(f"{d}/snapshot")
        snap = spark.read.parquet(f"{d}/snapshot")
        kg_diff_summary(prev_triples, snap).write.mode("overwrite").parquet(
            f"{d}/diff"
        )
        entity_cooccurrence(snap).write.mode("overwrite").parquet(f"{d}/cooccur")
        edges = snap.select(
            triple_url("subj").alias("src"), F.col("obj").alias("dst")
        ).distinct()
        pagerank_int(edges, iterations=3).write.mode("overwrite").parquet(
            f"{d}/pagerank"
        )
        release_pipeline_cache(spark)

    cycle()
    warm, cached = _compiles(spark), _cached_classes(spark)
    cycle()
    # every compile of the second cycle is a class new to the cache
    assert _compiles(spark) - warm == _cached_classes(spark) - cached


@pytest.mark.spark
def test_release_destroys_scoring_broadcasts(spark):
    """Every TF-IDF mapping call broadcasts its index and source IDF; the
    release deletes their pickles from the driver's temp dir."""
    temp_dir = spark.sparkContext._temp_dir
    mentions = detect_mentions(synthesize_pages(spark, 20))
    onto = fixture_onto_terms(spark)
    release_pipeline_cache(spark)
    base = len(os.listdir(temp_dir))
    for _ in range(3):
        construct_kg_from_mentions(mentions, onto, CFG).write.format(
            "noop"
        ).mode("overwrite").save()
    assert len(os.listdir(temp_dir)) > base
    release_pipeline_cache(spark)
    assert len(os.listdir(temp_dir)) == base
