"""ontology-mapper-spark: a PySpark-native KG-construction engine with the
query/data-processing capabilities of text2term (ccb-hms/ontology-mapper),
re-expressed Spark-first (SURVEY.md).

Public API (mirrors the reference's surface, ``t2t.py:31-34``):
    map_terms / map_terms_df  — free-text -> ontology mappings DataFrame
    construct_kg              — pages -> (subj, mappedTo, obj) triples
    construct_kg_from_mentions — same, from a materialized mention table
    construct_full_kg         — triples ∪ hierarchy edges, pred-partitioned
    build_pipeline_index      — prebuild the broadcast TF-IDF index once
                                per ontology snapshot (pass as tfidf_index=)
    incremental_kg / incremental_kg_delta — corpus-delta KG maintenance
    incremental_kg_ontology / incremental_kg_ontology_delta — ontology-
                                release KG maintenance (frozen models)
    page_digests / label_delta — the change-detection primitives
    release_pipeline_cache    — free the pipeline's persisted relations
                                and scoring broadcasts
    cache_ontology / cache_ontology_set / cache_exists / clear_cache
    MappingConfig, Mapper, OntologyTermType
"""

from ontology_mapper_spark.config import (  # noqa: F401
    Mapper,
    MappingConfig,
    OntologyTermType,
)
from ontology_mapper_spark.pipeline import (  # noqa: F401
    build_pipeline_index,
    construct_full_kg,
    construct_kg,
    construct_kg_from_mentions,
    incremental_kg,
    incremental_kg_delta,
    incremental_kg_ontology,
    incremental_kg_ontology_delta,
    label_delta,
    map_terms,
    map_terms_df,
    mappings_to_triples,
    page_digests,
    release_pipeline_cache,
)
from ontology_mapper_spark.session import get_spark  # noqa: F401
from ontology_mapper_spark.sources.cache import (  # noqa: F401
    cache_exists,
    cache_ontology,
    cache_ontology_set,
    clear_cache,
)

__version__ = "0.1.0"
