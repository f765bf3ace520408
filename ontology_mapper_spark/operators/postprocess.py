"""Output-parity post-processing (SURVEY.md §2 F5/F9/F10/J4/U4).

Replays the reference's ``_do_mapping`` tail (``t2t.py:200-323``):
ignore-tag filtering, min_score filtering, unmapped-row synthesis, tag
attachment, score rounding, CURIE projection. All native DataFrame ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontology_mapper_spark.config import IGNORE_TAGS, UNMAPPED_TAG
from ontology_mapper_spark.functions.curie import curie_from_iri_col

def has_ignore_tag() -> F.Column:
    """F5 — reference ``t2t.py:250-267`` (tags in {ignore, Ignore, ...})."""
    ignore_arr = F.array(*[F.lit(t) for t in IGNORE_TAGS])
    return F.coalesce(
        F.exists(F.col("tags"), lambda t: F.array_contains(ignore_arr, t)),
        F.lit(False),
    )


def filter_ignored(mentions: DataFrame) -> DataFrame:
    return mentions.filter(~has_ignore_tag())


def filter_min_score(mappings: DataFrame, min_score: float) -> DataFrame:
    """F9 — reference ``t2t.py:285-289`` (applied before rounding)."""
    return mappings.filter(F.col("mapping_score") >= min_score)


def add_unmapped(mappings: DataFrame, mentions: DataFrame) -> DataFrame:
    """U4 — reference ``t2t.py:292-323``: every input mention whose *term*
    has no surviving mapping gets a row with empty label/IRI, score 0, and
    the ``unmapped`` tag appended — unless the term carries an ignore tag
    (the ``_add_tag(..., ignore=True)`` guard), in which case it is listed
    without the tag. Anti-join by term, exactly like the reference's
    ``term not in pd.unique(df['Source Term'])`` check.

    DELIBERATE DIVERGENCE (pinned by tests/test_pipeline.py): for
    ``list[TaggedTerm]`` inputs the reference *never* appends ``unmapped``
    — ``t2t.py:319-323`` only tags inside the ``not isinstance(se,
    OntologyTermCollector)``/plain-list branch, so TaggedTerm rows fall
    through the guard untagged (a reference bug SURVEY.md U4 documents).
    Here every unmapped, non-ignored mention gets the tag regardless of
    input shape: tagged terms flow through the same mention relation as
    every other source, and silently untagged unmapped rows would be
    indistinguishable from mapped ones downstream."""
    mapped_terms = mappings.select("source_term").distinct()
    unmapped = mentions.join(mapped_terms, "source_term", "left_anti").select(
        "source_term_id",
        "source_term",
        F.lit("").alias("mapped_term_label"),
        F.lit("").alias("mapped_term_iri"),
        F.lit(0.0).alias("mapping_score"),
        F.when(has_ignore_tag(), F.col("tags"))
        .otherwise(F.concat(F.coalesce("tags", F.array()), F.array(F.lit(UNMAPPED_TAG))))
        .alias("tags_out"),
    )
    return mappings.join(
        mentions.select("source_term_id", "tags"), "source_term_id", "left"
    ).select(
        "source_term_id",
        "source_term",
        "mapped_term_label",
        "mapped_term_iri",
        "mapping_score",
        F.col("tags").alias("tags_out"),
    ).unionByName(unmapped)


def attach_tags_only(mappings: DataFrame, mentions: DataFrame) -> DataFrame:
    """J4 without unmapped synthesis (incl_unmapped=False path)."""
    return mappings.join(
        mentions.select("source_term_id", "tags"), "source_term_id", "left"
    ).withColumnRenamed("tags", "tags_out")


def finalize(mappings: DataFrame) -> DataFrame:
    """F10/F11 + the reference's Tags string quirk: an untagged term renders
    as the string "None" (``t2t.py:270-282`` does ``str(None)``)."""
    return mappings.select(
        "source_term_id",
        "source_term",
        "mapped_term_label",
        curie_from_iri_col("mapped_term_iri").alias("mapped_term_curie"),
        "mapped_term_iri",
        F.round(F.col("mapping_score").cast("double"), 3).alias("mapping_score"),
        F.coalesce(
            F.array_join(F.col("tags_out"), ","), F.lit("None")
        ).alias("tags"),
    )
