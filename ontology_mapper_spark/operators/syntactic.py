"""Syntactic (string-metric) mapper (SURVEY.md §2 J3/D1/D2/A4/T3).

Reference semantics (``/root/reference/text2term/syntactic_mapper.py:21-75``):
for every source term x every ontology term, score = max over the term's
labels+synonyms of metric(source, name) — NO normalization of either side —
then keep the top ``max_mappings`` terms (stable sort; ties pinned here to
ascending IRI). Every ontology term is a candidate, so scores of 0.0 can be
emitted; ``min_score`` filtering happens downstream (``t2t.py:285-289``),
exactly as in the reference.

Physical plans:

- ``syntactic_map_broadcast`` — ontology names grouped per IRI, broadcast;
  Arrow-batched ``mapInPandas`` computes the max-over-names metric and the
  per-mention top-k inside the kernel. Zero shuffle; linear scale-out. This
  is the faithful O(|mentions| x |names|) semantics; at web scale enable
  ``cfg.candidate_prefilter`` to restrict the candidate set to the TF-IDF
  index's top candidates (ensemble per SURVEY.md §4) instead of all terms.

- ``syntactic_map_sql`` — for metrics expressible JVM-side (levenshtein via
  ``F.levenshtein``, char-set jaccard via array ops): broadcast equi-free
  crossJoin + native expression + window top-k. Whole-stage codegen, no
  Python at all; also the DuckDB-oracle-parity plan.
"""

from __future__ import annotations

import heapq
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ontology_mapper_spark.config import MappingConfig
from ontology_mapper_spark.functions.metrics import METRICS
from ontology_mapper_spark.operators.tfidf import CANDIDATE_SCHEMA
from ontology_mapper_spark.session import broadcast


def _terms_with_names(onto_labels: DataFrame) -> list[tuple[str, str, list[str]]]:
    """[(iri, display_label, [names...])] sorted by iri (pinned tie order)."""
    rows = (
        onto_labels.groupBy("iri", "display_label")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("is_synonym", "name"))
            ).alias("names")
        )
        .orderBy("iri")
        .collect()
    )
    return [
        (r["iri"], r["display_label"], [n["name"] for n in r["names"]]) for r in rows
    ]


def syntactic_map_broadcast(
    mentions: DataFrame, onto_labels: DataFrame, cfg: MappingConfig
) -> DataFrame:
    if cfg.mapper not in METRICS:
        raise ValueError(f"Unsupported syntactic mapper: {cfg.mapper}")
    spark = mentions.sparkSession
    terms = _terms_with_names(onto_labels)
    b_terms = broadcast(spark, terms)
    metric_name = cfg.mapper
    max_mappings = cfg.max_mappings

    def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        metric = METRICS[metric_name]
        tl = b_terms.value
        memo: dict[str, list[tuple[float, int]]] = {}
        for pdf in batches:
            ids_o, terms_o, lbl_o, iri_o, sc_o = [], [], [], [], []
            for sid, term in zip(pdf["source_term_id"], pdf["source_term"]):
                top = memo.get(term)
                if top is None:
                    scored = []
                    for k, (iri, display, names) in enumerate(tl):
                        best = 0.0
                        for name in names:
                            s = metric(term, name)
                            if s > best:
                                best = s
                        scored.append((-best, k))
                    # top max_mappings by (score desc, iri asc)
                    top = heapq.nsmallest(max_mappings, scored)
                    memo[term] = top
                for neg, k in top:
                    iri, display, _ = tl[k]
                    ids_o.append(sid)
                    terms_o.append(term)
                    lbl_o.append(display)
                    iri_o.append(iri)
                    sc_o.append(-neg)
            yield pd.DataFrame(
                {
                    "source_term_id": ids_o,
                    "source_term": terms_o,
                    "mapped_term_label": lbl_o,
                    "mapped_term_iri": iri_o,
                    "mapping_score": sc_o,
                }
            )

    return mentions.select("source_term_id", "source_term").mapInPandas(
        score_batches, schema=CANDIDATE_SCHEMA
    )


def _native_sim_expr(mapper: str, term, name):
    """The JVM-native similarity expression for metrics Catalyst can compute
    (same formulas as ``functions.metrics``; whole-stage codegen, no Python).
    Returns None when the metric has no native form (jaro/fuzzy/indel)."""
    term = F.col(term) if isinstance(term, str) else term
    name = F.col(name) if isinstance(name, str) else name
    if mapper == "levenshtein":
        sim = 1.0 - F.levenshtein(term, name) / F.greatest(
            F.length(term), F.length(name)
        )
        return F.when(
            (F.length(term) == 0) & (F.length(name) == 0), F.lit(1.0)
        ).otherwise(sim)
    if mapper == "jaccard":
        chars_s = F.array_distinct(F.split(term, ""))
        chars_n = F.array_distinct(F.split(name, ""))
        inter = F.size(F.array_intersect(chars_s, chars_n))
        union = F.size(F.array_union(chars_s, chars_n))
        return F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
    return None


def syntactic_map_prefiltered(
    mentions: DataFrame,
    onto_labels: DataFrame,
    cfg: MappingConfig,
    prefilter_ntop: int = 100,
    prefilter_min_score: float = 0.05,
) -> DataFrame:
    """Scale path for syntactic metrics (SURVEY.md §4 'ensemble'): generate
    candidates with the TF-IDF inverted index (cheap, broadcast, map-side),
    then re-score ONLY those pairs with the exact string metric in an
    Arrow-batched pandas UDF. Replaces the O(|mentions| x |terms|) nested
    loop with O(|mentions| x ntop); recall < 1 only for pairs with zero
    normalized-3-gram overlap, which the metrics would score near zero
    anyway (validate P/R when changing prefilter knobs)."""
    import pandas as pd  # noqa: F811
    from pyspark.sql import types as T

    from ontology_mapper_spark.config import MappingConfig as MC
    from ontology_mapper_spark.operators.tfidf import tfidf_map_broadcast

    pre_cfg = MC(
        min_score=prefilter_min_score,
        max_mappings=prefilter_ntop,
        ntop=prefilter_ntop,
        ngram_length=cfg.ngram_length,
    )
    cand = tfidf_map_broadcast(mentions, onto_labels, pre_cfg).select(
        "source_term_id", "source_term", F.col("mapped_term_iri").alias("iri")
    )
    names = onto_labels.groupBy("iri", "display_label").agg(
        F.sort_array(F.collect_list(F.struct("is_synonym", "name"))).alias("nm")
    ).select(
        "iri", "display_label",
        F.transform("nm", lambda s: s["name"]).alias("names"),
    )
    pairs = cand.join(F.broadcast(names), "iri")
    metric_name = cfg.mapper

    # single dispatch point: the same probe syntactic_map_sql uses — a
    # metric gains the codegen path the moment _native_sim_expr learns it
    if _native_sim_expr(metric_name, F.lit(""), F.lit("")) is not None:
        # guide §4.1: the metric has a JVM form — rescore inside codegen via
        # a higher-order function over the names array (max over names ≡ the
        # kernel's best-of loop; sim ∈ [0,1] so the 0.0 floor is vacuous).
        # No ArrowEvalPython stage, no second Python worker round-trip.
        score_expr = F.array_max(
            F.transform(
                "names", lambda n: _native_sim_expr(metric_name, F.col("source_term"), n)
            )
        )
        scored = pairs.withColumn("mapping_score", score_expr)
    else:

        @F.pandas_udf(T.DoubleType())
        def best_sim(term: pd.Series, names_col: pd.Series) -> pd.Series:
            metric = METRICS[metric_name]
            out = []
            for t, nm in zip(term, names_col):
                best = 0.0
                for n in nm:
                    s = metric(t, n)
                    if s > best:
                        best = s
                out.append(best)
            return pd.Series(out)

        scored = pairs.withColumn(
            "mapping_score", best_sim(F.col("source_term"), F.col("names"))
        )
    w = Window.partitionBy("source_term_id").orderBy(
        F.desc("mapping_score"), F.asc("iri")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cfg.max_mappings)
        .select(
            "source_term_id",
            "source_term",
            F.col("display_label").alias("mapped_term_label"),
            F.col("iri").alias("mapped_term_iri"),
            "mapping_score",
        )
    )


def syntactic_map_sql(
    mentions: DataFrame, onto_labels: DataFrame, cfg: MappingConfig
) -> DataFrame:
    """Native-expression plan for 'levenshtein' and 'jaccard'. The cross join
    broadcasts the (small) label side; Catalyst keeps the whole metric in
    codegen. Same output contract as the broadcast kernel."""
    sim = _native_sim_expr(cfg.mapper, "source_term", "name")
    if sim is None:
        raise ValueError(f"No native-SQL plan for metric: {cfg.mapper}")

    pairs = mentions.select("source_term_id", "source_term").crossJoin(
        F.broadcast(onto_labels.select("iri", "display_label", "name"))
    )
    per_term = (
        pairs.withColumn("sim", sim)
        .groupBy("source_term_id", "source_term", "iri", "display_label")
        .agg(F.max("sim").alias("mapping_score"))
    )
    w = Window.partitionBy("source_term_id").orderBy(
        F.desc("mapping_score"), F.asc("iri")
    )
    return (
        per_term.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= cfg.max_mappings)
        .select(
            "source_term_id",
            "source_term",
            F.col("display_label").alias("mapped_term_label"),
            F.col("iri").alias("mapped_term_iri"),
            "mapping_score",
        )
    )
