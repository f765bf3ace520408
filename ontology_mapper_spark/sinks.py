"""Output sinks (SURVEY.md §2 S9/S10).

``write_mappings_csv`` replays the reference's CSV format
(``/root/reference/text2term/t2t.py:326-347``): 11 ``#`` metadata lines
(timestamp, ontology, version, min_score, mapper, base IRIs, max mappings,
term type, deprecated/unmapped inclusion, coverage counts) followed by the
7-column CSV. Coverage counts are distributed ``countDistinct`` aggregates.

The single-file variant exists for format parity / small outputs; at scale
use ``write_mappings_partitioned`` (parquet, bucketed by source id hash)
plus the sidecar ``_metadata.json``.
"""

from __future__ import annotations

import datetime
import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontology_mapper_spark.config import OUTPUT_COLUMNS, MappingConfig

VERSION = "0.1.0"

_RENAME = {
    "source_term_id": "Source Term ID",
    "source_term": "Source Term",
    "mapped_term_label": "Mapped Term Label",
    "mapped_term_curie": "Mapped Term CURIE",
    "mapped_term_iri": "Mapped Term IRI",
    "mapping_score": "Mapping Score",
    "tags": "Tags",
}

# the reference's actual column order comes from TermMapping.to_dict
# (term_mapping.py:48-56) + the appended Tags column: ID first.
CSV_ORDER = [
    "Source Term ID",
    "Source Term",
    "Mapped Term Label",
    "Mapped Term CURIE",
    "Mapped Term IRI",
    "Mapping Score",
    "Tags",
]


def to_reference_columns(mappings: DataFrame) -> DataFrame:
    out = mappings
    for a, b in _RENAME.items():
        out = out.withColumnRenamed(a, b)
    return out.select(*CSV_ORDER)


def _coverage(mappings: DataFrame) -> tuple[int, int]:
    row = mappings.agg(
        F.countDistinct("source_term_id").alias("ids"),
        F.countDistinct("mapped_term_iri").alias("iris"),
    ).collect()[0]
    return row["ids"], row["iris"]


def _metadata_lines(
    cfg: MappingConfig, target_ontology: str, n_source_terms: int,
    unique_ids: int, unique_iris: int,
) -> list[str]:
    return [
        f"# Timestamp: {datetime.datetime.now()}",
        f"# Target Ontology: {target_ontology}",
        f"# ontology-mapper-spark version: {VERSION}",
        f"# Minimum Score: {cfg.min_score:.2f}",
        f"# Mapper: {cfg.mapper}",
        f"# Base IRIs: {tuple(cfg.base_iris)}",
        f"# Max Mappings: {cfg.max_mappings}",
        f"# Term Type: {cfg.term_type}",
        "# Deprecated Terms "
        + ("Excluded" if cfg.excl_deprecated else "Included"),
        "# Unmapped Terms "
        + ("Excluded" if not cfg.incl_unmapped else "Included"),
        f"# Of {n_source_terms} entries, {unique_ids} were mapped to"
        f" {unique_iris} unique terms",
    ]


def write_mappings_csv(
    mappings: DataFrame,
    path: str,
    cfg: MappingConfig,
    target_ontology: str,
    n_source_terms: int,
) -> None:
    """Single-file reference-format CSV (small outputs / parity checks)."""
    ids, iris = _coverage(mappings)
    pdf = to_reference_columns(mappings).toPandas()
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "a") as f:
        for line in _metadata_lines(cfg, target_ontology, n_source_terms, ids, iris):
            f.write(line + "\n")
    pdf.to_csv(path, index=False, mode="a")


def write_mappings_partitioned(
    mappings: DataFrame,
    out_dir: str,
    cfg: MappingConfig,
    target_ontology: str,
    n_source_terms: int,
    n_buckets: int = 64,
) -> None:
    """Scale sink: parquet partitioned by id-hash bucket + JSON metadata
    sidecar. Iceberg-ready (swap for writeTo(...).using('iceberg'))."""
    from ontology_mapper_spark.catalog import write_table

    ids, iris = _coverage(mappings)
    bucketed = mappings.withColumn(
        "bucket", F.pmod(F.xxhash64("source_term_id"), F.lit(n_buckets))
    )
    if os.environ.get("ONTOLOGY_MAPPER_CATALOG"):
        write_table(bucketed, "kg.mappings", partition_by=["bucket"])
    else:
        bucketed.write.mode("overwrite").partitionBy("bucket").parquet(
            os.path.join(out_dir, "mappings")
        )
    meta = {
        "timestamp": datetime.datetime.now().isoformat(),
        "target_ontology": target_ontology,
        "version": VERSION,
        "min_score": cfg.min_score,
        "mapper": cfg.mapper,
        "base_iris": list(cfg.base_iris),
        "max_mappings": cfg.max_mappings,
        "term_type": cfg.term_type,
        "excl_deprecated": cfg.excl_deprecated,
        "incl_unmapped": cfg.incl_unmapped,
        "n_source_terms": n_source_terms,
        "unique_source_ids_mapped": ids,
        "unique_target_iris": iris,
        "output_columns": OUTPUT_COLUMNS,
    }
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "_metadata.json"), "w") as f:
        json.dump(meta, f, indent=2)


# ---------------------------------------------------------------------------
# N-Triples sink (KG interchange)

# KG predicates -> standard RDF vocabulary: ontology mappings are
# skos:closeMatch (the SSSOM-conventional predicate for lexical-match
# mappings), hierarchy is rdfs:subClassOf / rdf:type. All public W3C
# namespaces.
NT_PRED_IRIS = {
    "mappedTo": "http://www.w3.org/2004/02/skos/core#closeMatch",
    "IS_A": "http://www.w3.org/2000/01/rdf-schema#subClassOf",
    "INSTANCE_OF": "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
}

# characters N-Triples IRIREF forbids (RDF 1.1 N-Triples §2.4), percent-
# encoded. Backslash FIRST: later replacements introduce no '\' so the
# chain is confluent, and the identical chain is replayed in the DuckDB
# oracle.
IRI_ESCAPES = (
    ("\\", "%5C"),
    ("<", "%3C"),
    (">", "%3E"),
    ('"', "%22"),
    (" ", "%20"),
    ("{", "%7B"),
    ("}", "%7D"),
    ("|", "%7C"),
    ("^", "%5E"),
    ("`", "%60"),
)


def _iri_escape(col):
    for ch, rep in IRI_ESCAPES:
        col = F.replace(col, F.lit(ch), F.lit(rep))
    return col


def to_ntriples(triples: DataFrame) -> DataFrame:
    """Render KG triples (``subj``/``pred``/``obj``) as RDF N-Triples
    lines -> one ``nt`` string column, ready for ``df.write.text`` (the
    interchange format every triple store loads). Mention subjects
    (``url#j``) are already IRIs; predicates map through ``NT_PRED_IRIS``
    (unknown predicates fail LOUDLY — a silent skip would produce a
    truncated graph). Entirely native column ops (replace/concat): no
    Python in the row path, trivially parallel, no shuffle."""
    pred_map = F.create_map(
        *[F.lit(x) for kv in NT_PRED_IRIS.items() for x in kv]
    )
    pred_iri = F.when(
        F.element_at(pred_map, F.col("pred")).isNull(),
        F.raise_error(
            F.concat(F.lit("to_ntriples: unknown predicate "), F.col("pred"))
        ),
    ).otherwise(F.element_at(pred_map, F.col("pred")))
    nt = F.concat(
        F.lit("<"),
        _iri_escape(F.col("subj")),
        F.lit("> <"),
        _iri_escape(pred_iri),
        F.lit("> <"),
        _iri_escape(F.col("obj")),
        F.lit("> ."),
    )
    return triples.select(nt.alias("nt"))


# ---------------------------------------------------------------------------
# SSSOM sink (standard mapping interchange)

# SSSOM (Simple Standard for Sharing Ontological Mappings) TSV columns —
# the mapping-community interchange the reference's CSV predates; a
# text2term user emitting mappings today would publish this shape.
SSSOM_COLUMNS = [
    "subject_id",
    "subject_label",
    "predicate_id",
    "object_id",
    "object_label",
    "mapping_justification",
    "confidence",
]


def to_sssom(
    mappings: DataFrame,
    predicate_id: str = "skos:closeMatch",
    justification: str = "semapv:LexicalMatching",
) -> DataFrame:
    """Mappings relation -> SSSOM rows. ``object_id`` is the registry
    CURIE (native CASE projection, no UDF); an unresolvable IRI
    falls back to the full IRI (SSSOM permits IRIs where no prefix is
    registered) rather than emitting an empty id. Unmapped rows (empty
    IRI) carry no SSSOM row. Map-side only — no shuffle."""
    from ontology_mapper_spark.functions.curie import curie_from_iri_col

    curie = curie_from_iri_col("mapped_term_iri")
    return mappings.filter(F.col("mapped_term_iri") != "").select(
        F.col("source_term_id").alias("subject_id"),
        F.col("source_term").alias("subject_label"),
        F.lit(predicate_id).alias("predicate_id"),
        F.when(curie != "", curie)
        .otherwise(F.col("mapped_term_iri"))
        .alias("object_id"),
        F.col("mapped_term_label").alias("object_label"),
        F.lit(justification).alias("mapping_justification"),
        F.col("mapping_score").alias("confidence"),
    )


def write_sssom_tsv(
    mappings: DataFrame,
    path: str,
    mapping_set_id: str = "https://example.org/mappings/ontology-mapper-spark",
    curie_map: dict[str, str] | None = None,
    **to_sssom_kwargs,
) -> None:
    """Single-file SSSOM TSV with the embedded-metadata YAML header
    (``#``-prefixed lines, per the SSSOM spec) — the format-parity twin
    of ``write_mappings_csv``; at scale write ``to_sssom(...)`` through
    ``write_mappings_partitioned``'s parquet path instead."""
    from ontology_mapper_spark.functions.curie import ONTOLOGY_IRIS

    rows = to_sssom(mappings, **to_sssom_kwargs).toPandas()
    cm = curie_map or {
        "skos": "http://www.w3.org/2004/02/skos/core#",
        "semapv": "https://w3id.org/semapv/vocab/",
        **{
            p: iri
            for p, iri in sorted(ONTOLOGY_IRIS.items())
            if rows["object_id"].str.startswith(p + ":").any()
        },
    }
    with open(path, "w") as f:
        f.write(f"# mapping_set_id: {mapping_set_id}\n")
        f.write("# curie_map:\n")
        for prefix, iri in cm.items():
            f.write(f"#   {prefix}: {iri}\n")
        f.write("\t".join(SSSOM_COLUMNS) + "\n")
        for _, r in rows.iterrows():
            f.write("\t".join(str(r[c]) for c in SSSOM_COLUMNS) + "\n")
