"""CURIE / IRI projections (SURVEY.md §2 F11-F13).

The reference calls bioregistry at runtime (``onto_utils.py:56-62``);
bioregistry is a network-updated registry, so this engine snapshots the
prefix map as a literal table (derived from the reference's own static
``ONTOLOGY_IRIS``, ``onto_utils.py:163-184``, plus the OBO PURL convention)
and projects with one CASE expression parsed from import-time SQL text —
no UDF. Unknown IRIs yield "" exactly like the reference's failure path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ontology_mapper_spark.functions.registry_snapshot import PREFIX_SNAPSHOT

OBO_BASE_IRI = "http://purl.obolibrary.org/obo/"
BIOPORTAL_BASE_IRI = "http://purl.bioontology.org/ontology/"
ORPHANET_IRI = "http://www.orpha.net/ORDO/"
EBI_EFO = "http://www.ebi.ac.uk/efo/"
SNOMED_IRI = "http://snomed.info/id/"

# Reference onto_utils.py:163-184 (tag -> base IRI); used by iri_from_tag.
ONTOLOGY_IRIS = {
    "EFO": EBI_EFO,
    "Orphanet": ORPHANET_IRI,
    "ORPHA": ORPHANET_IRI,
    **{
        p: OBO_BASE_IRI
        for p in (
            "CL", "MONDO", "HP", "UBERON", "GO", "DOID", "CHEBI", "OMIT",
            "NCIT", "MAXO", "DRON", "OAE", "CIDO", "PATO",
        )
    },
    "OMIM": BIOPORTAL_BASE_IRI + "OMIM/",
    "SNOMED": SNOMED_IRI,
}


_OBO_RE = r"^https?://purl[.]obolibrary[.]org/obo/([A-Za-z][A-Za-z0-9]*)_([A-Za-z0-9.]+)$"
_IDORG_RE = r"^https?://identifiers[.]org/([A-Za-z][A-Za-z0-9._]*)[:/]([A-Za-z0-9._-]+)$"
_LOCAL_ID_RE = r"^[A-Za-z0-9._-]+$"


def _lit(s: str) -> str:
    """SQL literal free of quotes and backslashes, so it reads the same under
    either spark.sql.parser.escapedStringLiterals (the regexes use [.])."""
    if "'" in s or "\\" in s:
        raise ValueError(f"curie: {s!r} cannot be a plain SQL literal")
    return f"'{s}'"


def _curie_case(snapshot: list[tuple[str, str]]) -> str:
    """CASE text over the column placeholder ``{iri}``, rules in order: null
    or empty, OBO PURL, snapshot rows longest-prefix-first, identifiers.org."""

    def generic(rx: str) -> str:
        g = [f"regexp_extract({{iri}}, {_lit(rx)}, {i})" for i in range(3)]
        return f"WHEN {g[0]} != '' THEN upper(concat_ws(':', {g[1]}, {g[2]}))"

    whens = ["WHEN {iri} IS NULL OR {iri} = '' THEN ''", generic(_OBO_RE)]
    for iri_prefix, curie_prefix in sorted(snapshot, key=lambda r: -len(r[0])):
        local = f"substring({{iri}}, {len(iri_prefix) + 1}, 2048)"
        curie = f"upper(concat({_lit(curie_prefix + ':')}, {local}))"
        whens.append(f"WHEN startswith({{iri}}, {_lit(iri_prefix)}) AND {local} "
                     f"RLIKE {_lit(_LOCAL_ID_RE)} THEN {curie}")
    return f"CASE {' '.join(whens + [generic(_IDORG_RE)])} ELSE '' END"


_CURIE_CASE = _curie_case(PREFIX_SNAPSHOT)


def curie_from_iri_col(iri: str) -> Column:
    """bioregistry-shaped CURIE of column ``iri``, uppercased; "" when
    unresolvable (reference ``onto_utils.py:56-62``, ``term_mapping.py:39-42``).

    Table-driven from ``registry_snapshot``: two *generic* rules cover the
    pattern-shaped registries (every OBO Foundry PURL — several hundred
    prefixes — and identifiers.org), ``PREFIX_SNAPSHOT`` the opaque
    namespaces (BioPortal PURLs, SNOMED, MeSH, UMLS, Wikidata, ...). One
    ``F.expr`` parses the import-time CASE text JVM-side: one py4j round
    trip, no UDF."""
    return F.expr(_CURIE_CASE.replace("{iri}", f"`{iri}`"))


def label_from_iri_col(iri: Column) -> Column:
    """Fragment after '#', else after the last '/'
    (reference ``onto_utils.py:65-69``)."""
    return F.when(
        iri.contains("#"), F.element_at(F.split(iri, "#"), 2)
    ).otherwise(F.element_at(F.split(iri, "/"), -1))


def iri_from_tag(source_tag: str) -> str:
    """CURIE-ish tag -> full IRI (reference ``onto_utils.py:72-97``);
    driver-side scalar (used for config values, not data)."""
    iri = source_tag
    if len(source_tag) > 0 and source_tag != "NA":
        iri = iri.replace(" ", "")
        if ":" in source_tag:
            onto_name = iri.split(":")[0]
            term_name = iri.replace(":", "_")
            full_iri = _get_iri(onto_name, term_name)
            iri = full_iri if len(full_iri) > 0 else iri
        elif "_" in source_tag:
            onto_name = iri.split("_")[0]
            full_iri = _get_iri(onto_name, iri)
            iri = full_iri if len(full_iri) > 0 else iri
    return iri


def _get_iri(ont_name: str, term_name: str) -> str:
    if ont_name not in ONTOLOGY_IRIS:
        return ""
    if ont_name == "ORPHA":
        return ONTOLOGY_IRIS[ont_name] + term_name.replace("ORPHA_", "Orphanet_")
    if ont_name in ("SNOMED", "OMIM"):
        return ONTOLOGY_IRIS[ont_name] + term_name.replace(ont_name + "_", "")
    return ONTOLOGY_IRIS[ont_name] + term_name
