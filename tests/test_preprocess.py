"""F2 template extract, F3 blocklist, F4 dedup, tagged-file parsing, CSV/
list scans (reference ``preprocess.py``, ``onto_utils.py:112-135``)."""

import pytest
from pyspark.sql import functions as F

from ontology_mapper_spark.sources.terms import (
    mentions_from_csv,
    mentions_from_file,
    mentions_from_list,
    parse_tagged_terms_file,
    preprocess_mentions,
)


@pytest.mark.spark
def test_template_extract_first_match_wins(spark):
    m = mentions_from_list(
        spark,
        [
            "Age when diagnosed with asthma",
            "History of colon disease",
            "plain term",
        ],
    )
    out = preprocess_mentions(
        m,
        templates=[r"Age when diagnosed with (.*)", r"History of (.*)"],
        template_tags=[["age", "diagnosis"], ["history"]],
    )
    rows = {r["source_term"]: r["tags"] for r in out.collect()}
    assert set(rows) == {"asthma", "colon disease", "plain term"}
    assert rows["asthma"] == ["age", "diagnosis"]
    assert rows["colon disease"] == ["history"]
    assert rows["plain term"] is None  # implicit (.*) template, no tags


@pytest.mark.spark
def test_template_multi_group_join(spark):
    m = mentions_from_list(spark, ["asthma attack in 2001"])
    out = preprocess_mentions(m, templates=[r"(\w+) attack in (\d+)"])
    assert [r["source_term"] for r in out.collect()] == ["asthma 2001"]


@pytest.mark.spark
def test_blocklist_drop_and_char(spark):
    m = mentions_from_list(spark, ["asthma", "DELETED", "allergy"])
    dropped = preprocess_mentions(m, blocklist=[r"DELETED"])
    assert {r["source_term"] for r in dropped.collect()} == {"asthma", "allergy"}
    replaced = preprocess_mentions(m, blocklist=[r"DELETED"], blocklist_char="-")
    assert sorted(r["source_term"] for r in replaced.collect()) == [
        "-", "allergy", "asthma",
    ]


@pytest.mark.spark
def test_dedup_keeps_first(spark):
    m = mentions_from_list(spark, ["asthma", "asthma", "allergy"])
    out = preprocess_mentions(m, rem_duplicates=True)
    assert out.count() == 2


@pytest.mark.spark
def test_empty_extraction_falls_through(spark):
    # a template matching with an empty capture join does NOT consume the
    # term: it falls through to the implicit (.*) and survives unchanged
    # (reference preprocess.py:84-88 breaks only when combined_matches is
    # non-empty); only the empty term itself is dropped
    m = mentions_from_list(spark, ["prefix-", "prefix-x", ""])
    out = preprocess_mentions(m, templates=[r"prefix-(.*)"])
    assert sorted(r["source_term"] for r in out.collect()) == ["prefix-", "x"]


@pytest.mark.spark
def test_original_term_carried(spark):
    # TaggedTerm parity: both processed and original strings survive
    m = mentions_from_list(spark, ["Age when diagnosed with asthma", "plain"])
    out = preprocess_mentions(m, templates=[r"Age when diagnosed with (.*)"])
    rows = {r["source_term"]: r["original_term"] for r in out.collect()}
    assert rows == {
        "asthma": "Age when diagnosed with asthma",
        "plain": "plain",
    }


@pytest.mark.spark
def test_file_ids_partition_stable(spark, tmp_path):
    # same file read at different parallelism must yield the same ID set
    # (mirrors the reference's determinism pain, simple_tests.py:237-240)
    lst = tmp_path / "many.txt"
    terms = [f"term number {i % 400}" for i in range(4000)]  # incl. duplicates
    lst.write_text("\n".join(terms) + "\n")

    def id_set(max_bytes):
        old = spark.conf.get("spark.sql.files.maxPartitionBytes")
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(max_bytes))
        try:
            df = mentions_from_file(spark, str(lst))
            n_parts = df.rdd.getNumPartitions()
            return {r["source_term_id"] for r in df.collect()}, n_parts
        finally:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    ids_one, _ = id_set(128 * 1024 * 1024)
    ids_many, _ = id_set(2 * 1024)  # force a many-way split of the scan
    assert len(ids_one) == 4000  # unique even across duplicate terms
    assert ids_one == ids_many


def test_parse_tagged_terms_file(tmp_path):
    p = tmp_path / "tagged.txt"
    p.write_text("asthma;:;disease\nacute bronchitis;:;important,tags\ncolon disease\n")
    d = parse_tagged_terms_file(str(p))
    assert d == {
        "asthma": ["disease"],
        "acute bronchitis": ["important", "tags"],
        "colon disease": None,
    }


@pytest.mark.spark
def test_file_and_csv_scan(spark, tmp_path):
    lst = tmp_path / "terms.txt"
    lst.write_text("asthma\nacute bronchitis\n")
    m = mentions_from_file(spark, str(lst))
    assert {r["source_term"] for r in m.collect()} == {"asthma", "acute bronchitis"}
    assert all(r["source_term_id"].startswith("http://ccb.hms.harvard.edu/t2t/R")
               for r in m.collect())

    csv = tmp_path / "terms.csv"
    csv.write_text("term,term_id\nasthma,ID1\nallergy,\n,ID3\n")
    # rows null in term or id dropped (reference dropna on both columns)
    got = mentions_from_csv(spark, str(csv), "term", "term_id")
    rows = {r["source_term"]: r["source_term_id"] for r in got.collect()}
    assert rows == {"asthma": "ID1"}
    # no id column name -> generated ids, only term-null rows dropped
    got2 = mentions_from_csv(spark, str(csv), "term")
    assert {r["source_term"] for r in got2.collect()} == {"asthma", "allergy"}
    with pytest.raises(ValueError):
        mentions_from_csv(spark, str(csv), "nonexistent")


@pytest.mark.spark
def test_salted_ordinal_matches_unsalted_and_handles_hot_terms(spark):
    """r3 (north_star skew): the stable ordinal salts hot terms across
    reducers. For exact duplicates the ordinal SET per term is the contract
    — {0..count-1}, identical to the unsalted single-reducer window — and
    the derived ID set must match the unsalted plan's exactly."""
    from ontology_mapper_spark.sources.terms import _with_stable_ordinal

    # Zipf-ish: one hot term (5000 dups), a mid term, and a long tail
    rows = (
        [("cancer",)] * 5000
        + [("asthma",)] * 37
        + [(f"rare term {i}",) for i in range(200)]
    )
    # post-shuffle input on purpose: _with_stable_ordinal persists the
    # salted relation internally, so even a nondeterministically-ordered
    # upstream yields one consistent salt assignment (r3 review)
    df = spark.createDataFrame(rows, "source_term string").repartition(8)
    salted = _with_stable_ordinal(df, "source_term", salt_buckets=16)
    got = [(r["source_term"], r["idx"]) for r in salted.collect()]
    per_term: dict[str, list[int]] = {}
    for t, i in got:
        per_term.setdefault(t, []).append(i)
    assert sorted(per_term["cancer"]) == list(range(5000))
    assert sorted(per_term["asthma"]) == list(range(37))
    for i in range(200):
        assert per_term[f"rare term {i}"] == [0]

    unsalted = _with_stable_ordinal(df, "source_term", salt_buckets=1)
    key = lambda d: sorted((r["source_term"], r["idx"]) for r in d.collect())
    assert key(salted) == key(unsalted)

    # the internal persist is pinned per session and releasable:
    # repeated calls must not accumulate cached relations (r3 review)
    from ontology_mapper_spark import release_pipeline_cache

    def n_cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    release_pipeline_cache(spark)
    base = n_cached()
    for _ in range(3):
        _with_stable_ordinal(df, "source_term", salt_buckets=16).count()
    assert n_cached() <= base + 1
    release_pipeline_cache(spark)
    assert n_cached() == base
