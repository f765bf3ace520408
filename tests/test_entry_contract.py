"""Driver-contract shape guard: queries()/oracle_sql() alignment and
entry() stability at sf0.001 (the full value comparison lives in
tools/check_entry.py and the driver gate)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402

SF = "/root/testdata/sf0.001"


def test_oracle_keys_subset_of_queries():
    q = set(entrymod.queries())
    o = set(entrymod.oracle_sql())
    assert o <= q, f"oracle without query: {o - q}"
    # every query now has an oracle: ivf_ann_topk graduated in round 3
    # (deterministic trained centroids inlined as VALUES, same pattern as
    # lsh_ann_topk). The single documented degrade: ivf's oracle trains on
    # the testdata embeddings, so a checkout WITHOUT /root/testdata falls
    # back to a rows-only check for that one entry (and only that one).
    missing = q - o
    ivf_train = os.environ.get("ONTOMAP_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    allowed = (
        set()
        if os.path.exists(os.path.join(ivf_train, "embeddings.parquet"))
        else {"ivf_ann_topk"}
    )
    assert missing <= allowed, f"query without oracle: {missing}"


def test_registry_pinned_at_fifty():
    """The driver records at most the FIRST 50 queries() entries — r4's
    51st query silently went unrecorded (judge finding). Pin the count so
    a future addition fails loudly here instead of vanishing from the
    correctness artifact."""
    assert len(entrymod.queries()) == 50


@pytest.mark.spark
def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.columns == [
        "source_term_id", "source_term", "mapped_term_label",
        "mapped_term_iri", "score_milli",
    ]
    assert df.count() > 0


@pytest.mark.spark
@pytest.mark.slow
def test_all_queries_run_at_smoke_scale(spark, cache_entries):
    """Every gate query runs, and nothing any of them pinned outlives
    release_pipeline_cache."""
    from ontology_mapper_spark import release_pipeline_cache

    release_pipeline_cache(spark)
    base = cache_entries()
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF)
        assert df.count() >= 0, name
    release_pipeline_cache(spark)
    assert cache_entries() == base


def test_gate_ckpt_dir_is_pid_scoped_and_sweeps_dead_siblings(tmp_path):
    """The checkpoint gate queries' scratch dirs must not be shared across
    processes (a concurrent check_entry + pytest run clobbered each
    other's buckets through the old fixed path) and must sweep dirs left
    by dead processes so /tmp doesn't accrue parquet."""
    import tempfile

    base = tempfile.gettempdir()
    # a sibling owned by a certainly-dead pid, and one owned by us
    dead = os.path.join(base, "omsparktest_ckpt_pid999999999")
    os.makedirs(dead, exist_ok=True)
    (open(os.path.join(dead, "stale.parquet"), "w")).close()
    mine = entrymod._gate_ckpt_dir("omsparktest_ckpt")
    assert mine == os.path.join(base, f"omsparktest_ckpt_pid{os.getpid()}")
    assert not os.path.exists(dead), "dead-pid sibling not swept"
    assert not os.path.exists(mine), "returned dir must start empty"
    # a second call in the same (live) process must not sweep away a dir
    # belonging to a DIFFERENT name
    other = os.path.join(base, "omsparktest_other_pid999999999")
    os.makedirs(other, exist_ok=True)
    try:
        entrymod._gate_ckpt_dir("omsparktest_ckpt")
        assert os.path.exists(other), "swept a sibling of a different name"
    finally:
        import shutil

        shutil.rmtree(other, ignore_errors=True)
