"""Structured Streaming ingest: incremental triples + watermarked windows."""

import os

import pytest
from pyspark.sql import functions as F

from ontology_mapper_spark.config import MappingConfig
from ontology_mapper_spark.pipeline import construct_kg, release_pipeline_cache
from ontology_mapper_spark.sources.ontology import fixture_onto_terms
from ontology_mapper_spark.sources.pages import synthesize_pages
from ontology_mapper_spark.streaming.ingest import (
    first_seen_urls,
    mention_rate,
    read_pages_stream,
    stream_pages_to_triples,
)


@pytest.mark.spark
@pytest.mark.slow
def test_first_seen_urls_stateful(spark, tmp_path):
    """applyInPandasWithState dedup: each url emitted once across
    micro-batches within a run AND across a checkpointed restart."""
    in_dir = str(tmp_path / "pages_in")
    out_dir = str(tmp_path / "seen_out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(in_dir)

    first = synthesize_pages(spark, 60)  # urls page0..page59
    first.write.mode("append").parquet(in_dir)
    # recrawl of the same urls at a later ts + 20 new urls
    recrawl = synthesize_pages(spark, 80).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 30 DAYS")
    )
    recrawl.write.mode("append").parquet(in_dir)

    def run():
        stream = read_pages_stream(spark, in_dir, max_files_per_trigger=1)
        q = (
            first_seen_urls(stream)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    got = spark.read.parquet(out_dir)
    # 80 distinct urls, each exactly once despite the recrawl batch
    assert got.count() == 80
    assert got.select("url").distinct().count() == 80

    # restart with new files: another recrawl + 10 more new urls — state
    # restored from the checkpoint, so only the 10 new urls are emitted
    synthesize_pages(spark, 90).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 60 DAYS")
    ).write.mode("append").parquet(in_dir)
    run()
    got2 = spark.read.parquet(out_dir)
    assert got2.count() == 90
    assert got2.select("url").distinct().count() == 90


@pytest.mark.spark
@pytest.mark.slow
def test_stream_matches_batch(spark, tmp_path, cache_entries):
    onto = fixture_onto_terms(spark).cache()
    cfg = MappingConfig(max_mappings=1)
    in_dir = str(tmp_path / "pages_in")
    out_dir = str(tmp_path / "triples_out")
    ckpt = str(tmp_path / "ckpt")

    pages = synthesize_pages(spark, 120).cache()
    pages.write.mode("overwrite").parquet(in_dir)
    # an earlier test's pipeline pin would be evicted by the runs below
    release_pipeline_cache(spark)
    before = cache_entries()

    q = stream_pages_to_triples(spark, in_dir, out_dir, ckpt, onto, cfg)
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir).select("subj", "pred", "obj")
    exp = construct_kg(pages, onto, cfg).select("subj", "pred", "obj")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))

    # incremental: add a second file batch, restart stream — only new pages
    more = synthesize_pages(spark, 160).filter(
        ~F.col("url").isin([r["url"] for r in pages.select("url").collect()])
    )
    more.write.mode("append").parquet(in_dir)
    q2 = stream_pages_to_triples(spark, in_dir, out_dir, ckpt, onto, cfg)
    q2.awaitTermination(120)
    got2 = spark.read.parquet(out_dir).select("subj", "pred", "obj")
    exp2 = construct_kg(
        spark.read.parquet(in_dir), onto, cfg
    ).select("subj", "pred", "obj")
    assert sorted(map(tuple, got2.collect())) == sorted(map(tuple, exp2.collect()))
    # the epochs released their own pins; the batch runs' go here
    release_pipeline_cache(spark)
    assert cache_entries() == before


@pytest.mark.spark
@pytest.mark.slow
def test_mention_rate_watermark(spark, tmp_path):
    in_dir = str(tmp_path / "pages_in")
    synthesize_pages(spark, 100).write.mode("overwrite").parquet(in_dir)
    stream = read_pages_stream(spark, in_dir)
    agg = mention_rate(stream, window="10 minutes", watermark="1 hour")
    q = (
        agg.writeStream.format("memory")
        .queryName("mention_rate_tbl")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from mention_rate_tbl").collect()
    assert rows
    assert sum(r["n_pages"] for r in rows) == 100
    # pages are 37s apart -> windows hold <= ~17 pages
    assert all(r["n_pages"] <= 17 for r in rows)
    assert all(r["n_mentions"] == 4 * r["n_pages"] for r in rows)


@pytest.mark.spark
@pytest.mark.slow
def test_stream_incremental_kg_latest_wins_and_reuse(
    spark, tmp_path, cache_entries
):
    """Continuous-crawl maintenance: two file drops processed as separate
    checkpointed runs (initial crawl, then a recrawl with changed content
    + new urls). The latest-wins resolution of the append-only log must
    equal a batch construct_kg over the latest corpus under the same
    frozen model, and the second epoch must have re-mapped ONLY the
    changed/new urls — byte-identical re-captures never reach the
    kernel."""
    import re

    from ontology_mapper_spark.operators.tfidf import source_idf_map
    from ontology_mapper_spark.pipeline import build_pipeline_index
    from ontology_mapper_spark.sources.pages import (
        detect_mentions,
        recrawl_pages,
    )
    from ontology_mapper_spark.streaming.ingest import (
        stream_current_triples,
        stream_incremental_kg,
    )

    onto = fixture_onto_terms(spark).cache()
    cfg = MappingConfig(max_mappings=1)
    d = {
        k: str(tmp_path / k)
        for k in ("in", "triples", "touched", "digest", "ckpt")
    }
    os.makedirs(d["in"])

    drop1 = synthesize_pages(spark, 60).cache()
    # re-captures of urls 40..59 (content changed only at i % 7 == 0:
    # 42/49/56) + new urls 60..79
    drop2 = recrawl_pages(spark, 40, 80).cache()
    latest = (
        drop1.join(drop2.select("url"), "url", "left_anti")
        .unionByName(drop2)
        .cache()
    )
    src_idf = source_idf_map(detect_mentions(latest), cfg.ngram_length)

    def run():
        q = stream_incremental_kg(
            spark, d["in"], d["triples"], d["touched"], d["digest"],
            d["ckpt"], onto, cfg, tfidf_source_idf=src_idf,
        )
        q.awaitTermination(180)

    drop1.coalesce(1).write.mode("append").parquet(d["in"])
    before = cache_entries()
    run()
    drop2.coalesce(1).write.mode("append").parquet(d["in"])
    run()  # checkpointed restart: only the new file is processed
    # every epoch releases what it pinned (each micro-batch runs under
    # its own session wrapper, which the caller cannot release)
    assert cache_entries() == before

    got = stream_current_triples(spark, d["triples"], d["touched"])
    full = construct_kg(
        latest, onto, cfg,
        tfidf_source_idf=src_idf,
        tfidf_index=build_pipeline_index(onto, cfg),
    )

    def key(df):
        return sorted(
            (r["subj"], r["pred"], r["obj"], round(r["score"], 9))
            for r in df.collect()
        )

    assert key(got) == key(full)

    # epoch accounting: exactly the changed + new urls in the 2nd epoch
    eps = sorted(
        r["epoch"]
        for r in spark.read.parquet(d["touched"])
        .select("epoch").distinct().collect()
    )
    assert len(eps) == 2
    second = {
        int(re.search(r"page(\d+)$", r["url"]).group(1))
        for r in spark.read.parquet(d["touched"])
        .filter(F.col("epoch") == eps[-1]).collect()
    }
    assert second == {42, 49, 56} | set(range(60, 80))

    # frozen-model enforcement
    with pytest.raises(ValueError, match="frozen tfidf_source_idf"):
        stream_incremental_kg(
            spark, d["in"], d["triples"], d["touched"], d["digest"],
            d["ckpt"], onto, cfg,
        )

    # compaction: superseded epoch-0 rows (urls 42/49/56 were re-mapped
    # in epoch 1) are physically dropped, the resolved relation is
    # unchanged, and a LATER stream run keeps superseding correctly
    # because the checkpointed batch id is already past the compacted
    # epoch
    from ontology_mapper_spark.streaming.ingest import compact_stream_log

    before_rows = spark.read.parquet(d["triples"]).count()
    n_live, n_urls = compact_stream_log(spark, d["triples"], d["touched"])
    assert n_urls == 80
    assert n_live < before_rows  # dead rows existed and are gone
    assert (
        key(stream_current_triples(spark, d["triples"], d["touched"]))
        == key(full)
    )
    drop3 = recrawl_pages(
        spark, 40, 80,
        extra_paragraph="chronic malaria relapse", recrawl_delay_days=60,
    ).cache()  # i%7==0 urls REALLY change again vs drop2's mutation
    latest3 = (
        latest.join(drop3.select("url"), "url", "left_anti")
        .unionByName(drop3)
        .cache()
    )
    drop3.coalesce(1).write.mode("append").parquet(d["in"])
    run()
    got3 = stream_current_triples(spark, d["triples"], d["touched"])
    full3 = construct_kg(
        latest3, onto, cfg,
        tfidf_source_idf=src_idf,
        tfidf_index=build_pipeline_index(onto, cfg),
    )
    assert key(got3) == key(full3)


@pytest.mark.spark
def test_stream_log_replay_crash_recovery_and_lease(spark, tmp_path):
    """The stream-log durability contract, driven without a streaming
    query (the functions are batch-side):

    - checkpoint REPLAY of an epoch (same epoch_id re-written) leaves
      the resolved KG unchanged — epoch-scoped overwrite, no duplicate
      appends;
    - every crash window of the compaction swap (before any rename,
      between rename-aside and promote, only ._old left) reads back
      identically via the recovery pass;
    - the compaction lease makes a concurrent stream epoch and a second
      compactor fail loudly, and break_lease reclaims a stale one;
    - compaction preserves per-url epochs (the property that makes a
      half-swapped pair of log dirs semantically consistent);
    - an empty/missing touched log short-circuits to (0, 0).
    """
    import shutil

    from ontology_mapper_spark.streaming.ingest import (
        _check_compaction_lease,
        _lease_path,
        compact_stream_log,
        stream_current_triples,
        write_epoch_state,
    )

    t, u, g = (str(tmp_path / k) for k in ("triples", "touched", "digest"))

    def triples(rows):
        return spark.createDataFrame(
            rows, "subj string, pred string, obj string, score double"
        )

    def urls(us):
        return spark.createDataFrame([(x,) for x in us], "url string")

    dig = spark.createDataFrame([("u", "d")], "url string, digest string")

    # empty-log guard: nothing written yet
    assert compact_stream_log(spark, t, u) == (0, 0)

    e0 = triples(
        [("http://a#0", "mappedTo", "X", 1.0),
         ("http://b#0", "mappedTo", "Y", 0.5)]
    )
    e1 = triples([("http://a#0", "mappedTo", "Z", 0.9)])
    write_epoch_state(e0, urls(["http://a", "http://b"]), dig, t, u, g, 0)
    write_epoch_state(e0, urls(["http://a", "http://b"]), dig, t, u, g, 0)
    write_epoch_state(e1, urls(["http://a"]), dig, t, u, g, 1)
    write_epoch_state(e1, urls(["http://a"]), dig, t, u, g, 1)

    def resolved():
        return sorted(
            map(tuple, stream_current_triples(spark, t, u).collect())
        )

    want = sorted(
        [("http://a#0", "mappedTo", "Z", 0.9),
         ("http://b#0", "mappedTo", "Y", 0.5)]
    )
    assert resolved() == want  # replayed epochs did not duplicate

    # lease held -> stream epoch check and second compactor fail loudly
    open(_lease_path(t), "w").close()
    with pytest.raises(RuntimeError, match="maintenance"):
        _check_compaction_lease(spark, t)
    with pytest.raises(RuntimeError, match="lease"):
        compact_stream_log(spark, t, u)
    assert compact_stream_log(spark, t, u, break_lease=True) == (2, 2)
    assert not os.path.exists(_lease_path(t))
    assert resolved() == want

    # per-url epochs preserved through compaction (mixed-swap safety)
    assert {
        (r["subj"], r["epoch"]) for r in spark.read.parquet(t).collect()
    } == {("http://a#0", 1), ("http://b#0", 0)}

    # crash window (a): rename-aside done, promote not -> final absent,
    # ._old and fully-materialized ._compact present
    shutil.copytree(t, t + "._compact")
    os.rename(t, t + "._old")
    assert resolved() == want
    assert os.path.exists(t)
    assert not os.path.exists(t + "._old")
    assert not os.path.exists(t + "._compact")

    # crash window (b): before any rename -> final + leftover ._compact.
    # READERS no longer delete anything when final is readable (a live
    # compactor may own that ._compact); the stale copy is cleaned by
    # the next compactor's lease-guarded recovery instead.
    shutil.copytree(u, u + "._compact")
    assert resolved() == want
    assert os.path.exists(u + "._compact")  # reader left it alone
    assert compact_stream_log(spark, t, u) == (2, 2)
    assert not os.path.exists(u + "._compact")  # compactor cleaned it

    # crash window (c): only ._old left -> rolled back
    os.rename(u, u + "._old")
    assert resolved() == want
    assert os.path.exists(u)

    # crash window (d) — the failed-promote + writer-recreated-final
    # state (r5 review's data-loss scenario): ._old holds the real
    # history, ._compact the compacted copy, and a post-crash epoch
    # recreated final with ONLY its own epoch dir. Recovery must graft
    # the new epoch into the compacted copy, not trust bare final.
    # The ._compact copy is seeded with a STALE epoch=2 partition too
    # (the replayed-epoch collision case): the writer's version must
    # REPLACE it wholesale, not nest inside it.
    os.rename(t, t + "._old")
    shutil.copytree(t + "._old", t + "._compact")
    triples([("http://b#0", "mappedTo", "STALE", 0.1)]).write.mode(
        "overwrite"
    ).parquet(t + "._compact/epoch=2")
    e2 = triples([("http://b#0", "mappedTo", "W", 0.7)])
    write_epoch_state(e2, urls(["http://b"]), dig, t, u, g, 2)
    want2 = sorted(
        [("http://a#0", "mappedTo", "Z", 0.9),
         ("http://b#0", "mappedTo", "W", 0.7)]
    )
    assert resolved() == want2  # history AND the new epoch both survive
    assert not os.path.exists(t + "._old")
    assert not os.path.exists(t + "._compact")

    # reader refuses to repair while a lease is held (live compactor);
    # retries are shrunk so the stale-lease path doesn't sleep ~6 s here
    import ontology_mapper_spark.streaming.ingest as ingest_mod

    os.rename(u, u + "._old")
    shutil.copytree(u + "._old", u + "._compact")
    open(_lease_path(t), "w").close()
    old_attempts, old_delay = (
        ingest_mod.READER_RETRY_ATTEMPTS, ingest_mod.READER_RETRY_DELAY_SEC
    )
    ingest_mod.READER_RETRY_ATTEMPTS, ingest_mod.READER_RETRY_DELAY_SEC = 2, 0.05
    try:
        with pytest.raises(RuntimeError, match="lease"):
            resolved()
    finally:
        ingest_mod.READER_RETRY_ATTEMPTS = old_attempts
        ingest_mod.READER_RETRY_DELAY_SEC = old_delay
    os.remove(_lease_path(t))
    assert resolved() == want2  # lease gone -> repaired and readable


def test_latest_digests_replay_bound(spark, tmp_path):
    """The replay-idempotence keystone: a batch re-run with epoch_id=N
    must read the digest state from epochs < N — NOT its own epoch-N
    snapshot (which would make the replay's delta empty and its
    epoch-scoped overwrite erase the epoch's real rows)."""
    from ontology_mapper_spark.streaming.ingest import latest_digests

    g = str(tmp_path / "digests")

    def dig(rows):
        return spark.createDataFrame(rows, "url string, digest string")

    # nothing written yet -> empty at any bound
    assert latest_digests(spark, g).count() == 0
    dig([("a", "d0")]).write.parquet(g + "/epoch=0")
    dig([("a", "d1")]).write.parquet(g + "/epoch=1")
    # unbounded read: newest epoch
    assert latest_digests(spark, g).collect()[0]["digest"] == "d1"
    # a replay of epoch 1 sees epoch 0's state — its own snapshot is
    # excluded
    assert (
        latest_digests(spark, g, before_epoch=1).collect()[0]["digest"]
        == "d0"
    )
    # a replay of the FIRST epoch sees the empty pre-stream state
    assert latest_digests(spark, g, before_epoch=0).count() == 0


def test_stream_writers_refuse_legacy_layout(spark, tmp_path):
    """Writer-side legacy guard (r5 advisor, medium): a stream started
    against an UNMIGRATED (root part-file) log dir must refuse BEFORE
    any batch writes — epoch=N subdirs next to legacy files produce a
    mixed layout spark.read.parquet rejects, breaking readers and the
    migration itself after the fact."""
    from ontology_mapper_spark.streaming.ingest import (
        stream_incremental_kg,
        stream_pages_to_triples,
    )

    onto = fixture_onto_terms(spark)
    cfg = MappingConfig(max_mappings=1)
    legacy = str(tmp_path / "legacy_triples")
    spark.createDataFrame(
        [("http://a#0", "mappedTo", "X", 1.0, 0)],
        "subj string, pred string, obj string, score double, epoch long",
    ).write.parquet(legacy)  # root part files = pre-epoch layout
    in_dir = str(tmp_path / "pages_in")
    os.makedirs(in_dir)
    synthesize_pages(spark, 5).coalesce(1).write.parquet(
        in_dir, mode="append"
    )

    with pytest.raises(RuntimeError, match="migrate_stream_log_layout"):
        stream_pages_to_triples(
            spark, in_dir, legacy, str(tmp_path / "ckpt1"), onto, cfg
        )
    from ontology_mapper_spark.operators.tfidf import source_idf_map
    from ontology_mapper_spark.sources.pages import detect_mentions

    src_idf = source_idf_map(
        detect_mentions(synthesize_pages(spark, 5)), cfg.ngram_length
    )
    with pytest.raises(RuntimeError, match="migrate_stream_log_layout"):
        stream_incremental_kg(
            spark, in_dir, legacy, str(tmp_path / "touched"),
            str(tmp_path / "digest"), str(tmp_path / "ckpt2"), onto, cfg,
            tfidf_source_idf=src_idf,
        )
    # and the guard covers the secondary log dirs too
    with pytest.raises(RuntimeError, match="migrate_stream_log_layout"):
        stream_incremental_kg(
            spark, in_dir, str(tmp_path / "triples"), legacy,
            str(tmp_path / "digest"), str(tmp_path / "ckpt3"), onto, cfg,
            tfidf_source_idf=src_idf,
        )


def test_stream_log_layout_migration(spark, tmp_path):
    """Pre-epoch-layout logs (root part files, epoch as a data column)
    are detected loudly and migrated in place to the epoch=N layout,
    after which resolution works unchanged."""
    from ontology_mapper_spark.streaming.ingest import (
        migrate_stream_log_layout,
        stream_current_triples,
    )

    t, u = str(tmp_path / "triples"), str(tmp_path / "touched")
    spark.createDataFrame(
        [("http://a#0", "mappedTo", "X", 1.0, 0),
         ("http://a#0", "mappedTo", "Z", 0.9, 1),
         ("http://b#0", "mappedTo", "Y", 0.5, 0)],
        "subj string, pred string, obj string, score double, epoch long",
    ).write.parquet(t)  # legacy: root part files, epoch as data column
    spark.createDataFrame(
        [("http://a", 0), ("http://a", 1), ("http://b", 0)],
        "url string, epoch long",
    ).write.parquet(u)

    with pytest.raises(RuntimeError, match="migrate_stream_log_layout"):
        stream_current_triples(spark, t, u).collect()
    assert migrate_stream_log_layout(spark, t, triples_dir=t) == 3
    # the touched log migrates under the TRIPLES-dir lease — the one
    # anchor every writer/compactor/reader coordinates on (the anchor is
    # a required arg so nobody can silently take an uncoordinated lease)
    assert migrate_stream_log_layout(spark, u, triples_dir=t) == 3
    # second run is a no-op
    assert migrate_stream_log_layout(spark, t, triples_dir=t) == 0
    assert sorted(
        map(tuple, stream_current_triples(spark, t, u).collect())
    ) == sorted(
        [("http://a#0", "mappedTo", "Z", 0.9),
         ("http://b#0", "mappedTo", "Y", 0.5)]
    )


def test_lease_owner_token_protocol(spark, tmp_path):
    """The lease carries an owner token (r5 second review): a holder
    whose lease was broken-and-retaken must FAIL at release instead of
    deleting the new holder's lease — deleting it would silently
    dissolve the mutual exclusion between a live writer and a live
    compactor."""
    from ontology_mapper_spark.streaming.ingest import (
        _acquire_lease,
        _hold_lease,
        _release_lease,
    )

    lp = str(tmp_path / "log._compacting")
    tok = _acquire_lease(spark, lp, "test")
    # second acquirer fails while held
    with pytest.raises(RuntimeError, match="lease"):
        _acquire_lease(spark, lp, "test2")
    _release_lease(spark, lp, tok)
    assert not os.path.exists(lp)

    # broken lease: holder's release raises instead of going quiet
    tok = _acquire_lease(spark, lp, "test")
    os.remove(lp)  # operator breaks it
    with pytest.raises(RuntimeError, match="broken"):
        _release_lease(spark, lp, tok)

    # usurped lease: broken AND re-taken by another actor — the
    # original holder must not delete the new holder's lease
    tok1 = _acquire_lease(spark, lp, "a")
    os.remove(lp)
    tok2 = _acquire_lease(spark, lp, "b")
    with pytest.raises(RuntimeError, match="usurped"):
        _release_lease(spark, lp, tok1)
    assert os.path.exists(lp)  # b's lease survived a's release attempt
    _release_lease(spark, lp, tok2)

    # context manager: body exception is never masked by a release
    # failure; a clean body surfaces the usurpation
    with pytest.raises(ValueError, match="body"):
        with _hold_lease(spark, lp, "test"):
            os.remove(lp)
            raise ValueError("body failed first")
    with pytest.raises(RuntimeError, match="broken"):
        with _hold_lease(spark, lp, "test"):
            os.remove(lp)


@pytest.mark.spark
@pytest.mark.slow
def test_stream_log_crash_model_property(spark, tmp_path):
    """Model-based crash-safety sweep: a seeded-random interleaving of
    epoch writes (including supersede-with-zero-rows), compactions, and
    simulated compactor-crash states (stale ._compact; rename-aside
    done; promote done but ._old left — on either log dir) must ALWAYS
    resolve to the KG a plain dict replay of the write sequence
    predicts. The reader's lease-guarded recovery and the writer's
    graft path are exercised by whatever interleaving the seed picks;
    the model never sees the crashes at all — that is the invariant."""
    import random
    import shutil

    from ontology_mapper_spark.streaming.ingest import (
        compact_stream_log,
        stream_current_triples,
        write_epoch_state,
    )

    rng = random.Random(20260818)
    URLS = ["a", "b", "c", "d", "e"]

    def run_case(case: int) -> None:
        base = tmp_path / f"case{case}"
        t, u, g = (str(base / k) for k in ("triples", "touched", "dig"))
        model: dict[str, tuple[int, str | None]] = {}  # url -> (epoch, obj)
        epoch = 0

        def write(urls, mapped):
            nonlocal epoch
            rows = [
                (f"http://{x}#0", "mappedTo", f"V{epoch}", 0.5)
                for x in urls
                if x in mapped
            ]
            fresh = spark.createDataFrame(
                rows or [],
                "subj string, pred string, obj string, score double",
            )
            touched = spark.createDataFrame(
                [(f"http://{x}",) for x in urls], "url string"
            )
            dig = spark.createDataFrame(
                [(f"http://{x}", f"d{epoch}") for x in urls],
                "url string, digest string",
            )
            write_epoch_state(fresh, touched, dig, t, u, g, epoch)
            for x in urls:
                model[x] = (epoch, f"V{epoch}" if x in mapped else None)
            epoch += 1

        def crash_state(d: str) -> None:
            if not os.path.exists(d):
                return
            kind = rng.choice(["stale_compact", "aside", "old_left"])
            shutil.rmtree(d + "._compact", ignore_errors=True)
            shutil.rmtree(d + "._old", ignore_errors=True)
            if kind == "stale_compact":
                shutil.copytree(d, d + "._compact")
            elif kind == "aside":
                shutil.copytree(d, d + "._compact")
                os.rename(d, d + "._old")
            else:  # promote finished, ._old not yet dropped
                shutil.copytree(d, d + "._old")

        def check() -> None:
            got = sorted(
                map(tuple, stream_current_triples(spark, t, u).collect())
            )
            want = sorted(
                (f"http://{x}#0", "mappedTo", obj, 0.5)
                for x, (_, obj) in model.items()
                if obj is not None
            )
            assert got == want, f"case {case}: {got} != {want}"

        write(rng.sample(URLS, 3), set(URLS))  # seed the log
        for _ in range(9):
            op = rng.choice(["write", "write", "compact", "crash"])
            if op == "write":
                urls = rng.sample(URLS, rng.randint(1, 3))
                # sometimes a url is touched but maps to NOTHING (its
                # content no longer mentions anything) — supersession
                # must still retire its old triples
                mapped = {x for x in urls if rng.random() > 0.25}
                write(urls, mapped)
            elif op == "compact":
                compact_stream_log(spark, t, u)
            else:
                crash_state(rng.choice([t, u]))
                if rng.random() < 0.5:
                    # an epoch fires BEFORE anything reads/repairs: on
                    # the rename-aside state this recreates the missing
                    # final with only the new epoch — the reader's graft
                    # recovery must keep history AND the new epoch
                    urls = rng.sample(URLS, rng.randint(1, 2))
                    write(urls, set(urls))
            check()

    for case in range(2):
        run_case(case)


def test_lease_acquire_stamp_usurpation_detected(spark, tmp_path):
    """r5 VERDICT #3: the acquire-to-stamp TOCTOU is now a DETECTED
    failure. Actor A atomically creates the lease, pauses before
    stamping; an operator (contract-violatingly) breaks the live lease
    and actor B re-acquires and stamps. A's resumed stamp phase must
    raise "usurped" and leave B's token untouched — not silently
    clobber it as r5 did."""
    from ontology_mapper_spark.streaming import ingest

    lease = str(tmp_path / "log") + "._compacting"
    fs, lp = ingest._fs_and_path(spark, lease)
    assert fs.createNewFile(lp)  # A: atomic create, paused pre-stamp
    ingest._break_lease(spark, lease)  # operator breaks the live lease
    token_b = ingest._acquire_lease(spark, lease, "usurper")  # B owns it
    with pytest.raises(RuntimeError, match="usurped"):
        ingest._stamp_owner_token(spark, lease, "loser")  # A resumes
    # B's lease survives intact
    assert ingest._read_lease_token(spark, lease) == token_b
