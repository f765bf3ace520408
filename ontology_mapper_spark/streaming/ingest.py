"""Structured Streaming ingest of new pages (SURVEY.md §2.2 streaming row —
a capability extension beyond the batch-only reference).

Design: the mapping kernel needs a per-corpus aggregate (source IDF), so the
streaming entry is ``foreachBatch`` — each micro-batch runs the identical
batch pipeline (cache-coherent with batch semantics, exactly-once via the
checkpointLocation + idempotent append), which is the standard Spark pattern
for joins/aggregates that need batch-only operations. A pure streaming
aggregation (mention rate with watermarked event-time windows) demonstrates
the native stateful path.
"""

from __future__ import annotations

import contextlib
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ontology_mapper_spark.config import Mapper, MappingConfig
from ontology_mapper_spark.pipeline import (
    build_pipeline_index,
    construct_kg,
    incremental_kg_delta,
    merge_digests,
    release_pipeline_cache,
)
from ontology_mapper_spark.sources.pages import PAGES_SCHEMA


def _stream_index(onto_terms: DataFrame, cfg: MappingConfig | None):
    """The TF-IDF index every micro-batch of a stream shares, built once
    at stream start — or None where the kernel plan is not the one that
    runs: the index would be dead driver work for API / syntactic mappers
    and is rejected by the inverted plan."""
    effective = cfg or MappingConfig()
    if effective.mapper == Mapper.TFIDF and not effective.use_inverted_index:
        return build_pipeline_index(onto_terms, cfg)
    return None


def read_pages_stream(spark: SparkSession, input_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_pages_to_triples(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    onto_terms: DataFrame,
    cfg: MappingConfig | None = None,
    available_now: bool = True,
):
    """Incremental KG construction: new page files -> mappedTo triples,
    exactly-once via streaming checkpoint + append sink.

    The ontology TF-IDF index is built ONCE here and reused by every
    micro-batch (build_pipeline_index) — rebuilding the dimension index
    per trigger would add a driver collect + vectorization to every batch
    for a value that only changes when the ontology snapshot does."""
    stream = read_pages_stream(spark, input_dir)
    tfidf_index = _stream_index(onto_terms, cfg)
    # same writer-side guard as stream_incremental_kg: never let epoch
    # dirs land next to legacy root part files (r5 advisor, medium)
    _raise_if_legacy(spark, out_dir)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        try:
            triples = construct_kg(
                batch_df, onto_terms, cfg, tfidf_index=tfidf_index
            )
            # epoch-scoped overwrite (Hive partition layout, epoch
            # recovered by partition discovery): a checkpoint-replayed
            # batch rewrites its own dir instead of appending duplicates
            triples.write.mode("overwrite").parquet(
                out_dir.rstrip("/") + f"/epoch={int(epoch_id)}"
            )
        finally:
            # foreachBatch wraps every batch in a new SparkSession object,
            # which no caller holds: only the epoch can release its pins
            release_pipeline_cache(batch_df.sparkSession)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def first_seen_urls(pages_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator (``applyInPandasWithState``):
    emit each url exactly once — the first capture seen across ALL
    micro-batches — with a running recrawl count kept in state. This is the
    streaming twin of ``construct_kg(dedup_pages=True)``: Common-Crawl
    snapshots recrawl urls, and mention ids are url#ordinal, so a url must
    enter the KG pipeline only once per corpus.

    State per url: (emitted flag, captures seen). Keyed state is
    checkpoint-backed — a restarted query keeps deduplicating across runs.
    Output mode 'append' (each url's row is final once emitted) with no
    timeout; state size is O(|distinct urls|), the same cardinality any
    streaming dedup must hold.
    """
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("emitted", T.LongType()),
            T.StructField("captures", T.LongType()),
        ]
    )

    def dedup(key, pdfs, state: GroupState):
        emitted, captures = state.get if state.exists else (0, 0)
        first = None
        for pdf in pdfs:
            captures += len(pdf)
            if not emitted and len(pdf):
                # a url group can span multiple Arrow chunks in one batch
                # and a LATER chunk may hold an earlier capture — keep the
                # min-warc_ts row across all chunks (r2 ADVICE)
                head = pdf.sort_values("warc_ts").iloc[[0]]
                if first is None or (
                    head["warc_ts"].iloc[0] < first["warc_ts"].iloc[0]
                ):
                    first = head
        state.update((1 if (emitted or first is not None) else 0, captures))
        if not emitted and first is not None:
            yield first[["url", "warc_ts", "lang"]]
        else:
            yield pd.DataFrame(columns=["url", "warc_ts", "lang"])

    return (
        pages_stream.select("url", "warc_ts", "lang")
        .groupBy("url")
        .applyInPandasWithState(
            dedup, out_schema, state_schema, "append",
            GroupStateTimeout.NoTimeout,
        )
    )


def mention_rate(pages_stream: DataFrame, window: str = "10 minutes",
                 watermark: str = "1 hour") -> DataFrame:
    """Watermarked event-time aggregation: mentions/pages per window per
    lang; late pages beyond the watermark are dropped (state bounded)."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.size(F.split("text", "\n")) - 1).alias("n_mentions"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_pages",
            "n_mentions",
        )
    )


def stream_incremental_kg(
    spark: SparkSession,
    input_dir: str,
    triples_dir: str,
    touched_dir: str,
    digest_dir: str,
    checkpoint_dir: str,
    onto_terms: DataFrame,
    cfg: MappingConfig | None = None,
    tfidf_source_idf: tuple[dict, int] | None = None,
    available_now: bool = True,
):
    """Continuous-crawl KG maintenance: every micro-batch is treated as a
    re-crawl DELTA against the digest state accumulated so far —
    unchanged captures never reach the mapping kernel (the ``(url,
    digest)`` join drops them), changed/new urls are re-mapped and
    appended tagged with the epoch, and the digest snapshot advances via
    ``merge_digests``. This is ``pipeline.incremental_kg_delta`` lifted
    into ``foreachBatch``: the streaming twin of the batch incremental
    cycle, where `stream_pages_to_triples` is the twin of a full build.

    Model contract (enforced for the TF-IDF mapper): triples appended by
    DIFFERENT epochs coexist in one KG, so they must score on ONE model —
    pass a frozen ``tfidf_source_idf`` (``operators.tfidf.source_idf_map``
    over a reference corpus, persistable via ``save_idf_model``). A
    per-batch self-fit would score each epoch on a different model and
    the accumulated relation would be incoherent (the same reason
    ``pipeline.incremental_kg`` enforces it).

    State layout (all plain parquet — an Iceberg deployment swaps the
    latest-wins reader for MERGE commits):

    - ``triples_dir/epoch=N``: ``(subj, pred, obj, score)`` appended by
      epoch N, epoch-scoped (see replay safety below).
    - ``touched_dir/epoch=N``: ``(url)`` — every url epoch N re-mapped
      OR retired-by-change (the CDC ``drop`` relation), the supersession
      log the reader resolves against.
    - ``digest_dir/epoch=N``: the digest snapshot AFTER epoch N.

    Replay safety: ALL three state relations are written under
    ``<dir>/epoch=N`` with per-epoch overwrite (Hive partition layout —
    readers of the base dir recover ``epoch`` via partition discovery).
    A micro-batch that fails after its writes but before the checkpoint
    commit is re-run by Spark with the SAME ``epoch_id``; the replay
    overwrites its own directories instead of appending duplicates, AND
    it reads the digest state bounded to epochs < its own epoch_id
    (:func:`latest_digests`) — without the bound a replay would see the
    failed attempt's own digest snapshot, compute an empty delta, and
    overwrite the epoch's real rows with nothing. Together the two make
    the foreachBatch sink idempotent end-to-end. The epoch writes also
    run under the compaction lease, so a compactor can never snapshot
    the log mid-write and swap the epoch away after its checkpoint
    commits.

    Read the current KG back with :func:`stream_current_triples`;
    equality with a batch rebuild over the latest corpus is pinned by
    test."""
    from pyspark.sql import Window

    effective = cfg or MappingConfig()
    if effective.mapper == Mapper.TFIDF and tfidf_source_idf is None:
        raise ValueError(
            "stream_incremental_kg with the TF-IDF mapper requires a "
            "frozen tfidf_source_idf: epochs append into ONE relation, so "
            "every epoch must score on the same model (fit "
            "operators.tfidf.source_idf_map over a reference corpus; "
            "persist with save_idf_model)"
        )
    tfidf_index = _stream_index(onto_terms, cfg)
    # A stream restarted against an UNMIGRATED (root part-file) log would
    # write epoch=N subdirs NEXT TO the legacy files — a mixed layout
    # spark.read.parquet rejects ("conflicting directory structures"),
    # breaking readers and the migration itself after the fact. The
    # readers/compactor already guard; guard the WRITER too, before any
    # batch can touch the dirs (r5 advisor, medium).
    for d in (triples_dir, touched_dir, digest_dir):
        _raise_if_legacy(spark, d)
    empty_digests = spark.createDataFrame([], "url string, digest string")

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        try:
            _process_epoch(batch_df, int(epoch_id))
        finally:
            # per-batch session object: see stream_pages_to_triples
            release_pipeline_cache(batch_df.sparkSession)

    def _process_epoch(batch_df: DataFrame, epoch_id: int) -> None:
        _check_compaction_lease(spark, triples_dir)
        # newest capture per url WITHIN the batch (a snapshot drop can
        # carry several captures of one url; mention ids are url#ordinal)
        w = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
        batch = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # before_epoch bound — the replay-idempotence keystone: a batch
        # that failed AFTER write_epoch_state but BEFORE the checkpoint
        # commit is re-run with the same epoch_id, and an unbounded
        # max-epoch read would hand the replay its OWN digest snapshot —
        # every url would match, the delta would be empty, and the
        # epoch-scoped overwrite would erase the epoch's real triples
        # (resurrecting whatever the previous epochs held for those
        # urls). Excluding epochs >= epoch_id makes the replay read the
        # exact prev the original attempt read, so it recomputes the
        # identical output and the overwrite is a true no-op.
        prev = latest_digests(
            spark, digest_dir, before_epoch=int(epoch_id),
            empty=empty_digests,
        )
        fresh, drop = incremental_kg_delta(
            batch, prev, onto_terms, cfg,
            tfidf_source_idf=tfidf_source_idf, tfidf_index=tfidf_index,
        )
        # the epoch writes run under the SAME lease compaction takes:
        # the start-of-batch check above only closes the window up to
        # the (long) delta compute, and a compactor acquiring the lease
        # mid-batch would snapshot the log WITHOUT this epoch, then swap
        # the snapshot in after the checkpoint commits — silently
        # dropping the epoch. Holding the lease across the writes (the
        # writes are what trigger the compute) makes writer and
        # compactor mutually exclusive; whichever loses the atomic
        # create fails loudly, and a failed batch is replayed.
        with _hold_lease(
            spark, _lease_path(triples_dir),
            f"stream epoch {int(epoch_id)} write (the batch fails "
            "uncommitted and will be replayed)",
        ):
            write_epoch_state(
                fresh, drop.select("url"), merge_digests(prev, batch),
                triples_dir, touched_dir, digest_dir, int(epoch_id),
            )

    writer = (
        read_pages_stream(spark, input_dir)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _fs_and_path(spark: SparkSession, path: str):
    """Hadoop FileSystem handle + Path for any scheme (hdfs/s3a/file)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def latest_digests(
    spark: SparkSession,
    digest_dir: str,
    before_epoch: int | None = None,
    empty: DataFrame | None = None,
) -> DataFrame:
    """The newest ``(url, digest)`` snapshot under ``digest_dir``,
    restricted to epochs strictly below ``before_epoch``. The bound is
    what makes a checkpoint REPLAY idempotent: a re-run batch must read
    the same prev state the original attempt read, not its own
    just-written snapshot (see ``stream_incremental_kg``). Hadoop
    FileSystem API, not os.listdir: the state lives wherever the
    cluster's does (hdfs://, s3a://, file:) — same discipline as
    ``checkpoints.CheckpointedRun._list_bucket_ids``. Module-level so
    the replay contract is directly testable."""
    if empty is None:
        empty = spark.createDataFrame([], "url string, digest string")
    fs, hpath = _fs_and_path(spark, digest_dir)
    if not fs.exists(hpath):
        return empty
    epochs = []
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if status.isDirectory() and name.startswith("epoch="):
            try:
                e = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if before_epoch is None or e < before_epoch:
                epochs.append(e)
    if not epochs:
        return empty
    return spark.read.parquet(
        digest_dir.rstrip("/") + f"/epoch={max(epochs)}"
    ).select("url", "digest")


def write_epoch_state(
    fresh: DataFrame,
    touched_urls: DataFrame,
    digests: DataFrame,
    triples_dir: str,
    touched_dir: str,
    digest_dir: str,
    epoch_id: int,
) -> None:
    """Write one epoch's state idempotently: each relation lands under
    ``<dir>/epoch=N`` in OVERWRITE mode, so a checkpoint-replayed batch
    (same ``epoch_id``) rewrites its own directories instead of
    appending duplicate rows — the property a bare ``mode("append")``
    into the base dir lacks. Hive partition naming means base-dir
    readers recover ``epoch`` via partition discovery, no data column
    needed. Module-level (not a closure) so the replay contract is
    directly testable."""
    for df, base in (
        (fresh, triples_dir),
        (touched_urls, touched_dir),
        (digests, digest_dir),
    ):
        df.write.mode("overwrite").parquet(
            base.rstrip("/") + f"/epoch={int(epoch_id)}"
        )


def _lease_path(triples_dir: str) -> str:
    return triples_dir.rstrip("/") + "._compacting"


# reader recovery retry budget: a live compactor's swap window clears in
# well under a second; a stale lease surfaces after ATTEMPTS x DELAY.
# Module-level so tests and deployments can tune the wait.
READER_RETRY_ATTEMPTS = 12
READER_RETRY_DELAY_SEC = 0.5


def _check_compaction_lease(spark: SparkSession, triples_dir: str) -> None:
    fs, lease = _fs_and_path(spark, _lease_path(triples_dir))
    if fs.exists(lease):
        raise RuntimeError(
            f"stream log under maintenance (lease {_lease_path(triples_dir)} "
            "exists): a stream epoch must not write while compact_stream_log "
            "or another epoch writer holds the log. If the lease is stale "
            "(holder crashed), re-run compact_stream_log(break_lease=True) "
            "— ONLY with the stream stopped — or delete the lease file."
        )


def _acquire_lease(spark: SparkSession, lease_path: str, purpose: str) -> str:
    """Atomically create the lease file, then write an OWNER TOKEN into
    it. The token is what makes release safe: without one, a lease
    broken mid-hold and re-taken by another actor would be deleted by
    the original holder's finally — dissolving mutual exclusion exactly
    when two actors are live (r5 second-review finding #1). Returns the
    token; raises naming ``purpose`` when the lease is held.

    Usurpation guard (r5 VERDICT #3): the acquire-to-stamp window — a
    ``break_lease`` + re-acquire by another actor between our atomic
    ``createNewFile`` and our token write — is now DETECTED instead of
    silently clobbering the usurper's token: we created the file EMPTY,
    so any content found before our stamp is a usurper's token (raise
    "usurped" without touching their file), and a read-back after our
    stamp catches a stamp that landed in between. The residual window
    is the instant between read-back and return (atomic
    create-with-content is not portable: local-FS rename overwrites, so
    rename-onto-path cannot substitute for createNewFile); a loser that
    slips through still fails loudly at release via the token check.
    Reaching any of this requires an operator breaking a
    milliseconds-old lease against the explicit "only with the stream
    stopped" contract."""
    fs, lp = _fs_and_path(spark, lease_path)
    if not fs.createNewFile(lp):
        raise RuntimeError(
            f"{purpose}: lease {lease_path} is held — an epoch writer or "
            "compactor is running (or crashed and left it stale: run "
            "compact_stream_log(break_lease=True) ONLY with the stream "
            "stopped)"
        )
    return _stamp_owner_token(spark, lease_path, purpose)


def _stamp_owner_token(
    spark: SparkSession, lease_path: str, purpose: str
) -> str:
    """Second phase of :func:`_acquire_lease` (factored so the
    usurpation interleaving is directly testable): verify the
    just-created lease file is still OURS (empty), stamp the owner
    token, verify the stamp survived. Raises "usurped" — leaving the
    usurper's file untouched — when another actor's token is found at
    either check."""
    fs, lp = _fs_and_path(spark, lease_path)
    existing = _read_lease_token(spark, lease_path)
    if existing:
        raise RuntimeError(
            f"{purpose}: lease {lease_path} was usurped between acquire "
            "and stamp (a break_lease on a live holder raced this "
            "acquire); the usurper owns the lease — backing off"
        )
    token = uuid.uuid4().hex
    try:
        out = fs.create(lp, True)  # we own the (empty) file; stamp it
        try:
            out.write(bytearray(token.encode("ascii")))
        finally:
            out.close()
    except Exception:
        # a failed stamp must not leave a tokenless lease blocking every
        # writer/compactor/reader until manual break_lease (r5 third
        # review #1): we still own the file here, so drop it
        try:
            fs.delete(lp, False)
        except Exception:
            pass
        raise
    stamped = _read_lease_token(spark, lease_path)
    if stamped != token:
        raise RuntimeError(
            f"{purpose}: lease {lease_path} was usurped during the token "
            "stamp (another actor's token is in place); the usurper owns "
            "the lease — backing off"
        )
    return token


def _break_lease(spark: SparkSession, lease_path: str) -> None:
    """Operator-explicit lease reclaim. ONLY safe with the stream
    stopped — breaking a LIVE holder's lease voids mutual exclusion
    (the live holder will itself fail at release, but its in-flight
    writes may already have been seen torn)."""
    fs, lp = _fs_and_path(spark, lease_path)
    if fs.exists(lp):
        fs.delete(lp, False)


def _read_lease_token(spark: SparkSession, path: str) -> str | None:
    fs, lp = _fs_and_path(spark, path)
    try:
        stream = fs.open(lp)
    except Exception:
        return None  # vanished/unreadable == not provably ours
    try:
        return str(
            spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "US-ASCII"
            )
        )
    finally:
        stream.close()


def _release_lease(spark: SparkSession, lease_path: str, token: str) -> None:
    """Release by ATOMIC CLAIM: rename the lease to a holder-unique
    path first (the rename is the single atomic decision point — after
    it no other actor can read, break, or re-take THAT file), then
    verify the token in the claimed copy. A failed rename or a token
    mismatch means the lease was broken (and possibly re-taken) while
    we were live — raise so the caller's work is NOT treated as
    committed on top of dissolved mutual exclusion (a failed stream
    batch replays; a failed compactor leaves the log resolvable either
    way). The read-then-delete TOCTOU of a naive release (owner swaps
    between the two RPCs) is gone: we only ever delete the file we
    claimed."""
    fs, lp = _fs_and_path(spark, lease_path)
    claim = lease_path + ".release." + token[:12]
    _, cp = _fs_and_path(spark, claim)
    claimed = False
    try:
        claimed = bool(fs.rename(lp, cp))
    except Exception:
        claimed = False
    if not claimed:
        raise RuntimeError(
            f"lease {lease_path} was broken while held — another "
            "maintenance actor may have seen torn state; this operation "
            "fails so it is not committed on top of dissolved mutual "
            "exclusion"
        )
    owner = _read_lease_token(spark, claim)
    if owner != token:
        # we claimed SOMEBODY ELSE's lease (ours was broken and the
        # path re-taken): give it back, then fail loudly
        try:
            fs.rename(cp, lp)
        except Exception:
            pass
        raise RuntimeError(
            f"lease {lease_path} was usurped while held — another "
            "maintenance actor may have seen torn state; this operation "
            "fails so it is not committed on top of dissolved mutual "
            "exclusion"
        )
    fs.delete(cp, False)


@contextlib.contextmanager
def _hold_lease(spark: SparkSession, lease_path: str, purpose: str):
    """Acquire → yield → owner-checked release. A release failure
    (broken/usurped lease, or any FS error during the release RPCs)
    surfaces only when the body succeeded — a body exception is never
    masked by it."""
    token = _acquire_lease(spark, lease_path, purpose)
    body_ok = False
    try:
        yield
        body_ok = True
    finally:
        try:
            _release_lease(spark, lease_path, token)
        except Exception:
            # broad on purpose: Py4J/Java IO errors here must not mask
            # the body's own exception either (r5 third review #4)
            if body_ok:
                raise


def _raise_if_legacy(spark: SparkSession, log_dir: str) -> None:
    if _has_legacy_layout(spark, log_dir):
        raise RuntimeError(
            f"stream log {log_dir} uses the pre-epoch append layout (root "
            "part files with an epoch data column); run "
            "migrate_stream_log_layout(spark, dir, triples_dir=...) on "
            "both log dirs with the stream stopped"
        )


def _recover_log_dir(spark: SparkSession, final: str) -> None:
    """Finish or roll back an interrupted compaction swap for one log
    dir. MUST be called holding the compaction lease (see the callers):
    recovery renames and deletes, and doing that against a LIVE
    compactor's in-flight ``._compact`` (or a writer's epoch dirs) is
    exactly the corruption it exists to repair. States a crash can
    leave (``t`` = ``<dir>._compact``, ``o`` = ``<dir>._old``):

    - o and t both present — the promote never completed (a completed
      promote leaves no ``t`` behind). If ``final`` ALSO exists, it was
      recreated by an epoch writer after the failed promote and holds
      only NEWER ``epoch=N`` children: graft them into ``t`` (on a name
      collision the writer's version wins — a replayed epoch recomputes
      the identical logical rows), then promote ``t`` and drop ``o``.
      Without this merge, treating a recreated ``final`` as
      authoritative would delete ``o`` — the entire pre-compaction
      history (the r5 review's data-loss finding).
    - final absent, only t — crash between rename-aside and promote
      with ``o`` already gone (not reachable from the swap order, but
      restorable): promote t.
    - final absent, only o — crash right after rename-aside with no
      temp: roll back.
    - final present, t XOR o — t alone is a stale derived copy from a
      compactor that died before any rename (recomputable: drop);
      o alone means the promote completed (drop the superseded
      history).

    Because compaction preserves per-url epochs (see
    :func:`compact_stream_log`), EVERY reachable state — including one
    log dir swapped and the other not — resolves to the identical
    current KG, so recovery never has to coordinate across the two
    dirs."""
    fs, fpath = _fs_and_path(spark, final)
    _, tpath = _fs_and_path(spark, final.rstrip("/") + "._compact")
    _, opath = _fs_and_path(spark, final.rstrip("/") + "._old")
    t_exists, o_exists = fs.exists(tpath), fs.exists(opath)
    if t_exists and o_exists:
        if fs.exists(fpath):
            # graft writer-recreated epoch dirs into the compacted copy
            for status in fs.listStatus(fpath):
                name = status.getPath().getName()
                if not (status.isDirectory() and name.startswith("epoch=")):
                    continue
                dst = spark._jvm.org.apache.hadoop.fs.Path(tpath, name)
                if fs.exists(dst):
                    fs.delete(dst, True)
                if not fs.rename(status.getPath(), dst):
                    raise IOError(
                        f"recover: graft {name} -> {tpath} failed"
                    )
            fs.delete(fpath, True)
        if not fs.rename(tpath, fpath):
            raise IOError(f"recover: promote {tpath} -> {final} failed")
        fs.delete(opath, True)
        return
    if fs.exists(fpath):
        for p in (tpath, opath):
            if fs.exists(p):
                fs.delete(p, True)
        return
    if t_exists:
        if not fs.rename(tpath, fpath):
            raise IOError(f"recover: rename {tpath} -> {final} failed")
    elif o_exists:
        if not fs.rename(opath, fpath):
            raise IOError(f"recover: rename {opath} -> {final} failed")


def _needs_recovery(spark: SparkSession, final: str) -> bool:
    """A log dir needs repair when it is missing, or when BOTH swap
    leftovers exist (promote never completed — ``final``, if present,
    was recreated by a writer and holds only post-crash epochs)."""
    fs, fpath = _fs_and_path(spark, final)
    _, tpath = _fs_and_path(spark, final.rstrip("/") + "._compact")
    _, opath = _fs_and_path(spark, final.rstrip("/") + "._old")
    if not fs.exists(fpath):
        # absent is only a crash state once SOME state exists: leftovers
        # present means an interrupted swap; nothing at all just means
        # the stream has not written its first epoch yet
        return fs.exists(tpath) or fs.exists(opath)
    return fs.exists(tpath) and fs.exists(opath)


def _recover_under_lease(
    spark: SparkSession, triples_dir: str, touched_dir: str
) -> None:
    """Take the maintenance lease, repair both log dirs, release. Raises
    (touching nothing) if the lease is held — a live compactor owns the
    swap state; a stale lease needs the operator's explicit
    ``compact_stream_log(break_lease=True)``."""
    with _hold_lease(
        spark, _lease_path(triples_dir), "stream log recovery"
    ):
        for d in (triples_dir, touched_dir):
            _recover_log_dir(spark, d)


def _has_legacy_layout(spark: SparkSession, log_dir: str) -> bool:
    """True when ``log_dir`` holds pre-epoch-layout state: part FILES at
    the dir root (the old append-mode sink, ``epoch`` as a data column)
    instead of ``epoch=N`` subdirectories."""
    fs, hpath = _fs_and_path(spark, log_dir)
    if not fs.exists(hpath):
        return False
    for status in fs.listStatus(hpath):
        name = status.getPath().getName()
        if status.isFile() and name.endswith(".parquet"):
            return True
    return False


def migrate_stream_log_layout(
    spark: SparkSession,
    log_dir: str,
    triples_dir: str,
    break_lease: bool = False,
) -> int:
    """One-time migration of a pre-epoch-layout stream log (root-level
    part files carrying an ``epoch`` data column, the append-mode format
    the sink wrote before the replay-safe rework) to the current
    ``epoch=N`` Hive layout. Run it on BOTH the triples and the touched
    log, with the stream stopped. Uses the same
    materialize-to-``._compact``-then-rename-aside swap as
    :func:`compact_stream_log` (crash-safe: any interruption is
    repaired by the standard recovery pass).

    ``triples_dir``: the lease anchor, REQUIRED — always the TRIPLES
    log dir (pass ``log_dir`` again when migrating the triples log
    itself), so the migration holds the SAME lease every writer,
    compactor, and reader checks. It is deliberately not defaultable: a
    default of ``log_dir`` would silently take an uncoordinated lease
    on the touched dir that nobody else checks — r5 second-review
    finding #2. ``break_lease=True`` reclaims a stale lease left by a
    crashed migration/compaction — only with the stream stopped.
    Returns the number of rows migrated; 0 when the dir is absent or
    already migrated."""
    if not _has_legacy_layout(spark, log_dir):
        return 0
    lease = _lease_path(triples_dir)
    if break_lease:
        _break_lease(spark, lease)
    with _hold_lease(spark, lease, "migrate_stream_log_layout"):
        df = spark.read.parquet(log_dir)  # epoch is a DATA column here
        tmp = log_dir.rstrip("/") + "._compact"
        df.write.mode("overwrite").partitionBy("epoch").parquet(tmp)
        n = spark.read.parquet(tmp).count()
        _swap_log_dir(spark, log_dir, tmp)
        return n


def _swap_log_dir(spark: SparkSession, final: str, tmp: str) -> None:
    """Rename-aside swap: ``final -> final._old``, ``tmp -> final``,
    drop ``._old``. Caller holds the lease; a crash at any point is
    repaired by :func:`_recover_log_dir`."""
    ffs, fpath = _fs_and_path(spark, final)
    _, tp = _fs_and_path(spark, tmp)
    _, op = _fs_and_path(spark, final.rstrip("/") + "._old")
    if not ffs.rename(fpath, op):
        raise IOError(f"swap: rename-aside {final} failed")
    if not ffs.rename(tp, fpath):
        raise IOError(
            f"swap: promote {tmp} -> {final} failed; recovery will "
            "finish the swap on next read"
        )
    ffs.delete(op, True)


def stream_current_triples(
    spark: SparkSession, triples_dir: str, touched_dir: str
) -> DataFrame:
    """Resolve the append-only ``stream_incremental_kg`` log to the
    CURRENT KG: a triple is live iff its epoch is the LAST epoch that
    touched its url (later epochs that re-mapped the url supersede it —
    including with zero fresh triples, which is why supersession reads
    the touched log, not the triples). Mention ids are ``url#ordinal``
    (``sources/pages.py``), so the url is everything before the LAST
    ``#``. One aggregate over the skinny touched log + one join — the
    file-sink spelling of Iceberg MERGE-on-subj.

    Opens with a CONDITIONAL recovery pass: only when a log dir is
    missing or a swap is demonstrably incomplete (``._old`` AND
    ``._compact`` both present — reading bare ``final`` then would show
    only post-crash epochs) does the reader take the compaction lease
    and repair; otherwise it reads ``final`` directly and touches
    NOTHING — stale ``._compact``/``._old`` leftovers are cleaned by
    the next compactor, never by a reader racing a live one (the r5
    review's reader-deletes-in-flight-compaction finding)."""
    # bounded retry: a LIVE compactor's swap window (final absent,
    # leftovers present, lease held) lasts milliseconds — readers wait
    # it out rather than spuriously failing on every compaction; only a
    # genuinely stale lease (holder crashed) still raises, after
    # ~ATTEMPTS x DELAY seconds, with the break_lease recourse in the
    # message. Broad except: a lease race can also surface as a Py4J
    # IO error (e.g. the lease vanishing between exists and open).
    for attempt in range(READER_RETRY_ATTEMPTS):
        if not any(
            _needs_recovery(spark, d) for d in (triples_dir, touched_dir)
        ):
            break
        try:
            _recover_under_lease(spark, triples_dir, touched_dir)
            break
        except Exception:
            if attempt == READER_RETRY_ATTEMPTS - 1:
                raise
            time.sleep(READER_RETRY_DELAY_SEC)
    for d in (triples_dir, touched_dir):
        _raise_if_legacy(spark, d)
    triples = spark.read.parquet(triples_dir)
    last_touch = (
        spark.read.parquet(touched_dir)
        .groupBy("url")
        .agg(F.max("epoch").alias("_last_epoch"))
    )
    url = F.expr("substring(subj, 1, length(subj) - locate('#', reverse(subj)))")
    return (
        triples.withColumn("url", url)
        .join(last_touch, "url")
        .filter(F.col("epoch") == F.col("_last_epoch"))
        .select("subj", "pred", "obj", "score")
    )


def compact_stream_log(
    spark: SparkSession,
    triples_dir: str,
    touched_dir: str,
    break_lease: bool = False,
) -> tuple[int, int]:
    """Rewrite the :func:`stream_incremental_kg` logs to their resolved
    state: only LIVE triples survive (latest-wins, exactly what
    :func:`stream_current_triples` reads) and the touched log collapses
    to one row per url. Lakehouse maintenance, not semantics — the
    resolved relation is identical before and after (pinned by test);
    what changes is read cost, which otherwise grows with every epoch
    (superseded rows are scanned and filtered on every resolution;
    Iceberg deployments get this from MERGE + snapshot expiry, a
    parquet-log deployment runs this periodically).

    Compacted rows KEEP their per-url epochs (a url's surviving triples
    stay at the url's last-touch epoch; the touched log keeps one row
    per url at that same epoch). Preserving epochs rather than
    re-tagging to a global max buys two properties: a checkpointed
    stream restarted mid-compaction-recovery still supersedes correctly
    (its next batch id is past every kept epoch), and — the crash-safety
    property — ANY partial swap state (triples swapped, touched not, or
    vice versa) resolves to the identical current KG, so the two dirs
    never need an atomic cross-directory commit. Returns
    ``(live_triples, distinct_urls)``.

    Write discipline: both relations are fully materialized to
    ``<dir>._compact`` siblings BEFORE any original is touched (a
    direct overwrite would read and delete the same files), then each
    is swapped via rename-aside (``final -> final._old``, ``._compact
    -> final``, drop ``._old``) on the Hadoop FileSystem API — any
    scheme (hdfs://, s3a://, file:). A crash at any point is repaired
    by the lease-guarded recovery pass — run by the next compactor
    (here, right after taking the lease) or by
    :func:`stream_current_triples` when it finds a dir missing or a
    swap demonstrably incomplete; readers never delete anything
    otherwise.

    Concurrency: holds the maintenance lease
    (``<triples_dir>._compacting``, atomic create + owner token) for the
    duration; a stream epoch that fires while the lease exists fails
    loudly instead of appending into a log being rewritten, and a second
    concurrent compactor refuses to start. ``break_lease=True`` reclaims
    a stale lease after a holder crash — ONLY with the stream stopped: a
    LIVE holder whose lease is broken will itself fail at release (owner
    token mismatch) rather than silently dissolving the mutual
    exclusion. Returns ``(0, 0)`` without touching anything if the
    touched log is missing or empty."""
    if break_lease:
        _break_lease(spark, _lease_path(triples_dir))
    # lease taken BEFORE the recovery pass: recovery renames/deletes
    # swap leftovers, which must never race a live compactor or epoch
    # writer (the r5 review's recovery-ignores-the-lease finding)
    with _hold_lease(
        spark, _lease_path(triples_dir), "compact_stream_log"
    ):
        for d in (triples_dir, touched_dir):
            _recover_log_dir(spark, d)
            _raise_if_legacy(spark, d)
        tfs, tpath = _fs_and_path(spark, touched_dir)
        if not tfs.exists(tpath):
            return 0, 0
        touched = spark.read.parquet(touched_dir)
        if touched.isEmpty():
            return 0, 0
        last_touch = touched.groupBy("url").agg(
            F.max("epoch").alias("epoch")
        )
        url = F.expr(
            "substring(subj, 1, length(subj) - locate('#', reverse(subj)))"
        )
        live = (
            spark.read.parquet(triples_dir)
            .withColumn("url", url)
            .withColumnRenamed("epoch", "_row_epoch")
            .join(last_touch, "url")
            .filter(F.col("_row_epoch") == F.col("epoch"))
            .select("subj", "pred", "obj", "score", "epoch")
        )

        tmp_t = triples_dir.rstrip("/") + "._compact"
        tmp_u = touched_dir.rstrip("/") + "._compact"
        live.write.mode("overwrite").partitionBy("epoch").parquet(tmp_t)
        last_touch.write.mode("overwrite").partitionBy("epoch").parquet(tmp_u)
        n_live = spark.read.parquet(tmp_t).count()
        n_urls = spark.read.parquet(tmp_u).count()
        for final, tmp in ((triples_dir, tmp_t), (touched_dir, tmp_u)):
            _swap_log_dir(spark, final, tmp)
        return n_live, n_urls
