"""The benchmark's workloads, driven through the library's public
functions.

Each workload has these parts:

- ``stage``: one set-up repetition. It generates the seeded inputs, writes
  them to parquet and builds the prior state (ontology, index, prior-cycle
  snapshot). The program only ever reads the parquet.
- ``open``: reads the staged inputs and counts what the metrics divide by.
- ``run_pass``: one timed pass. Untraced, it makes exactly the calls a
  deployment would make. Traced, it makes the same calls under the
  tracer's spans and materialises each layer's output at its boundary, so
  every layer's Spark work lands in its own job group.
- ``fingerprints`` and ``check_run``: untimed output checks; ``counts``:
  untimed sizes the per-layer report needs.

Seeds shift the page-index range and the distractor-term ids; sizes stay
fixed, so every seed gives inputs of the same shape.
"""

from __future__ import annotations

import dataclasses
import os
import pickle
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

from ontology_mapper_spark import (
    MappingConfig,
    build_pipeline_index,
    construct_kg,
    construct_kg_from_mentions,
    incremental_kg,
    incremental_kg_delta,
    map_terms_df,
    page_digests,
)
from ontology_mapper_spark.operators.graph import (
    entity_cooccurrence,
    kg_diff_summary,
    pagerank_int,
)
from ontology_mapper_spark.operators.tfidf import source_idf_map
from ontology_mapper_spark.pipeline import triple_url
from ontology_mapper_spark.sources.ontology import (
    _SYNTH_VOCAB,
    onto_terms_from_rows,
    synthesize_ontology_rows,
)
from ontology_mapper_spark.sources.pages import (
    MENTION_VOCAB,
    detect_mentions,
    extract_text,
    page_rows,
    render_html,
)
from ontology_mapper_spark.sources.terms import mentions_from_list

CFG = MappingConfig(min_score=0.3, max_mappings=3)
BASE_TERMS = 5000
RESCORE_SAMPLE = 24
_PAGES_ARROW = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def page_offset(seed: int) -> int:
    """First page index for a seed: eight digits for every seed, so url
    lengths, and with them row sizes, do not drift with the seed."""
    return 10_000_000 + (seed % 797) * 100_003


def _row_crc(df):
    """One crc32 per row. Double columns enter as integer thousandths, the
    precision triples carry."""
    cols = [
        F.round(F.col(f.name) * 1000).cast("long").cast("string")
        if f.dataType.typeName() == "double"
        else F.col(f.name).cast("string")
        for f in df.schema.fields
    ]
    return F.crc32(F.concat_ws("|", *cols))


def fingerprints(spark, paths: dict) -> dict:
    """Order-independent ``(sum of per-row crc32, row count)`` of each named
    parquet output, all in one Spark job."""
    union = None
    for name, path in paths.items():
        df = spark.read.parquet(path)
        part = df.select(F.lit(name).alias("k"), _row_crc(df).alias("crc"))
        union = part if union is None else union.unionByName(part)
    rows = union.groupBy("k").agg(F.sum("crc").alias("h"), F.count(F.lit(1)).alias("n"))
    got = {r["k"]: (int(r["h"]), int(r["n"])) for r in rows.collect()}
    return {name: got.get(name, (0, 0)) for name in paths}


def fingerprint(df) -> tuple[int, int]:
    """``fingerprints`` of one DataFrame."""
    row = df.agg(
        F.sum(_row_crc(df)).alias("h"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    return int(row["h"] or 0), int(row["n"])


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def index_bytes(index) -> int:
    """Size of the index as pickled for its broadcast."""
    return len(pickle.dumps(index, protocol=pickle.HIGHEST_PROTOCOL))


def _write_pages(path: str, lo: int, hi: int, variants: int, changed=None) -> None:
    """Pages ``[lo, hi)`` of the library's deterministic page generator as
    one parquet file. ``changed(i)`` marks re-captures whose HTML gains a
    paragraph; their ``text`` column stays stale, so only re-extraction
    sees the change."""
    rows = []
    for i, (url, ts, html, text, lang) in zip(
        range(lo, hi), page_rows(hi, variants=variants, start=lo)
    ):
        if changed is not None and changed(i):
            paras = text.split("\n")[1:] + ["recurrent asthma episode"]
            html = render_html(f"Synthetic page {i}", paras)
        rows.append((url, ts, html, text, lang))
    os.makedirs(path, exist_ok=True)
    table = pa.Table.from_arrays(
        [pa.array(c, t) for c, t in zip(zip(*rows), _PAGES_ARROW.types)],
        schema=_PAGES_ARROW,
    )
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def _write_onto(spark, path: str, n_distractors: int = 0, first_id: int = 0) -> None:
    """The 5k-term synthetic ontology, optionally widened with distractor
    terms that share its vocabulary (two words, a type qualifier, and a
    variant synonym on every other term), so mentions fan out to many
    candidate labels."""
    onto = onto_terms_from_rows(spark, synthesize_ontology_rows(BASE_TERMS))
    if n_distractors:
        words = sorted(
            set(_SYNTH_VOCAB) | {w for m in MENTION_VOCAB for w in m.split()}
        )
        nw = len(words)
        wa = F.array(*[F.lit(w) for w in words])
        idc = F.col("id")
        w1 = F.element_at(wa, (F.pmod(idc, F.lit(nw)) + 1).cast("int"))
        w2 = F.element_at(
            wa, (F.pmod((idc / nw).cast("long") + idc, F.lit(nw)) + 1).cast("int")
        )
        qual = F.pmod(idc, F.lit(9973)).cast("string")
        distract = spark.range(first_id, first_id + n_distractors).select(
            F.concat(F.lit("http://bench.example.org/distractor/D"), idc).alias("iri"),
            F.array(F.concat_ws(" ", w1, w2, F.lit("type"), qual)).alias("labels"),
            F.when(
                F.pmod(idc, F.lit(2)) == 0,
                F.array(F.concat_ws(" ", w2, w1, F.lit("variant"), qual)),
            )
            .otherwise(F.array().cast("array<string>"))
            .alias("synonyms"),
            F.lit(False).alias("deprecated"),
            F.lit("class").alias("term_type"),
        )
        for f in onto.schema.fields:
            if f.name not in distract.columns:
                distract = distract.withColumn(f.name, F.lit(None).cast(f.dataType))
        onto = onto.unionByName(distract.select(*onto.columns))
    onto.write.mode("overwrite").parquet(path)


def _build_index(tr, onto) -> tuple[object, float]:
    """The pipeline's TF-IDF index for ``onto`` and its build time."""
    t0 = time.perf_counter()
    with tr.span("operators.tfidf", "index"):
        index = build_pipeline_index(onto, CFG)
    return index, time.perf_counter() - t0


def _publish(tr, kg, path: str) -> None:
    """The caller's action on a pipeline output: write it to ``path``.
    Traced, the output is first materialised under the scoring span, so
    the write span holds only the write."""
    if tr.enabled:
        kg = kg.persist(StorageLevel.MEMORY_AND_DISK)
        with tr.span("operators.tfidf", "score"):
            kg.count()
    with tr.span("sinks", "write") as counts:
        kg.write.mode("overwrite").parquet(path)
        if counts is not None:
            counts["bytes_written"] = dir_bytes(path)
    if tr.enabled:
        kg.unpersist()


@dataclasses.dataclass
class Context:
    spark: object
    seed: int
    data: str  # staged inputs and prior state
    out: str  # per-pass outputs, overwritten by every pass
    onto: object = None
    index: object = None
    sizes: dict = dataclasses.field(default_factory=dict)


class BigdimLink:
    """A persisted mention table linked with ``construct_kg_from_mentions``
    against the base ontology widened with distractor terms, building a
    fresh index on every pass."""

    name = "bigdim_link"
    pages = 4_000
    variants = 250
    distractors = 10_000

    def stage(self, ctx, tr) -> float | None:
        spark, d = ctx.spark, ctx.data
        off = page_offset(ctx.seed)
        _write_onto(spark, f"{d}/onto", self.distractors, first_id=off * 10)
        _write_pages(f"{d}/pages", off, off + self.pages, self.variants)
        detect_mentions(spark.read.parquet(f"{d}/pages")).select(
            "source_term_id", "source_term", "tags"
        ).write.mode("overwrite").parquet(f"{d}/mentions")
        ctx.onto = spark.read.parquet(f"{d}/onto")
        return None

    def open(self, ctx) -> None:
        self.mentions = ctx.spark.read.parquet(f"{ctx.data}/mentions")
        ctx.sizes["mentions"] = self.mentions.count()

    def run_pass(self, ctx, tr) -> dict:
        t0 = time.perf_counter()
        ctx.index, _ = _build_index(tr, ctx.onto)
        t1 = time.perf_counter()
        with tr.span("pipeline", "construct_kg_from_mentions"):
            kg = construct_kg_from_mentions(
                self.mentions, ctx.onto, CFG, tfidf_index=ctx.index
            )
        _publish(tr, kg, f"{ctx.out}/triples")
        t2 = time.perf_counter()
        return {"wall": t2 - t0, "index_s": t1 - t0, "link_s": t2 - t1,
                "advance_s": t2 - t0, "linked": ctx.sizes["mentions"]}

    def fingerprints(self, ctx) -> dict:
        return fingerprints(ctx.spark, {"triples": f"{ctx.out}/triples"})

    def check_run(self, ctx) -> dict:
        """Re-score a seeded sample of distinct mention strings with the
        inverted-index plan (``tfidf_map_inverted_index``) under the same
        frozen source IDF, and compare its (term, iri, score) set with what
        the pipeline emitted for those strings."""
        spark, mentions = ctx.spark, self.mentions
        idf = source_idf_map(mentions, CFG.ngram_length)
        terms = sorted(
            r[0] for r in mentions.select("source_term").distinct().collect()
        )
        sample = random.Random(ctx.seed).sample(terms, min(RESCORE_SAMPLE, len(terms)))
        got = {
            tuple(r)
            for r in spark.read.parquet(f"{ctx.out}/triples")
            .join(mentions.withColumnRenamed("source_term_id", "subj"), "subj")
            .filter(F.col("source_term").isin(sample))
            .select("source_term", "obj", "score")
            .distinct()
            .collect()
        }
        inv = map_terms_df(
            mentions_from_list(spark, sample, sample),
            ctx.onto,
            dataclasses.replace(CFG, use_inverted_index=True),
            tfidf_source_idf=idf,
        )
        want = {
            tuple(r)
            for r in inv.filter(F.col("mapped_term_iri") != "")
            .select("source_term", "mapped_term_iri", "mapping_score")
            .collect()
        }
        return {"check": "inverted_rescore", "terms": len(sample),
                "pairs": len(want), "ok": got == want}

    def counts(self, ctx) -> None:
        ctx.sizes["distinct_terms"] = (
            self.mentions.select("source_term").distinct().count()
        )


class KGRelease:
    """One crawl-cycle release on top of untimed prior-cycle state:
    extract the re-crawl, advance with ``incremental_kg``, write the next
    snapshot, diff it against the previous one, and run co-occurrence
    and PageRank over its (url, iri) edges."""

    name = "kg_release"
    pages = 4_000
    variants = 997

    def stage(self, ctx, tr) -> float | None:
        spark, d, n = ctx.spark, ctx.data, self.pages
        off = page_offset(ctx.seed)
        _write_pages(f"{d}/prev_pages", off, off + n, self.variants)
        # the last 5% re-captured, every 5th of them changed, plus 2% new urls
        _write_pages(
            f"{d}/recrawl", off + n * 95 // 100, off + n * 102 // 100, self.variants,
            changed=lambda i: i % 5 == 0 and i < off + n,
        )
        # the first 1% retired, so the diff reports removed triples
        spark.range(off, off + n // 100).select(
            F.concat(
                F.lit("https://example.org/site"), (F.col("id") % 97).cast("string"),
                F.lit("/page"), F.col("id").cast("string"),
            ).alias("url")
        ).write.mode("overwrite").parquet(f"{d}/retired")
        _write_onto(spark, f"{d}/onto")
        ctx.onto = spark.read.parquet(f"{d}/onto")
        ctx.index, index_s = _build_index(tr, ctx.onto)
        prev = spark.read.parquet(f"{d}/prev_pages")
        self.idf = source_idf_map(detect_mentions(prev), CFG.ngram_length)
        construct_kg(
            prev, ctx.onto, CFG, tfidf_source_idf=self.idf, tfidf_index=ctx.index
        ).write.mode("overwrite").parquet(f"{d}/prev_triples")
        page_digests(prev).write.mode("overwrite").parquet(f"{d}/prev_digests")
        return index_s

    def open(self, ctx) -> None:
        read, d = ctx.spark.read.parquet, ctx.data
        self.prev_pages = read(f"{d}/prev_pages")
        self.recrawl = read(f"{d}/recrawl")
        self.retired = read(f"{d}/retired")
        self.prev_triples = read(f"{d}/prev_triples")
        self.prev_digests = read(f"{d}/prev_digests")
        self.kw = dict(
            retired_urls=self.retired, tfidf_source_idf=self.idf,
            tfidf_index=ctx.index,
        )
        ctx.sizes["mentions"] = detect_mentions(extract_text(self.recrawl)).count()

    def run_pass(self, ctx, tr) -> dict:
        spark, o = ctx.spark, ctx.out
        t0 = time.perf_counter()
        pages = extract_text(self.recrawl)
        if tr.enabled:
            with tr.span("sources.pages", "extract") as counts:
                pages = pages.persist(StorageLevel.MEMORY_AND_DISK)
                counts["pages_in"] = pages.count()
                counts["mentions_out"] = detect_mentions(pages).count()
        with tr.span("pipeline", "incremental_kg"):
            kg = incremental_kg(
                pages, self.prev_digests, self.prev_triples, ctx.onto, CFG, **self.kw
            )
        _publish(tr, kg, f"{o}/snapshot")
        if tr.enabled:
            pages.unpersist()
        t1 = time.perf_counter()
        snap = spark.read.parquet(f"{o}/snapshot")
        with tr.span("operators.graph", "kg_diff_summary"):
            kg_diff_summary(self.prev_triples, snap).write.mode("overwrite").parquet(
                f"{o}/diff"
            )
        with tr.span("operators.graph", "entity_cooccurrence"):
            entity_cooccurrence(snap).write.mode("overwrite").parquet(f"{o}/cooccur")
        edges = snap.select(
            triple_url("subj").alias("src"), F.col("obj").alias("dst")
        ).distinct()
        # url -> iri edges form a bipartite graph: ranks reach their fixed
        # point after two rounds
        with tr.span("operators.graph", "pagerank_int"):
            pagerank_int(edges, iterations=3).write.mode("overwrite").parquet(f"{o}/pagerank")
        t2 = time.perf_counter()
        return {"wall": t2 - t0, "advance_s": t1 - t0, "link_s": t1 - t0,
                "linked": ctx.sizes["mentions"]}

    def fingerprints(self, ctx) -> dict:
        return fingerprints(ctx.spark, {
            k: f"{ctx.out}/{k}" for k in ("snapshot", "diff", "cooccur", "pagerank")
        })

    def check_run(self, ctx) -> dict:
        """The published snapshot must equal a full rebuild over the latest
        corpus state, and the diff must report every status the release
        produces."""
        read = ctx.spark.read.parquet
        gone = self.recrawl.select("url").unionByName(self.retired)
        latest = self.prev_pages.join(gone, "url", "left_anti").unionByName(
            extract_text(self.recrawl.join(self.retired, "url", "left_anti"))
        )
        full = construct_kg(
            latest, ctx.onto, CFG, tfidf_source_idf=self.idf, tfidf_index=ctx.index
        )
        statuses = {r["status"] for r in read(f"{ctx.out}/diff").collect()}
        return {
            "check": "incremental_equals_rebuild",
            "ok": fingerprint(full) == fingerprint(read(f"{ctx.out}/snapshot"))
            and {"added", "removed", "stable"} <= statuses,
            "diff_statuses": sorted(statuses),
        }

    def counts(self, ctx) -> None:
        pages = extract_text(self.recrawl)
        fresh, _ = incremental_kg_delta(
            pages, self.prev_digests, ctx.onto, CFG, **self.kw
        )
        live = pages.join(self.retired, "url", "left_anti")
        ctx.sizes.update(
            recrawled=self.recrawl.count(),
            changed_pages=page_digests(live)
            .join(self.prev_digests, ["url", "digest"], "left_anti")
            .count(),
            fresh_triples=fresh.count(),
            distinct_terms=detect_mentions(pages)
            .select("source_term").distinct().count(),
        )


WORKLOADS = {w.name: w for w in (BigdimLink, KGRelease)}
