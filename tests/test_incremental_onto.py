"""Incremental KG maintenance across ONTOLOGY releases: label-granular
delta detection, the sound affected-mention analysis, frozen-model
enforcement, and the headline invariant incremental == full rebuild
(also driver-checked by the ``incremental_kg_onto`` gate query against
the full-rebuild SQL). The deterministic v1→v2 ontology delta lives in
``sources.ontology.fixture_ontology_rows_v2`` — one edit per delta
class (term removed, synonym removed, term added, label changed,
synonym added)."""

import dataclasses

import pytest
from pyspark.sql import functions as F

from ontology_mapper_spark.config import Mapper, MappingConfig
from ontology_mapper_spark.operators.tfidf import (
    source_idf_map,
    target_idf_map,
)
from ontology_mapper_spark.pipeline import (
    build_pipeline_index,
    construct_kg,
    incremental_kg_ontology,
    incremental_kg_ontology_delta,
    label_delta,
)
from ontology_mapper_spark.sources.ontology import (
    EFO,
    OBO,
    filter_terms_df,
    fixture_ontology_rows_v2,
    fixture_onto_terms,
    onto_labels_df,
    onto_terms_from_rows,
)
from ontology_mapper_spark.sources.pages import (
    detect_mentions,
    synthesize_pages,
)

N_PAGES = 90
REMOVED_IRI = EFO + "EFO_1001950"  # colon disease (term removed)
ADDED_IRI = EFO + "EFO_0010001"  # carbon monoxide (term added)
SYN_REMOVED_IRI = EFO + "EFO_0004747"  # lost synonym "protein level"
CHANGED_IRI = OBO + "HP_0012393"  # label "Allergy" -> "Allergy NOS"


def _labels(cfg, terms):
    return onto_labels_df(
        filter_terms_df(
            terms, cfg.base_iris, cfg.excl_deprecated, cfg.term_type
        )
    )


@pytest.fixture(scope="module")
def state(spark):
    """(pages, v1, v2, cfg, src_idf, tgt_idf, prev_triples) — the
    ontology-release scenario shared by the tests. The label-side model
    is frozen at the PREVIOUS snapshot (the real-world direction: the
    model predates the release it must survive)."""
    cfg = MappingConfig(max_mappings=2)
    pages = synthesize_pages(spark, N_PAGES).cache()
    v1 = fixture_onto_terms(spark).cache()
    v2 = onto_terms_from_rows(spark, fixture_ontology_rows_v2()).cache()
    src_idf = source_idf_map(detect_mentions(pages), cfg.ngram_length)
    tgt_idf = target_idf_map(_labels(cfg, v1), cfg.ngram_length)
    prev_triples = construct_kg(
        pages, v1, cfg,
        tfidf_source_idf=src_idf,
        tfidf_index=build_pipeline_index(v1, cfg, target_idf=tgt_idf),
    ).cache()
    return pages, v1, v2, cfg, src_idf, tgt_idf, prev_triples


def _key(df):
    return sorted(
        (r["subj"], r["pred"], r["obj"], round(r["score"], 9))
        for r in df.collect()
    )


def test_incremental_equals_full_rebuild(spark, state):
    pages, v1, v2, cfg, src_idf, tgt_idf, prev = state
    out = incremental_kg_ontology(
        pages, prev, v1, v2, cfg,
        tfidf_source_idf=src_idf, tfidf_target_idf=tgt_idf,
        rebuild_below_labels=None,
    )
    full = construct_kg(
        pages, v2, cfg,
        tfidf_source_idf=src_idf,
        tfidf_index=build_pipeline_index(v2, cfg, target_idf=tgt_idf),
    )
    assert _key(out) == _key(full)


def test_unmapped_mention_becomes_mapped(spark, state):
    pages, v1, v2, cfg, src_idf, tgt_idf, prev = state
    assert prev.filter(F.col("obj") == ADDED_IRI).count() == 0
    out = incremental_kg_ontology(
        pages, prev, v1, v2, cfg,
        tfidf_source_idf=src_idf, tfidf_target_idf=tgt_idf,
        rebuild_below_labels=None,
    )
    # "carbon monoxide" mentions were guaranteed-unmapped under v1 and
    # must link to the new term — the transition a reuse-only scheme
    # (or an analysis keyed off prev_triples alone) would miss
    assert out.filter(F.col("obj") == ADDED_IRI).count() > 0


def test_removed_term_triples_gone(spark, state):
    pages, v1, v2, cfg, src_idf, tgt_idf, prev = state
    assert prev.filter(F.col("obj") == REMOVED_IRI).count() > 0
    out = incremental_kg_ontology(
        pages, prev, v1, v2, cfg,
        tfidf_source_idf=src_idf, tfidf_target_idf=tgt_idf,
        rebuild_below_labels=None,
    )
    assert out.filter(F.col("obj") == REMOVED_IRI).count() == 0


def test_affected_set_is_a_proper_subset(spark, state):
    """The analysis must actually SAVE work: the affected set excludes
    most mentions, and every fresh triple's subject is affected."""
    pages, v1, v2, cfg, src_idf, tgt_idf, prev = state
    fresh, affected = incremental_kg_ontology_delta(
        pages, prev, v1, v2, cfg,
        tfidf_source_idf=src_idf, tfidf_target_idf=tgt_idf,
    )
    n_affected = affected.count()
    n_mentions = detect_mentions(pages).count()
    assert 0 < n_affected < n_mentions
    stray = fresh.join(
        affected.withColumnRenamed("source_term_id", "subj"),
        "subj",
        "left_anti",
    )
    assert stray.count() == 0


def test_empty_delta_reuses_everything(spark, state):
    pages, v1, _v2, cfg, src_idf, tgt_idf, prev = state
    fresh, affected = incremental_kg_ontology_delta(
        pages, prev, v1, v1, cfg,
        tfidf_source_idf=src_idf, tfidf_target_idf=tgt_idf,
    )
    assert affected.count() == 0
    assert fresh.count() == 0
    out = incremental_kg_ontology(
        pages, prev, v1, v1, cfg,
        tfidf_source_idf=src_idf, tfidf_target_idf=tgt_idf,
        rebuild_below_labels=None,
    )
    assert _key(out) == _key(prev)


def test_label_delta_granularity(spark, state):
    _pages, v1, v2, cfg, *_rest = state
    added, removed = label_delta(_labels(cfg, v1), _labels(cfg, v2))
    a = {(r["iri"], r["name"], r["is_synonym"]) for r in added.collect()}
    r = {(r["iri"], r["name"], r["is_synonym"]) for r in removed.collect()}
    # term removed: both its label and synonym rows
    assert (REMOVED_IRI, "colon disease", False) in r
    assert (REMOVED_IRI, "disease of colon", True) in r
    # synonym-granularity removal: the label row survives
    assert (SYN_REMOVED_IRI, "protein level", True) in r
    assert (SYN_REMOVED_IRI, "protein measurement", False) not in r
    # term added
    assert (ADDED_IRI, "carbon monoxide", False) in a
    # label text change = one removed + one added row, and the synonym
    # row moves too (its display_label changed with labels[0])
    assert (CHANGED_IRI, "Allergy", False) in r
    assert (CHANGED_IRI, "Allergy NOS", False) in a
    assert (CHANGED_IRI, "Allergic reaction", True) in a
    assert (CHANGED_IRI, "Allergic reaction", True) in r


def test_requires_frozen_models(spark, state):
    pages, v1, v2, cfg, src_idf, tgt_idf, prev = state
    with pytest.raises(ValueError, match="BOTH frozen models"):
        incremental_kg_ontology_delta(
            pages, prev, v1, v2, cfg, tfidf_source_idf=src_idf
        )
    with pytest.raises(ValueError, match="BOTH frozen models"):
        incremental_kg_ontology_delta(
            pages, prev, v1, v2, cfg, tfidf_target_idf=tgt_idf
        )
    with pytest.raises(ValueError, match="API mappers"):
        incremental_kg_ontology_delta(
            pages, prev, v1, v2,
            dataclasses.replace(cfg, mapper=Mapper.ZOOMA),
        )


def test_compose_corpus_then_ontology_delta(spark, state):
    """A real cycle where BOTH inputs moved: apply the corpus re-crawl
    under the old ontology (incremental_kg), then the ontology release
    over the latest corpus (incremental_kg_ontology). The composition
    must equal one full rebuild over (latest corpus, v2 ontology) under
    the shared frozen models — the invariant that makes the two delta
    functions composable building blocks rather than special cases."""
    from ontology_mapper_spark.pipeline import (
        incremental_kg,
        page_digests,
    )
    from ontology_mapper_spark.sources.pages import recrawl_pages

    _pages, v1, v2, cfg, _src, tgt_idf, _prev = state
    prev_pages = synthesize_pages(spark, 60).cache()
    new_pages = recrawl_pages(spark, 40, 80).cache()
    latest = (
        prev_pages.join(new_pages.select("url"), "url", "left_anti")
        .unionByName(new_pages)
        .cache()
    )
    # both models frozen over the LATEST state (shared by every step)
    src_idf = source_idf_map(detect_mentions(latest), cfg.ngram_length)
    prev_triples = construct_kg(
        prev_pages, v1, cfg,
        tfidf_source_idf=src_idf,
        tfidf_index=build_pipeline_index(v1, cfg, target_idf=tgt_idf),
    )
    step1 = incremental_kg(
        new_pages, page_digests(prev_pages), prev_triples, v1, cfg,
        tfidf_source_idf=src_idf,
        tfidf_index=build_pipeline_index(v1, cfg, target_idf=tgt_idf),
    )
    step2 = incremental_kg_ontology(
        latest, step1, v1, v2, cfg,
        tfidf_source_idf=src_idf, tfidf_target_idf=tgt_idf,
        rebuild_below_labels=None,
    )
    full = construct_kg(
        latest, v2, cfg,
        tfidf_source_idf=src_idf,
        tfidf_index=build_pipeline_index(v2, cfg, target_idf=tgt_idf),
    )
    assert _key(step2) == _key(full)


def test_idf_model_round_trip_is_bit_exact(tmp_path, state):
    """save_idf_model/load_idf_model — the executable form of 'the model
    is snapshot state, persist it beside the digests'. JSON round-trip
    must be BIT-exact (shortest-round-trip doubles), or reused and fresh
    triples would silently score on different models after a restart."""
    from ontology_mapper_spark.operators.tfidf import (
        load_idf_model,
        save_idf_model,
    )

    _p, _v1, _v2, _cfg, src_idf, tgt_idf, _prev = state
    for model in (src_idf, tgt_idf):
        path = str(tmp_path / "model.json")
        save_idf_model(model, path)
        idf2, n2 = load_idf_model(path)
        assert n2 == model[1]
        assert idf2 == model[0]  # dict equality on floats == bit equality
    with pytest.raises(ValueError, match="version"):
        (tmp_path / "bad.json").write_text('{"version": 99}')
        load_idf_model(str(tmp_path / "bad.json"))


def test_full_remap_valve_is_output_invariant(spark, state):
    """The regime valve (``full_remap_fraction``) changes the PHYSICAL
    plan only: forcing it (fraction=0.0 — any affected mention trips it)
    must produce the identical relation as the always-incremental path
    and as a full rebuild, for both the TF-IDF and syntactic mappers."""
    pages, v1, v2, cfg, src_idf, tgt_idf, prev = state
    valved = incremental_kg_ontology(
        pages, prev, v1, v2, cfg,
        tfidf_source_idf=src_idf, tfidf_target_idf=tgt_idf,
        full_remap_fraction=0.0,
    )
    full = construct_kg(
        pages, v2, cfg,
        tfidf_source_idf=src_idf,
        tfidf_index=build_pipeline_index(v2, cfg, target_idf=tgt_idf),
    )
    assert _key(valved) == _key(full)

    syn_cfg = MappingConfig(
        mapper=Mapper.LEVENSHTEIN, max_mappings=2, min_score=0.5,
        candidate_prefilter=False,
    )
    syn_prev = construct_kg(pages, v1, syn_cfg)
    syn_valved = incremental_kg_ontology(
        pages, syn_prev, v1, v2, syn_cfg, full_remap_fraction=0.0
    )
    assert _key(syn_valved) == _key(construct_kg(pages, v2, syn_cfg))


def test_mentions_table_and_prebuilt_index_contracts(spark, state):
    """Amortizable prior state must be row-identity-preserving:
    ``construct_kg_from_mentions`` over the materialized detection output
    equals ``construct_kg`` over the pages; passing ``mentions_table`` +
    ``tfidf_new_index`` through the incremental path (both valve sides)
    changes nothing but the physical plan."""
    from ontology_mapper_spark.pipeline import construct_kg_from_mentions

    pages, v1, v2, cfg, src_idf, tgt_idf, prev = state
    mt = detect_mentions(pages)
    idx2 = build_pipeline_index(v2, cfg, target_idf=tgt_idf)
    full = construct_kg_from_mentions(
        mt, v2, cfg, tfidf_source_idf=src_idf, tfidf_index=idx2
    )
    assert _key(full) == _key(
        construct_kg(
            pages, v2, cfg, tfidf_source_idf=src_idf, tfidf_index=idx2
        )
    )
    out = incremental_kg_ontology(
        pages, prev, v1, v2, cfg,
        tfidf_source_idf=src_idf, tfidf_target_idf=tgt_idf,
        tfidf_new_index=idx2, mentions_table=mt,
        rebuild_below_labels=None,
    )
    assert _key(out) == _key(full)
    valved = incremental_kg_ontology(
        pages, prev, v1, v2, cfg,
        tfidf_source_idf=src_idf, tfidf_target_idf=tgt_idf,
        tfidf_new_index=idx2, mentions_table=mt, full_remap_fraction=0.0,
    )
    assert _key(valved) == _key(full)


def test_syntactic_incremental_equals_full_rebuild(spark, state):
    """Per-pair-pure mappers need no frozen model; the delta function
    pins the exact broadcast plan (the prefiltered variant's candidate
    set is input-slice-dependent)."""
    pages, v1, v2, _cfg, *_rest = state
    cfg = MappingConfig(
        mapper=Mapper.LEVENSHTEIN, max_mappings=2, min_score=0.5,
        candidate_prefilter=False,
    )
    prev = construct_kg(pages, v1, cfg)
    out = incremental_kg_ontology(
        pages, prev, v1, v2, cfg, rebuild_below_labels=None
    )
    full = construct_kg(pages, v2, cfg)
    assert _key(out) == _key(full)


def test_dimension_valve_dispatches_rebuild_at_small_dims(spark, state):
    """r4 VERDICT #2 (wrong #2): the valve mis-dispatched the slower
    incremental plan at small dimensions (measured 0.4x at 5k labels vs
    2.21x at 200k — per-mention kernel cost has an Arrow/per-string floor
    a small dimension can't reduce, so the probe pass costs nearly a full
    re-map). The dimension term dispatches straight to full rebuild BELOW
    ``rebuild_below_labels`` without paying the probe. Observable: the
    rebuild leg never reads ``prev_triples``, so poisoned previous state
    must NOT leak into the output — while the forced-incremental control
    leg (rebuild_below_labels=None, full_remap_fraction=None) keeps it."""
    pages, v1, v2, cfg, src_idf, tgt_idf, prev = state
    poison = prev.unionByName(
        spark.createDataFrame(
            [("poison-subj", "http://example.org/mentions",
              "http://example.org/poison", 0.999)],
            "subj string, pred string, obj string, score double",
        ).withColumn("score", F.col("score").cast(prev.schema["score"].dataType))
    )
    # fixture dimension is far below the 40k default -> rebuild leg
    out = incremental_kg_ontology(
        pages, poison, v1, v2, cfg,
        tfidf_source_idf=src_idf, tfidf_target_idf=tgt_idf,
    )
    assert out.filter(F.col("subj") == "poison-subj").count() == 0
    full = construct_kg(
        pages, v2, cfg,
        tfidf_source_idf=src_idf,
        tfidf_index=build_pipeline_index(v2, cfg, target_idf=tgt_idf),
    )
    assert _key(out) == _key(full)
    # control: with the valve fully disabled the incremental plan reuses
    # previous triples verbatim — the poison row survives (its subject is
    # not an affected mention)
    control = incremental_kg_ontology(
        pages, poison, v1, v2, cfg,
        tfidf_source_idf=src_idf, tfidf_target_idf=tgt_idf,
        full_remap_fraction=None, rebuild_below_labels=None,
    )
    assert control.filter(F.col("subj") == "poison-subj").count() == 1


def test_dimension_valve_validates_like_the_delta_path(spark, state):
    """Both sides of the valve must reject invalid configurations with
    the identical error — the early-rebuild dispatch can't silently skip
    the frozen-model / mapper contracts the delta path enforces."""
    pages, v1, v2, cfg, src_idf, tgt_idf, prev = state
    with pytest.raises(ValueError, match="BOTH frozen models"):
        incremental_kg_ontology(
            pages, prev, v1, v2, cfg, tfidf_source_idf=src_idf
        )
    with pytest.raises(ValueError, match="API mappers"):
        incremental_kg_ontology(
            pages, prev, v1, v2,
            dataclasses.replace(cfg, mapper=Mapper.ZOOMA),
        )


def test_fraction_valve_honors_reextract(spark, state):
    """r4 ADVICE (low): the affected-fraction valve counted mentions via
    detect_mentions(pages) without honoring ``reextract`` — with raw
    HTML-only pages it raised AnalysisException before this fix. The
    whole call must now work end-to-end from payload-only pages."""
    pages, v1, v2, cfg, src_idf, tgt_idf, prev = state
    raw = pages.select("url", "warc_ts", "html", "lang")
    out = incremental_kg_ontology(
        raw, prev, v1, v2, cfg,
        tfidf_source_idf=src_idf, tfidf_target_idf=tgt_idf,
        reextract=True, rebuild_below_labels=None,
    )
    full = construct_kg(
        pages, v2, cfg,
        tfidf_source_idf=src_idf,
        tfidf_index=build_pipeline_index(v2, cfg, target_idf=tgt_idf),
    )
    assert _key(out) == _key(full)


def test_inverted_plan_release_both_legs(spark, state):
    """r5 review: with use_inverted_index=True (the documented >4M-label
    regime) BOTH valve legs used to crash — the rebuild leg built a
    kernel CSR index that map_terms_df's guard rejects, and the delta
    remap passed one too. Now the frozen label model threads through the
    inverted plan on each leg, and both stay row-identical to the kernel
    full rebuild (the two physical plans are output-identical by the
    gate-pinned contract)."""
    pages, v1, v2, cfg, src_idf, tgt_idf, prev = state
    icfg = dataclasses.replace(cfg, use_inverted_index=True)
    kernel_full = construct_kg(
        pages, v2, cfg,
        tfidf_source_idf=src_idf,
        tfidf_index=build_pipeline_index(v2, cfg, target_idf=tgt_idf),
    )
    # incremental leg (dimension valve off)
    inc = incremental_kg_ontology(
        pages, prev, v1, v2, icfg,
        tfidf_source_idf=src_idf, tfidf_target_idf=tgt_idf,
        rebuild_below_labels=None,
    )
    assert _key(inc) == _key(kernel_full)
    # rebuild leg (dimension valve on: fixture dims are far below 40k)
    reb = incremental_kg_ontology(
        pages, prev, v1, v2, icfg,
        tfidf_source_idf=src_idf, tfidf_target_idf=tgt_idf,
    )
    assert _key(reb) == _key(kernel_full)
    # a kernel CSR index alongside the inverted flag still fails loudly,
    # on the delta leg (valve off) and on the rebuild leg (valve on)
    idx2 = build_pipeline_index(v2, cfg, target_idf=tgt_idf)
    for rebuild_below in (None, 40_000):
        with pytest.raises(ValueError, match="use_inverted_index"):
            incremental_kg_ontology(
                pages, prev, v1, v2, icfg,
                tfidf_source_idf=src_idf, tfidf_target_idf=tgt_idf,
                tfidf_new_index=idx2,
                rebuild_below_labels=rebuild_below,
            )


@pytest.mark.spark
@pytest.mark.slow
def test_ontology_axis_random_release_walk_matches_rebuild(spark):
    """Model-based property test (r5 VERDICT #8): a SEEDED random walk
    of ontology releases. Each step applies a random batch of edits —
    term added, term removed, label changed, synonym added, synonym
    removed — to a plain Python row-dict MODEL of the ontology, then
    asserts the incremental path (valve off, pure delta, frozen models)
    equals a full rebuild from the model, and carries the incremental
    output forward as the next step's prev. Covers edit COMPOSITIONS
    and delta-chaining the single crafted v1→v2 fixture cannot."""
    import random

    from ontology_mapper_spark.sources.ontology import (
        fixture_ontology_rows,
    )

    rng = random.Random(20260822)
    cfg = MappingConfig(max_mappings=2)
    pages = synthesize_pages(spark, 60).cache()

    def copy_rows(rows):
        return [
            dict(r, labels=list(r["labels"]), synonyms=list(r["synonyms"]))
            for r in rows
        ]

    cur_rows = copy_rows(fixture_ontology_rows())
    v = onto_terms_from_rows(spark, cur_rows).cache()
    src_idf = source_idf_map(detect_mentions(pages), cfg.ngram_length)
    # label-side model frozen at the FIRST snapshot for the whole walk
    # (the real-world direction: the model predates every release)
    tgt_idf = target_idf_map(_labels(cfg, v), cfg.ngram_length)
    prev = construct_kg(
        pages, v, cfg,
        tfidf_source_idf=src_idf,
        tfidf_index=build_pipeline_index(v, cfg, target_idf=tgt_idf),
    ).cache()
    vocab = [
        "random walk", "colon disease", "gamma ray", "carbon monoxide",
        "blood pressure", "table scan",
    ]
    uid = 0
    for step in range(3):
        nxt = copy_rows(cur_rows)
        for _ in range(rng.randint(1, 3)):
            op = rng.choice(
                ["add_term", "remove_term", "change_label", "add_syn",
                 "remove_syn"]
            )
            uid += 1
            if op == "add_term":
                nxt.append({
                    "iri": f"http://example.org/walk/W_{uid}",
                    "labels": [f"{rng.choice(vocab)} walk {uid}"],
                    "synonyms": [], "definitions": [], "parents": {},
                    "children": {}, "instances": {}, "restrictions": {},
                    "deprecated": False, "term_type": "class",
                })
            elif op == "remove_term" and len(nxt) > 5:
                nxt.pop(rng.randrange(len(nxt)))
            elif op == "change_label":
                r = nxt[rng.randrange(len(nxt))]
                if r["labels"]:
                    r["labels"] = [r["labels"][0] + f" v{uid}"] + r[
                        "labels"
                    ][1:]
            elif op == "add_syn":
                r = nxt[rng.randrange(len(nxt))]
                r["synonyms"] = r["synonyms"] + [
                    f"{rng.choice(vocab)} syn {uid}"
                ]
            elif op == "remove_syn":
                cands = [r for r in nxt if r["synonyms"]]
                if cands:
                    r = cands[rng.randrange(len(cands))]
                    r["synonyms"] = r["synonyms"][1:]
        v2 = onto_terms_from_rows(spark, nxt).cache()
        out = incremental_kg_ontology(
            pages, prev, v, v2, cfg,
            tfidf_source_idf=src_idf, tfidf_target_idf=tgt_idf,
            rebuild_below_labels=None,
        ).cache()
        full = construct_kg(
            pages, v2, cfg,
            tfidf_source_idf=src_idf,
            tfidf_index=build_pipeline_index(v2, cfg, target_idf=tgt_idf),
        )
        assert _key(out) == _key(full), f"diverged at step {step}"
        prev, v, cur_rows = out, v2, nxt
