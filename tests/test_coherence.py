"""Coherence-resolution goldens — the transcript re-plant of the
reference's shortPhrases.xml end-to-end corpus (e.g. "rice cheney
george bush rumsfeld republican" -> Condoleezza Rice; harness
testDisambiguator.scala:483-542) plus segmentation-alternative goldens
(testDisambiguator.scala:565-630)."""

import pandas as pd
import pytest

from careers_spark import schema as S
from careers_spark import synth
from careers_spark.operators import coherence as CO
from careers_spark.operators import dictionary as D
from careers_spark.operators import linking as L
from careers_spark.operators import mentions as M


def _run_resolution(spark, texts: list[str]):
    """Run dictionary -> mentions -> linking -> coherence on one
    conversation built from the core (hand-written) KB entities."""
    kb = synth.build_kb(n_domains=0)
    transcripts = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c1"] * len(texts),
                "turn_idx": pd.array(range(len(texts)), dtype="int32"),
                "role": ["user"] * len(texts),
                "text": texts,
                "tool": [""] * len(texts),
                "ts": pd.to_datetime([i * 60 for i in range(len(texts))], unit="s"),
            }
        ),
        schema=S.TRANSCRIPTS,
    )
    raw = synth.kb_tables(spark, kb)
    resolved_r = D.resolve_redirects(raw["redirects"])
    sf = D.surface_priors(D.build_surface_forms(raw["surface_forms_raw"], resolved_r))
    ctx_vecs = D.topic_context_vectors(D.top_contexts(D.link_weights(raw["topic_contexts"])))
    ac = M.build_automaton(sf)
    mentions = M.detect_mentions(spark, transcripts, ac)
    cands = L.attach_candidates(mentions, sf)
    out = CO.resolve(cands, transcripts, ctx_vecs)
    links = {
        (r.turn_idx, r.start, r.end): r.topic for r in CO.links_of(out).collect()
    }
    return links


def test_coherence_beats_prior(spark):
    """'rice' alone -> the grain (prior 300 vs 80); with cheney+bush
    context -> Condoleezza Rice."""
    links = _run_resolution(spark, ["i had rice for lunch"])
    assert links[(0, 2, 2)] == "Main:Rice"

    links = _run_resolution(
        spark, ["rice met with cheney and george w bush yesterday"]
    )
    assert links[(0, 0, 0)] == "Main:Condoleezza Rice"
    assert links[(0, 3, 3)] == "Main:Dick Cheney"
    assert links[(0, 5, 7)] == "Main:George W. Bush"


def test_bush_plant_vs_politician(spark):
    links = _run_resolution(spark, ["the bush grew in the garden"])
    assert links[(0, 1, 1)] == "Main:Bush"
    links = _run_resolution(spark, ["bush spoke with rumsfeld and cheney"])
    assert links[(0, 0, 0)] == "Main:George W. Bush"


def test_overlap_site_prefers_longest(spark):
    """'university of cambridge' contains 'cambridge' — the full span
    must win the site (coverage tiebreak; longest-match ordering of
    Disambiguator.scala:550-560)."""
    links = _run_resolution(spark, ["she studied at university of cambridge"])
    assert links == {(0, 3, 5): "Main:University of Cambridge"}


def test_cross_turn_coherence(spark):
    """Context mentions in earlier turns disambiguate later turns —
    the coherence window is the conversation."""
    links = _run_resolution(
        spark,
        ["cheney and rumsfeld are republicans", "what about rice"],
    )
    assert links[(1, 2, 2)] == "Main:Condoleezza Rice"


def test_alternatives_enumeration():
    """Segmentation alternatives golden (testDisambiguator.scala:565-630
    'barack hussein obama' style)."""
    spans = [(0, 1, 3), (0, 1, 1), (0, 2, 3), (0, 3, 3), (0, 2, 2)]
    site = list(range(5))
    alts = CO._alternatives(site, spans)
    assert [0] in alts  # the full span
    assert [1, 2] in alts  # "barack" + "hussein obama"
    assert [1, 4, 3] in alts  # three singles
    # every alternative is non-overlapping
    for a in alts:
        ordered = sorted(a, key=lambda i: spans[i][1])
        for x, y in zip(ordered, ordered[1:]):
            assert spans[y][1] > spans[x][2]


def test_sites_grouping():
    spans = [(0, 0, 1), (0, 1, 2), (0, 5, 6), (1, 0, 0)]
    sites = CO._build_sites(spans)
    assert sorted(map(sorted, sites)) == [[0, 1], [2], [3]]


def test_triple_extraction_gap_patterns(spark):
    kb = synth.build_kb(n_domains=4)
    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, 4), schema=S.TRANSCRIPTS
    )
    raw = synth.kb_tables(spark, kb)
    resolved_r = D.resolve_redirects(raw["redirects"])
    sf = D.surface_priors(D.build_surface_forms(raw["surface_forms_raw"], resolved_r))
    ctx_vecs = D.topic_context_vectors(
        D.top_contexts(D.link_weights(raw["topic_contexts"]))
    )
    ac = M.build_automaton(sf)
    mentions = M.detect_mentions(spark, transcripts, ac)
    cands = L.attach_candidates(mentions, sf)
    out = CO.resolve(cands, transcripts, ctx_vecs)
    triples = CO.triples_of(out)
    preds = {r.pred for r in triples.collect()}
    assert preds <= {"works_at", "located_in", "studied_at", "founded", "uses", "acquired"}
    assert "works_at" in preds


def test_dense_path_through_spark_stage(spark):
    """The >=192-row dense sim-matrix path through the FULL cogrouped
    applyInPandas stage (not just the pure-python helper): a synthetic
    conversation with ~100 ambiguous mentions (2 candidates each, >=
    the dense threshold) must resolve identically whether the dense
    path is allowed (threshold 0) or suppressed (threshold huge)."""
    import careers_spark.operators.coherence as comod

    n_m = 100
    rows = []
    for m in range(n_m):
        t, s = divmod(m, 10)
        for topic, pr in (("Main:TA", 0.6), ("Main:TB", 0.4)):
            rows.append(("c1", t, 3 * s, 3 * s, f"s{m}", topic, pr))
    cands = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["conv_id", "turn_idx", "start", "end",
                     "surface", "topic", "prior"],
        )
    )
    transcripts = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c1"] * 10,
                "turn_idx": pd.array(range(10), dtype="int32"),
                "role": ["user"] * 10,
                "text": ["x " * 40] * 10,
                "tool": [""] * 10,
                "ts": pd.to_datetime([i * 60 for i in range(10)], unit="s"),
            }
        ),
        schema=S.TRANSCRIPTS,
    )
    ctx = {"Main:TA": {"cx": 1.0}, "Main:TB": {"cx": 0.4, "cy": 0.6}}

    def run(dense_min_rows):
        # the threshold rides the UDF closure (resolve's dense_min_rows
        # param), so it reaches the python WORKER processes — a module
        # monkeypatch would not (workers re-import the module)
        out = CO.resolve(cands, transcripts, ctx, dense_min_rows=dense_min_rows)
        return sorted(
            (r.turn_idx, r.start, r.topic, round(r.score, 9))
            for r in CO.links_of(out).collect()
        )

    dense = run(1)
    scalar = run(10**9)
    assert len(dense) == n_m
    assert dense == scalar
    # every per-peer contribution ties exactly (0.6*0.4*0.4 ==
    # 0.4*0.4*0.6), so each elimination is decided by the tie-break and
    # its down-weighting flips later mentions — a 100-step cascade both
    # paths must walk identically; the mixed winner set shows the
    # cascade genuinely propagated rather than one topic sweeping
    assert {t for (_, _, t, _) in dense} == {"Main:TA", "Main:TB"}


def test_resolve_keeps_default_parallelism(spark):
    """A resolve input far below AQE's 1 MB minimum partition size still
    runs on defaultParallelism partitions — AQE must not coalesce the
    cogroup shuffle into one python task."""
    rows = [
        (f"c{c}", 0, 0, 0, "rice", topic, pr)
        for c in range(40)
        for topic, pr in (("Main:Rice", 0.7), ("Main:Condoleezza Rice", 0.3))
    ]
    cands = spark.createDataFrame(
        pd.DataFrame(
            rows,
            columns=["conv_id", "turn_idx", "start", "end",
                     "surface", "topic", "prior"],
        )
    )
    transcripts = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": [f"c{c}" for c in range(40)],
                "turn_idx": pd.array([0] * 40, dtype="int32"),
                "role": ["user"] * 40,
                "text": ["rice"] * 40,
                "tool": [""] * 40,
                "ts": pd.to_datetime([c * 60 for c in range(40)], unit="s"),
            }
        ),
        schema=S.TRANSCRIPTS,
    )
    ctx = {"Main:Rice": {"cx": 1.0}, "Main:Condoleezza Rice": {"cy": 1.0}}
    out = CO.resolve(cands, transcripts, ctx)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert CO.links_of(out).count() == 40
