"""TF-IDF context-cosine linking (anchor-prior x context-cosine of the
north star; cosine semantics per TopicVector.scala:47-84)."""

import math

import pandas as pd

from careers_spark import schema as S
from careers_spark.operators import linking as L


def _fixture(spark):
    transcripts = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c1", "c2"],
                "turn_idx": pd.array([0, 0], dtype="int32"),
                "role": ["user", "user"],
                "text": [
                    "rice served with beans for dinner",  # food words
                    "rice worked with president george w bush",  # politics words
                ],
                "tool": ["", ""],
                "ts": pd.to_datetime([1700000000, 1700000060], unit="s"),
            }
        ),
        schema=S.TRANSCRIPTS,
    )
    cands = spark.createDataFrame(
        pd.DataFrame(
            [
                ("c1", 0, 0, 0, "rice", "Main:Rice", 0.7),
                ("c1", 0, 0, 0, "rice", "Main:Condoleezza Rice", 0.3),
                ("c2", 0, 0, 0, "rice", "Main:Rice", 0.7),
                ("c2", 0, 0, 0, "rice", "Main:Condoleezza Rice", 0.3),
            ],
            columns=["conv_id", "turn_idx", "start", "end", "surface", "topic", "prior"],
        )
    )
    top_ctx = spark.createDataFrame(
        pd.DataFrame(
            [
                ("Main:Rice", "Category:Beans and dinner food", 0.9, 0.9),
                ("Main:Condoleezza Rice", "Main:George W. Bush", 0.9, 0.9),
                ("Main:Condoleezza Rice", "Category:President", 0.5, 0.5),
            ],
            columns=["topic", "context", "weight1", "weight2"],
        )
    )
    wdf = spark.createDataFrame(
        pd.DataFrame({"word": ["beans", "dinner", "george", "bush", "president"],
                      "doc_freq": [5, 5, 5, 5, 5]})
    )
    return transcripts, cands, top_ctx, wdf


def test_ctx_cos_separates_senses(spark):
    transcripts, cands, top_ctx, wdf = _fixture(spark)
    out = L.tfidf_context_scores(cands, transcripts, L.context_terms(top_ctx), wdf, n_docs=100)
    got = {(r.conv_id, r.topic): (r.ctx_cos, r.score) for r in out.collect()}
    # food turn: the grain overlaps (beans, dinner); Condi does not
    assert got[("c1", "Main:Rice")][0] > 0
    assert got[("c1", "Main:Condoleezza Rice")][0] == 0.0
    # politics turn: Condi overlaps (george, w, bush, president); grain does not
    assert got[("c2", "Main:Condoleezza Rice")][0] > 0
    assert got[("c2", "Main:Rice")][0] == 0.0
    # the boost flips the politics turn despite the 0.7 vs 0.3 prior?
    # cosine is bounded by 1 so score <= 2*prior; here it narrows the gap
    s_condi = got[("c2", "Main:Condoleezza Rice")][1]
    s_grain = got[("c2", "Main:Rice")][1]
    assert s_condi > 0.3 and s_grain == 0.7


def test_no_overlap_is_prior_identity(spark):
    """With zero term overlap the score must equal the prior exactly —
    the guarantee that lets corpora without context-name words enable
    this stage as a no-op."""
    transcripts, cands, top_ctx, wdf = _fixture(spark)
    t2 = transcripts.withColumn("text", transcripts.text.substr(0, 0))  # empty
    out = L.tfidf_context_scores(cands, t2, L.context_terms(top_ctx), wdf, n_docs=100)
    for r in out.collect():
        assert r.ctx_cos == 0.0
        assert r.score == r.prior


def test_cos_bounds(spark):
    transcripts, cands, top_ctx, wdf = _fixture(spark)
    out = L.tfidf_context_scores(cands, transcripts, L.context_terms(top_ctx), wdf, n_docs=100)
    for r in out.collect():
        assert 0.0 <= r.ctx_cos <= 1.0 + 1e-9


def test_ctx_cos_hand_golden(spark):
    """Exact ctx_cos for the fixture, computed by hand.

    Context names tokenize to
      Main:Rice             : category beans and dinner food      (w1 0.9)
      Main:Condoleezza Rice : main george w bush (0.9), category president (0.5)
    idf = ln(101/6) =: L for the five words of word_doc_freq, 1.0 for
    every other term; tw = sum of weight1 * idf per (topic, term).
    Turns keep only terms of some topic vector:
      c1: beans dinner             |turn| = sqrt(2) L
      c2: president george w bush  |turn| = sqrt(3 L^2 + 1)
    """
    transcripts, cands, top_ctx, wdf = _fixture(spark)
    ct = L.context_terms(top_ctx)
    assert sorted((r.topic, r.term, r.weight1) for r in ct.collect()) == sorted(
        [("Main:Rice", t, 0.9) for t in ("category", "beans", "and", "dinner", "food")]
        + [("Main:Condoleezza Rice", t, 0.9) for t in ("main", "george", "w", "bush")]
        + [("Main:Condoleezza Rice", t, 0.5) for t in ("category", "president")]
    )
    out = L.tfidf_context_scores(cands, transcripts, ct, wdf, n_docs=100)
    got = {(r.conv_id, r.topic): (r.ctx_cos, r.score) for r in out.collect()}

    lg = math.log(101 / 6)
    rice_norm = math.sqrt(3 * 0.9**2 + 2 * (0.9 * lg) ** 2)
    condi_norm = math.sqrt(
        2 * 0.9**2 + 2 * (0.9 * lg) ** 2 + 0.5**2 + (0.5 * lg) ** 2
    )
    c1_norm = math.sqrt(2) * lg
    c2_norm = math.sqrt(3 * lg**2 + 1)
    want = {
        # beans + dinner: 2 * (0.9 L) * L
        ("c1", "Main:Rice"): 2 * 0.9 * lg**2 / (rice_norm * c1_norm),
        ("c1", "Main:Condoleezza Rice"): 0.0,
        ("c2", "Main:Rice"): 0.0,
        # george + bush: 0.9 L * L each; w: 0.9 * 1; president: 0.5 L * L
        ("c2", "Main:Condoleezza Rice"): (2 * 0.9 * lg**2 + 0.9 + 0.5 * lg**2)
        / (condi_norm * c2_norm),
    }
    prior = {"Main:Rice": 0.7, "Main:Condoleezza Rice": 0.3}
    assert set(got) == set(want)
    for key, cos in want.items():
        assert math.isclose(got[key][0], cos, rel_tol=1e-12, abs_tol=1e-15), key
        assert math.isclose(
            got[key][1], prior[key[1]] * (1 + cos), rel_tol=1e-12
        ), key
    # pin the magnitudes too, so a wrong formula above cannot hide
    assert math.isclose(want[("c1", "Main:Rice")], 0.9174, abs_tol=1e-4)
    assert math.isclose(want[("c2", "Main:Condoleezza Rice")], 0.9408, abs_tol=1e-4)
