"""End-to-end gates: triple P/R (the analogue of the 42-case golden
corpus assert), resume, and the per-turn determinism invariant from
BASELINE.json's input_hint."""

import pandas as pd
import pytest

from careers_spark import schema as S
from careers_spark import synth
from careers_spark.plans.pipeline import KGPipeline

N_CONVS = 60
N_DOMAINS = 16


@pytest.fixture(scope="module")
def kb():
    return synth.build_kb(N_DOMAINS)


def test_triple_pr_gate(spark, kb, work_dir):
    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, N_CONVS), schema=S.TRANSCRIPTS
    )
    expected = spark.createDataFrame(synth.gen_expected_triples_pdf(kb, N_CONVS))
    run = KGPipeline(spark, work_dir).run(transcripts, synth.kb_tables(spark, kb))
    got = run.outputs["triples"].select("conv_id", "subj", "pred", "obj").distinct()
    exp = expected.select("conv_id", "subj", "pred", "obj").distinct()
    tp = got.intersect(exp).count()
    fp = got.exceptAll(exp).count()
    fn = exp.exceptAll(got).count()
    precision = tp / max(tp + fp, 1)
    recall = tp / max(tp + fn, 1)
    assert precision >= 0.95, f"precision {precision} (tp={tp} fp={fp})"
    assert recall >= 0.95, f"recall {recall} (tp={tp} fn={fn})"


def test_resume_skips_stages(spark, kb, work_dir):
    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, 10), schema=S.TRANSCRIPTS
    )
    raw = synth.kb_tables(spark, kb)
    r1 = KGPipeline(spark, work_dir).run(transcripts, raw)
    n1 = r1.outputs["triples"].count()
    r2 = KGPipeline(spark, work_dir).run(transcripts, raw)
    assert all(s.resumed for s in r2.stages)
    assert r2.outputs["triples"].count() == n1


def test_lineage_written(spark, kb, work_dir):
    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, 5), schema=S.TRANSCRIPTS
    )
    run = KGPipeline(spark, work_dir).run(transcripts, synth.kb_tables(spark, kb))
    lin = spark.read.parquet(f"{work_dir}/_lineage").filter("stage = 'mentions'")
    total = sum(r.rows_out for r in lin.collect())
    assert total == run.outputs["mentions"].count()


def test_per_turn_determinism_across_parallelism(spark, kb):
    """Per-row invariant from input_hint: per-turn text equality under
    stable (conv_id, turn_idx) ordering, at two parallelism levels."""
    a = synth.gen_transcripts(spark, kb, 40, parallelism=2)
    b = synth.gen_transcripts(spark, kb, 40, parallelism=32)
    joined = a.alias("a").join(b.alias("b"), ["conv_id", "turn_idx"], "full")
    mismatches = joined.filter("a.text IS DISTINCT FROM b.text").count()
    assert mismatches == 0


def test_pipeline_output_determinism(spark, kb, tmp_path):
    """Same corpus, two different shuffle-partition settings -> identical
    triple sets (ordering discipline holds under re-partitioning)."""
    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, 15), schema=S.TRANSCRIPTS
    )
    raw = synth.kb_tables(spark, kb)
    r1 = KGPipeline(spark, str(tmp_path / "w1")).run(transcripts, raw, repartition=2)
    r2 = KGPipeline(spark, str(tmp_path / "w2")).run(transcripts, raw, repartition=17)
    t1 = r1.outputs["triples"].select("conv_id", "turn_idx", "subj", "pred", "obj")
    t2 = r2.outputs["triples"].select("conv_id", "turn_idx", "subj", "pred", "obj")
    assert t1.exceptAll(t2).count() == 0
    assert t2.exceptAll(t1).count() == 0


def test_tfidf_pipeline_preserves_pr(spark, kb, tmp_path):
    """TF-IDF context-cosine enabled end-to-end: the synth corpus has no
    context-name words in turn text, so scores reduce to priors and the
    triple set is unchanged (the identity guarantee), while the stage
    itself exercises the full join path."""
    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, 15), schema=S.TRANSCRIPTS
    )
    raw = synth.kb_tables(spark, kb)
    p1 = KGPipeline(spark, str(tmp_path / "a"))
    r_base = p1.run(transcripts, raw)
    p2 = KGPipeline(spark, str(tmp_path / "b"))
    d = p2.run_dictionary(raw)
    r_tfidf = p2.run_corpus(transcripts, d.outputs, tfidf=True)
    t1 = r_base.outputs["triples"].select("conv_id", "subj", "pred", "obj")
    t2 = r_tfidf.outputs["triples"].select("conv_id", "subj", "pred", "obj")
    assert t1.exceptAll(t2).count() == 0
    assert t2.exceptAll(t1).count() == 0


def test_lineage_checksums(spark, kb, tmp_path):
    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, 5), schema=S.TRANSCRIPTS
    )
    raw = synth.kb_tables(spark, kb)
    KGPipeline(spark, str(tmp_path / "w"), checksums=True).run(transcripts, raw)
    lin = spark.read.parquet(str(tmp_path / "w" / "_lineage"))
    rows = lin.filter("stage = 'mentions'").collect()
    assert rows and all(r.checksum is not None for r in rows)


def test_model_build_heap_guard(spark):
    """Oversized broadcast dims must raise BEFORE the driver collect
    (SURVEY §4 heap-guard row; reference floor-check at
    WordInTopicCount.scala:19-25)."""
    import pandas as pd
    import pytest

    from careers_spark.operators.model import KGModel

    sf = spark.createDataFrame(
        pd.DataFrame({"surface": ["a"], "topic": ["Main:A"], "prior": [1.0]})
    )
    cv = spark.createDataFrame(
        pd.DataFrame(
            {
                "topic": ["Main:A", "Main:B"],
                "ctx_ids": [["x"], ["y"]],
                "ctx_ws": [[0.1], [0.2]],
            }
        )
    )
    old = KGModel.MAX_CONTEXT_TOPICS
    KGModel.MAX_CONTEXT_TOPICS = 1
    try:
        with pytest.raises(MemoryError):
            KGModel.build(sf, cv)
    finally:
        KGModel.MAX_CONTEXT_TOPICS = old


def test_empty_stage_output_records_zero_rows(spark, tmp_path):
    """A legitimately empty stage output (only _SUCCESS, no part files)
    records rows=0 in lineage instead of crashing the pipeline — the
    n_files==0 RuntimeError fires only when the _SUCCESS marker is
    missing too (r4 ADVICE low)."""
    from careers_spark.plans.pipeline import KGPipeline, PipelineRun

    p = KGPipeline(spark, str(tmp_path / "w"))
    run = PipelineRun()
    out = p.stage(run, "empty_stage", lambda: spark.range(1).filter("id < 0"))
    assert out.count() == 0
    assert run.stages[-1].rows == 0
    assert not run.stages[-1].resumed


def test_flush_lineage_starts_no_spark_job(spark, tmp_path):
    p = KGPipeline(spark, str(tmp_path / "w"))
    p._lineage = [("f0.parquet", 3, None, "s0"), ("f1.parquet", 4, 17, "s1")]
    sc = spark.sparkContext
    sc.setJobGroup("flush_lineage_probe", "lineage flush")
    try:
        p._flush_lineage()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("flush_lineage_probe")) == []
    assert p._lineage == []
    lin = spark.read.parquet(str(tmp_path / "w" / "_lineage"))
    assert sorted(tuple(r) for r in lin.collect()) == [
        ("f0.parquet", 3, None, "s0"),
        ("f1.parquet", 4, 17, "s1"),
    ]


def test_lineage_schema(spark, kb, work_dir):
    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, 5), schema=S.TRANSCRIPTS
    )
    KGPipeline(spark, work_dir).run(transcripts, synth.kb_tables(spark, kb))
    lin = spark.read.parquet(f"{work_dir}/_lineage")
    assert lin.schema.simpleString() == (
        "struct<file:string,rows_out:bigint,checksum:bigint,stage:string>"
    )
    assert {"dict_context_terms", "mentions", "edges"} <= {
        r.stage for r in lin.select("stage").distinct().collect()
    }


def test_resume_dictionary_checkpoint_without_context_terms(spark, kb, tmp_path):
    """A dictionary directory checkpointed before `dict_context_terms`
    existed resumes its five stages and computes only the new one; the
    corpus pass over it gives the same triples."""
    import shutil

    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, 10), schema=S.TRANSCRIPTS
    )
    raw = synth.kb_tables(spark, kb)
    dict_dir = str(tmp_path / "dict")
    d1 = KGPipeline(spark, dict_dir).run_dictionary(raw)
    t1 = KGPipeline(spark, str(tmp_path / "c1")).run_corpus(
        transcripts, d1.outputs
    ).outputs["triples"]

    shutil.rmtree(f"{dict_dir}/dict_context_terms")
    d2 = KGPipeline(spark, dict_dir).run_dictionary(raw)
    resumed = {s.name: s.resumed for s in d2.stages}
    assert resumed == {
        "dict_redirects": True,
        "dict_surface_forms": True,
        "dict_link_weights": True,
        "dict_context_vectors": True,
        "dict_context_terms": False,
        "canonical_map": True,
    }
    t2 = KGPipeline(spark, str(tmp_path / "c2")).run_corpus(
        transcripts, d2.outputs
    ).outputs["triples"]
    cols = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    assert t1.count() > 0
    assert t1.select(cols).exceptAll(t2.select(cols)).count() == 0
    assert t2.select(cols).exceptAll(t1.select(cols)).count() == 0


# Spark jobs of one run_corpus pass (model built in the pass, 10 synth
# conversations, local[8])
RUN_CORPUS_MAX_JOBS = 52


def test_run_corpus_job_count_cap(spark, kb, tmp_path):
    """Fixed cost per pass: every Spark job of run_corpus is paid again
    on each pass, whatever the corpus size. The cap is today's count —
    a change that adds jobs to each pass must raise it knowingly."""
    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, 10), schema=S.TRANSCRIPTS
    )
    d = KGPipeline(spark, str(tmp_path / "dict")).run_dictionary(
        synth.kb_tables(spark, kb)
    )
    sc = spark.sparkContext
    sc.setJobGroup("run_corpus_job_cap", "one run_corpus pass")
    try:
        KGPipeline(spark, str(tmp_path / "w")).run_corpus(transcripts, d.outputs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup("run_corpus_job_cap"))
    assert 0 < jobs <= RUN_CORPUS_MAX_JOBS, jobs
