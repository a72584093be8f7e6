"""Flagship compositions used by __spark_entry__: the full KG pipeline
run in-memory (no checkpoint dir) over (a) the deterministic synth
corpus and (b) transcripts derived from the driver's documents table
with a corpus-derived dictionary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from careers_spark import schema as S
from careers_spark import synth
from careers_spark.operators import canonicalize as CZ
from careers_spark.operators import coherence as CO
from careers_spark.operators import dictionary as D
from careers_spark.operators import graph as G
from careers_spark.operators import linking as L
from careers_spark.operators import mentions as M

SYNTH_CONVS = 30
SYNTH_DOMAINS = 8


def kg_run_in_memory(
    spark: SparkSession, transcripts: DataFrame, raw: dict[str, DataFrame],
    tfidf: bool = True,
) -> dict[str, DataFrame]:
    """dictionary -> mentions -> linking -> coherence -> canonical triples,
    without stage materialization (for queries()/entry smoke paths).
    Defaults match KGPipeline.run_corpus: TF-IDF context-cosine linking
    scores and the second-order/allowedContext dictionary build."""
    built = D.build_dictionary(raw)
    # r6 (guide §2.4): the in-memory path has no stage parquet like
    # KGPipeline, so every consumer (automaton collect, tfidf chain,
    # sf_pairs collect, resolve, canonical map) re-executed the lazy
    # dictionary DAG. Materialize the four dictionary-sized outputs
    # once — same frames KGPipeline persists as stages.
    resolved_r = built["redirects_resolved"].localCheckpoint(eager=True)
    sf = built["surface_forms"].localCheckpoint(eager=True)
    ctx = built["context_vectors"].localCheckpoint(eager=True)
    link_w = built["link_weights"].localCheckpoint(eager=True)
    ac = M.build_automaton(sf)
    mentions = M.detect_mentions(spark, transcripts, ac)
    cands = L.attach_candidates(mentions, sf)
    if tfidf:
        wdf = D.word_doc_freq(transcripts)
        n_turns = transcripts.count()
        ctx_terms = L.context_terms(D.top_contexts(link_w))
        cands = (
            L.tfidf_context_scores(cands, transcripts, ctx_terms, wdf, n_docs=n_turns)
            .withColumn("prior", F.col("score"))
            .drop("score", "ctx_cos")
        )
    sf_pairs = sf.select("surface", "topic").distinct().collect()
    out = CO.resolve(
        cands, transcripts, ctx, mention_spans=mentions,
        surface_names=sorted({r.surface for r in sf_pairs}),
        topic_names=sorted({r.topic for r in sf_pairs}),
    ).localCheckpoint(eager=False)
    canon = CZ.canonical_mapping(resolved_r, raw["same_as"])
    triples = CZ.apply_canonical(
        CZ.apply_canonical(CO.triples_of(out), canon, "subj"), canon, "obj"
    )
    links = CO.links_of(out)
    return {
        "mentions": mentions,
        "links": links,
        "triples": triples,
        "nodes": G.build_nodes(links, canon),
        "edges": G.build_edges(triples),
    }


# r6 (VERDICT #5): the pinned synth triple set is a CONSTANT of the
# session — seed=42, 30 convs, 8 domains, no dependence on any input
# directory — yet five driver queries (kg_predicate_cardinality,
# kg_contradiction_candidates, kg_type_signatures, kg_rule_confidence,
# kg_split_contribution) each re-ran the full dictionary+mentions+
# resolve pipeline just to reconstruct it (~9-14 s apiece at bench
# scale). Materialize it once per SparkSession (localCheckpoint, fully
# computed inside the first caller's timed region — nothing persists
# across sessions or runs) and let the family share it, exactly like
# the dictionary model artifact is shared. Keyed by SparkSession id;
# one entry, replaced when a new session appears.
_TRIPLES_SYNTH_CACHE: list = []  # [(session_id, DataFrame)]


def kg_triples_synth(spark: SparkSession) -> DataFrame:
    """The pinned-golden synth corpus (seed=42, 30 convs, 8 domains)."""
    key = id(spark)
    if _TRIPLES_SYNTH_CACHE and _TRIPLES_SYNTH_CACHE[0][0] == key:
        return _TRIPLES_SYNTH_CACHE[0][1]
    kb = synth.build_kb(SYNTH_DOMAINS)
    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, SYNTH_CONVS), schema=S.TRANSCRIPTS
    )
    res = kg_run_in_memory(spark, transcripts, synth.kb_tables(spark, kb))
    df = (
        res["triples"]
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .distinct()
        .localCheckpoint(eager=True)
    )
    _TRIPLES_SYNTH_CACHE[:] = [(key, df)]
    return df


# -- corpus-derived KG over the driver's documents table --------------------
TECH_SURFACES = [
    # (surface, topic, count) — single- and multi-word forms present in the
    # driver corpus vocabulary; multi-word forms exercise overlap sites
    ("spark", "Main:Apache Spark", 50),
    ("hash join", "Main:Hash Join", 30),
    ("merge", "Main:Merge", 20),
    ("sort", "Main:Sort", 20),
    ("window", "Main:Window Function", 25),
    ("table", "Main:Table", 40),
    ("query", "Main:Query", 30),
    ("scan", "Main:Table Scan", 20),
    ("filter", "Main:Filter", 20),
    ("stream", "Main:Stream", 20),
    ("vector", "Main:Vector", 15),
    ("batch", "Main:Batch", 15),
    ("join", "Main:Join", 35),
]
TECH_CONTEXTS = [
    ("Main:Apache Spark", "Category:Engines"),
    ("Main:Hash Join", "Category:Operators"),
    ("Main:Join", "Category:Operators"),
    ("Main:Sort", "Category:Operators"),
    ("Main:Merge", "Category:Operators"),
    ("Main:Window Function", "Category:Operators"),
    ("Main:Table Scan", "Category:Operators"),
    ("Main:Filter", "Category:Operators"),
    ("Main:Table", "Category:Storage"),
    ("Main:Query", "Category:Engines"),
    ("Main:Stream", "Category:Engines"),
    ("Main:Vector", "Category:Storage"),
    ("Main:Batch", "Category:Engines"),
]


def documents_as_transcripts(documents: DataFrame) -> DataFrame:
    """Present the documents table in the input_hint transcript shape:
    one conversation per doc, one turn per doc."""
    return documents.select(
        F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit("").alias("tool"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
    )


def corpus_kg_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: KG entity nodes extracted from the driver's documents
    with a hand-seeded tech dictionary (mentions -> links -> nodes)."""
    import pandas as pd

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    transcripts = documents_as_transcripts(docs)
    raw = {
        "surface_forms_raw": spark.createDataFrame(
            pd.DataFrame(TECH_SURFACES, columns=["surface", "topic", "count"]),
            schema=S.SURFACE_FORMS,
        ),
        "topic_contexts": spark.createDataFrame(
            pd.DataFrame(TECH_CONTEXTS, columns=["topic", "context"]),
            schema=S.TOPIC_CONTEXTS,
        ),
        "redirects": spark.createDataFrame([], schema=S.REDIRECTS),
        "same_as": spark.createDataFrame([], schema="a string, b string"),
    }
    res = kg_run_in_memory(spark, transcripts, raw)
    return res["nodes"].orderBy("node_id")
