"""Candidate entity linking: mentions x broadcast dictionary.

The reference probes in-RAM binary arrays per phrase hit
(Disambiguator.scala:309-388 — getPhraseTopics / getPhraseCount /
linkWeight lowerBound probes). Spark-first, those probes are broadcast
hash joins that Catalyst keeps entirely JVM-side:

    mentions ⋈ broadcast(surface_forms+priors)      (J1/J6/J8)
    candidates ⋈ broadcast(topic context vectors)    (J2)

The anchor prior (count/phrase_count, Disambiguator.scala:433-438) is
precomputed in operators.dictionary.surface_priors; candidates with
relative weight below MIN_TOPIC_REL_WEIGHT are dropped
(AmbiguityForest.scala:94-95).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from careers_spark.functions.text import tokenize_udf

MIN_TOPIC_REL_WEIGHT = 1e-5  # reference: AmbiguityForest.scala:94-95


def attach_candidates(mentions: DataFrame, surface_forms: DataFrame) -> DataFrame:
    """mentions -> candidate rows with anchor prior (one row per
    (mention, candidate topic))."""
    dim = surface_forms.select("surface", "topic", "prior")
    return mentions.join(F.broadcast(dim), "surface").filter(
        F.col("prior") >= MIN_TOPIC_REL_WEIGHT
    )


def attach_candidates_coded(
    mentions: DataFrame,
    surface_forms: DataFrame,
    surface_dim: DataFrame,
    topic_dim: DataFrame,
) -> DataFrame:
    """attach_candidates with dictionary-CODED output: (conv_id,
    turn_idx, start, end, surf_id, topic_id, prior). Surface strings
    leave the plan at the map-side broadcast join, so every downstream
    corpus-phase shuffle (TF-IDF aggregations, the resolve cogroup) and
    checkpoint carries small ints instead of repeated dictionary
    strings — at 100 TB the string keys are pure memory-bandwidth tax
    on every exchange. surface_dim/topic_dim: (surf_id, surface) /
    (topic_id, topic) with lexicographic ids (coherence.build_id_dims)."""
    dim = (
        surface_forms.select("surface", "topic", "prior")
        .join(surface_dim, "surface")
        .join(topic_dim, "topic")
        .select("surface", "surf_id", "topic_id", "prior")
    )
    return (
        mentions.join(F.broadcast(dim), "surface")
        .filter(F.col("prior") >= MIN_TOPIC_REL_WEIGHT)
        .drop("surface")
    )


def context_terms(top_ctx: DataFrame) -> DataFrame:
    """Tokenize topic context NAMES into (topic, term, weight1) rows —
    the corpus-independent half of the topic term vectors, built once
    in the dictionary phase (KGPipeline stage `dict_context_terms`) so
    no corpus pass runs the python tokenizer over dictionary strings.
    A term shared by two contexts of one topic yields two rows;
    tfidf_context_scores sums them.

    The explicit repartition matters: top_ctx often reads back from a
    small checkpoint parquet (one input split), and without it the
    explode fan-out + python tokenizer of millions of context names
    runs in ONE task — a serial chunk no executor count can shrink."""
    sc = top_ctx.sparkSession.sparkContext
    return (
        top_ctx.select("topic", "context", "weight1")
        .repartition(2 * sc.defaultParallelism)
        .select(
            "topic",
            F.explode(F.array_distinct(tokenize_udf(F.col("context")))).alias("term"),
            "weight1",
        )
    )


def tfidf_context_scores(
    candidates: DataFrame,
    transcripts: DataFrame,
    ctx_terms: DataFrame,
    word_doc_freq: DataFrame,
    n_docs: int,
    turn_terms: DataFrame | None = None,
    topic_col: str = "topic",
) -> DataFrame:
    """Anchor-prior x TF-IDF context-cosine candidate scoring.

    The reference scores document-topic affinity with TF-IDF cosines
    over context words (TopicVector.scala:47-84 cosine; word document
    frequencies from WordInTopicCount feed the idf). Re-expressed as
    joins:

      topic term vectors : tokenized context names (ctx_terms), term
                           weight = sum of weight1 * idf(term)
                                                         (broadcast dim)
      turn term vectors  : turn tokens restricted to terms that occur in
                           ANY topic vector (broadcast semi-join BEFORE
                           the explode shuffle — the term dimension is
                           dictionary-sized, so the fact-side work stays
                           proportional to matching tokens only)
      ctx_cos            : dot / (|topic| * |turn|) per (mention, topic)

    Returns candidates + `ctx_cos` (0.0 when nothing overlaps) and
    `score` = prior * (1 + ctx_cos): with no term overlap the score
    reduces to the anchor prior exactly, so enabling this on corpora
    whose context names never appear in text is a no-op.

    ctx_terms: (topic_col, term, weight1) rows from context_terms().

    turn_terms: optional precomputed (conv_id, turn_idx, term) table,
    distinct per turn — lets the pipeline tokenize the corpus ONCE and
    share the pass with word_doc_freq instead of re-tokenizing here.

    topic_col: name of the topic-key column shared by `candidates` and
    `ctx_terms` — "topic" (strings) or a dictionary-coded "topic_id"
    (ints; the pipeline's 100 TB posture, keeping strings off every
    shuffle of this stage).

    candidates must be unique on their full column set (true of
    attach_candidates output: distinct mention spans x a (surface,
    topic)-unique dictionary) — scoring groups by those columns.

    Shuffle-volume note: the dot-product join only ever matches terms
    that occur in the corpus, so topic term vectors are pre-shrunk to
    the corpus vocabulary (a semi-join) BEFORE the candidate explode;
    norms are computed on the FULL vectors first, so results are exact.
    """
    idf = word_doc_freq.select(
        "word", F.log(F.lit(float(n_docs + 1)) / (F.col("doc_freq") + 1)).alias("idf")
    )

    # topic term vectors are consumed four times below (vocabulary
    # broadcast, norms, active shrink, dot join) — materialize once
    # (dim-sized: topics x tokenized top-30 context names)
    topic_terms = (
        ctx_terms.select(topic_col, "term", "weight1")
        .join(idf.withColumnRenamed("word", "term"), "term", "left")
        .na.fill({"idf": 1.0})
        .groupBy(topic_col, "term")
        .agg(F.sum(F.col("weight1") * F.col("idf")).alias("tw"))
        .localCheckpoint(eager=True)
    )
    # norms over the FULL vectors (before any vocabulary shrink)
    topic_norm = topic_terms.groupBy(topic_col).agg(
        F.sqrt(F.sum(F.col("tw") * F.col("tw"))).alias("tnorm")
    )

    if turn_terms is None:
        turn_terms = transcripts.select(
            "conv_id",
            "turn_idx",
            F.explode(F.array_distinct(tokenize_udf(F.col("text")))).alias("term"),
        )
    turn_terms = (
        turn_terms
        .join(F.broadcast(topic_terms.select("term").distinct()), "term", "left_semi")
        .join(F.broadcast(idf.withColumnRenamed("word", "term")), "term", "left")
        .na.fill({"idf": 1.0})
    )
    turn_norm = turn_terms.groupBy("conv_id", "turn_idx").agg(
        F.sqrt(F.sum(F.col("idf") * F.col("idf"))).alias("dnorm")
    )

    # only terms present in the (already topic-term-restricted) corpus
    # side can contribute to a dot product — shrink the explode side.
    # tnorm rides the broadcast dim so dot AND norm come out of ONE
    # aggregation keyed by the candidate identity: zero-contribution
    # candidate rows are unioned in (contrib 0, tnorm null), which
    # replaces the r2 shape's 6-key sort-merge re-join of `dots` back
    # onto candidates with a map-side-combining groupBy.
    active_terms = topic_terms.join(
        F.broadcast(turn_terms.select("term").distinct()), "term", "left_semi"
    ).join(topic_norm, topic_col)

    keys = candidates.columns  # identity + carried cols (incl. prior)
    exploded = (
        candidates.join(F.broadcast(active_terms), topic_col)
        .join(turn_terms.withColumnRenamed("idf", "t_idf"),
              ["conv_id", "turn_idx", "term"])
        .select(
            *keys,
            (F.col("tw") * F.col("t_idf")).alias("contrib"),
            "tnorm",
        )
    )
    zeros = candidates.select(
        *keys,
        F.lit(0.0).alias("contrib"),
        F.lit(None).cast("double").alias("tnorm"),
    )
    agg = (
        exploded.unionByName(zeros)
        .groupBy(*keys)
        .agg(F.sum("contrib").alias("dot"), F.max("tnorm").alias("tnorm"))
    )

    out = (
        agg.join(turn_norm, ["conv_id", "turn_idx"], "left")
        .withColumn(
            "ctx_cos",
            F.coalesce(
                F.col("dot") / (F.col("tnorm") * F.col("dnorm")), F.lit(0.0)
            ),
        )
        .withColumn("score", F.col("prior") * (1 + F.col("ctx_cos")))
        .drop("dot", "tnorm", "dnorm")
    )
    return out


def attach_context_vectors(candidates: DataFrame, context_vectors: DataFrame) -> DataFrame:
    """Attach the per-topic top-K context vector (broadcast dim join);
    topics with no known contexts get empty arrays."""
    out = candidates.join(F.broadcast(context_vectors), "topic", "left")
    return out.withColumn(
        "ctx_ids", F.coalesce(F.col("ctx_ids"), F.array().cast("array<string>"))
    ).withColumn(
        "ctx_ws", F.coalesce(F.col("ctx_ws"), F.array().cast("array<double>"))
    )
