"""Per-layer metrics of a traced run, from its spans and the event log.

Which spans feed which layer:
  batch layers (plans.pipeline and the operators it stages)
      the traced run_corpus pass on short_convs and long_convs; they
      read 0 on incremental_polls, whose sink stages nothing
  operators.dictionary / operators.model
      the run_dictionary and KGModel.build spans of set-up
  streaming.ingest with operators.digests
      the stores after the first timed poll and the sink spans of the
      timed polls (0 on the batch workloads, which never call the sink)
  spark.sched_delay_s / run.cpu_s
      the timed operations: corpus passes or sink calls
  spark.gc_s / spark.spill_mb
      every traced span of the run, set-up included

Task CPU (`*.task_cpu_s`) is executor (JVM) CPU from the event log;
python worker CPU is not in it, and is in `run.cpu_s`, which is the
whole process tree's user+sys.
"""

from __future__ import annotations

import pickle
import statistics

from perfbench.tracing import GroupStats, span_stats

# (name, unit); the order is the print order
METRICS = [
    ("pipeline.transcripts_s", "s"),
    ("pipeline.unstaged_s", "s"),
    ("pipeline.jobs", "count"),
    ("pipeline.write_mb", "MB"),
    ("mentions.wall_s", "s"),
    ("mentions.rows", "count"),
    ("mentions.task_cpu_s", "s"),
    ("mentions.per_turn", "ratio"),
    ("linking.turn_terms_s", "s"),
    ("linking.word_doc_freq_s", "s"),
    ("linking.candidates_s", "s"),
    ("linking.candidates.rows", "count"),
    ("linking.cands_per_mention", "ratio"),
    ("linking.shuffle_mb", "MB"),
    ("coherence.resolve_s", "s"),
    ("coherence.resolve.rows", "count"),
    ("coherence.keep_ratio", "ratio"),
    ("coherence.task_cpu_s", "s"),
    ("coherence.task_skew", "ratio"),
    ("coherence.shuffle_mb", "MB"),
    ("canonicalize.triples_s", "s"),
    ("canonicalize.triples.rows", "count"),
    ("graph.nodes_s", "s"),
    ("graph.nodes.rows", "count"),
    ("graph.edges_s", "s"),
    ("graph.edges.rows", "count"),
    ("dictionary.build_s", "s"),
    ("dictionary.jobs", "count"),
    ("model.build_s", "s"),
    ("model.pickle_mb", "MB"),
    ("ingest.gate_ratio", "ratio"),
    ("ingest.resolved.rows", "count"),
    ("ingest.matches.rows", "count"),
    ("ingest.jobs_per_poll", "count"),
    ("ingest.task_cpu_s_per_poll", "s"),
    ("spark.gc_s", "s"),
    ("spark.spill_mb", "MB"),
    ("spark.sched_delay_s", "s"),
    ("run.cpu_s", "s"),
    ("trace.traced_op_s", "s"),
    ("trace.untraced_op_s", "s"),
    ("trace.overhead_s", "s"),
]


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def compute(wl, result, tracer, groups: dict[str, GroupStats]) -> dict[str, float]:
    spans = tracer.spans
    by_name = lambda n: [s for s in spans if s.name == n]  # noqa: E731
    stats = lambda s: span_stats(tracer, s, groups)  # noqa: E731
    v: dict[str, float] = {}

    # -- the traced corpus pass ---------------------------------------------
    # the first timed operation; incremental_polls never calls
    # run_corpus, and its batch layers read 0
    first = result.ops[0]
    corpus = first.span if first.span.name == "run_corpus" else None
    stage = {} if corpus is None else {
        s.name.split(":", 1)[1]: s
        for s in tracer.under(corpus) if s.name.startswith("stage:")
    }
    rows = first.rows

    def wall(name):
        return stage[name].wall_s if name in stage else 0.0

    def st(*names) -> GroupStats:
        out = GroupStats()
        for n in names:
            if n in stage:
                out.add(stats(stage[n]))
        return out

    corpus_stats = stats(corpus) if corpus else GroupStats()
    v["pipeline.transcripts_s"] = wall("transcripts")
    v["pipeline.unstaged_s"] = (
        corpus.wall_s - sum(s.wall_s for s in stage.values()) if corpus else 0.0
    )
    v["pipeline.jobs"] = corpus_stats.jobs
    v["pipeline.write_mb"] = corpus_stats.output_mb
    v["mentions.wall_s"] = wall("mentions")
    v["mentions.rows"] = rows.get("mentions", 0)
    v["mentions.task_cpu_s"] = st("mentions").cpu_s
    v["mentions.per_turn"] = _ratio(rows.get("mentions", 0), rows.get("transcripts", 0))
    v["linking.turn_terms_s"] = wall("turn_terms")
    v["linking.word_doc_freq_s"] = wall("word_doc_freq")
    v["linking.candidates_s"] = wall("candidates")
    v["linking.candidates.rows"] = rows.get("candidates", 0)
    v["linking.cands_per_mention"] = _ratio(
        rows.get("candidates", 0), rows.get("mentions", 0)
    )
    v["linking.shuffle_mb"] = st("turn_terms", "word_doc_freq", "candidates").shuffle_write_mb
    resolve = st("resolved")
    v["coherence.resolve_s"] = wall("resolved")
    v["coherence.resolve.rows"] = rows.get("resolved", 0)
    v["coherence.keep_ratio"] = _ratio(rows.get("resolved", 0), rows.get("candidates", 0))
    v["coherence.task_cpu_s"] = resolve.cpu_s
    v["coherence.task_skew"] = resolve.skew()
    v["coherence.shuffle_mb"] = resolve.shuffle_write_mb
    v["canonicalize.triples_s"] = wall("triples")
    v["canonicalize.triples.rows"] = rows.get("triples", 0)
    v["graph.nodes_s"] = wall("nodes")
    v["graph.nodes.rows"] = rows.get("nodes", 0)
    v["graph.edges_s"] = wall("edges")
    v["graph.edges.rows"] = rows.get("edges", 0)

    # -- set-up ---------------------------------------------------------------
    (dict_span,) = by_name("run_dictionary")
    (model_span,) = by_name("model_build")
    v["dictionary.build_s"] = dict_span.wall_s
    v["dictionary.jobs"] = stats(dict_span).jobs
    v["model.build_s"] = model_span.wall_s
    v["model.pickle_mb"] = len(pickle.dumps(wl.model, protocol=pickle.HIGHEST_PROTOCOL)) / 1e6

    # -- ingest ---------------------------------------------------------------
    c = result.counts
    if "processed" in c:
        # epoch 1: the first timed poll, the first with a replay to gate
        v["ingest.gate_ratio"] = _ratio(c["processed"][1], c["delivered"][1])
        v["ingest.resolved.rows"] = c["resolved"][1]
        v["ingest.matches.rows"] = c["matches"][1]
    else:
        v["ingest.gate_ratio"] = v["ingest.resolved.rows"] = v["ingest.matches.rows"] = 0

    # -- the timed operations ---------------------------------------------------
    # every timed operation of a traced run is a span: a pass or a poll
    op_stats = [stats(op.span) for op in result.ops]
    total = GroupStats()
    for s in op_stats:
        total.add(s)
    polls = [s for s, op in zip(op_stats, result.ops) if op.span.name == "sink"]
    v["ingest.jobs_per_poll"] = statistics.median(s.jobs for s in polls) if polls else 0
    v["ingest.task_cpu_s_per_poll"] = (
        statistics.median(s.cpu_s for s in polls) if polls else 0.0
    )
    everything = GroupStats()
    for g in groups.values():
        everything.add(g)
    # GC over the whole run: at these sizes a single pass may see none
    v["spark.gc_s"] = everything.gc_s
    v["spark.spill_mb"] = everything.spill_mb
    v["spark.sched_delay_s"] = total.sched_delay_s
    v["run.cpu_s"] = sum(op.cpu_s for op in result.ops)
    traced = statistics.median(op.wall_s for op in result.ops)
    v["trace.traced_op_s"] = traced
    v["trace.untraced_op_s"] = result.overhead_op.wall_s
    v["trace.overhead_s"] = traced - result.overhead_op.wall_s
    return v
