"""The three workloads: seeded inputs from careers_spark.synth, the timed
operations, and the gold check of what they emit.

Every input is a pure function of (workload, size, seed): the KB, the
transcripts and the gold triples all come from careers_spark.synth with
the run's seed, so two runs with one seed see identical inputs.

Operations:
  short_convs, long_convs  one operation = one KGPipeline.run_corpus pass
                           over the whole corpus into a fresh work dir
  incremental_polls        one operation = one call of the sink from
                           streaming.ingest.make_incremental_sink, a
                           closed loop with one client (the next poll is
                           delivered when the previous call returns)
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from careers_spark import schema as S
from careers_spark import synth
from careers_spark.operators.model import KGModel
from careers_spark.plans.pipeline import KGPipeline
from careers_spark.streaming.ingest import make_incremental_sink

from perfbench import host
from perfbench.tracing import TracedPipeline, Tracer

# Sizes. A run has to fit one JVM start, one dictionary build, one
# untimed warm-up operation and the timed operations into about a
# minute on a 4-core host, so that ten seeds per workload, run twice,
# fit in under an hour. The corpora are therefore small and each
# operation is dominated by per-job work; see README.md for the sizing
# record.
SIZES = {
    "short_convs": {
        # n_convs / 50 domains, as in the BASELINE corpus shape
        "full": {"n_convs": 1000, "n_domains": 20},
        "tiny": {"n_convs": 40, "n_domains": 8},
    },
    "long_convs": {
        # four conversations of each length in synth.LONG_TURN_CYCLE
        "full": {"n_convs": 16, "n_domains": 40},
        "tiny": {"n_convs": 4, "n_domains": 8},
    },
    "incremental_polls": {
        # at least min_polls timed polls, so poll_latency_p50_s is a
        # median of two: the first timed poll is the first to gate a
        # replay and runs slower than the next
        "full": {"poll_convs": 40, "replay_convs": 10, "min_polls": 2,
                 "max_polls": 4, "n_domains": 10},
        "tiny": {"poll_convs": 12, "replay_convs": 4, "min_polls": 1,
                 "max_polls": 1, "n_domains": 8},
    },
}


@dataclass
class Op:
    """One timed operation and what its gold check found."""

    wall_s: float
    ok: bool
    tp: int = 0
    fp: int = 0
    fn: int = 0
    convs: int = 0
    cpu_s: float = 0.0
    span: object = None
    rows: dict = field(default_factory=dict)


@dataclass
class Result:
    setup_s: float
    ops: list[Op]
    attempted: int
    failed: int
    counts: dict
    # wall seconds of each phase of the run, for the `phases` line
    phases: dict
    # traced runs: one untimed, untraced operation for the overhead
    overhead_op: Op | None = None


def _conv_index(col: str = "conv_id"):
    """synth conv ids end in the zero-padded conversation index."""
    return F.regexp_extract(F.col(col), r"(\d+)$", 1).cast("long")


@contextlib.contextmanager
def phase(phases: dict, name: str):
    t0 = time.monotonic()
    try:
        yield
    finally:
        phases[name] = time.monotonic() - t0


def _fail(what: str) -> None:
    print(f"[perfbench] {what} failed:", file=sys.stderr)
    traceback.print_exc(file=sys.stderr)


class Workload:
    def __init__(self, spark, name: str, size: str, seed: int, run_dir: str,
                 tracer: Tracer | None):
        self.spark = spark
        self.name = name
        self.params = SIZES[name][size]
        self.seed = seed
        self.run_dir = run_dir
        self.tracer = tracer

    # -- helpers ------------------------------------------------------------
    def pipeline(self, work: str, traced: bool = True) -> KGPipeline:
        path = os.path.join(self.run_dir, work)
        if self.tracer is not None and traced:
            return TracedPipeline(self.spark, path, self.tracer)
        return KGPipeline(self.spark, path)

    def span(self, name: str, traced: bool = True):
        if self.tracer is not None and traced:
            return self.tracer.span(name)
        return contextlib.nullcontext()

    def setup(self) -> None:
        """Session already started by the caller; warm python workers,
        build the dictionary tables and the broadcast model."""
        # one Arrow task per core: forks the python workers and imports
        # pandas/pyarrow in each, as the mentions and resolve UDFs need
        n = self.spark.sparkContext.defaultParallelism
        self.spark.range(n, numPartitions=n).mapInPandas(
            lambda batches: batches, "id long"
        ).collect()
        self.kb = synth.build_kb(self.params["n_domains"], seed=self.seed)
        raw = synth.kb_tables(self.spark, self.kb)
        with self.span("run_dictionary"):
            self.dict_run = self.pipeline("dict").run_dictionary(raw)
        out = self.dict_run.outputs
        with self.span("model_build"):
            self.model = KGModel.build(
                out["dict_surface_forms"], out["dict_context_vectors"]
            )

    def write_input(self, df, name: str, partition_by: str | None = None) -> str:
        path = os.path.join(self.run_dir, "input", name)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(partition_by)
        w.parquet(path)
        return path

    def read_input(self, path: str):
        return self.spark.read.schema(S.TRANSCRIPTS).parquet(path)

    def gold(self, indices) -> set[tuple]:
        """(conv_id, turn_idx, subj, pred, obj) planted by synth for
        these convs: a triple counts only in the turn that states it."""
        canon = self.kb.canonical_map()
        out = set()
        for i in indices:
            if self.name == "long_convs":
                cyc = synth.LONG_TURN_CYCLE
                _, g = synth.gen_long_conv(
                    self.kb.domains, canon, i, self.seed, cyc[i % len(cyc)]
                )
            else:
                _, g = synth.gen_conv(self.kb.domains, canon, i, self.seed)
            out.update(g)
        return out

    def corpus_pass(self, transcripts, work: str, traced: bool = True):
        pipe = self.pipeline(work, traced)
        with self.span("run_corpus", traced) as sp:
            run = pipe.run_corpus(transcripts, self.dict_run.outputs, model=self.model)
        return run, sp


def check(got: set, want: set) -> tuple[int, int, int]:
    tp = len(got & want)
    return tp, len(got - want), len(want - got)


class BatchWorkload(Workload):
    """short_convs / long_convs: run_corpus passes over one corpus."""

    def prepare(self) -> None:
        n = self.params["n_convs"]
        if self.name == "long_convs":
            gen = synth.gen_long_transcripts(self.spark, self.kb, n, seed=self.seed)
        else:
            gen = synth.gen_transcripts(self.spark, self.kb, n, seed=self.seed)
        self.transcripts = self.read_input(self.write_input(gen, "transcripts"))
        self.want = self.gold(range(n))

    def one_pass(self, i: int, traced: bool = True) -> tuple[Op, int]:
        cpu0 = _tree_cpu()
        t0 = time.monotonic()
        try:
            run, sp = self.corpus_pass(self.transcripts, f"corpus{i}", traced)
        except Exception:  # noqa: BLE001 - a failed pass is a counted outcome
            _fail(f"run_corpus pass {i}")
            return Op(time.monotonic() - t0, ok=False), 1
        wall = time.monotonic() - t0
        cpu = _tree_cpu() - cpu0
        got = {
            tuple(r)
            for r in run.outputs["triples"]
            .select("conv_id", "turn_idx", "subj", "pred", "obj").distinct().collect()
        }
        tp, fp, fn = check(got, self.want)
        rows = {s.name: s.rows for s in run.stages}
        op = Op(wall, ok=not (fp or fn), tp=tp, fp=fp, fn=fn,
                convs=self.params["n_convs"], cpu_s=cpu, span=sp, rows=rows)
        return op, len(run.stages)

    def run(self, seconds: float) -> Result:
        phases = {}
        with phase(phases, "setup"):
            self.setup()
        with phase(phases, "prepare"):
            self.prepare()
        # one untimed warm-up pass: the first pass in a fresh JVM pays
        # JIT, codegen and python-worker imports, and its time varies
        # more from run to run than a warm pass does
        with phase(phases, "warmup"):
            self.corpus_pass(self.transcripts, "warmup", traced=False)
        ops, attempted = [], 0
        traced = self.tracer is not None
        with phase(phases, "timed"):
            t_start = time.monotonic()
            while True:
                op, n_stage_calls = self.one_pass(len(ops))
                ops.append(op)
                attempted += n_stage_calls
                if traced or time.monotonic() - t_start >= seconds:
                    break
        with phase(phases, "untraced"):
            overhead = self.one_pass(len(ops), traced=False)[0] if traced else None
        counts = {
            "convs": self.params["n_convs"],
            "gold_triples": len(self.want),
            "stage_rows": ops[0].rows,
        }
        failed = sum(not op.ok for op in ops)
        return Result(phases["setup"], ops, attempted, failed, counts, phases,
                      overhead)


class IncrementalWorkload(Workload):
    """incremental_polls: polls of fresh conversations through the sink.

    Poll 0 is an untimed warm-up that also leaves the stores non-empty;
    polls 1.. are timed. Poll k delivers M fresh conversations plus a
    replay of R conversations of poll k-1 (at-least-once delivery),
    which the sink's freshness gate must drop."""

    def prepare(self) -> None:
        p = self.params
        m = p["poll_convs"]
        # warm-up poll + timed polls + one spare for the untraced poll
        total = (p["max_polls"] + 2) * m
        gen = synth.gen_transcripts(self.spark, self.kb, total, seed=self.seed)
        polled = gen.withColumn("poll", (_conv_index() / m).cast("int"))
        self.input_dir = self.write_input(polled, "polls", partition_by="poll")

    def delivery(self, k: int):
        fresh = self.read_input(os.path.join(self.input_dir, f"poll={k}"))
        if k == 0:
            return fresh
        p = self.params
        prev = self.read_input(os.path.join(self.input_dir, f"poll={k - 1}"))
        first = (k - 1) * p["poll_convs"]
        replay = prev.filter(_conv_index() < first + p["replay_convs"])
        return fresh.unionByName(replay)

    def fresh_indices(self, k: int) -> range:
        m = self.params["poll_convs"]
        return range(k * m, (k + 1) * m)

    def run(self, seconds: float) -> Result:
        phases = {}
        with phase(phases, "setup"):
            self.setup()
        with phase(phases, "prepare"):
            self.prepare()
        p = self.params
        traced = self.tracer is not None
        self.store = os.path.join(self.run_dir, "stores")
        sink = make_incremental_sink(
            self.spark, self.store, self.model.automaton,
            self.dict_run.outputs["dict_surface_forms"],
            self.model.interned or self.model.ctx_map,
        )

        def poll(k: int, traced_poll: bool) -> Op:
            batch = self.delivery(k)
            cpu0 = _tree_cpu()
            t = time.monotonic()
            sp = None
            try:
                with self.span("sink", traced_poll) as sp:
                    sink(batch, k)
                ok = True
            except Exception:  # noqa: BLE001 - a failed poll is a counted outcome
                _fail(f"poll {k}")
                ok = False
            return Op(time.monotonic() - t, ok=ok, convs=p["poll_convs"],
                      cpu_s=_tree_cpu() - cpu0, span=sp)

        with phase(phases, "warmup"):
            warmup = poll(0, False)
        ops = []
        with phase(phases, "timed"):
            t_start = time.monotonic()
            while len(ops) < p["max_polls"]:
                ops.append(poll(len(ops) + 1, True))
                if traced or (len(ops) >= p["min_polls"]
                              and time.monotonic() - t_start >= seconds):
                    break
        with phase(phases, "untraced"):
            overhead = poll(len(ops) + 1, False) if traced else None
        polls = [warmup, *ops] + ([overhead] if overhead else [])
        with phase(phases, "check"):
            self.gold_check_polls(polls)
            counts = self.store_counts()
        # every poll is an operation; only polls 1.. are timed
        failed = sum(not op.ok for op in polls)
        return Result(phases["setup"], ops, len(polls), failed, counts, phases,
                      overhead)

    def gold_check_polls(self, ops: list[Op]) -> None:
        """Each poll's resolved store partition, canonicalized, must hold
        exactly the gold triples of that poll's fresh conversations."""
        canon = {
            r.topic: r.canonical
            for r in self.dict_run.outputs["canonical_map"].collect()
        }
        c = lambda t: canon.get(t, t)  # noqa: E731
        resolved = self.spark.read.parquet(os.path.join(self.store, "resolved"))
        by_epoch: dict[int, set] = {}
        # CO.triples_of, keeping the epoch column it would drop
        triples = resolved.filter("kind = 'triple'").selectExpr(
            "epoch", "conv_id", "turn_idx", "topic as subj", "pred", "obj"
        )
        for r in triples.distinct().collect():
            by_epoch.setdefault(r.epoch, set()).add(
                (r.conv_id, r.turn_idx, c(r.subj), r.pred, c(r.obj))
            )
        for k, op in enumerate(ops):
            tp, fp, fn = check(by_epoch.get(k, set()), self.gold(self.fresh_indices(k)))
            op.tp, op.fp, op.fn = tp, fp, fn
            op.ok = op.ok and not (fp or fn)

    def store_counts(self) -> dict:
        """Rows the warm-up poll (epoch 0) and the first timed poll
        (epoch 1) left in each store: fixed by the seed, unlike the
        number of timed polls, which depends on the host's speed."""
        p = self.params
        out = {"delivered": [p["poll_convs"], p["poll_convs"] + p["replay_convs"]]}
        for store in ("processed", "resolved", "matches", "digests"):
            df = self.spark.read.parquet(os.path.join(self.store, store))
            per = dict(
                df.filter(F.col("epoch") < 2).groupBy("epoch").count().collect()
            )
            out[store] = [per.get(k, 0) for k in range(2)]
        return out


def _tree_cpu() -> float:
    return host.tree_cpu_s(os.getpid())


def make(spark, name, size, seed, run_dir, tracer) -> Workload:
    cls = IncrementalWorkload if name == "incremental_polls" else BatchWorkload
    return cls(spark, name, size, seed, run_dir, tracer)

