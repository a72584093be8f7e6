"""The end-to-end KG-construction pipeline with checkpointed, resumable
stage boundaries and per-partition lineage.

The reference resumes work with max-id cursors in a polling loop
(reference: applications/WebCVProcess.scala:213-298); at 10^12-turn batch
scale the equivalent is *stage checkpointing*: every stage materializes
to a partitioned table, records per-file lineage rows (stage, file,
rows), and drops a `_DONE.json` marker with row counts + wall time. A
re-run with the same work_dir skips completed stages (resume), so an
executor-loss or OOM mid-pipeline costs one stage, not the run.

Locally the tables are parquet; `sources.catalog.Catalog` swaps in
Iceberg (`writeTo(...).append()`) when a runtime jar is on the
classpath — the stage protocol is identical.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow import fs as pa_fs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from careers_spark.functions.text import tokenize_udf
from careers_spark.operators import canonicalize as CZ
from careers_spark.operators import coherence as CO
from careers_spark.operators import dictionary as D
from careers_spark.operators import graph as G
from careers_spark.operators import linking as L
from careers_spark.operators import mentions as M

# one row per stage output file; appended to `<work_dir>/_lineage/`
_LINEAGE_SCHEMA = pa.schema(
    [
        ("file", pa.string()),
        ("rows_out", pa.int64()),
        ("checksum", pa.int64()),
        ("stage", pa.string()),
    ]
)


@dataclass
class StageResult:
    name: str
    rows: int
    wall_s: float
    resumed: bool


@dataclass
class PipelineRun:
    outputs: dict[str, DataFrame] = field(default_factory=dict)
    stages: list[StageResult] = field(default_factory=list)

    def metrics(self) -> dict:
        return {
            s.name: {"rows": s.rows, "wall_s": round(s.wall_s, 3), "resumed": s.resumed}
            for s in self.stages
        }


class KGPipeline:
    def __init__(self, spark: SparkSession, work_dir: str, checksums: bool = False):
        """checksums=True adds an order-insensitive xxhash64 content
        checksum per output file to the lineage rows — resume can then
        verify a checkpoint instead of trusting the _DONE marker. Costs
        one extra hash pass over each stage's output; off by default."""
        self.spark = spark
        self.work_dir = work_dir
        self.checksums = checksums
        self._lineage: list[tuple] = []
        os.makedirs(work_dir, exist_ok=True)

    def _flush_lineage(self) -> None:
        """Append the accumulated lineage rows as one parquet file under
        `_lineage/`, written in-process with pyarrow so a flush starts
        no Spark job (the rows are a handful per stage)."""
        if not self._lineage:
            return
        table = pa.Table.from_pydict(
            dict(zip(_LINEAGE_SCHEMA.names, zip(*self._lineage))),
            schema=_LINEAGE_SCHEMA,
        )
        uri = self.work_dir
        if "://" not in uri and not uri.startswith("file:"):
            uri = os.path.abspath(uri)
        filesystem, root = pa_fs.FileSystem.from_uri(uri)
        out_dir = f"{root.rstrip('/')}/_lineage"
        filesystem.create_dir(out_dir, recursive=True)
        pq.write_table(
            table,
            f"{out_dir}/part-{uuid.uuid4().hex}.parquet",
            filesystem=filesystem,
        )
        self._lineage = []

    # -- stage protocol -----------------------------------------------------
    def _marker(self, name: str) -> str:
        return os.path.join(self.work_dir, name, "_DONE.json")

    def stage(
        self,
        run: PipelineRun,
        name: str,
        compute,
        partition_by: list[str] | None = None,
    ) -> DataFrame:
        out_dir = os.path.join(self.work_dir, name)
        marker = self._marker(name)
        if os.path.exists(marker):
            with open(marker) as f:
                meta = json.load(f)
            reader = self.spark.read
            if meta.get("schema"):
                from pyspark.sql.types import StructType

                reader = reader.schema(StructType.fromJson(json.loads(meta["schema"])))
            df = reader.parquet(out_dir)
            run.stages.append(StageResult(name, meta["rows"], 0.0, resumed=True))
            run.outputs[name] = df
            return df

        t0 = time.monotonic()
        df = compute()
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(out_dir)

        # per-partition lineage: one row per output file (survives as an
        # audit trail next to the data). Row counts come from the parquet
        # FOOTERS (pyarrow metadata read, driver-side, no Spark job) —
        # the r2 read-back job re-scanned every stage's full output just
        # to count rows per file, a pure fixed cost per stage that capped
        # scaling efficiency. Lineage rows accumulate in memory and flush
        # once per run (_flush_lineage). checksums=True is the exception:
        # a content hash genuinely needs a data scan, so only that opt-in
        # path runs the read-back aggregation.
        if self.checksums:
            back_ck = self.spark.read.schema(df.schema).parquet(out_dir)
            # order-insensitive content hash: sum of per-row xxhash64
            # folded into 2^31 space (ANSI mode rejects raw int64 sums)
            lineage_rows = (
                back_ck.groupBy(F.input_file_name().alias("file"))
                .agg(
                    F.count("*").alias("rows_out"),
                    F.sum(
                        F.pmod(F.xxhash64(F.struct(*back_ck.columns)), F.lit(2**31))
                    ).alias("checksum"),
                )
                .collect()
            )
            self._lineage.extend(
                (r.file, r.rows_out, r.checksum, name) for r in lineage_rows
            )
            rows = sum(r.rows_out for r in lineage_rows)
        elif "://" in out_dir and not out_dir.startswith("file:"):
            # ADVICE r4: os.walk assumes a LOCAL path — on a remote URI
            # (hdfs://, s3a://) it would silently record rows=0 and no
            # lineage. Fall back to the Spark read-back count there (one
            # job per stage, the pre-r3 cost, correct on any filesystem).
            back_rc = self.spark.read.schema(df.schema).parquet(out_dir)
            lineage_rows = (
                back_rc.groupBy(F.input_file_name().alias("file"))
                .agg(F.count("*").alias("rows_out"))
                .collect()
            )
            self._lineage.extend(
                (r.file, r.rows_out, None, name) for r in lineage_rows
            )
            rows = sum(r.rows_out for r in lineage_rows)
        else:
            local_dir = out_dir[len("file:"):] if out_dir.startswith("file:") else out_dir
            rows = 0
            n_files = 0
            for root, _dirs, fnames in os.walk(local_dir):
                for fn in sorted(fnames):
                    if not fn.endswith(".parquet"):
                        continue
                    fpath = os.path.join(root, fn)
                    n = pq.ParquetFile(fpath).metadata.num_rows
                    self._lineage.append((fpath, n, None, name))
                    rows += n
                    n_files += 1
            if n_files == 0 and not os.path.exists(
                os.path.join(local_dir, "_SUCCESS")
            ):
                # zero parquet files WITH a _SUCCESS marker is a
                # legitimately empty stage output (an empty DataFrame
                # writes no part files) — record rows=0 like the
                # remote-URI branch does; zero files and NO marker means
                # the path convention broke — fail loudly, never record
                # empty lineage for output that may exist elsewhere
                raise RuntimeError(
                    f"stage {name!r}: no parquet files and no _SUCCESS "
                    f"marker under {local_dir!r} for lineage footer "
                    f"counting"
                )
        wall = time.monotonic() - t0
        with open(marker, "w") as f:
            json.dump(
                {"stage": name, "rows": rows, "wall_s": wall, "schema": df.schema.json()},
                f,
            )
        run.stages.append(StageResult(name, rows, wall, resumed=False))
        # downstream consumers read the MATERIALIZED table (a lazy scan
        # plan — no job runs here), not the stage's compute DAG
        back = self.spark.read.schema(df.schema).parquet(out_dir)
        run.outputs[name] = back
        return back

    # -- the pipeline ---------------------------------------------------------
    # Two phases, mirroring the reference's split between the one-time
    # model build (wikibatch.sh: dump statistics -> binary model) and the
    # per-document processing that consumes it:
    #   run_dictionary : corpus-independent model tables; checkpoint into
    #                    dict_dir so multiple processing runs (and both
    #                    cluster sizes of the scaling bench) share them
    #   run_corpus     : transcripts -> mentions -> ... -> nodes/edges

    def run_dictionary(
        self,
        raw_tables: dict[str, DataFrame],
        run: PipelineRun | None = None,
        second_order: bool = True,
        context_filter: bool = True,
    ) -> PipelineRun:
        """Defaults mirror the reference model build: allowedContext
        filters the raw context table (Disambiguator.scala:43-102) and
        sparse topics inherit second-order contexts at x0.1
        (Disambiguator.scala:469-490; precomputed here, which is the
        reference's own TODO at AmbiguityForest.scala:46-48)."""
        run = run or PipelineRun()
        st = lambda *a, **k: self.stage(run, *a, **k)  # noqa: E731

        redirects = st(
            "dict_redirects", lambda: D.resolve_redirects(raw_tables["redirects"])
        )
        st(
            "dict_surface_forms",
            lambda: D.surface_priors(
                D.build_surface_forms(raw_tables["surface_forms_raw"], redirects)
            ),
        )

        def _link_weights() -> DataFrame:
            tc = raw_tables["topic_contexts"]
            if context_filter:
                tc = D.allowed_context(tc)
            lw = D.link_weights(tc)
            if second_order:
                lw = D.expand_second_order_contexts(lw)
            return lw

        link_w = st("dict_link_weights", _link_weights)
        ctx_vectors = st(
            "dict_context_vectors",
            lambda: D.topic_context_vectors(D.top_contexts(link_w)),
        )
        # top-K contexts come from the MATERIALIZED packed vectors —
        # re-running top_contexts() would repeat the window sort over
        # the full link-weights table
        st(
            "dict_context_terms",
            lambda: L.context_terms(
                ctx_vectors.select(
                    "topic",
                    F.explode(F.arrays_zip("ctx_ids", "ctx_ws")).alias("z"),
                ).select(
                    "topic",
                    F.col("z.ctx_ids").alias("context"),
                    F.col("z.ctx_ws").alias("weight1"),
                )
            ),
        )
        st(
            "canonical_map",
            lambda: CZ.canonical_mapping(redirects, raw_tables["same_as"]),
        )
        self._flush_lineage()
        return run

    def run_corpus(
        self,
        transcripts: DataFrame,
        dict_outputs: dict[str, DataFrame],
        run: PipelineRun | None = None,
        repartition: int | None = None,
        model=None,
        tfidf: bool = True,
        dense_min_rows: int | None = None,
    ) -> PipelineRun:
        run = run or PipelineRun()
        st = lambda *a, **k: self.stage(run, *a, **k)  # noqa: E731
        surface_forms = dict_outputs["dict_surface_forms"]
        canon = dict_outputs["canonical_map"]

        # the broadcastable model artifact (automaton + context map) —
        # cached next to the dictionary checkpoint when available, the
        # analogue of the reference's phraseMap.bin
        from careers_spark.operators.model import KGModel

        if model is None:
            model = KGModel.build(
                surface_forms, dict_outputs["dict_context_vectors"]
            )

        if repartition:
            transcripts = transcripts.repartition(repartition, "conv_id")
        transcripts = st(
            "transcripts",
            lambda: transcripts.sortWithinPartitions("conv_id", "turn_idx"),
        )

        mentions = st(
            "mentions",
            lambda: M.detect_mentions(self.spark, transcripts, model.automaton),
        )

        # dictionary-coded id dims (lexicographic ints; coherence
        # tie-break contract): with them, surface/topic STRINGS leave
        # the corpus phase at the first broadcast join — every TF-IDF
        # shuffle, the candidates checkpoint, and the resolve cogroup
        # carry small ints (memory bandwidth is the scaling limiter on
        # shared-socket hosts, and string keys are its biggest tax)
        surface_names = getattr(model, "surface_names", None)
        topic_names = getattr(model, "topic_names", None)
        coded = surface_names is not None and topic_names is not None
        if coded:
            surface_dim, topic_dim = CO.build_id_dims(
                self.spark, surface_names, topic_names
            )

        # plain candidate attach is a cheap broadcast join — computed
        # inside the resolved stage rather than checkpointed. With TF-IDF
        # scoring on, the candidate DAG carries several fact-side
        # shuffles, so it IS checkpointed (the cogroup then reads a flat
        # table instead of recomputing a 4-shuffle DAG inside its job).
        def _candidates() -> DataFrame:
            if coded:
                cands = L.attach_candidates_coded(
                    mentions, surface_forms, surface_dim, topic_dim
                )
            else:
                cands = L.attach_candidates(mentions, surface_forms)
            if tfidf:
                # anchor-prior x TF-IDF context-cosine (north-star
                # linking score; no term overlap -> identity on priors).
                # The corpus is tokenized ONCE (turn_terms stage) and the
                # pass is shared by word_doc_freq + the cosine joins.
                ctx_terms = dict_outputs["dict_context_terms"]
                # cosine dot products only ever touch terms that occur in
                # topic context NAMES — a dictionary-sized vocabulary. The
                # scan-side explode is semi-joined to it immediately, so
                # the materialized turn_terms table is ~vocab-hit tokens,
                # not the full corpus token stream (30x+ at bench scale).
                # Per-term doc frequencies (hence idf) are unchanged by
                # dropping other terms, so scoring is exact.
                vocab = ctx_terms.select("term").distinct()
                turn_terms = self.stage(
                    run,
                    "turn_terms",
                    lambda: transcripts.select(
                        "conv_id",
                        "turn_idx",
                        F.explode(
                            F.array_distinct(tokenize_udf(F.col("text")))
                        ).alias("term"),
                    ).join(F.broadcast(vocab), "term", "left_semi"),
                )
                wdf = self.stage(
                    run,
                    "word_doc_freq",
                    lambda: turn_terms.groupBy(
                        F.col("term").alias("word")
                    ).agg(F.count("*").alias("doc_freq")),
                )
                n_turns = next(
                    s.rows for s in run.stages if s.name == "transcripts"
                )
                if coded:
                    ctx_terms = ctx_terms.join(
                        F.broadcast(topic_dim), "topic"
                    ).drop("topic")
                cands = self.stage(
                    run,
                    "candidates",
                    lambda: L.tfidf_context_scores(
                        cands, transcripts, ctx_terms, wdf,
                        n_docs=n_turns, turn_terms=turn_terms,
                        topic_col="topic_id" if coded else "topic",
                    )
                    .withColumn("prior", F.col("score"))
                    .drop("score", "ctx_cos"),
                )
            return cands

        # computed OUTSIDE the resolved stage timer (the tfidf path runs
        # its own checkpointed stages; nesting them would double-count)
        candidates = _candidates()
        resolved = st(
            "resolved",
            lambda: CO.resolve(
                candidates, transcripts,
                # prefer the model's pre-interned vectors (pickled with
                # the model artifact) over re-interning per run
                getattr(model, "interned", None) or model.ctx_map,
                mention_spans=mentions,
                # coded mode: ints on the cogroup shuffle + Arrow boundary,
                # names broadcast-joined back JVM-side (None on models
                # built before the dims existed -> legacy string path)
                surface_names=getattr(model, "surface_names", None),
                topic_names=getattr(model, "topic_names", None),
                # dense sim-matrix threshold override (rides the UDF
                # closure — workers re-import the module, so a module
                # global would not reach them); None = module default
                dense_min_rows=dense_min_rows,
            ),
        )
        triples = st(
            "triples",
            lambda: CZ.apply_canonical(
                CZ.apply_canonical(CO.triples_of(resolved), canon, "subj"),
                canon,
                "obj",
            ),
            partition_by=["pred"],
        )
        st(
            "nodes",
            lambda: G.build_nodes(CO.links_of(resolved), canon),
        )
        st("edges", lambda: G.build_edges(triples), partition_by=["pred"])
        self._flush_lineage()
        return run

    def run(
        self,
        transcripts: DataFrame,
        raw_tables: dict[str, DataFrame],
        repartition: int | None = None,
    ) -> PipelineRun:
        run = self.run_dictionary(raw_tables)
        return self.run_corpus(
            transcripts, run.outputs, run=run, repartition=repartition
        )
