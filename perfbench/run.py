"""KG-construction benchmark: one run of one workload.

Usage (from the root of the repository):

    python3 perfbench/run.py --workload short_convs --seed 1 --seconds 10 --trace 0

--trace 0 prints the end-to-end metrics; --trace 1 runs with span
wrappers, Spark job groups and the Spark event log on, and prints the
per-layer metrics instead. The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}; the lines before it
record the pinned settings, the host probes and the exact counts.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("short_convs", "long_convs", "incremental_polls")

# (name, unit); every workload prints all of them
END_TO_END = [
    ("triples_per_s", "1/s"),
    ("poll_latency_p50_s", "s"),
    ("incremental_convs_per_s", "1/s"),
    ("setup_s", "s"),
    ("peak_rss_mb", "MB"),
    ("triple_precision", "ratio"),
    ("triple_recall", "ratio"),
    ("ok_ops_ratio", "ratio"),
]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's sizes")
    return ap.parse_args(argv)


def pin_environment(run_dir: str) -> dict:
    """Everything the run writes stays under run_dir, and python workers
    import the careers_spark of this tree, whatever the caller's cwd."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    nproc = len(os.sched_getaffinity(0))
    return {
        "nproc": nproc,
        "master": f"local[{nproc}]",
        "run_dir": os.path.relpath(run_dir, ROOT),
        "pythonpath": os.environ["PYTHONPATH"],
    }


def spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a fixed, pre-touched heap: the JVM's share of peak_rss_mb does
        # not depend on when G1 decided to grow the heap
        "spark.driver.memory": "1g",
        # no hsperfdata under /tmp, JVM temp files inside the run dir
        "spark.driver.extraJavaOptions": (
            "-Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
        ),
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf["spark.eventLog.dir"] = "file://" + events
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def end_to_end(result, peak_rss_mb: float) -> dict[str, float]:
    ops = result.ops
    walls = [op.wall_s for op in ops]
    tp = sum(op.tp for op in ops)
    fp = sum(op.fp for op in ops)
    fn = sum(op.fn for op in ops)
    return {
        # gold-checked triples per second of timed operation
        "triples_per_s": tp / sum(walls),
        # one timed operation: a sink call, or a run_corpus pass
        "poll_latency_p50_s": statistics.median(walls),
        "incremental_convs_per_s": sum(op.convs for op in ops) / sum(walls),
        "setup_s": result.setup_s,
        "peak_rss_mb": peak_rss_mb,
        "triple_precision": tp / (tp + fp) if tp + fp else 0.0,
        "triple_recall": tp / (tp + fn) if tp + fn else 0.0,
        "ok_ops_ratio": 1.0 - result.failed / result.attempted,
    }


def versions() -> dict:
    import pyspark

    return {"python": sys.version.split()[0], "pyspark": pyspark.__version__}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "careers_spark", "__init__.py")):
        print(f"perfbench: no careers_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from perfbench import host

    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    os.makedirs(run_dir)
    spark = None
    try:
        settings = pin_environment(run_dir)
        probe_before = host.host_probe(settings["nproc"])

        from careers_spark.session import get_spark
        from perfbench import layers, tracing, workloads

        conf = spark_conf(run_dir, bool(args.trace))
        settings.update(conf=conf, seed=args.seed, workload=args.workload,
                        size=args.size, seconds=args.seconds, trace=args.trace,
                        params=workloads.SIZES[args.workload][args.size],
                        **versions())
        with host.RssSampler(os.getpid()) as rss:
            t0 = time.monotonic()
            spark = get_spark("perfbench", cpus=settings["nproc"], extra_conf=conf)
            session_s = time.monotonic() - t0
            tracer = tracing.Tracer(spark) if args.trace else None
            wl = workloads.make(spark, args.workload, args.size, args.seed,
                                run_dir, tracer)
            result = wl.run(args.seconds)
            result.setup_s += session_s
            result.phases["session"] = session_s
            with workloads.phase(result.phases, "stop"):
                spark.stop()
                spark = None
        probe_after = host.host_probe(settings["nproc"])

        if args.trace:
            groups = tracing.parse_event_log(os.path.join(run_dir, "events"))
            values = layers.compute(wl, result, tracer, groups)
            units = layers.METRICS
        else:
            values = end_to_end(result, rss.peak_mb)
            units = END_TO_END
        metrics = {n: {"value": values[n], "unit": u} for n, u in units}
        correct = result.failed == 0 and all(
            op.fp == 0 and op.fn == 0 and op.ok for op in result.ops
        )
        lines = [
            "settings " + json.dumps(settings, sort_keys=True),
            "host_probe " + json.dumps({"before": probe_before, "after": probe_after}),
            "counts " + json.dumps(result.counts, sort_keys=True),
            "phases " + json.dumps({k: round(v, 3) for k, v in result.phases.items()}),
            "ops " + json.dumps([
                {"wall_s": op.wall_s, "ok": op.ok, "tp": op.tp, "fp": op.fp, "fn": op.fn}
                for op in result.ops
            ]),
        ]
        lines += [f"metric {n} = {values[n]:.6g} {u}" for n, u in units]
        if not args.trace:
            failed_ratio = result.failed / result.attempted
            lines.append(f"metric failed_ops_ratio = {failed_ratio:.6g} ratio")
        lines.append(json.dumps({
            "correct": correct,
            "attempted": result.attempted,
            "failed": result.failed,
            "metrics": metrics,
        }))
    finally:
        if spark is not None:
            spark.stop()
        _stop_gateway()
        host.stop_descendants(os.getpid())
        shutil.rmtree(run_dir, ignore_errors=True)
        parent = os.path.dirname(run_dir)
        if not os.listdir(parent):
            os.rmdir(parent)
    # printed only once every process of the run has ended, so nothing
    # can follow the result line
    print("\n".join(lines), flush=True)
    return 0


def _stop_gateway() -> None:
    """The py4j JVM exits when its stdin closes; close it and wait."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
