"""Record-linkage benchmark: one workload per run, one closed-loop client.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  The run generates its seeded inputs,
starts ``local[<cores>]``, sets up, runs one untimed warm-up operation, then
times operations one after another until ``--seconds`` have passed and
``MIN_OPS`` have run (traced runs: at least one plain and one bracketed).
Every operation's output is checked.  The last stdout line is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` enables an
uncompressed event log, alternates plain and bracketed operations, and
reports per-layer metrics (see ``perfbench/README.md``) plus the tracing
overhead.  All files go under ``.perfbench/`` in the checkout; the run
record (metadata, spans, digests) is kept in ``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "semantic_entity_matching_spark"

LAYERS = (
    "functions.embed", "operators.blocking", "operators.pairs",
    "plans.pipeline.score", "plans.pipeline.rerank", "operators.cluster",
    "operators.ann", "operators.search", "operators.simjoin.order",
    "operators.simjoin.join", "streaming.incremental_match",
)
LAYER_FIELDS = ("wall_s", "task_s", "cpu_s", "gc_s", "python_s", "jobs",
                "shuffle_write_mb", "spill_mb", "rows", "core_util")
UNITS = {"wall_s": "s", "task_s": "s", "cpu_s": "s", "gc_s": "s", "python_s": "s",
         "jobs": "count", "shuffle_write_mb": "MB", "spill_mb": "MB",
         "rows": "count", "core_util": "ratio"}
# ratio metric -> (numerator counter, denominator counter) of run_pipeline
RATIOS = {
    "operators.blocking.keys_per_record": ("block_keys_emitted", "records_prepared"),
    "operators.pairs.useful_ratio": ("edges_emitted", "pairs_generated"),
    "plans.pipeline.rerank.survivor_ratio": ("pairs_reranked", "pairs_scored"),
}
SETUP_REPEATS = 3
# Timed operations per run, at least; a run reports their median.  One
# untimed warm-up operation comes first: the first operation in a fresh JVM
# pays class loading, code generation, JIT and Python-worker start-up, and
# takes about twice as long as the next ones.
MIN_OPS = 2


def log(*parts) -> None:
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def make_workdir(name: str) -> str:
    """A scratch directory inside the checkout for this process.  Python
    workers import the package from the checkout, and every scratch file
    the run makes (temp files included) stays under the directory."""
    work = os.path.join(ROOT, ".perfbench", f"{name}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no /tmp/hsperfdata
    return work


def start_session(work: str, trace: bool):
    from semantic_entity_matching_spark import get_session

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_session(master=f"local[{cores()}]", app_name="perfbench",
                        extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - last resort: the JVM must not outlive us
        proc.kill()
        proc.wait()


def metadata(spark, args) -> dict:
    from perfbench.trace import host_snapshot

    sc = spark.sparkContext
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores(), "master": sc.master,
        "spark": spark.version, "java": sc._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "driver_heap": sc.getConf().get("spark.driver.memory"),
        "local_dir": sc.getConf().get("spark.local.dir"),
        "started": time.strftime("%Y-%m-%dT%H:%M:%S"),
        **host_snapshot(),
    }


class Runner:
    def __init__(self, spark, workload, proc, rec):
        self.spark = spark
        self.w = workload
        self.proc = proc
        self.rec = rec
        self.ops: list[dict] = []

    def run_op(self, traced: bool) -> dict:
        """One operation, timed from the call until the result is on the
        driver; peak RSS covers the same interval; the check runs after."""
        if self.rec is not None:
            self.rec.op = len(self.ops)
        # every operation starts from a collected heap on both sides, so
        # its peak RSS and GC time are its own, not its predecessor's
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        self.proc.reset_peak_rss()
        entry = {"op": len(self.ops), "traced": traced, "problems": []}
        t0 = time.perf_counter()
        try:
            result = self.w.op(self.spark, self.rec if traced else None)
        except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
            entry["wall_s"] = time.perf_counter() - t0
            entry["problems"].append(f"raised {type(exc).__name__}: {exc}")
            log(f"op {entry['op']} raised", repr(exc)[:500])
            self.ops.append(entry)
            return entry
        entry["wall_s"] = time.perf_counter() - t0
        entry["peak_rss"] = self.proc.peak_rss_mb()
        entry["problems"] = self.w.check(result)
        entry["digest"] = self.w.digest(result)
        if self.ops and entry["digest"] != self.ops[0].get("digest"):
            entry["problems"].append("output digest differs from the warm-up operation's")
        entry["quality"] = self.w.quality(result)
        log(f"op {entry['op']} traced={traced} wall={entry['wall_s']:.3f}s "
            f"digest={entry['digest']} problems={len(entry['problems'])}")
        for p in entry["problems"]:
            log("  check failed:", p)
        self.ops.append(entry)
        return entry


def end_to_end(runner: Runner, setup_s: float) -> dict:
    timed = runner.ops[1:]
    wall = statistics.median(o["wall_s"] for o in timed)
    # an operation that raised has no result to score (and fails the run)
    ok = [o for o in timed if "quality" in o]
    precision, recall = ok[0]["quality"] if ok else (0.0, 0.0)
    rss = statistics.median(o["peak_rss"]["total"] for o in ok) if ok else 0.0
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        "throughput_rps": (runner.w.records / wall, "records/s"),
        "peak_rss_mb": (rss, "MB"),
        "pair_precision": (precision, "ratio"),
        "pair_recall": (recall, "ratio"),
    }


def per_layer(runner: Runner, events: dict) -> dict:
    rec = runner.rec
    traced = [o for o in runner.ops[1:] if o["traced"]]
    plain = [o for o in runner.ops[1:] if not o["traced"]]
    samples: dict[str, list[float]] = {}
    for o in traced:
        layers = rec.self_times(o["op"])
        counters = rec.counters(o["op"])
        for layer in LAYERS:
            m = dict(layers.get(layer, {}))
            m.update(events.get((o["op"], layer), {}))
            wall = m.get("wall_s", 0.0)
            m["core_util"] = m.get("task_s", 0.0) / (wall * cores()) if wall > 0 else 0.0
            for f in LAYER_FIELDS:
                samples.setdefault(f"{layer}.{f}", []).append(m.get(f, 0.0))
        for name, (num, den) in RATIOS.items():
            value = counters[num] / counters[den] if counters.get(den) else 0.0
            samples.setdefault(name, []).append(value)
    out = {}
    for name, values in samples.items():
        field = name.rsplit(".", 1)[1]
        out[name] = (statistics.median(values), UNITS.get(field, "ratio"))
    overhead = (statistics.median(o["wall_s"] for o in traced)
                - statistics.median(o["wall_s"] for o in plain))
    out["trace.overhead_s"] = (overhead, "s")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the benchmark's self-test")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        log(f"no {PACKAGE} package at {ROOT}: run from the root of a checkout")
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.trace import ProcTree, SpanRecorder, parse_event_log
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
        return 2
    base = os.path.join(ROOT, ".perfbench")
    work = make_workdir(args.workload)
    os.makedirs(f"{base}/runs", exist_ok=True)

    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        meta = metadata(spark, args)
        log(json.dumps(meta))
        proc = ProcTree(spark.sparkContext._gateway.proc.pid)
        workload = WORKLOADS[args.workload](args.seed, args.tiny)
        gen_s = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            workload.write_inputs(spark, work)
            gen_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        workload.setup(spark, work)
        rec = SpanRecorder(spark.sparkContext, proc) if args.trace else None
        runner = Runner(spark, workload, proc, rec)
        runner.run_op(traced=False)  # warm-up
        setup_s = session_s + statistics.median(gen_s) + time.perf_counter() - t
        log(f"setup {setup_s:.3f}s (session {session_s:.3f}s, inputs {gen_s})")

        t_loop = time.perf_counter()
        while time.perf_counter() - t_loop < args.seconds or len(runner.ops) - 1 < MIN_OPS:
            # traced runs alternate plain and bracketed operations so the
            # overhead is measured in one process
            runner.run_op(traced=bool(args.trace) and len(runner.ops) % 2 == 0)

        failed = sum(1 for o in runner.ops if o["problems"])
        correct = failed == 0
        metrics = None if args.trace else end_to_end(runner, setup_s)
        stop_session(spark)
        spark = None
        if args.trace:
            events = parse_event_log(f"{work}/eventlog")
            metrics = per_layer(runner, events)
            rec.dump(f"{base}/runs/{args.workload}-{args.seed}-{os.getpid()}.spans.jsonl")
        with open(f"{base}/runs/{args.workload}-{args.seed}-{os.getpid()}.json", "w") as f:
            json.dump({"meta": meta, "setup_s": setup_s, "ops": runner.ops}, f, indent=1)
        print(json.dumps({
            "correct": correct,
            "attempted": len(runner.ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
