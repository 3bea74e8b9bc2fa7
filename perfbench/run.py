#!/usr/bin/env python3
"""KG-build benchmark: one workload, one seed, one fresh Spark driver.

    python3 perfbench/run.py --workload seed_build --seed 1 --seconds 16 --trace 0

Run from the root of a checkout.  The last stdout line is the result
object (``correct``, ``attempted``, ``failed``, ``metrics``); the line
before it is the full record (host, corpus, every rep, digests).  With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing
import os
import shutil
import statistics
import sys
import threading
import time
from concurrent.futures import ProcessPoolExecutor
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
N_CONVS = 500           # ~4,000 turns per build
MIN_MEASURED_REPS = 2
DEADLINE_S = 170.0      # the run is killed and reported failed past this

WORKLOADS = {
    "seed_build": ("build", "seed"),
    "discourse_build": ("build", "discourse"),
    "kg_merge": ("merge", "seed"),
}

# wall_s follows the host's vCPU steal (its IQR over ten seeds reached a
# quarter of its median), so the gated end-to-end time is the steadier
# cpu_s; wall_s is reported per layer and in every record
END_TO_END = {"cpu_s": "s", "setup_s": "s"}
PER_LAYER = {
    "wall_s": "s",
    "scan.s": "s", "scan.rows": "count",
    "extract.s": "s", "extract.exchange_mb": "MB", "extract.py_start_s": "s",
    "extract.py_init_s": "s", "extract.py_run_s": "s", "extract.arrow_in_mb": "MB",
    "extract.arrow_out_mb": "MB", "extract.node_rows": "count",
    "extract.edge_rows": "count", "extract.task_skew": "ratio",
    "kernel.parse_s": "s", "kernel.match_s": "s", "kernel.relations_s": "s",
    "kernel.seed_turns_per_s_1core": "1/s", "kernel.discourse_turns_per_s_1core": "1/s",
    "agg.nodes_s": "s", "agg.edges_s": "s", "agg.lineage_s": "s",
    "agg.shuffle_write_mb": "MB", "agg.spill_mb": "MB",
    "graph.core_s": "s", "graph.write_s": "s", "graph.files_written": "count",
    "graph.bytes_written_mb": "MB", "graph.merge_s": "s",
    "jvm.gc_s": "s", "jvm.jit_cpu_s": "s", "spark.executor_cpu_s": "s",
    "spark.tasks": "count", "spark.task_failures": "count",
    "input.convs": "count", "input.turns": "count", "input.sentences": "count",
    "input.distinct_sentence_share": "ratio",
    "trace.wall_s": "s", "trace.residual_s": "s", "trace.overhead_s": "s",
    "peak_rss_mb": "MB",
}


def _driver_memory_mb() -> int:
    """A quarter of the host's RAM, at most 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return min(4096, total_kb // 1024 // 4)


def _median(values: list) -> float:
    return statistics.median(values) if values else 0.0


class DigestMismatch(Exception):
    pass


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: Path):
        import pyspark

        import corpus

        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.path, self.mode = WORKLOADS[workload]
        self.work = work
        self.nproc = len(os.sched_getaffinity(0))
        self.host = {"nproc": self.nproc, "pyspark": pyspark.__version__,
                     "driver_memory_mb": _driver_memory_mb(),
                     "python": sys.version.split()[0]}
        self.spark = None
        self.reps: list = []
        self.attempted = self.failed = 0
        self.errors: list = []
        self.checker = ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn"))
        self.prepared = None
        self.convs = corpus.conversations(seed, N_CONVS)

    # -- set-up --------------------------------------------------------

    def session(self, traced: bool):
        from aser_spark.config import get_spark

        extra = {
            "spark.driver.memory": f"{self.host['driver_memory_mb']}m",
            # no /tmp/hsperfdata_<user>: the run writes only inside its checkout
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if traced else "false",
        }
        if traced:
            (self.work / "eventlog").mkdir(exist_ok=True)
            extra.update({"spark.eventLog.dir": str(self.work / "eventlog"),
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false"})
        spark = get_spark(app=f"perfbench-{self.workload}", cpus=self.nproc, extra=extra)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def stage(self, where: Path) -> dict:
        import corpus

        if self.path == "build":
            corpus.stage_transcripts(self.convs, str(where / "transcripts"))
            return {"transcripts": str(where / "transcripts")}
        instances = self.prepared.result()["instances"]
        for name, rows in instances.items():
            corpus.stage_instances(rows, str(where / name))
        return {name: str(where / name) for name in instances}

    def expected(self) -> dict:
        """Oracle tables per output directory; the child process that
        computed them exits once they are in."""
        prepared = self.prepared.result()
        self.checker.shutdown()
        return prepared["expected"]

    # -- one rep -------------------------------------------------------

    def rep(self, index: int, traced: bool, warmup: bool) -> None:
        import measure
        import workloads

        rep_dir = self.work / f"rep{index}"
        t0 = time.perf_counter()
        self.spark = self.session(traced)
        t1 = time.perf_counter()
        inputs = self.stage(rep_dir / "in")
        t2 = time.perf_counter()
        tracer = workloads.Tracer(self.spark, traced)
        app_id = self.spark.sparkContext.applicationId
        cpu0, jit0, steal0 = measure.tree_cpu_s(), measure.jit_cpu_s(), measure.host_steal_s()
        with measure.RssSampler() as rss:
            start = time.perf_counter()
            getattr(workloads, self.path)(self.spark, tracer, inputs,
                                          str(rep_dir / "out"), self.mode)
            wall = time.perf_counter() - start
        cpu = measure.tree_cpu_s() - cpu0
        jit = measure.jit_cpu_s() - jit0
        steal = measure.host_steal_s() - steal0
        self.spark.stop()
        self.spark = None
        rec = {"index": index, "warmup": warmup, "traced": traced,
               "session_s": t1 - t0, "staging_s": t2 - t1, "wall_s": wall,
               "cpu_s": cpu, "jit_cpu_s": jit, "host_steal_s": steal,
               "peak_rss_mb": rss.peak_mb}
        if traced:
            rec["spans"] = [{**sp, "start": sp["start"] - start, "end": sp["end"] - start}
                            for sp in tracer.spans]
            rec["layers"] = self.layer_metrics(
                measure.reduce_event_log(str(self.work / "eventlog" / app_id)),
                tracer, wall, rep_dir / "out")
        rec["checks"] = self.verify(rep_dir / "out")
        shutil.rmtree(rep_dir)
        rec["total_s"] = time.perf_counter() - t0
        self.reps.append(rec)

    def verify(self, out: Path) -> dict:
        import corpus

        checks = {}
        for sub, tables in self.expected().items():
            for table, (want, got, rows) in corpus.check(tables, str(out / sub)).items():
                checks[f"{sub}/{table}"] = {"expected": want, "written": got, "rows": rows}
                if want != got:
                    raise DigestMismatch(f"{sub}/{table}: written {got}, oracle {want}")
        return checks

    def layer_metrics(self, events: dict, tracer, wall: float, out: Path) -> dict:
        import measure

        def span_s(name):
            return sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == name)

        def total(key, prefix=""):
            return sum(v.get(key, 0) for label, v in events.items()
                       if label.startswith(prefix))

        ext = events.get("extract", {})
        files = [p for p in out.rglob("part-*") if p.is_file()]
        return {
            "scan.s": span_s("scan"), "scan.rows": tracer.counts.get("scan.rows", 0),
            "extract.s": span_s("extract"),
            "extract.exchange_mb": ext.get("shuffle_write_bytes", 0) / 1e6,
            "extract.py_start_s": ext.get("py_start_ms", 0) / 1e3,
            "extract.py_init_s": ext.get("py_init_ms", 0) / 1e3,
            "extract.py_run_s": ext.get("py_run_ms", 0) / 1e3,
            "extract.arrow_in_mb": ext.get("py_sent_bytes", 0) / 1e6,
            "extract.arrow_out_mb": ext.get("py_returned_bytes", 0) / 1e6,
            "extract.node_rows": tracer.counts.get("extract.node_rows", 0),
            "extract.edge_rows": tracer.counts.get("extract.edge_rows", 0),
            "extract.task_skew": measure.task_skew(ext.get("py_task_ms", [])),
            "agg.nodes_s": span_s("agg.nodes"), "agg.edges_s": span_s("agg.edges"),
            "agg.lineage_s": span_s("agg.lineage"),
            "agg.shuffle_write_mb": total("shuffle_write_bytes", "agg.") / 1e6,
            "agg.spill_mb": total("disk_spill_bytes", "agg.") / 1e6,
            "graph.core_s": span_s("graph.core"), "graph.write_s": span_s("graph.write"),
            "graph.files_written": len(files),
            "graph.bytes_written_mb": sum(p.stat().st_size for p in files) / 1e6,
            "graph.merge_s": span_s("graph.merge"),
            "jvm.gc_s": total("gc_ms") / 1e3,
            "spark.executor_cpu_s": total("cpu_ns") / 1e9,
            "spark.tasks": total("tasks"), "spark.task_failures": total("failures"),
            "trace.wall_s": wall,
            "trace.residual_s": wall - sum(s["end"] - s["start"] for s in tracer.spans),
        }

    # -- the run -------------------------------------------------------

    def run(self) -> tuple[dict, dict]:
        import corpus
        import measure

        inputs = corpus.input_stats(self.convs)
        kernel = {}
        if self.trace:  # before any Spark work, alone on the host
            kernel = self.checker.submit(measure.kernel_layers, self.seed, N_CONVS).result()
        # overlaps the untimed warm-up rep
        self.prepared = self.checker.submit(corpus.prepare, self.seed, N_CONVS,
                                            self.mode, self.path == "merge")
        # rep 0 pays JVM launch, class loading and JIT: checked, not timed
        pattern = [True, False] if self.trace else [False]
        try:
            self.attempted += 1
            self.rep(0, traced=False, warmup=True)
            start, n = time.perf_counter(), 0
            while True:
                self.attempted += 1
                self.rep(n + 1, traced=pattern[n % len(pattern)], warmup=False)
                n += 1
                elapsed = time.perf_counter() - start
                if n >= MIN_MEASURED_REPS and elapsed + elapsed / n > self.seconds:
                    break
        except Exception as exc:  # a failed build is a result, not a crash
            self.failed += 1
            self.errors.append(f"rep {len(self.reps)}: {type(exc).__name__}: {exc}")
        return self.report(inputs, kernel)

    def report(self, inputs: dict, kernel: dict) -> tuple[dict, dict]:
        measured = [r for r in self.reps if not r["warmup"]]
        plain = [r for r in measured if not r["traced"]]
        traced = [r for r in measured if r["traced"]]
        first = self.reps[0] if self.reps else None
        launch_s = first["session_s"] if first else 0.0
        end_to_end = {
            "wall_s": _median([r["wall_s"] for r in plain]),
            "cpu_s": _median([r["cpu_s"] for r in plain]),
            "setup_s": launch_s + _median([r["session_s"] + r["staging_s"] for r in measured]),
        }
        layers = {**inputs, **kernel}
        for name in PER_LAYER:
            vals = [r["layers"][name] for r in traced if name in r["layers"]]
            if vals:
                layers[name] = _median(vals)
        layers["trace.overhead_s"] = layers.get("trace.wall_s", 0.0) - end_to_end["wall_s"]
        for name, key in (("wall_s", "wall_s"), ("jvm.jit_cpu_s", "jit_cpu_s"),
                          ("peak_rss_mb", "peak_rss_mb")):  # untraced reps
            layers[name] = _median([r[key] for r in plain])
        correct = self.failed == 0 and self.attempted > 0
        chosen = PER_LAYER if self.trace else END_TO_END
        source = layers if self.trace else end_to_end
        metrics = {name: {"value": float(source.get(name, 0.0)), "unit": unit}
                   for name, unit in chosen.items()}
        record = {
            "workload": self.workload, "seed": self.seed, "trace": self.trace,
            "host": self.host, "corpus": {"convs": N_CONVS, "turns": inputs["input.turns"]},
            "end_to_end": {**end_to_end,
                           "error_rate": self.failed / max(self.attempted, 1)},
            "per_layer": layers if self.trace else {},
            "reps": self.reps, "errors": self.errors,
        }
        result = {"correct": correct, "attempted": self.attempted,
                  "failed": self.failed, "metrics": metrics}
        return result, record

    def shutdown(self) -> None:
        """Stop the session, the JVM and everything they started."""
        import measure
        from pyspark import SparkContext

        self.checker.shutdown(cancel_futures=True)
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:  # the JVM is going away regardless
                pass
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        leftovers = [p for p in measure.tree_pids()[1:] if proc is None or p != proc.pid]
        try:
            gateway.shutdown()
        except Exception:
            pass
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        for pid in leftovers:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "aser_spark" / "pipeline").is_dir():
        print(f"perfbench: no aser_spark package under {ROOT}; run it from a "
              "checkout of the repository", file=sys.stderr)
        return 2

    work = ROOT / ".bench_build" / "perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, str(ROOT))
    import measure

    def expire():
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}),
              flush=True)
        measure.kill_tree()
        os._exit(1)

    watchdog = threading.Timer(DEADLINE_S, expire)
    watchdog.daemon = True
    watchdog.start()
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        result, record = bench.run()
    finally:
        bench.shutdown()
        watchdog.cancel()
    traces = ROOT / ".bench_build" / "perfbench" / "traces"
    traces.mkdir(exist_ok=True)
    (traces / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
