"""Measurement helpers: the process tree from /proc, the Spark event-log
reducer, and the single-core kernel timings."""

from __future__ import annotations

import json
import os
import signal
import statistics
import threading
import time
from collections import defaultdict

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stats() -> dict:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages) for every
    visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                text = f.read()
        except OSError:  # exited while listing
            continue
        # fields after "(comm)": state ppid ... utime(14) stime cutime cstime ... rss(24)
        rest = text[text.rindex(")") + 2:].split()
        out[int(name)] = (int(rest[1]), sum(int(x) for x in rest[11:15]), int(rest[21]))
    return out


def tree_pids(root: int | None = None, stats: dict | None = None) -> list:
    """``root`` and every descendant, parents before children."""
    root = os.getpid() if root is None else root
    stats = _stats() if stats is None else stats
    children = defaultdict(list)
    for pid, (ppid, _, _) in stats.items():
        children[ppid].append(pid)
    order, frontier = [], [root]
    while frontier:
        pid = frontier.pop()
        order.append(pid)
        frontier.extend(children.get(pid, ()))
    return order


def tree_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children) of this process tree."""
    stats = _stats()
    return sum(stats[p][1] for p in tree_pids(stats=stats) if p in stats) / _CLK


def tree_rss_mb() -> float:
    stats = _stats()
    return sum(stats[p][2] for p in tree_pids(stats=stats) if p in stats) * _PAGE / 2**20


def jit_cpu_s() -> float:
    """CPU seconds of the JIT compiler threads of every JVM in this tree."""
    ticks = 0
    for pid in tree_pids():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    text = f.read()
            except OSError:
                continue
            comm = text[text.index("(") + 1:text.rindex(")")]
            if "CompilerThre" in comm:
                rest = text[text.rindex(")") + 2:].split()
                ticks += int(rest[11]) + int(rest[12])
    return ticks / _CLK


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's vCPUs since
    boot (the steal column of /proc/stat); 0 where it is not reported."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _CLK if len(fields) > 8 else 0.0


def kill_tree() -> None:
    """SIGKILL every descendant of this process, deepest first."""
    for pid in reversed(tree_pids()[1:]):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


class RssSampler:
    """Peak summed RSS of the process tree, sampled on a thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# Spark task accumulables of the Python runner (values in ms or bytes)
_PY_ACCUMS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
}


def reduce_event_log(path: str) -> dict:
    """Per job description: sums of the TaskEnd metrics, plus the run time
    of every task that ran Python ("py_task_ms")."""
    stage_label = {}
    layers: dict = defaultdict(lambda: defaultdict(float))
    py_tasks: dict = defaultdict(list)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage_label[ev["Stage Info"]["Stage ID"]] = props.get(
                    "spark.job.description", "")
            elif kind == "SparkListenerTaskEnd":
                acc = layers[stage_label.get(ev["Stage ID"], "")]
                m = ev.get("Task Metrics") or {}
                acc["tasks"] += 1
                acc["failures"] += ev["Task End Reason"]["Reason"] != "Success"
                acc["run_ms"] += m.get("Executor Run Time", 0)
                acc["cpu_ns"] += m.get("Executor CPU Time", 0)
                acc["gc_ms"] += m.get("JVM GC Time", 0)
                acc["disk_spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                ran_python = False
                for a in ev["Task Info"].get("Accumulables", ()):
                    key = _PY_ACCUMS.get(a.get("Name"))
                    if key:
                        acc[key] += int(a.get("Update") or 0)
                        ran_python = True
                if ran_python:
                    py_tasks[stage_label.get(ev["Stage ID"], "")].append(
                        m.get("Executor Run Time", 0))
    return {label: {**vals, "py_task_ms": py_tasks.get(label, [])}
            for label, vals in layers.items()}


def task_skew(task_ms: list) -> float:
    """max / median task time; 0 when no task ran."""
    if not task_ms:
        return 0.0
    med = statistics.median(task_ms)
    return max(task_ms) / med if med else 0.0


def kernel_layers(seed: int, n_convs: int) -> dict:
    """Single-core kernel timings over the run's corpus, in a fresh
    process so the kernel's memo starts empty.

    parse / match / relations run uncached over every sentence; the
    turns/s figures run the whole per-conversation kernel
    (``conversation_instance_rows``) with its own memo, as a Spark task
    would."""
    from aser_spark.kernel import (extract_paragraph_relations,
                                   extract_sentence_eventualities)
    from aser_spark.nlp import parse_sentence, split_sentences
    from aser_spark.pipeline.extract import conversation_instance_rows
    from corpus import conversations

    convs = conversations(seed, n_convs)
    texts = [[s for row in conv for s in split_sentences(row[3])] for conv in convs]
    t0 = time.process_time()
    parsed = [[parse_sentence(s, render_parse=False) for s in conv] for conv in texts]
    t1 = time.process_time()
    evs = [[extract_sentence_eventualities(
        p["tokens"], p["lemmas"], p["pos_tags"], p["dependencies"],
        ners=p.get("ners"), mentions=p.get("mentions")) for p in conv] for conv in parsed]
    t2 = time.process_time()
    for conv_parsed, conv_evs in zip(parsed, evs):
        extract_paragraph_relations(conv_parsed, conv_evs)
    t3 = time.process_time()
    out = {"kernel.parse_s": t1 - t0, "kernel.match_s": t2 - t1,
           "kernel.relations_s": t3 - t2}
    n_turns = sum(len(conv) for conv in convs)
    for mode in ("seed", "discourse"):
        start = time.process_time()
        for conv in convs:
            conversation_instance_rows(conv[0][0], [(r[1], r[3]) for r in conv], mode=mode)
        out[f"kernel.{mode}_turns_per_s_1core"] = n_turns / (time.process_time() - start)
    return out
