"""Probes the benchmark wraps around the package's public functions.

Everything here observes a layer from outside, at its public entry point:

* :class:`TracedExtract` is an ``extract_fn`` for ``extract_stage`` /
  ``PipelineConfig``. Inside the extraction UDF it calls
  ``dispatch.sniff_format`` and then the same public extractor that
  ``dispatch.extract`` would call, and adds per-format turn counts and
  thread CPU time to one Spark accumulator.
* :class:`TimedCatalog` is a ``Catalog`` whose ``append`` records wall
  time (including the lazy plan the write executes) and bytes written.
* :class:`Tracer` keeps spans (workload -> public call -> catalog call)
  in memory. Each span is a Spark job group, so the Spark jobs a span
  caused can be looked up afterwards by group.
* :func:`event_log_tasks` reads the session's Spark event log.
* :func:`tree_hwm_mb` reads the peak RSS of every process in this
  process's tree (driver JVM and Python workers included).
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark.accumulators import AccumulatorParam

from poc_document_ocr_spark.functions import dispatch
from poc_document_ocr_spark.functions.html_extract import extract_html
from poc_document_ocr_spark.functions.md_extract import extract_markdown
from poc_document_ocr_spark.functions.pdf_layout import extract_layout
from poc_document_ocr_spark.sources.catalog import Catalog

#: accumulator slots: per format, [turn count, parse CPU seconds]
FORMATS = ("html", "layout", "md", "plain", "empty", "error")
SNIFF_CPU = 2 * len(FORMATS)
SNIFF_N = SNIFF_CPU + 1
_SLOTS = SNIFF_N + 1


def layer_accumulator(sc):
    """A zeroed :class:`LayerParam` accumulator on ``sc``."""
    return sc.accumulator([0.0] * _SLOTS, LayerParam())


class LayerParam(AccumulatorParam):
    """Vector accumulator. A task adds one ``(format index, sniff CPU,
    parse CPU)`` tuple per turn; tasks merge as whole vectors."""

    def zero(self, value):
        return [0.0] * _SLOTS

    def addInPlace(self, acc, term):
        if isinstance(term, tuple):
            i, sniff_s, parse_s = term
            acc[2 * i] += 1
            acc[2 * i + 1] += parse_s
            acc[SNIFF_CPU] += sniff_s
            acc[SNIFF_N] += 1
            return acc
        for k, v in enumerate(term):
            acc[k] += v
        return acc


def layer_totals(vec) -> dict:
    """Accumulator vector -> {"turns": {fmt: n}, "cpu_s": {fmt: s},
    "sniff_cpu_s": s, "sniff_n": n}."""
    return {
        "turns": {f: int(vec[2 * i]) for i, f in enumerate(FORMATS)},
        "cpu_s": {f: vec[2 * i + 1] for i, f in enumerate(FORMATS)},
        "sniff_cpu_s": vec[SNIFF_CPU],
        "sniff_n": int(vec[SNIFF_N]),
    }


_PARSERS = {"html": extract_html, "layout": extract_layout, "md": extract_markdown}
_INDEX = {f: i for i, f in enumerate(FORMATS)}


class TracedExtract:
    """Per-payload extractor with ``dispatch.extract``'s output, timed.

    Pickled into the extraction UDF by reference, so the Python workers
    must be able to import this module.
    """

    def __init__(self, acc):
        self.acc = acc

    def __call__(self, text):
        clock = time.thread_time
        t0 = clock()
        try:
            fmt = dispatch.sniff_format(text)
        except Exception:
            self.acc.add((_INDEX["error"], clock() - t0, 0.0))
            raise
        t1 = clock()
        try:
            if fmt == "empty":
                out = ("", [], "empty", "empty")
            elif fmt == "plain":
                out = (text, [(0, len(text))], "plain", "plain")
            else:
                r = _PARSERS[fmt](text)
                out = (r.extracted_text, r.spans, r.rule, fmt)
        except Exception:
            self.acc.add((_INDEX["error"], t1 - t0, clock() - t1))
            raise
        self.acc.add((_INDEX[fmt], t1 - t0, clock() - t1))
        return out


def identity_batches(batches):
    """Identity ``mapInArrow`` body: the Arrow round trip with no parse."""
    yield from batches


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


class Tracer:
    """In-memory spans. Entering a span makes its id the current Spark job
    group, so every job it triggers is attributable to it."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._t0 = time.monotonic()

    @contextmanager
    def span(self, name: str, **attrs):
        sid = f"s{len(self.spans)}"
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start_s": time.monotonic() - self._t0,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setLocalProperty("spark.jobGroup.id", sid)
        try:
            yield rec
        finally:
            rec["end_s"] = time.monotonic() - self._t0
            self._stack.pop()
            self.sc.setLocalProperty(
                "spark.jobGroup.id", self._stack[-1] if self._stack else None
            )

    def subtree(self, sid: str) -> set[str]:
        out = {sid}
        for s in self.spans:  # spans are appended parent-first
            if s["parent"] in out:
                out.add(s["id"])
        return out

    def jobs(self, sid: str) -> list[int]:
        """Spark job ids of a span and its descendants (status tracker)."""
        tracker = self.sc.statusTracker()
        ids: list[int] = []
        for g in self.subtree(sid):
            ids.extend(tracker.getJobIdsForGroup(g))
        return sorted(ids)

    def dump(self, path: str, jobs: list[dict]) -> None:
        """Write spans plus the Spark jobs (as leaf spans) to ``path``."""
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "spark_jobs": jobs}, f, indent=1)


class TimedCatalog(Catalog):
    """``Catalog`` whose appends are spans with wall time and bytes."""

    def __init__(self, spark, root: str, tracer: Tracer, roles: dict[str, str]):
        super().__init__(spark, root)
        self.tracer = tracer
        self.roles = roles  # table name -> metric role
        self.append_s = {r: 0.0 for r in roles.values()}
        self.bytes_written = {r: 0 for r in roles.values()}

    def append(self, df, name: str) -> None:
        role = self.roles[name]
        path = self.path(name)
        before = dir_bytes(path) if os.path.isdir(path) else 0
        with self.tracer.span(f"catalog.append.{role}"):
            t0 = time.monotonic()
            super().append(df, name)
            self.append_s[role] += time.monotonic() - t0
        self.bytes_written[role] += dir_bytes(path) - before


def event_log_tasks(log_dir: str) -> tuple[dict, list[dict]]:
    """Parse the single event log in ``log_dir``.

    Returns (jobs, tasks): ``jobs`` maps job id -> {job, group, stages,
    start_ms, end_ms}; ``tasks`` is one dict per finished task with its
    stage id and the task metrics this benchmark reports.
    """
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    with open(os.path.join(log_dir, name)) as f:
        for line in f:
            try:
                ev = json.loads(line)
            except ValueError:  # a line the writer has not finished
                continue
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "job": ev["Job ID"],
                    "group": props.get("spark.jobGroup.id"),
                    "stages": ev["Stage IDs"],
                    "start_ms": ev["Submission Time"],
                }
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    {
                        "stage": ev["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "shuffle_read": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    }
                )
    return jobs, tasks


def descendants(root: int) -> list[int]:
    """``root`` and every process below it, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        kids.setdefault(int(stat.rsplit(")", 1)[1].split()[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def tree_hwm_mb(root: int) -> dict[str, float]:
    """Peak RSS (VmHWM) per command name over ``root``'s process tree."""
    out: dict[str, float] = {}
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                st = dict(ln.split(":", 1) for ln in f if ":" in ln)
        except OSError:
            continue
        name = st["Name"].strip()
        out[name] = out.get(name, 0.0) + int(st.get("VmHWM", "0 kB").split()[0]) / 1024
    return out
