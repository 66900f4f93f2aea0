"""The workloads, their checks and their metrics.

Each workload has the same shape: set up (session, seeded corpus, the
workload's input table, a warm-up), then timed iterations until the run's
``--seconds`` are spent, then checks outside the timed region. A traced run
adds one iteration with every probe of ``trace.py`` attached.

* ``extract``  - ``extract_stage(turns)``, consumed by a checksum over every
  output column. Parsers and the extraction boundary do nearly all the work.
* ``pipeline`` - ``run_pipeline`` with a fresh catalog root and run_id per
  iteration over input written with ``Catalog.write_bucketed``: extraction,
  the fold, appends, the duplicate-skip anti-join and lineage commits.
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
import subprocess
import time
from functools import partial

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from poc_document_ocr_spark.operators.aggregation import consolidate_auto
from poc_document_ocr_spark.operators.extraction import span_lint
from poc_document_ocr_spark.plans.pipeline import (
    PipelineConfig,
    extract_stage,
    run_pipeline,
)
from poc_document_ocr_spark.session import get_spark
from poc_document_ocr_spark.sources.catalog import Catalog

from scripts._bench_common import steal_sample

from perfbench import corpus as corpus_mod
from perfbench import trace as tr

#: conversations per workload (conv 0 is 100x the median length, convs
#: 1-10 are 10x) and physical input buckets of the pipeline workload
N_CONVS = {"extract": 3000, "pipeline": 1000}
PIPELINE_BUCKETS = 2
#: untimed extract iterations before timing: walls still fall over the first few
EXTRACT_WARM_ITERS = 3
#: fewest timed iterations a run takes, whatever ``--seconds`` says
MIN_ITERS = {"extract": 3, "pipeline": 1}
#: times the corpus is generated during set-up; set-up reports the median
CORPUS_REPS = 3

_RAW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def checksum(df) -> tuple:
    """Order-insensitive hash of every column of every row: (rows,
    bit_xor of row hashes, sum of row hashes). Forces every column, so no
    projection can be pruned away from the plan under test. The count and
    the sum catch what ``bit_xor`` alone (``scripts/_bench_common.consume``)
    misses: a duplicated pair of rows cancels out of a xor. Columns are
    hashed in name order, so tables that differ only in column order agree."""
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).alias("_h")
    row = (
        df.select(h)
        .agg(
            F.count(F.lit(1)),
            F.expr("bit_xor(_h)"),
            F.sum(F.col("_h").cast("decimal(20,0)")),
        )
        .first()
    )
    return (row[0], row[1], str(row[2]))


def _write_raw(rows, path: str, n_files: int) -> None:
    """Write ``rows`` as ``n_files`` parquet files of equal row counts. Spark
    gives each such file a split of its own, so the scan has ``n_files``
    partitions whatever the seed; packing more, smaller files into splits
    would let the partition count follow the file sizes."""
    names = _RAW_SCHEMA.names
    table = pa.Table.from_pylist([dict(zip(names, r)) for r in rows], schema=_RAW_SCHEMA)
    os.makedirs(path)
    n = table.num_rows
    for i in range(n_files):
        lo, hi = i * n // n_files, (i + 1) * n // n_files
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:03d}.parquet"))


class Run:
    """State of one benchmark process: session, corpus, results."""

    def __init__(self, workload, seed, seconds, traced, cores, work):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.traced = traced
        self.cores = cores
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    # -- set-up -----------------------------------------------------------
    def start_session(self) -> None:
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.traced:
            self.event_dir = os.path.join(self.work, "events")
            os.makedirs(self.event_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            f"perfbench-{self.workload}",
            cpus=self.cores,
            shuffle_partitions=self.cores,
            extra_conf=conf,
        )

    def build_corpus(self) -> float:
        """Generate the seeded corpus CORPUS_REPS times (each must be
        identical: same seed, same inputs); returns the median seconds."""
        n = N_CONVS[self.workload]
        times, first = [], None
        for _ in range(CORPUS_REPS):
            t0 = time.monotonic()
            rows = corpus_mod.turns(n, self.seed)
            times.append(time.monotonic() - t0)
            if first is None:
                first = rows
            elif rows != first:
                raise RuntimeError("corpus generation is not deterministic")
        self.rows = first
        self.n_turns = len(first)
        raw = os.path.join(self.work, "raw")
        _write_raw(first, raw, self.cores)
        self.turns = self.spark.read.parquet(raw)
        return statistics.median(times)

    # -- one iteration per workload ------------------------------------------
    def iterate(self, i: int, extract_fn=None, catalog_cls=Catalog):
        """Run the workload once; returns what the checks compare."""
        if self.workload == "extract":
            return checksum(extract_stage(self.turns, extract_fn=extract_fn))
        root = os.path.join(self.work, f"catalog-{i}")
        cat = catalog_cls(self.spark, root)
        cfg = PipelineConfig(
            input_table=self.bucketed_path,
            run_id=f"bench-{self.seed}-{i}",
            extract_fn=extract_fn,
        )
        summary = run_pipeline(self.spark, cat, cfg)
        return (cat, cfg, summary)

    def prepare_and_warm(self) -> None:
        """Build the workload's input table and warm the timed call on it."""
        if self.workload == "extract":
            for i in range(EXTRACT_WARM_ITERS):
                self.iterate(-1 - i)
            return
        inputs = Catalog(self.spark, os.path.join(self.work, "input"))
        inputs.write_bucketed(self.turns, "transcripts", buckets=PIPELINE_BUCKETS)
        self.bucketed_path = inputs.path("transcripts")
        # the first wave of a run that is then cancelled: a cold wave takes
        # about twice a warm one, and a whole warm run would not fit the
        # time budget. Waves keep getting faster for about five waves, so
        # the timed waves are not fully warm either.
        polls = itertools.count()
        cfg = PipelineConfig(
            input_table=self.bucketed_path,
            run_id="warm",
            cancel_check=lambda: next(polls) > 0,
        )
        run_pipeline(self.spark, Catalog(self.spark, os.path.join(self.work, "warm")), cfg)

    # -- checks (outside the timed region) -------------------------------------
    def verify(self) -> None:
        """Check the workload's output against an independent oracle."""
        if self.workload == "extract":
            ext = extract_stage(self.turns).persist()
            try:
                self.ref = checksum(ext)
                got = ext.select(
                    "conv_id", "turn_idx", "extracted_text", "fmt", "rule", "spans"
                ).collect()
                lint = span_lint(ext).collect()
            finally:
                ext.unpersist()
            bad = sum(1 for r in got if self.gold.get((r[0], r[1])) != (r[2], r[3]))
            self.errors = sum(1 for r in got if r[4] == "error")
            if len(got) != self.n_turns or bad:
                self.problems.append(f"extract: {bad} of {len(got)} turns differ from golden")
            self._check_lint(lint, got)
        else:
            # the fold of the same input by the independent long-format route
            # (run_pipeline folds through the compact route)
            self.ref = checksum(consolidate_auto(extract_stage(self.turns), threshold=0))

    def _check_lint(self, lint, got) -> None:
        """span_lint must report zero violations, with one documented
        exception: ``layout-2col`` emits spans in reading order (left column,
        then right; pinned by test_layout_two_column_reading_order), which
        span_lint's source-order check flags. Those turns are counted in
        ``reading_order_turns`` and must instead have non-overlapping spans
        once sorted by offset."""
        self.reading_order_turns = 0
        for row in lint:
            n = row.n_bounds_violations + row.n_plain_violations
            if row.rule == "layout-2col":
                self.reading_order_turns += row.n_order_violations
            else:
                n += row.n_order_violations
            if n:
                self.problems.append(f"extract: span_lint {row.asDict()}")
        overlap = 0
        for r in got:
            if r[4] != "layout-2col":
                continue
            spans = sorted((s.start, s.end) for s in r[5])
            overlap += any(s > e for s, e in spans) or any(
                a[1] > b[0] for a, b in zip(spans, spans[1:])
            )
        if overlap:
            self.problems.append(f"extract: {overlap} layout-2col turns have overlapping spans")

    def check(self, out) -> bool:
        """One iteration's output against the reference; pipeline also checks
        lineage, row accounting and duplicate skips."""
        if self.workload != "pipeline":
            return out == self.ref and not self.problems
        cat, cfg, summary = out
        ok = not self.problems
        got = checksum(cat.read(cfg.output_table).drop("op_run_id"))
        if got != self.ref:
            self.problems.append(f"pipeline: output {got} != fold of input {self.ref}")
            ok = False
        lineage = cat.read(cfg.lineage_table).collect()
        done = [r for r in lineage if r.status == "Succeeded"]
        if len(done) != len(lineage) or len({r.partition_id for r in done}) != PIPELINE_BUCKETS:
            self.problems.append(f"pipeline: lineage {[(r.partition_id, r.status) for r in lineage]}")
            ok = False
        rows_in = sum(r.rows_in for r in done)
        if rows_in != self.n_turns:
            self.problems.append(f"pipeline: sum(rows_in)={rows_in} != {self.n_turns} turns")
            ok = False
        if summary["skipped_duplicates"]:
            self.problems.append(f"pipeline: {summary['skipped_duplicates']} duplicates skipped")
            ok = False
        self.errors = sum((r.rule_hits or {}).get("error", 0) for r in done)
        self.bucket_walls.extend(b["wall_ms"] / 1000 for b in summary["buckets"])
        self.buckets_ok += sum(b["status"] == "Succeeded" for b in summary["buckets"])
        self.buckets_tried += len(summary["buckets"])
        shutil.rmtree(cat.root, ignore_errors=True)
        return ok

    # -- measurement -------------------------------------------------------------
    def timed_iterations(self) -> list[float]:
        walls, outs = [], []
        deadline = time.monotonic() + self.seconds
        s0, j0 = steal_sample()
        while len(walls) < MIN_ITERS[self.workload] or time.monotonic() < deadline:
            self.spark.catalog.clearCache()
            t0 = time.monotonic()
            outs.append(self.iterate(len(walls)))
            walls.append(time.monotonic() - t0)
        s1, j1 = steal_sample()
        self.steal_share = (s1 - s0) / max(j1 - j0, 1)
        self.hwm_mb = tr.tree_hwm_mb(os.getpid())
        self.gold = corpus_mod.golden(N_CONVS[self.workload], self.seed, self.rows)
        self.verify()
        self.bucket_walls, self.buckets_ok, self.buckets_tried = [], 0, 0
        for out in outs:
            self.attempted += 1
            self.failed += not self.check(out)
        return walls


def run(workload, seed, seconds, traced, cores, work):
    r = Run(workload, seed, seconds, traced, cores, work)
    t0 = time.monotonic()
    r.start_session()
    try:
        session_s = time.monotonic() - t0
        corpus_s = r.build_corpus()
        t1 = time.monotonic()
        r.prepare_and_warm()
        prep_s = time.monotonic() - t1
        walls = r.timed_iterations()
        layers = traced_layers(r, statistics.median(walls)) if traced else None
    finally:
        stop_spark(r.spark)
    wall_s = statistics.median(walls)
    info = {
        "workload": workload,
        "seed": seed,
        "cores": cores,
        "convs": N_CONVS[workload],
        "turns": r.n_turns,
        "golden_mix": corpus_mod.mix(r.gold),
        "buckets": PIPELINE_BUCKETS if workload == "pipeline" else 1,
        "iterations": len(walls),
        "walls_s": walls,
        "steal_share": r.steal_share,
        "setup_parts_s": {"session": session_s, "corpus_median": corpus_s, "prepare_and_warm": prep_s},
        "problems": r.problems,
        "vm_hwm_mb": r.hwm_mb,
    }
    if workload == "extract":
        info["span_lint_reading_order_turns"] = r.reading_order_turns
    if traced:
        metrics = layers
    else:
        bucket_s = statistics.median(r.bucket_walls) if workload == "pipeline" else wall_s
        ok_share = r.buckets_ok / r.buckets_tried if workload == "pipeline" else 1.0
        metrics = {
            "wall_s": (wall_s, "s"),
            "turns_per_s": (r.n_turns / wall_s, "1/s"),
            "bucket_commit_s": (bucket_s, "s"),
            "setup_s": (session_s + corpus_s + prep_s, "s"),
            "clean_turn_share": (1.0 - r.errors / r.n_turns, "ratio"),
            "bucket_success_share": (ok_share, "ratio"),
        }
    result = {
        "correct": r.failed == 0 and not r.problems,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, info


def traced_layers(r: Run, untraced_wall: float) -> dict:
    """One traced iteration; per-layer metrics from its probes."""
    spark = r.spark
    acc = tr.layer_accumulator(spark.sparkContext)
    tracer = tr.Tracer(spark)
    names = PipelineConfig()
    roles = {
        names.extracted_table: "extracted",
        names.output_table: "output",
        names.lineage_table: "lineage",
    }
    timed_catalog = partial(tr.TimedCatalog, tracer=tracer, roles=roles)
    extract_fn = tr.TracedExtract(acc)
    with tracer.span(f"workload.{r.workload}", seed=r.seed):
        with tracer.span("extraction.identity"):
            src = r.turns.select("conv_id", "turn_idx", "text")
            t0 = time.monotonic()
            checksum(src.mapInArrow(tr.identity_batches, src.schema))
            identity_s = time.monotonic() - t0
        spark.catalog.clearCache()
        name = {"extract": "plans.pipeline.extract_stage",
                "pipeline": "plans.pipeline.run_pipeline"}[r.workload]
        with tracer.span(name) as call:
            t0 = time.monotonic()
            out = r.iterate(10_000, extract_fn=extract_fn, catalog_cls=timed_catalog)
            traced_wall = time.monotonic() - t0
    call_jobs = set(tracer.jobs(call["id"]))
    r.attempted += 1
    ok = r.check(out)
    r.failed += not ok
    if not ok:
        r.problems.append("traced iteration's output differs from the untraced one's")

    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    jobs, tasks = tr.event_log_tasks(r.event_dir)
    stages = {s for j in call_jobs for s in jobs[j]["stages"]}
    call_tasks = [t for t in tasks if t["stage"] in stages]

    by_stage: dict[int, list[dict]] = {}
    for t in call_tasks:
        by_stage.setdefault(t["stage"], []).append(t)
    skew = [
        max(t["run_ms"] for t in ts) / max(statistics.median(t["run_ms"] for t in ts), 1)
        for ts in by_stage.values()
        if len(ts) >= 2 and any(t["shuffle_read"] for t in ts)
    ]
    mb = 1 << 20
    lt = tr.layer_totals(acc.value)
    if lt["sniff_n"] < r.n_turns:
        r.problems.append(f"traced extract_fn saw {lt['sniff_n']} of {r.n_turns} turns")
    parse_cpu = lt["sniff_cpu_s"] + sum(lt["cpu_s"].values())
    cores = r.cores

    def per_turn(fmt):
        n = lt["turns"][fmt]
        return lt["cpu_s"][fmt] / n * 1e6 if n else 0.0

    m = {
        "dispatch.sniff_cpu_s": (lt["sniff_cpu_s"], "s"),
        **{f"dispatch.turns.{f}": (lt["turns"][f], "count") for f in tr.FORMATS},
        "dispatch.plain_cpu_s": (lt["cpu_s"]["plain"], "s"),
        "html_extract.cpu_s": (lt["cpu_s"]["html"], "s"),
        "html_extract.us_per_turn": (per_turn("html"), "us"),
        "pdf_layout.cpu_s": (lt["cpu_s"]["layout"], "s"),
        "pdf_layout.us_per_turn": (per_turn("layout"), "us"),
        "md_extract.cpu_s": (lt["cpu_s"]["md"], "s"),
        "extraction.identity_s": (identity_s, "s"),
        "extraction.parse_cpu_s": (parse_cpu, "s"),
        "extraction.parse_cpu_per_core_s": (parse_cpu / cores, "s"),
        "extraction.parse_share": (parse_cpu / (traced_wall * cores), "ratio"),
        "extraction.unattributed_s": (untraced_wall - identity_s - parse_cpu / cores, "s"),
        "aggregation.shuffle_write_mb": (sum(t["shuffle_write"] for t in call_tasks) / mb, "MB"),
        "aggregation.shuffle_read_mb": (sum(t["shuffle_read"] for t in call_tasks) / mb, "MB"),
        "aggregation.spill_mb": (sum(t["spill"] for t in call_tasks) / mb, "MB"),
        "aggregation.task_skew": (max(skew) if skew else 1.0, "ratio"),
        "pipeline.jobs_per_bucket": (
            len(call_jobs) / PIPELINE_BUCKETS if r.workload == "pipeline" else 0.0, "count"),
        "pipeline.input_mb_read": (sum(t["input"] for t in call_tasks) / mb, "MB"),
    }
    cat = out[0] if r.workload == "pipeline" else None
    for role in ("extracted", "output", "lineage"):
        m[f"catalog.append_s.{role}"] = (cat.append_s[role] if cat else 0.0, "s")
        m[f"catalog.bytes_written.{role}"] = (cat.bytes_written[role] if cat else 0, "bytes")
    m.update(
        {
            "spark.executor_cpu_s": (sum(t["cpu_ns"] for t in call_tasks) / 1e9, "s"),
            "spark.gc_s": (sum(t["gc_ms"] for t in call_tasks) / 1e3, "s"),
            "spark.busy_share": (
                sum(t["run_ms"] for t in call_tasks) / 1e3 / (traced_wall * cores), "ratio"),
            "spark.jobs": (len(call_jobs), "count"),
            "spark.tasks": (len(call_tasks), "count"),
            "trace.wall_s": (untraced_wall, "s"),
            "trace.traced_wall_s": (traced_wall, "s"),
            "trace.overhead": (traced_wall / untraced_wall, "ratio"),
            "host.steal_share": (r.steal_share, "ratio"),
            # each process's own peak RSS, summed over the driver, the JVM
            # and its Python workers
            "peak_rss_mb": (sum(tr.tree_hwm_mb(os.getpid()).values()), "MB"),
        }
    )
    out_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.dump(
        os.path.join(out_dir, f"trace-{r.workload}-s{r.seed}.json"),
        [jobs[j] for j in sorted(jobs)],
    )
    return m


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait until the JVM
    and every Python worker under it have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = tr.descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits on EOF from its parent
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in tree:
        while tr.alive(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
