"""Benchmark of record: extract and pipeline workloads.

Usage (from the repository root):

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Drives the package only through its public functions on one Spark session
at ``local[<cores>]`` (cores = this process's CPU affinity, as ``nproc``
reports). The workload seed feeds ``sources.datagen.generate_conv``.

* ``--trace 0`` prints the end-to-end metrics of untraced runs.
* ``--trace 1`` also runs one traced iteration (probes in ``trace.py``,
  Spark event log on) and prints the per-layer metrics instead.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The line before it (``perfbench-info``) records
the workload's seed, turn count, format mix, bucket count and the
hypervisor steal share of the measured window. Outputs are checked outside
the timed region; an iteration whose output fails a check counts as failed.
Exit code 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

WORKLOADS = ("extract", "pipeline")


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write under
    ``work``, and let the workers import the package and this benchmark."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    py_path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = f"{REPO}:{py_path}" if py_path else REPO
    # -XX:-UsePerfData: no hsperfdata files under /tmp from the driver JVM
    # or from the launcher JVM spark-submit runs first
    for var, opts in (
        ("SPARK_DRIVER_JAVA_OPTS", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
        ("SPARK_LAUNCHER_OPTS", "-XX:-UsePerfData"),
    ):
        os.environ[var] = f"{opts} {os.environ.get(var, '')}".strip()


def main(argv=None) -> int:
    args = _parse_args(argv)
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, REPO)
    try:
        import poc_document_ocr_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}", file=sys.stderr)
        return 2
    from perfbench import workloads

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _isolate(work)
        result, info = workloads.run(
            args.workload, args.seed, args.seconds, bool(args.trace), cores, work
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench-info " + json.dumps(info, sort_keys=True))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
