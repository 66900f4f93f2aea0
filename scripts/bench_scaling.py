"""Two-cluster-size scaling evidence (north-rule criterion).

The rule requires ≥0.8 throughput scaling efficiency from N to 4N
executors with byte-identical output. No real cluster exists in this
sandbox, so we evidence it the sanctioned way — the same job on the same
input at two parallelism levels, 8 and 32 cores — using Spark's
``local-cluster`` mode so the two levels are REAL executor processes
(1 executor × 8 cores vs 4 executors × 8 cores: separate JVMs, separate
GC, separate Python workers, serialized shuffles between processes), not
threads sharing one JVM. Efficiency = (T_4N / T_N) / 4.

Usage::

    python scripts/bench_scaling.py [sf_dir] [cluster [lo_execs lo_cores hi_execs hi_cores]]
    python scripts/bench_scaling.py [sf_dir] local [lo [hi]]

``cluster`` (default): local-cluster[1,2] vs local-cluster[4,2]; a shape
must give all four numbers or none.
``local``: shared-JVM local[lo] vs local[hi] (default 8 vs 32) — reported
for comparison; thread-mode numbers under-measure a real cluster (one
shared heap/GC and one codegen cache for all "executors").
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


#: the scaling pair runs the core six stages (the rounds-1..4 suite) so
#: efficiency numbers stay comparable across rounds; the round-5
#: flagship stages (semantic_dedup@400k, curate_pipeline) are measured
#: in the full-suite driver bench, not re-run per cluster shape
CORE_STAGES = (
    "extract,consolidate,consolidate_folds,dedup_minhash,"
    "token_stats,ann_topk"
)


def _env_for(shape: dict) -> dict:
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = shape["sf_dir"]
    env["SPARK_GRAFT_CPUS"] = str(shape["cpus"])
    env["SPARK_GRAFT_BENCH_STAGES"] = CORE_STAGES
    if shape.get("executors"):
        n, c = shape["executors"]
        env["SPARK_GRAFT_EXECUTORS"] = f"{n}x{c}"
    else:
        env.pop("SPARK_GRAFT_EXECUTORS", None)
    return env


def run_bench(shape: dict) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        env=_env_for(shape), capture_output=True, text=True, check=True,
    ).stdout
    line = [l for l in out.splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def output_hash(shape: dict) -> str:
    """Hash of the sorted consolidated output at a given parallelism."""
    code = f"""
import hashlib, sys
sys.path.insert(0, {REPO!r})
from poc_document_ocr_spark.session import get_spark
from poc_document_ocr_spark.operators.extraction import extract_turns
from poc_document_ocr_spark.plans.pipeline import consolidate_stage
import bench
spark = get_spark("scalehash", cpus={shape["cpus"]}, shuffle_partitions={shape["cpus"]})
turns = bench.synth_transcripts(spark, bench._sf_of({shape["sf_dir"]!r}))
rec = consolidate_stage(extract_turns(turns)).drop("provenance", "turn_idxs")
rows = sorted(repr(tuple(r)) for r in rec.collect())
print("HASH:" + hashlib.md5("\\n".join(rows).encode()).hexdigest())
"""
    out = subprocess.run(
        [sys.executable, "-c", code], env=_env_for(shape),
        capture_output=True, text=True, check=True,
    ).stdout
    return [l for l in out.splitlines() if l.startswith("HASH:")][-1][5:]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    mode = sys.argv[2] if len(sys.argv) > 2 else "cluster"
    if mode == "cluster":
        # N → 4N executors, same cores per executor: both points must leave
        # the 32-core box headroom so the ratio measures the ENGINE's
        # scaling rather than the box's shared memory-bandwidth ceiling.
        # The ceiling moved twice as per-core extraction got faster (rounds
        # 1-4 used 1×8→4×8, then 1×4→4×4; the final-session fast scanner +
        # Arrow boundary pushed per-core throughput high enough that 16
        # active cores already saturate — BENCH.md records the ladder), so
        # the shape is now an argument:
        #   python scripts/bench_scaling.py [sf_dir] cluster [lo_execs
        #   lo_cores hi_execs hi_cores]   (default 1 2 4 2)
        shape = sys.argv[3:]
        if len(shape) not in (0, 4):
            print(
                "usage: bench_scaling.py [sf_dir] cluster "
                "[lo_execs lo_cores hi_execs hi_cores] — give all four "
                f"shape numbers or none, got {shape}",
                file=sys.stderr,
            )
            sys.exit(2)
        le, lc, he, hc = [int(x) for x in shape] if shape else (1, 2, 4, 2)
        lo = {"sf_dir": sf_dir, "cpus": le * lc, "executors": (le, lc)}
        hi = {"sf_dir": sf_dir, "cpus": he * hc, "executors": (he, hc)}
        label_lo = f"local-cluster[{le},{lc}] ({le * lc} cores)"
        label_hi = f"local-cluster[{he},{hc}] ({he * hc} cores)"
    else:
        lo_n = int(sys.argv[3]) if len(sys.argv) > 3 else 8
        hi_n = int(sys.argv[4]) if len(sys.argv) > 4 else 32
        lo = {"sf_dir": sf_dir, "cpus": lo_n}
        hi = {"sf_dir": sf_dir, "cpus": hi_n}
        label_lo, label_hi = f"local[{lo_n}]", f"local[{hi_n}]"

    r_lo = run_bench(lo)
    r_hi = run_bench(hi)
    tput_lo, tput_hi = r_lo["turns_per_sec"], r_hi["turns_per_sec"]
    factor = hi["cpus"] / lo["cpus"]
    eff = tput_hi / (tput_lo * factor)
    h_lo = output_hash(lo)
    h_hi = output_hash(hi)
    identical = h_lo == h_hi

    md = f"""# BENCH — measured numbers (this repo)

North-rule scaling criterion: same job, same input, at two cluster sizes —
{label_lo} vs {label_hi}, as separate executor JVM processes via Spark
local-cluster mode (no real cluster in this sandbox).
Efficiency = (T_{factor:.0f}N / T_N) / {factor:.0f}.

| cluster size | extracted turns/sec | extract s | consolidate s | folds-only s | suite s |
|---|---|---|---|---|---|
| {label_lo}  | {tput_lo} | {r_lo['queries']['extract']} | {r_lo['queries']['consolidate']} | {r_lo['queries'].get('consolidate_folds', '—')} | {r_lo['value']} |
| {label_hi} | {tput_hi} | {r_hi['queries']['extract']} | {r_hi['queries']['consolidate']} | {r_hi['queries'].get('consolidate_folds', '—')} | {r_hi['value']} |

* corpus: sf={r_lo['sf']}, {r_lo['n_turns']} turns (~40% HTML / ~30% layout / ~30% plain, long-tail skew conversation included)
* throughput scaling efficiency {label_lo} → {label_hi} ({factor:.0f}×): **{eff:.2f}** (criterion ≥ 0.8{' — MET' if eff >= 0.8 else ' — NOT MET'})
* consolidated output byte-identical across parallelism: **{identical}** (md5 {h_lo[:12]}… vs {h_hi[:12]}…)
* methodology: the suite runs as interleaved same-window passes (every stage
  once per pass, per-stage medians across passes — see bench.py); runs whose
  /proc/stat hypervisor-steal share exceeds 2% are flagged (this host has
  measured noisy-neighbor windows). The scaling pair runs the core six
  stages so efficiency stays comparable with rounds 1-4; the round-5
  flagship stages are benched in the full-suite driver run.

```json
{json.dumps(r_lo)}
{json.dumps(r_hi)}
```

<!-- /generated — sections below this marker are preserved across runs -->
"""
    marker = "<!-- /generated"
    path = os.path.join(REPO, "BENCH.md")
    tail = ""
    if os.path.exists(path):
        existing = open(path).read()
        if marker in existing:
            tail = existing.split(marker, 1)[1].split("-->", 1)[1]
    with open(path, "w") as f:
        f.write(md + tail)
    print(md)


if __name__ == "__main__":
    main()
