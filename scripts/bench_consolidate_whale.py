"""sf1 bench point for consolidate_auto's long route (VERDICT r4 task #6).

The threshold router is pytest-pinned on synthetic extremes
(tests/test_aggregation.py:350); this measures it at driver-bench scale:
the sf1 extracted corpus (18.8M turns) plus ONE planted whale
conversation carrying ~10^6 field contributions (far past the compact
fold's collect_list buffer comfort zone). The run proves

* the router sends exactly the whale to the long per-field streaming
  fold while the other ~2.35M conversations keep the compact path,
* the composed wall stays bounded (reported vs the no-whale baseline
  in the same session/window), and
* the whale's own fold completes — the compact path would buffer the
  whole 10^6-contribution conversation in one aggregation buffer.

Usage::

    python scripts/bench_consolidate_whale.py          # sf1 corpus
    SPARK_GRAFT_BENCH_SCALE=0.1 python scripts/bench_consolidate_whale.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from poc_document_ocr_spark.operators.aggregation import consolidate_auto
from poc_document_ocr_spark.session import get_spark
from scripts._bench_common import steal_sample

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    scale = os.environ.get("SPARK_GRAFT_BENCH_SCALE", "1")
    spark = get_spark(
        "bench_consolidate_whale", cpus=cpus, shuffle_partitions=cpus,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024)
        },
    )
    extracted = spark.read.parquet(
        os.path.join(REPO, ".bench_cache", f"extracted_{scale}.parquet")
    )

    # the whale: ONE conversation whose turns carry dense field lines —
    # 4000 turns × 250 lines = 10^6 contributions in a single run (no
    # identifier transitions, so with_runs keeps it one group; the
    # pytest's million-line construction, at bench grain). Distributed
    # generation, materialized so the timed plan reads settled input.
    n_turns, lines_per_turn = 4_000, 250
    line = (
        "CASE WHEN j % 100 = 0 THEN "
        "  printf('firstName: fn-%04d [0.%03d]', id, CAST(id % 500 AS INT))"
        " WHEN j % 100 = 1 THEN 'defendantSignature: signed [0.40]'"
        " ELSE printf('mainCharge: part-%04d-%03d [0.90]', id, j) END"
    )
    whale = spark.sql(
        f"""
        SELECT 'whale-0' AS conv_id, CAST(id + 1 AS INT) AS turn_idx,
               'user' AS role, CAST(NULL AS STRING) AS text,
               CAST(NULL AS STRING) AS tool,
               CAST(NULL AS TIMESTAMP) AS ts,
               concat_ws('\n', transform(sequence(0, {lines_per_turn - 1}),
                                         j -> {line})) AS extracted_text,
               CAST(NULL AS ARRAY<STRUCT<start: INT, end: INT>>) AS spans,
               CAST(NULL AS STRING) AS rule, CAST(NULL AS STRING) AS fmt
        FROM range({n_turns})
        """
    ).localCheckpoint()
    n_whale = whale.count()

    def timed(fn):
        spark.catalog.clearCache()
        s0, j0 = steal_sample()
        t0 = time.monotonic()
        res = fn()
        dt = round(time.monotonic() - t0, 2)
        s1, j1 = steal_sample()
        return dt, round((s1 - s0) / max(j1 - j0, 1), 4), res

    # warm-up compiles both route shapes on a small slice
    small = extracted.limit(2000).localCheckpoint()
    consolidate_auto(small, threshold=3).agg(F.count(F.lit(1))).collect()

    # baseline: the unmodified sf corpus, default threshold (nothing routes
    # long — every natural conversation is far below 100k contributions)
    base_wall, base_steal, base_n = timed(
        lambda: consolidate_auto(extracted)
        .agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
    )

    # whale run: same corpus + the 10^6-contribution conversation; the
    # router must send ONLY the whale to the long path
    both = extracted.unionByName(whale)
    whale_wall, whale_steal, whale_n = timed(
        lambda: consolidate_auto(both)
        .agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
    )

    # route audit: contribution counts per (conv, run) — the whale is the
    # single group above threshold
    from poc_document_ocr_spark.operators.fields import (
        best_extracted_id,
        contributions_array,
    )
    from poc_document_ocr_spark.operators.aggregation import with_runs

    t = both.select(
        "conv_id", "turn_idx",
        contributions_array("extracted_text").alias("contribs"),
    ).withColumn("extracted_id", best_extracted_id("contribs"))
    t = with_runs(t, id_col="extracted_id")
    routed = (
        t.groupBy("conv_id", "run_id")
        .agg(F.sum(F.size(F.coalesce("contribs", F.array()))).alias("n_c"))
        .filter(F.col("n_c") > 100_000)
        .collect()
    )
    assert all(r["conv_id"] == "whale-0" for r in routed), routed
    whale_contribs = sum(r["n_c"] for r in routed)

    print(json.dumps({
        "metric": "consolidate_auto long-route wall at driver bench scale "
        "(planted 10^6-contribution conversation vs no-whale baseline, "
        "same session)",
        "scale": scale,
        "cpus": cpus,
        "whale_turns": n_whale,
        "whale_contributions": whale_contribs,
        "long_routed_groups": len(routed),
        "baseline": {"wall_sec": base_wall, "steal": base_steal,
                     "rows": base_n},
        "with_whale": {"wall_sec": whale_wall, "steal": whale_steal,
                       "rows": whale_n},
        "overhead_ratio": round(whale_wall / base_wall, 3),
    }))


if __name__ == "__main__":
    main()
