"""Parameter planning walkthrough, runnable: at 100 TB, operator
parameters (LSH band geometry, watermark delay, session gap,
compaction target, layout key) are cost decisions — this engine
computes each one from an engine-checked planning TABLE instead of
folklore, and every planner below is driver-gate-verified
(COVERAGE.md lists each one's DuckDB oracle).

Run: python examples/parameter_planning.py [sf_dir]

Steps:
1. dedup geometry: d21 picks (bands, rows) per target Jaccard
   threshold from the LSH S-curve error mass — confirm the repo's
   8x2 geometry is the 0.35-target optimum
2. streaming watermark: t38 reads the drop rate per candidate delay
   off the simulated-arrival lateness distribution
3. session gap: t39's elbow curve, then t40 FUSES the choice with
   the sessionizer in one lazy plan (no driver round-trip)
4. storage maintenance: u21 prefix-sum compaction groups and u22's
   Z-order span audit (multi-dim pruning evidence)
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hi_csa_db_spark.queries import queries
from hi_csa_db_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("parameter-planning-example")
    q = queries()

    # 1. LSH band geometry per target threshold
    plan = {
        r["target_micro"]: r
        for r in q["d21_band_planner"](spark, sf_dir).collect()
    }
    for t in sorted(plan):
        r = plan[t]
        print(
            f"jaccard target {t / 1e6:.2f}: {r['bands']} bands x "
            f"{r['rows_per_band']} rows (err mass {r['err_micro'] / 1e6:.2f})"
        )
    assert (plan[350000]["bands"], plan[350000]["rows_per_band"]) == (8, 2), (
        "the d2/d9 geometry must win its design threshold"
    )

    # 2. watermark delay vs completeness
    wm = q["t38_watermark_planner"](spark, sf_dir).orderBy("watermark_s").collect()
    for r in wm:
        print(
            f"watermark {r['watermark_s']:>4}s: drops "
            f"{r['n_dropped']}/{r['n_events']} ({r['drop_micro'] / 1e4:.2f}%)"
        )
    assert wm[-1]["n_dropped"] <= wm[0]["n_dropped"], "monotone in delay"

    # 3. session gap: curve, then the fused auto-tuner
    curve = (
        q["t39_session_gap_planner"](spark, sf_dir).orderBy("gap_s").collect()
    )
    print(
        "session curve: "
        + "  ".join(f"{r['gap_s']}s->{r['n_sessions']}" for r in curve)
    )
    auto = q["t40_auto_gap_sessionize"](spark, sf_dir).collect()[0]
    print(
        f"auto-chosen gap: {auto['gap_s']}s -> {auto['n_sessions']} sessions"
        f" (avg {auto['avg_session_events_milli'] / 1e3:.2f} events)"
    )
    assert auto["gap_s"] in {r["gap_s"] for r in curve}

    # 4. storage maintenance: compaction + Z-order audit
    groups = q["u21_compaction_plan"](spark, sf_dir).collect()
    print(
        f"compaction: 16 shards -> {len(groups)} merge groups "
        f"(largest {max(g['total_chars'] for g in groups)} chars)"
    )
    zb = q["u22_zorder_layout"](spark, sf_dir).collect()
    worst = max(r["span_product"] for r in zb)
    print(
        f"z-order: {len(zb)} buckets, worst span product {worst} "
        f"(single-dim sort would be 65536)"
    )
    assert worst <= 4096, "z-bucket span bound"

    print("OK")


if __name__ == "__main__":
    main()
