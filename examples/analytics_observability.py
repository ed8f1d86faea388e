"""Analytics + data-observability walkthrough, runnable: the
time-series and DQ tier over the events/orders fixtures — the
dashboard-shaped queries an operations team runs daily, all
driver-gate-verified operators (see COVERAGE.md for each one's
DuckDB oracle).

Run: python examples/analytics_observability.py [sf_dir]

Steps:
1. engagement: DAU/WAU stickiness per week (t32) and the EXACT
   7-day sliding distinct users via mergeable day bitmaps (t34)
2. seasonality: STL-lite decomposition (t28), seasonally-adjusted
   anomaly days (t29), seasonality strength (t33)
3. trend + forecastability: Theil-Sen robust slope (stats_theil_sen)
   and naive-forecast WAPE (t31) — is the weekly structure a real
   forecasting win?
4. data quality gate: header-vs-lines money reconciliation (dq11),
   join-fanout pre-flight (dq9), stream freshness (dq8)
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hi_csa_db_spark.queries import queries
from hi_csa_db_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("analytics-observability-example")
    q = queries()

    # 1. engagement
    stick = q["t32_dau_wau_stickiness"](spark, sf_dir).orderBy("week_n").collect()
    print(f"weeks tracked: {len(stick)}")
    for r in stick[:3]:
        print(
            f"  week {r['week_n']}: wau={r['wau']}"
            f" stickiness={r['stickiness_micro'] / 1e6:.3f}"
        )
    wau7 = q["t34_sliding_distinct"](spark, sf_dir).count()
    print(f"sliding 7-day distinct windows: {wau7}")

    # 2. seasonality
    anomalies = (
        q["t29_seasonal_anomaly"](spark, sf_dir)
        .filter("is_anomaly = 1")
        .count()
    )
    strength = q["t33_seasonality_strength"](spark, sf_dir).collect()[0]
    print(
        f"seasonal strength: {strength['seasonal_strength_micro'] / 1e6:.3f}"
        f" over {strength['n_days']} days; anomalous days: {anomalies}"
    )

    # 3. trend + forecastability
    slope = q["stats_theil_sen"](spark, sf_dir).collect()[0]
    fc = q["t31_forecast_error"](spark, sf_dir).collect()[0]
    print(
        f"robust slope: {slope['slope_micro_per_day'] / 1e6:+.3f} events/day"
        f" (over {slope['n_pairs']} pairs)"
    )
    better = "naive-7" if fc["wape7_micro"] < fc["wape1_micro"] else "naive-1"
    print(
        f"forecast WAPE: naive-1={fc['wape1_micro'] / 1e6:.3f}"
        f" naive-7={fc['wape7_micro'] / 1e6:.3f} -> {better} wins"
    )

    # 4. DQ gate
    rec = q["dq11_reconciliation"](spark, sf_dir).collect()
    mism = sum(r["n_mismatched"] for r in rec)
    fan = q["dq9_join_fanout"](spark, sf_dir).collect()[0]
    assert fan["predicted_rows"] == fan["actual_rows"], "fanout identity"
    fresh = q["dq8_freshness"](spark, sf_dir).orderBy("event_type").collect()
    stalest = max(r["staleness_sec"] for r in fresh)
    print(
        f"reconciliation: {mism} mismatched orders;"
        f" join fanout predicted=actual={fan['actual_rows']};"
        f" stalest stream: {stalest}s behind"
    )
    print("analytics observability complete")


if __name__ == "__main__":
    main()
