"""Order statistics the benchmark reports and checks its own steadiness by."""

from __future__ import annotations

import statistics


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no values")
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(Q1, median, Q3) as `statistics.quantiles(values, n=4)` gives them
    (the default 'exclusive' method)."""
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return float(q1), float(q2), float(q3)


def iqr_share(values: list[float]) -> float:
    """Distance between the first and third quartile, as a share of the
    median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def summarize(records: list[dict]) -> dict:
    """Per workload and metric, over run records: sample count, median,
    quartiles and their spread as a share of the median."""
    by_metric: dict[tuple[str, str], list[float]] = {}
    for rec in records:
        for name, m in rec.get("result", {}).get("metrics", {}).items():
            by_metric.setdefault((rec["workload"], name), []).append(m["value"])
    out: dict[str, dict] = {}
    for (workload, name), vals in sorted(by_metric.items()):
        q1, q2, q3 = quartiles(vals)
        out.setdefault(workload, {})[name] = {
            "n": len(vals), "median": q2, "q1": q1, "q3": q3,
            "iqr_share": iqr_share(vals),
        }
    return out


if __name__ == "__main__":
    # python3 hostbench/stats.py .bench_work/records/*_trace0.json
    import json
    import sys

    recs = []
    for path in sys.argv[1:]:
        with open(path) as f:
            recs.append(json.load(f))
    print(json.dumps(summarize(recs), indent=1))
