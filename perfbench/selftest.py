#!/usr/bin/env python3
"""Self-test of the layered benchmark, at sf0.001.

    python3 perfbench/selftest.py        # from the repo root; ~2 min

Per workload it makes one traced run with the minimum timed passes
(untraced and traced alternating) after the set-up, and asserts:

- every end-to-end and per-layer metric is emitted, numeric, with its
  unit, and every key's output matches its DuckDB oracle;
- for each key, `build.ms + plan.ms + exec.ms` accounts for its traced
  latency within the tracing overhead;
- `stream.batches > 0` on `catalog_ingest`;
- a key that throws in a traced pass still yields every per-layer
  metric, and counts in `fail_ratio`.

Exits 0 when every assertion holds, 1 otherwise.
"""
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run  # noqa: E402

# Noise allowance on a key's layer accounting: one sample of each kind
# is all a single pass gives.
SLACK_SHARE = 0.05
SLACK_MS = 25.0


def check_metrics(out: dict, expected: list, where: str) -> list:
    errs = []
    got = out["metrics"]
    for name, unit in expected:
        m = got.get(name)
        if m is None:
            errs.append(f"{where}: metric {name} missing")
        elif m["unit"] != unit:
            errs.append(f"{where}: {name} unit {m['unit']}, want {unit}")
        elif not isinstance(m["value"], (int, float)) \
                or not math.isfinite(m["value"]):
            errs.append(f"{where}: {name} value {m['value']!r}")
    extra = set(got) - {n for n, _ in expected}
    if extra:
        errs.append(f"{where}: unexpected metrics {sorted(extra)}")
    return errs


def check_accounting(records: list, overhead: float, where: str) -> list:
    """A key's traced latency minus its three layers is the tracing
    machinery (bus drains); it may not exceed the measured overhead."""
    errs = []
    rho = max(overhead, 1.0)
    for r in (r for r in records if r["ev"] == "sample" and r["traced"]):
        layers = r["build_ms"] + r["plan_ms"] + r["exec_ms"]
        gap = r["lat_ms"] - layers
        allowed = (rho - 1.0 + SLACK_SHARE) * r["lat_ms"] + SLACK_MS
        if gap < 0 or gap > allowed:
            errs.append(f"{where}: {r['key']}: layers {layers:.1f} ms vs "
                        f"traced latency {r['lat_ms']:.1f} ms "
                        f"(allowed gap {allowed:.1f} ms)")
    return errs


def check_thrown_key(records: list, verdict: dict, where: str) -> list:
    """A key that throws has no plan counts and fails its samples; the
    traced result must still carry every per-layer metric and count it
    in `fail_ratio`, whichever pass and position it threw in."""
    errs = []
    first = next(r for r in records if r["ev"] == "sample" and r["traced"])
    counts = {"plan.exchanges", "plan.scans", "plan.reused_exchanges",
              "plan.broadcasts"}
    thrown = dict(first, ok=False, err="java.lang.RuntimeException: test",
                  rows=-1, layers={k: v for k, v in first["layers"].items()
                                   if k not in counts})
    records = [thrown if r is first else r for r in records]
    try:
        out = run.result(records, verdict, 1)
    except Exception as e:  # noqa: BLE001 - the failure being tested for
        return [f"{where}: traced result with a thrown key raised {e!r}"]
    errs += check_metrics(out, run.PER_LAYER, f"{where} (thrown key)")
    if out["correct"] or out["failed"] < 1 \
            or out["metrics"]["fail_ratio"]["value"] <= 0:
        errs.append(f"{where}: a thrown key was not counted as failed")
    return errs


def main() -> int:
    errs = []
    for workload in run.WORKLOADS:
        # --seconds 0: the minimum passes, untraced and traced alternating
        records, verdict = run.measure(workload, 1, 0, 1, sf=0.001)
        run.report(records, verdict)
        e2e = run.result(records, verdict, 0)
        layers = run.result(records, verdict, 1)
        errs += check_metrics(e2e, run.END_TO_END, workload)
        errs += check_metrics(layers, run.PER_LAYER, workload)
        if not layers["correct"]:
            errs.append(f"{workload}: outputs failed the check: "
                        f"{ {k: v for k, v in verdict.items() if v} }")
        overhead = layers["metrics"]["trace.overhead_ratio"]["value"]
        errs += check_accounting(records, overhead, workload)
        if workload == "catalog_ingest" \
                and layers["metrics"]["stream.batches"]["value"] <= 0:
            errs.append("catalog_ingest: stream.batches is 0")
        errs += check_thrown_key(records, verdict, workload)
        print(f"selftest: {workload}: checked "
              f"({layers['attempted']} samples, overhead {overhead:.3f})")
    for e in errs:
        print(f"selftest: FAIL {e}")
    print("selftest: " + ("FAILED" if errs else "ok"))
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
