#!/usr/bin/env python3
"""Layered workload benchmark for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the repo root. One run: build the engine and the JVM harness
from source (`perfbench/build.py`, skipped when up to date), generate
the fixture tables from the seed (`perfbench/gen.py`), start one JVM in
the run's own working directory, warm it up, time closed-loop passes
over the workload's keys for `--seconds`, then check every key's output
against its DuckDB oracle. The last stdout line is one JSON object:
`correct`, `attempted`, `failed` and `metrics` — the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. See
perfbench/README.md for what each workload and metric is for.
"""
import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

# Each workload's keys, and whether the artefact root is wiped before
# every pass. The lists are the layer-stressing subsets of the full
# workloads (README.md lists both and why each key is in): a run must
# fit the benchmark's time budget at local[nproc].
WORKLOADS = {
    # read-only and execution-heavy: exec is most of each key
    "analytics": ([
        "q1_pricing_summary", "q18_large_orders", "q21_waiting_suppliers",
        "agg_hash_group", "win_ranking"], False),
    # metadata transfer, snapshot-catalog, sink and streaming writes:
    # small data, build/commit-dominated
    "catalog_ingest": ([
        "meta_roundtrip", "meta_v2_write", "sink_compact", "stream_tumbling"],
        False),
    # LLM-data keys with no trained artefact left from an earlier pass:
    # artefact training and expression/UDF kernels on the blocking path
    "curation_cold": ([
        "sim_ann_ivf", "dedup_exact", "embed_quantize",
        "text_classifier_score", "mm_audio_decode"], True),
}

SF = 0.01          # fixture scale of a measured run
# Untimed passes before the timed ones, part of the set-up; the first
# one writes each key's output for the DuckDB check. Wall time per pass
# is within about 10% of the timed passes' by the third pass after it.
WARMUP_PASSES = 4
MIN_PASSES = 3     # timed passes run even past --seconds
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 150  # one run's JVM, from launch to exit

MODULES = ["sources", "operators", "functions", "catalog", "streaming",
           "nlp", "sim"]
END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("cpu_s", "s"),
              ("latency_p50_ms", "ms"), ("latency_p90_ms", "ms")]
PER_LAYER = (
    [("build.ms", "ms")] + [(f"build.ms.{m}", "ms") for m in MODULES] + [
        ("build.jobs", "count"), ("build.tasks", "count"),
        ("build.task_ms", "ms"), ("build.shuffle_write_bytes", "bytes"),
        ("plan.ms", "ms"), ("plan.analysis_ms", "ms"),
        ("plan.optimization_ms", "ms"), ("plan.planning_ms", "ms"),
        ("plan.exchanges", "count"), ("plan.scans", "count"),
        ("plan.reused_exchanges", "count"), ("plan.broadcasts", "count"),
        ("exec.ms", "ms"), ("exec.jobs", "count"), ("exec.stages", "count"),
        ("exec.tasks", "count"), ("exec.task_ms", "ms"),
        ("exec.task_skew", "ratio"), ("exec.input_bytes", "bytes"),
        ("exec.shuffle_read_bytes", "bytes"),
        ("exec.shuffle_write_bytes", "bytes"), ("exec.spill_bytes", "bytes"),
        ("exec.result_rows", "count"),
        ("commit.write_commands", "count"), ("commit.write_ms", "ms"),
        ("commit.files_written", "count"), ("commit.bytes_written", "bytes"),
        ("stream.batches", "count"), ("stream.input_rows", "count"),
        ("stream.trigger_ms", "ms"), ("stream.add_batch_ms", "ms"),
        ("stream.wal_commit_ms", "ms"), ("stream.commit_offsets_ms", "ms"),
        ("artifact.dirs_built", "count"), ("artifact.bytes_built", "bytes"),
        ("jvm.gc_ms", "ms"), ("jvm.heap_after_gc_mb", "MB"),
        ("trace.overhead_ratio", "ratio"), ("fail_ratio", "ratio")])

OUT = build.OUT
# The engine's own scratch-artefact root, relative to its working dir
# (graft.Tables.scratch).
ARTIFACT_ROOT = os.path.join("target", "scratch")
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg: str) -> None:
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def load_selfcheck():
    """The repo's own DuckDB comparator (tools/selfcheck.py), unchanged."""
    spec = importlib.util.spec_from_file_location(
        "selfcheck", os.path.join("tools", "selfcheck.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def run_jvm(classpath: str, argv: list, cwd: str, log_path: str) -> list:
    """Run the harness; return its `PB` records, each stamped with the
    wall time (since launch) at which it was read."""
    tmp = os.path.abspath(os.path.join(cwd, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{JVM_HEAP}"] + opens + [
        f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        f"-Dderby.system.home={os.path.abspath(cwd)}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.LayerBench"] + argv)
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    records = []
    with open(log_path, "w") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                                stderr=log, text=True)

        def pump():
            for line in proc.stdout:
                if line.startswith("PB "):
                    rec = json.loads(line[3:])
                    rec["t_read"] = time.perf_counter() - t0
                    records.append(rec)
        reader = threading.Thread(target=pump, daemon=True)
        reader.start()
        try:
            proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            reader.join()
            fail(f"JVM run exceeded {RUN_TIMEOUT_S}s; log: {log_path}")
        reader.join()
    if proc.returncode != 0 or not records or records[-1]["ev"] != "end":
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"JVM run failed (exit {proc.returncode}); log: {log_path}")
    return records


def check_outputs(records: list, data_dir: str, check_dir: str) -> dict:
    """key -> None when its output matches its DuckDB oracle, else the
    reason. Compares the way tools/selfcheck.py does, with its canon()."""
    import duckdb
    import pandas as pd
    sc = load_selfcheck()
    con = duckdb.connect()
    for t in sc.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    verdict = {}
    for rec in (r for r in records if r["ev"] == "check"):
        key = rec["key"]
        if "err" in rec:
            verdict[key] = f"threw: {rec['err']}"
            continue
        if not rec["oracle"]:
            verdict[key] = "no oracle SQL"
            continue
        try:
            sc_cols, sc_rows = sc.canon(pd.read_parquet(
                os.path.join(check_dir, key)))
            dk_cols, dk_rows = sc.canon(con.execute(rec["oracle"]).df())
        except Exception as e:  # noqa: BLE001 - reported as a mismatch
            verdict[key] = f"compare error: {e}"
            continue
        if sc_cols != dk_cols:
            verdict[key] = f"columns {sc_cols} vs {dk_cols}"
        elif len(sc_rows) != len(dk_rows):
            verdict[key] = f"rowcount {len(sc_rows)} vs {len(dk_rows)}"
        elif sc_rows != dk_rows:
            verdict[key] = "values differ"
        else:
            verdict[key] = None
    return verdict


def hd_median(values) -> float:
    """Harrell-Davis estimate of the median: a weighted mean of every
    order statistic, with Beta((n+1)/2, (n+1)/2) weights. A run has only
    3-5 timed passes and 12-25 latency samples; their plain median is one
    or two of them, and over a workload's keys it lands on the edge of
    one key's samples, so it jumps from run to run."""
    xs = sorted(values)
    # Each weight is the Beta density's mass over [i/n, (i+1)/n], by the
    # midpoint rule; dividing by the total drops the Beta function.
    n, steps = len(xs), 64
    a = (n + 1) / 2
    w = []
    for i in range(n):
        ts = ((i + (j + 0.5) / steps) / n for j in range(steps))
        w.append(sum((t * (1 - t)) ** (a - 1) for t in ts))
    return sum(x * wi for x, wi in zip(xs, w)) / sum(w)


def end_to_end(records: list) -> dict:
    ready = next(r for r in records if r["ev"] == "ready")
    passes = [r for r in records if r["ev"] == "pass" and r["timed"]
              and not r["traced"]]
    lat = [r["lat_ms"] for r in records if r["ev"] == "sample"
           and not r["traced"]]
    return {
        "setup_s": ready["t_read"],
        "pass_s": hd_median(p["wall_s"] for p in passes),
        "cpu_s": hd_median(p["cpu_s"] for p in passes),
        "latency_p50_ms": hd_median(lat),
        "latency_p90_ms": statistics.quantiles(lat, n=10,
                                               method="inclusive")[-1],
    }


def per_layer(records: list, failed: int, attempted: int) -> dict:
    """Each layer metric summed over a traced pass's keys; the median
    over traced passes. A metric a key did not report (a key that threw
    has no plan counts) counts 0 for that key."""
    samples = [r for r in records if r["ev"] == "sample" and r["traced"]]
    passes = sorted({r["pass"] for r in samples})
    traced = [r for r in records if r["ev"] == "pass" and r["timed"]
              and r["traced"]]
    plain = [r for r in records if r["ev"] == "pass" and r["timed"]
             and not r["traced"]]
    per_pass = []
    for p in passes:
        ss = [r for r in samples if r["pass"] == p]
        m = dict.fromkeys((name for name, _ in PER_LAYER), 0.0)
        for r in ss:
            m["build.ms"] += r["build_ms"]
            if f"build.ms.{r['module']}" in m:
                m[f"build.ms.{r['module']}"] += r["build_ms"]
            m["plan.ms"] += r["plan_ms"]
            m["exec.ms"] += r["exec_ms"]
            m["exec.result_rows"] += max(r["rows"], 0)
            for name, v in r["layers"].items():
                m[name] += v
        # the task skew of the pass's slowest exec stage
        m["exec.task_skew"] = max(
            ss, key=lambda r: r["slowest_stage_ms"])["task_skew"]
        per_pass.append(m)
    out = {name: statistics.median(m[name] for m in per_pass)
           for name, _ in PER_LAYER}
    out["jvm.gc_ms"] = statistics.median(p["gc_ms"] for p in traced)
    out["jvm.heap_after_gc_mb"] = next(
        r for r in records if r["ev"] == "measured")["heap_after_gc_mb"]
    out["trace.overhead_ratio"] = (
        statistics.median(p["wall_s"] for p in traced)
        / statistics.median(p["wall_s"] for p in plain))
    out["fail_ratio"] = failed / attempted
    return out


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    return ap.parse_args(argv)


def measure(workload: str, seed: int, seconds: float, trace: int,
            sf: float = SF) -> tuple:
    """One run: build, generate, drive the JVM, check outputs. Returns
    the JVM's records and the per-key output verdicts."""
    for need in [os.path.join("src", "main", "scala", "graft",
                              "SparkEntry.scala"),
                 os.path.join("tools", "selfcheck.py")]:
        if not os.path.isfile(need):
            fail(f"{need} not found: run from the root of the engine's repo")
    classpath = build.build()

    keys, cold = WORKLOADS[workload]
    run_dir = os.path.abspath(os.path.join(
        OUT, "run", f"{workload}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    work_dir = os.path.join(run_dir, "work")
    check_dir = os.path.join(run_dir, "check")
    os.makedirs(work_dir)
    gen.write(data_dir, sf, seed)

    records = run_jvm(classpath, [
        "--workload", workload, "--keys", ",".join(keys),
        "--sf-dir", data_dir, "--seconds", str(seconds),
        "--min-passes", str(MIN_PASSES), "--warmup", str(WARMUP_PASSES),
        "--seed", str(seed), "--trace", str(trace),
        "--cold", "1" if cold else "0", "--artifact-root", ARTIFACT_ROOT,
        "--check-dir", check_dir,
        "--cpus", str(len(os.sched_getaffinity(0)))],
        work_dir, os.path.join(run_dir, "jvm.log"))
    verdict = check_outputs(records, data_dir, check_dir)
    shutil.rmtree(run_dir, ignore_errors=True)
    return records, verdict


def report(records: list, verdict: dict) -> None:
    """Failures and sample counts, on stderr."""
    for k, why in sorted(verdict.items()):
        if why is not None:
            sys.stderr.write(f"perfbench: {k}: output check failed: {why}\n")
    samples = [r for r in records if r["ev"] == "sample"]
    for r in samples:
        if not r["ok"]:
            sys.stderr.write(f"perfbench: {r['key']} threw: {r['err']}\n")
    n_plain = sum(1 for r in samples if not r["traced"])
    n_ok = sum(1 for v in verdict.values() if v is None)
    sys.stderr.write(
        f"perfbench: {len(samples)} samples ({n_plain} untraced) over "
        f"{len(verdict)} keys; {n_ok}/{len(verdict)} outputs match DuckDB\n")


def result(records: list, verdict: dict, trace: int) -> dict:
    """The run's result object. A sample fails when its key threw or
    when the key's output did not match its oracle."""
    samples = [r for r in records if r["ev"] == "sample"]
    wrong = {k for k, v in verdict.items() if v is not None}
    failed = sum(1 for r in samples if not r["ok"] or r["key"] in wrong)
    attempted = len(samples)
    units = dict(END_TO_END) if trace == 0 else dict(PER_LAYER)
    values = end_to_end(records) if trace == 0 else \
        per_layer(records, failed, attempted)
    return {
        "correct": not wrong and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u}
                    for k, u in units.items()},
    }


def main(argv=None) -> int:
    a = parse_args(argv)
    records, verdict = measure(a.workload, a.seed, a.seconds, a.trace)
    report(records, verdict)
    print(json.dumps(result(records, verdict, a.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
