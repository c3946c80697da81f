#!/usr/bin/env python3
"""Lake benchmark: ETL, SQL serving and corpus curation on the engine.

Run from the repository root:

    python3 perfbench/run.py --workload lake_etl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

The first run builds the engine and the harness from source with sbt
(offline) into `.bench_build/`; later runs reuse the build while the
sources are unchanged. Each run starts one JVM (`local[N]`, N = usable
cores), sets up three times, measures a closed loop for `--seconds`,
checks every result against DuckDB, and prints one line per metric plus a
final JSON line. Exit status is non-zero on any correctness mismatch.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
WORK = ROOT / ".bench_work"
WORKLOADS = ["lake_etl", "serve_sql", "corpus_curate"]
DEFAULT_SEED = 1
HELD_OUT_SEED = 1009
EXPECTED = HERE / "expected" / "corpus_curate.json"

# JVM flags of the engine's own runtime (the repository build's
# javaOptions): Spark on JDK 17 needs the module opens, and the catalog
# keeps date partition keys as strings.
ADD_OPENS = [f"--add-opens={m}=ALL-UNNAMED" for m in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]
ENGINE_PROPS = ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-Dspark.sql.legacy.parquet.nanosAsLong=true",
                "-Dspark.sql.sources.partitionColumnTypeInference.enabled=false"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
              HERE / "harness" / "build.sbt", HERE / "harness" / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "harness" / "src"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file())
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; returns the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources under {ROOT} (expected build.sbt and src/main/scala)")
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath", BUILD / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and cp_file.is_file():
        return cp_file.read_text().strip()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = BUILD / "build.log"
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "harness/compile",
             "export harness/Runtime/fullClasspath"],
            cwd=HERE / "harness", env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = log.read_text().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed", 1)
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def benchmark_spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def run_jvm(cp, workload, workdir, seed, seconds, trace, cores, deadline):
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", *ADD_OPENS, *ENGINE_PROPS, "-cp", cp,
           "perfbench.Harness", workload, str(workdir), str(seed), str(seconds),
           str(trace), str(cores)]
    log = workdir / "jvm.log"
    with open(log, "w") as out:
        try:
            proc = subprocess.run(cmd, cwd=workdir, stdout=out, stderr=subprocess.STDOUT,
                                  stdin=subprocess.DEVNULL,
                                  timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            fail(f"{workload}: harness JVM timed out", 1)
    if proc.returncode != 0 or not (workdir / "result.json").is_file():
        sys.stderr.write("\n".join(log.read_text().splitlines()[-40:]) + "\n")
        fail(f"{workload}: harness JVM exited with {proc.returncode}", 1)
    return json.loads((workdir / "result.json").read_text())


def check(workload, res, seed):
    import check as checks
    if workload == "lake_etl":
        return checks.check_lake(res), {}
    if workload == "serve_sql":
        return checks.check_serve(res), {}
    return checks.check_corpus(res, seed, checks.load_expected(EXPECTED))


def run_one(workload, seed, seconds, trace, spec):
    cp = build()
    deadline = time.monotonic() + 170.0
    cores = len(os.sched_getaffinity(0))
    workdir = WORK / f"run-{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    workdir.mkdir(parents=True)
    try:
        t0 = time.monotonic()
        res = run_jvm(cp, workload, workdir, seed, seconds, trace, cores, deadline)
        t1 = time.monotonic()
        sys.path.insert(0, str(HERE))
        fails, observed = check(workload, res, seed)
        t2 = time.monotonic()
        if trace:
            traces = WORK / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            shutil.copy(workdir / "spans.jsonl", traces / f"{workload}-{seed}.spans.jsonl")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    attempted = int(res["attempted"])
    failed = min(attempted, int(res["failed"]) + len(fails))
    named = dict(res["named"])
    named["failed_ops_frac"] = failed / attempted
    source = spec["per_layer"] if trace else spec["end_to_end"]
    values = res["per_layer"] if trace else res["end_to_end"]
    missing = [m["name"] for m in source if values.get(m["name"]) is None]
    if missing:
        fail(f"{workload}: harness did not report {missing}", 1)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in source}
    entry = {"ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()), "workload": workload,
             "seed": seed, "trace": trace, "cores": cores, "seconds": seconds,
             "attempted": attempted, "failed": failed, "failures": fails,
             "end_to_end": res["end_to_end"], "named": named, "counters": res["counters"],
             "per_layer": res["per_layer"], "session_start_s": res["session_start_s"],
             "setup_pass_ms": res["setup_pass_ms"], "warm_up_ms": res["warm_up_ms"],
             "op_ms": res["op_ms"],
             "sentinel_before_ms": res["sentinel_before_ms"],
             "sentinel_after_ms": res["sentinel_after_ms"], "corpus": observed,
             "jvm_s": t1 - t0, "check_s": t2 - t1}
    WORK.mkdir(parents=True, exist_ok=True)
    with open(WORK / "records.jsonl", "a") as f:
        f.write(json.dumps(entry, sort_keys=True) + "\n")
    for msg in fails:
        print(f"MISMATCH {msg}", file=sys.stderr)
    return {"correct": not fails, "attempted": attempted, "failed": failed,
            "metrics": metrics}, named


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED,
                    help=f"input seed (default {DEFAULT_SEED}; {HELD_OUT_SEED} is held out for "
                         "re-checking a gain on data nobody tuned against)")
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"no engine sources under {ROOT} (expected build.sbt and src/main/scala)")
    spec = benchmark_spec()
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    named_units = {"land_rows_per_s": "rows/s", "transform_rows_per_s": "rows/s",
                   "serve_p50_ms": "ms", "serve_p90_ms": "ms", "serve_qps": "queries/s",
                   "curate_docs_per_s": "docs/s", "failed_ops_frac": "ratio"}
    workloads = WORKLOADS if args.workload == "all" else [args.workload]
    results = {}
    for w in workloads:
        result, named = run_one(w, args.seed, seconds, args.trace, spec)
        results[w] = result
        for k, m in result["metrics"].items():
            print(f"{w} {k} = {m['value']:.6g} {units[k]}")
        for k, v in named.items():
            print(f"{w} {k} = {v:.6g} {named_units[k]}")
    if len(workloads) > 1:
        # several workloads: one summary line, metric names prefixed by workload
        result = {"correct": all(r["correct"] for r in results.values()),
                  "attempted": sum(r["attempted"] for r in results.values()),
                  "failed": sum(r["failed"] for r in results.values()),
                  "metrics": {f"{w}.{k}": m for w, r in results.items()
                              for k, m in r["metrics"].items()}}
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
