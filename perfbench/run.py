#!/usr/bin/env python3
"""Run one benchmark workload from a seed and print its result line.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 20 --trace 0

Steps: build (perfbench/build.py, cached per source tree), generate the
seeded inputs and their planted ground truth into a fresh run directory,
then launch one JVM directly (initial heap = maximum heap, local[nproc])
that sets up three times (a new session and the workload's first
operation in it), runs a fixed number of warm-up and measured operations,
checks the outputs and prints one JSON line. That line is the last line
this script prints. Everything the run writes stays under
.bench_build/perfbench/ (the run directory is removed afterwards); a
traced run (--trace 1) also leaves its spans and counters in
.bench_build/perfbench/traces/.

--seconds is the nominal measured window only: operation counts are
fixed per workload and sized to about that long on 4 cores, because a
time budget would change how much warm-up and how many samples a run
gets with the load on the host.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent / "gen"))
import build  # noqa: E402
import dupdocs  # noqa: E402
import jobposts  # noqa: E402

HEAP = "3g"
RUN_TIMEOUT_S = 170

# corpus generator and size per workload
WORKLOADS = {
    "pipeline": lambda out, seed: jobposts.generate(out, seed, n_docs=1500),
    "text_dedup": lambda out, seed: dupdocs.generate(out, seed, n_docs=2500),
}

SPARK_LAYERS = ["spark.task_s", "spark.cpu_s", "spark.gc_s", "spark.shuffle_read_mb",
                "spark.shuffle_write_mb", "spark.spill_mb", "spark.jobs", "spark.stages",
                "spark.tasks", "spark.actions", "spark.driver_s"]
# the per-layer metrics each workload measures; the other per-layer
# metrics in BENCHMARK.json belong to layers it never calls
OWN_LAYERS = {
    "pipeline": ["plans.s1_preprocess_s", "operators.s2_embed_s", "plans.s3_index_s",
                 "functions.s4_pairs_s", "sources.sinks_s", "functions.cosine_ns"] + SPARK_LAYERS,
    "text_dedup": ["operators.candidates_s", "operators.verify_s", "operators.cc_s",
                   "candidate_pairs", "verified_pairs", "cc_rounds", "verify_yield",
                   "functions.minhash_ns_per_doc"] + SPARK_LAYERS,
}

# Spark 4 on JDK 17 outside spark-submit needs these (the list
# org.apache.spark.launcher.JavaModuleOptions gives).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def complete_metrics(result, workload, trace):
    """Check that the JVM reported exactly the metrics the workload owns
    (every end-to-end metric; its own per-layer metrics), then list them
    in BENCHMARK.json's order. A per-layer metric of a layer the workload
    never calls did no work in it and reads 0."""
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    listed = spec["per_layer" if trace else "end_to_end"]
    owned = set(OWN_LAYERS[workload]) if trace else {m["name"] for m in listed}
    metrics = result["metrics"]
    if set(metrics) != owned:
        sys.exit(f"perfbench: {workload} reported {sorted(set(metrics) - owned)} it does not own "
                 f"and not {sorted(owned - set(metrics))} it owns")
    for m in listed:
        got = metrics.setdefault(m["name"], {"value": 0.0, "unit": m["unit"]})
        if got["unit"] != m["unit"]:
            sys.exit(f"perfbench: {m['name']} in {got['unit']}, BENCHMARK.json says {m['unit']}")
    result["metrics"] = {m["name"]: metrics[m["name"]] for m in listed}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    classes = build.ensure_built()
    started = time.monotonic()
    run_dir = build.OUT / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("data", "tmp", "spark-local", "store", "work"):
        (run_dir / d).mkdir(parents=True)
    log = build.OUT / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    try:
        WORKLOADS[a.workload](str(run_dir / "data"), a.seed)
        env = dict(os.environ,
                   SPARK_GRAFT_INDEX_DIR=str(run_dir / "store"),
                   SPARK_GRAFT_CPUS=str(os.cpu_count()))
        jars = os.path.join(build.spark_jar_dir(), "*")
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={run_dir / 'tmp'}",
               f"-Dspark.local.dir={run_dir / 'spark-local'}",
               f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for m in ADD_OPENS:
            cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
        cmd += ["-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Main",
                "--workload", a.workload, "--seed", str(a.seed), "--trace", str(a.trace),
                "--data", str(run_dir / "data"), "--run-dir", str(run_dir),
                "--trace-file", str(build.OUT / "traces" / f"{a.workload}-seed{a.seed}.json")]
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                    stderr=err, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S - (time.monotonic() - started))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                sys.exit(f"perfbench: {a.workload} did not finish in {RUN_TIMEOUT_S} s; log: {log}")
        lines = [l for l in out.splitlines() if l.startswith("{")]
        if proc.returncode != 0 or not lines:
            sys.stderr.write(log.read_text()[-4000:])
            sys.exit(f"perfbench: JVM exited with {proc.returncode}; log: {log}")
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
        complete_metrics(result, a.workload, a.trace)
        print(json.dumps(result))
        if not result["correct"]:
            sys.exit(f"perfbench: output checks failed; log: {log}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
