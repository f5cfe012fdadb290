#!/usr/bin/env python3
"""graft benchmark: featurize and curation workloads, end to end and per layer.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles graft's main sources together with
the benchmark (perfbench/build.sbt); later runs reuse the build while
the sources are unchanged. Each run makes its inputs from the seed,
starts one JVM at local[<cores>], times passes over the workload's
pipelines for --seconds, dumps one execution of every pipeline and
compares it bit-exactly with the pipeline's DuckDB oracle. With
--trace 1 it also traces the passes, probes each layer, and writes the
spans to perfbench/.work/trace-<workload>-seed<n>.json.

The next-to-last stdout line holds every pipeline's median time by
name; the last line is the result:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
Everything the run writes stays under perfbench/.work and
perfbench/target.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
CDS = WORK / "classes.jsa"
sys.path.insert(0, str(BENCH))

import gen_inputs  # noqa: E402
import oracle_check  # noqa: E402

# input shape of each workload: events (series x rows per series) and/or documents
WORKLOADS = {
    "featurize_long": {"events": (80, 2500)},
    "curation": {"documents": 5000},
}
# inputs of the layer probes of traced runs, the same for every workload
PROBE = {"events": (2000, 50), "documents": 5000}
# tiny input of the class-data-sharing training run
CDS_TRAINING = {"events": (20, 50), "documents": 100}
GEN_REPS = 3
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840

END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s", "peak_task_mem_mb": "MiB"}
PER_LAYER = {
    "plans.multiroll_ns_per_row.w7": "ns/row",
    "plans.taylor_ns_per_row.w9": "ns/row",
    "plans.taylor_ns_per_row.w14": "ns/row",
    "graft.plan_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_failures": "count",
    "spark.task_s": "s",
    "spark.task_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.peak_task_mem_bytes": "bytes",
    "spark.driver_idle_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.pairs_kept": "count",
    "dedup.pair_yield": "ratio",
    "functions.bpe_train_s": "s",
    "functions.bpe_jobs": "count",
    "streaming.batches": "count",
    "streaming.batch_s.p50": "s",
    "streaming.state_rows": "count",
    "streaming.state_mem_bytes": "bytes",
    "sources.scan_bytes": "bytes",
    "sources.scan_s": "s",
    "bench.trace_overhead_frac": "ratio",
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "2g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def sources_digest():
    """Digest of everything the build compiles, to reuse a current build."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", BENCH / "src", BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files = sorted(p for p in r.rglob("*") if p.is_file()) if r.is_dir() else [r]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles graft + the benchmark with sbt unless the last build is
    current; returns (runtime classpath, whether it built)."""
    stamp, cp_file = WORK / "build.stamp", WORK / "classpath.txt"
    digest = sources_digest()
    if stamp.exists() and cp_file.exists() and CDS.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip(), False
    log("building graft and the benchmark with sbt ...")
    t0 = time.monotonic()
    try:
        p = subprocess.run(
            # sbt's global state (settings, staging) stays in the work dir too
            ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dsbt.global.base={WORK / 'sbt-global'}",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("sbt build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(f"sbt build failed with code {p.returncode}")
    cps = [ln.strip() for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if not cps:
        fail("sbt printed no classpath")
    WORK.mkdir(parents=True, exist_ok=True)
    train_cds(cps[-1])
    cp_file.write_text(cps[-1])
    stamp.write_text(digest)
    log(f"build done in {time.monotonic() - t0:.0f} s")
    return cps[-1], True


def train_cds(classpath):
    """Archives the classes of a short training run (class-data sharing),
    which cuts the JVM and Spark start-up of every later run. Every run
    starts from the archive (-Xshare:on), so set-up time always has the
    same start-up path: a build that cannot make the archive fails."""
    CDS.unlink(missing_ok=True)
    train = WORK / "cds-training"
    shutil.rmtree(train, ignore_errors=True)
    generate(CDS_TRAINING, train, 0, reps=1)
    try:
        p = subprocess.run(java_cmd(classpath, [f"-XX:ArchiveClassesAtExit={CDS}"])
                           + ["perfbench.CdsTraining", str(train), str(train)],
                           cwd=WORK, env=java_env(), stdin=subprocess.DEVNULL, capture_output=True,
                           text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("class-data sharing training run timed out")
    if p.returncode != 0 or not CDS.exists():
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-4000:])
        fail(f"class-data sharing archive not created (training run exited with code {p.returncode})")
    shutil.rmtree(train, ignore_errors=True)


def generate(shape, out_dir, seed, reps=GEN_REPS):
    """Writes the inputs of `shape`; returns the median generation time."""
    out_dir.mkdir(parents=True, exist_ok=True)
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        if "events" in shape:
            gen_inputs.events(str(out_dir / "events.parquet"), seed, *shape["events"])
        if "documents" in shape:
            gen_inputs.documents(str(out_dir / "documents.parquet"), seed, shape["documents"])
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def java_cmd(classpath, extra):
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed, pre-touched heap: no page faults or heap resizing mid-run
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}"] + extra
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def java_env():
    # Spark's scratch space stays inside the work dir too
    return dict(os.environ, SPARK_LOCAL_DIRS=str(WORK / "spark-local"))


def run_jvm(classpath, args, run_dir, check, deadline):
    """Runs one benchmark JVM. Once it has written its correctness dump it
    runs untimed warm passes; `check()` compares the dump with the
    oracles meanwhile, and the JVM starts timing only after that."""
    # -Xshare:on: the JVM stops instead of starting without the archive
    cmd = java_cmd(classpath, ["-Xshare:on", f"-XX:SharedArchiveFile={CDS}"]) + ["perfbench.Main"] + args
    proc = subprocess.Popen(cmd, cwd=WORK, env=java_env(), stdin=subprocess.DEVNULL, stdout=sys.stderr)
    try:
        while not (run_dir / "dumped").exists():
            if proc.poll() is not None:
                fail(f"benchmark JVM exited with code {proc.returncode} before its correctness dump")
            if time.monotonic() > deadline:
                fail("benchmark JVM ran past the time limit")
            time.sleep(0.05)
        t0 = time.monotonic()
        checks = check()
        log(f"oracle check {time.monotonic() - t0:.1f} s")
        (run_dir / "oracle_done").write_text("")
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        fail("benchmark JVM ran past the time limit")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        fail(f"benchmark JVM exited with code {rc}")
    return checks


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.monotonic()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("graft's sources (src/main/scala/graft) are not next to perfbench/; run from a full checkout")
    if not os.environ.get("SPARK_HOME"):
        submit = shutil.which("spark-submit")
        if not submit:
            fail("SPARK_HOME is not set and spark-submit is not on PATH")
        os.environ["SPARK_HOME"] = str(Path(submit).resolve().parent.parent)
    classpath, built = build()
    # a run that built gets its full time limit after the build
    deadline = (time.monotonic() if built else t_start) + RUN_LIMIT_S

    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    input_dir, probe_dir = WORK / "input", WORK / "probe"
    shutil.rmtree(input_dir, ignore_errors=True)
    gen_s = generate(WORKLOADS[a.workload], input_dir, a.seed)
    if a.trace:
        shutil.rmtree(probe_dir, ignore_errors=True)
        generate(PROBE, probe_dir, a.seed)
    run_dir.mkdir(parents=True)

    checks = run_jvm(classpath, [
        "--workload", a.workload, "--input", str(input_dir),
        "--probe", str(probe_dir) if a.trace else "-",
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(run_dir),
        "--seed", str(a.seed), "--gen-seconds", repr(gen_s)],
        run_dir, lambda: oracle_check.check(input_dir, run_dir / "dump"), deadline)
    res = json.loads((run_dir / "jvm_result.json").read_text())
    log(f"pass times {res['pass_s']}")
    wrong = [q for q, ok in checks.items() if not ok]
    for q, ok in sorted(checks.items()):
        log(f"oracle {q}: {'OK' if ok else 'MISMATCH'}")
    attempted = res["attempted"]
    failed = res["failed"] + len(wrong)
    # count metrics (jobs, stages, tasks, candidate pairs, batches) must
    # repeat exactly between traced passes and between probe repeats
    if not res["counts_repeat"]:
        log("count metrics did not repeat between traced passes or probe repeats")
    correct = failed == 0 and len(checks) > 0 and res["counts_repeat"]
    if a.trace:
        shutil.copy(run_dir / "trace.json", WORK / f"trace-{a.workload}-seed{a.seed}.json")

    pipelines = {k: {"value": v, "unit": "s"} for k, v in res["pipelines"].items()}
    pipelines["failed_frac"] = {"value": failed / attempted, "unit": "ratio"}
    print(json.dumps({"workload": a.workload, "pipelines": pipelines,
                      "passes": res["passes"], "setup_parts_s": res["setup_parts_s"]}))
    if a.trace:
        metrics = {k: {"value": res["per_layer"][k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
