#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload registry_api --seed 1 --seconds 5 --trace 0

Run from the repository root. The script

  1. builds the harness (perfbench/harness, an sbt build that depends on
     the graft build at the root) once per source state, and exports its
     runtime classpath;
  2. generates the workload's inputs from --seed (perfbench/gen.py) into
     a fresh directory and checks their digest;
  3. launches one JVM on that classpath (no build tool in the timed
     process) running Spark on local[N], N = min(4, available cores);
  4. prints the workload's named metrics, then as its last line one JSON
     object {"correct", "attempted", "failed", "metrics"}: the end-to-end
     metrics with --trace 0, the per-layer metrics with --trace 1.

The full result of every run, spans included, is written to
perfbench/work/results/. Every directory a run creates is deleted when
it ends.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(HERE, "work")
BUILD = os.path.join(WORK, "build")

sys.path.insert(0, HERE)
import gen  # noqa: E402

# Input sizes per workload. Changing one changes the benchmark.
SIZES = {
    "registry_api": {"aircraft": 20000},
    "corpus_dedup": {"docs": 4000, "vectors": 5000},
    "stream_ingest": {"vectors": 1500, "files": 5},
}
# The metrics of the last output line, the same for every workload
# (BENCHMARK.json lists them); the workload's own named metrics are
# printed on the line before it.
END_TO_END = ["setup_s", "run_s", "peak_rss_mb"]
PER_LAYER = ["traced_round_s", "trace_overhead_s", "op_p50_ms", "op_tail_ms",
             "spark_jobs", "spark_stages", "spark_tasks", "task_cpu_s",
             "task_gc_s", "shuffle_write_mb", "driver_s"]
HEAP = "2g"
DEADLINE_S = 175


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(ROOT, "project"), os.path.join(HARNESS, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def build():
    """Compile graft + harness with sbt once per source state; return the
    exported runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no graft sources (build.sbt, src/main/scala) next to perfbench/")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath-%s.txt" % stamp)
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=lf, text=True, timeout=880)
    lines = [x for x in p.stdout.splitlines() if x.strip()]
    cp = lines[-1].strip() if lines else ""
    if p.returncode != 0 or ".jar" not in cp or "[" in cp:
        with open(log, "a") as lf:
            lf.write(p.stdout)
        fail("harness build failed (see %s)" % os.path.relpath(log, ROOT))
    for old in os.listdir(BUILD):
        if old.startswith("classpath-"):
            os.remove(os.path.join(BUILD, old))
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def size_key(workload):
    return ",".join("%s=%d" % kv for kv in sorted(SIZES[workload].items()))


def generate(workload, seed, out):
    size = SIZES[workload]
    if workload == "registry_api":
        return gen.registry(out, seed, size["aircraft"])
    if workload == "corpus_dedup":
        return gen.corpus(out, seed, size["docs"], size["vectors"])
    return gen.stream(out, seed, size["vectors"], size["files"])


def check_digest(workload, seed, data, scratch):
    """Compare the inputs' digest with the one recorded for (seed, size).
    Seeds without a record are covered by regenerating the recorded
    canary input (seed 0, tiny size) and comparing its digest: the
    generator's output is then known to be unchanged."""
    with open(os.path.join(HERE, "digests.json")) as f:
        table = json.load(f)
    got = gen.digest(data)
    want = table.get(workload, {}).get(size_key(workload), {}).get(str(seed))
    if want is not None:
        if want != got:
            fail("input digest mismatch for %s seed %d: %s != %s"
                 % (workload, seed, got, want))
        return got, True
    canary = os.path.join(scratch, "canary")
    os.makedirs(canary)
    gen.canary(canary)
    if gen.digest(canary) != table["canary"]:
        fail("generator output changed: canary digest mismatch")
    shutil.rmtree(canary)
    return got, False


def java_cmd(cp, tmp):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    cmd = ["java"]
    for o in opens:
        cmd += ["--add-opens", o + "=ALL-UNNAMED"]
    cmd += ["-Xmx" + HEAP, "-Xms" + HEAP, "-XX:+UseParallelGC",
            "-XX:ReservedCodeCacheSize=512m", "-Djava.io.tmpdir=" + tmp,
            "-cp", cp, "perfbench.Main"]
    return cmd


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = build()
    cores = min(4, len(os.sched_getaffinity(0)))
    run_dir = os.path.join(WORK, "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    work = os.path.join(run_dir, "work")
    tmp = os.path.join(work, "tmp")
    out = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "jvm.log")
    try:
        os.makedirs(data)
        os.makedirs(tmp)
        t = time.time()
        info = generate(a.workload, a.seed, data)
        gen_s = time.time() - t
        digest, recorded = check_digest(a.workload, a.seed, data, run_dir)
        in_bytes = gen.input_bytes(data)

        launch_ms = time.time() * 1000.0
        cmd = java_cmd(cp, tmp) + [
            "--launch-ms", "%.3f" % launch_ms, "--workload", a.workload,
            "--data", data, "--work", work, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores), "--out", out]
        with open(log, "w") as lf:
            p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL,
                                 stdout=lf, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=DEADLINE_S - (time.time() - t))
            except subprocess.TimeoutExpired:
                rc = -9
            finally:
                # never leave the JVM behind, whatever ends this wait
                if p.poll() is None:
                    p.kill()
                    p.wait()
        if rc != 0 or not os.path.isfile(out):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            fail("benchmark JVM exited with %s" % rc)
        with open(out) as f:
            res = json.load(f)
    finally:
        keep = os.path.join(WORK, "results")
        os.makedirs(keep, exist_ok=True)
        name = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
        if os.path.isfile(out):
            shutil.copy(out, os.path.join(keep, name + ".json"))
        if os.path.isfile(log):
            shutil.copy(log, os.path.join(keep, name + ".log"))
        shutil.rmtree(run_dir, ignore_errors=True)

    detail = {
        "workload": a.workload, "seed": a.seed, "local_cores": cores,
        "input_rows": info["rows"], "input_bytes": in_bytes,
        "input_digest": digest, "digest_recorded": recorded,
        "generate_s": round(gen_s, 3), "rounds": res["rounds"],
        "op_samples": res["op_samples"],
        "op_tail_percentile": res["op_tail_percentile"],
        "failures": res["failures"],
        "workload_metrics": res["workload_metrics"],
    }
    if a.trace:
        detail["per_layer"] = res["per_layer"]
        detail["spans"] = len(res["spans"])
    else:
        detail["end_to_end"] = res["end_to_end"]
    print("perfbench: " + json.dumps(detail, sort_keys=True))
    if a.trace:
        metrics = {k: res["per_layer"][k] for k in PER_LAYER}
    else:
        metrics = {k: res["end_to_end"][k] for k in END_TO_END}
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
