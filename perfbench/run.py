"""Benchmark entry point: builds the harness, stages inputs, runs one
workload in one JVM and prints the result as the last line of stdout.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. See perfbench/README.md for the workloads and
every metric.
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
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, "out")
SF = 0.01
# A fixed heap and the parallel collector: no heap resizing and no
# concurrent collector threads competing with the executor threads for the
# few cores, so timed micro-batches vary less.
HEAP = "3g"
JVM_TIMEOUT_S = 170
# Spark on JDK 17 needs these outside spark-submit (same list as build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of everything the harness classpath is built from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Builds the harness (once per source state) and returns its classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    log("building the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.server.autostart=false").strip()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def stage_tables(work):
    """Generates the corpus the batch entries read; returns its dir."""
    sys.path.insert(0, HERE)
    import gen_tables
    data = os.path.join(work, "data")
    gen_tables.generate(data, SF)
    return data


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt")) and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("perfbench: the engine's sources (build.sbt, src/main) are missing; run from the repository root")

    cp = classpath()
    cores = len(os.sched_getaffinity(0))
    run_id = f"{a.workload}-{a.seed}-{os.getpid()}"
    work = os.path.join(HERE, ".work", run_id)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    total0, steal0 = cpu_times()
    t0 = time.time()
    try:
        data = stage_tables(work) if a.workload != "trade_stream" else ""
        out_file = os.path.join(work, "result.json")
        cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData", *ADD_OPENS,
               f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.stream.error.file={work}/derby.log",
               f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
               "-cp", cp, "perfbench.Main",
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--cores", str(cores), "--run-id", run_id,
               "--work", work, "--data", data,
               "--expected", os.path.join(HERE, "expected"), "--out", out_file]
        if a.trace:
            cmd += ["--spans", os.path.join(OUT, f"spans-{run_id}.jsonl")]
        t_jvm = time.time()
        jvm = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr)
        try:
            rc = jvm.wait(timeout=JVM_TIMEOUT_S)
            log(f"workload JVM ran {time.time() - t_jvm:.1f} s; run so far {time.time() - t0:.1f} s")
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
            raise SystemExit("perfbench: the workload did not finish in time")
        if rc != 0 or not os.path.exists(out_file):
            raise SystemExit(f"perfbench: the workload exited with code {rc}")
        with open(out_file) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    total1, steal1 = cpu_times()

    m = res["metrics"]
    m["setup_s"] = res["first_timed_ms"] / 1e3 - t0
    host = {"host.nproc": cores, "host.loadavg_1m": os.getloadavg()[0],
            "host.steal_share": (steal1 - steal0) / max(1, total1 - total0)}
    m.update(host)
    m["bench.failed_share"] = res["failed"] / res["attempted"]
    with open(os.path.join(OUT, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"run": run_id, "trace": a.trace, "correct": res["correct"],
                            "attempted": res["attempted"], "failed": res["failed"], "metrics": m}) + "\n")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [w["name"] for w in wanted if w["name"] not in m]
    if missing and not a.trace:
        raise SystemExit(f"perfbench: end-to-end metrics missing: {missing}")
    if missing:
        log(f"layers this workload does not exercise, reported as 0: {' '.join(missing)}")
    log("host: " + " ".join(f"{k}={v:.4g}" for k, v in host.items()))
    metrics = {w["name"]: {"value": m.get(w["name"], 0.0), "unit": w["unit"]} for w in wanted}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
