#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft and the
harness under perfbench/ with sbt (later runs reuse the build while the
sources are unchanged), generates the seed's inputs under
perfbench/.work/data (outside every timed region), then starts one JVM
that sets up a long-lived graft session, checks outputs and measures a
closed loop for --seconds. The last line of stdout is the result:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer
metrics (spans go to perfbench/.work/run/<run>/spans.jsonl). The line
before it is a summary with the host, the inputs and the error rate;
the full record is kept under perfbench/.work/results for compare.py.
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
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

# inputs per workload; see BENCHMARK.json for why each was chosen
WORKLOADS = {
    "clif_dashboard": {"docs": 5000, "clif_scale": 1.0},
    "corpus_curate": {"docs": 2000},
    "curate_waves": {"docs": 2000, "waves": 40, "wave_docs": 200},
}
JVM_HEAP = "3g"
RUN_LIMIT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if not d.startswith(
                os.path.join(HERE, "project", "target"))]
    return sorted(f for f in files if os.path.isfile(f))


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build():
    """Compile graft + the harness once per source state; return the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft sources not found under {ROOT}/src/main/scala")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    bdir = os.path.join(WORK, "build")
    cp_file, stamp_file = os.path.join(bdir, "classpath"), os.path.join(bdir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read(), stamp
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    log = os.path.join(bdir, "sbt.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = open(log).read().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def commit(stamp):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources-" + stamp[:16]


def inputs(workload, seed):
    import gen
    sizes = WORKLOADS[workload]
    key = "-".join(f"{k}{v}" for k, v in sorted(sizes.items()))
    out = os.path.join(WORK, "data", f"{workload}-{key}-s{seed}")
    return gen.generate(out, seed, **sizes)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r} (known: {', '.join(WORKLOADS)})")
    t_start = time.time()
    load_start = os.getloadavg()[0]
    classpath, stamp = build()
    data = inputs(a.workload, a.seed)

    run_id = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(WORK, "run", run_id)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = ([java, f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local", "-Dspark.ui.enabled=false"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--data", data, "--work", work, "--out", out,
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--seed", str(a.seed),
              "--oracle", f"{sys.executable} {os.path.join(HERE, 'oracle.py')}"])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    env.pop("SPARK_LOCAL_DIRS", None)
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=max(10, RUN_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    if code != 0 or not os.path.exists(out):
        tail = open(log, errors="replace").read().splitlines()[-60:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail("run timed out" if code is None else f"run failed (exit {code})")
    res = json.load(open(out))

    host = {"nproc": cores, "load_avg_start": load_start,
            "load_avg_end": os.getloadavg()[0], "xmx_mb": res["xmx_mb"],
            "commit": commit(stamp), "seed": a.seed}
    record = dict(res, host=host)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{run_id}-{int(time.time())}.json"), "w") as f:
        json.dump(record, f, indent=1)

    # names and units come from BENCHMARK.json; a metric the run did not
    # produce is an error, not a silent gap
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    layer = "per_layer" if a.trace else "end_to_end"
    metrics = {m["name"]: {"value": res[layer][m["name"]], "unit": m["unit"]}
               for m in spec[layer]}
    correct = res["failed"] == 0 and res["samples"] > 0
    summary = {"workload": a.workload, "host": host, "inputs": res["inputs"],
               "samples": res["samples"], "setup_samples_s": res["setup_samples_s"],
               "error_rate": res["extra"]["error_rate"],
               "docs_per_s": res["extra"]["docs_per_s"], "errors": res["errors"]}
    print("summary " + json.dumps(summary))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
