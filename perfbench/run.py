#!/usr/bin/env python3
"""The benchmark: one run of one workload.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout, with SPARK_HOME set to the Spark
install. It compiles the engine (`src/main/scala`) and the JVM harness
(`perfbench/harness`) with the Scala compiler shipped in the Spark jars
(no sbt), generates the source
tables from the seed, runs the workload in one JVM, checks the outputs
and prints one JSON line: the end-to-end metrics with `--trace 0`, the
per-layer metrics of a traced run with `--trace 1`. Build outputs and
run scratch space live under `.bench_build/` in the checkout; each run
gets its own data, warehouse, index, Spark local and temp dirs there,
removed when it ends.

It refuses to start while another JVM is running (timings from two
Spark JVMs on one host are not comparable) and pins the core count and
the driver heap.
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
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

BUILD = ".bench_build"
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
SCALA = "2.13.17"
CORES = min(4, len(os.sched_getaffinity(0)))
# A capped heap with a fixed young generation. The heap is not
# pre-touched, so the peak RSS follows the pages the driver touches: the
# young generation, the old generation it grows to, and native memory
# (metaspace, generated code, threads, buffers). A collector free to size
# its young generation spreads the peak by 10-30% between runs.
HEAP = "2g"
YOUNG = "512m"
REPS = 3  # set-ups per run; setup_s is their median
RUN_CAP_S = 170  # a run (after the build) never outlives this
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources(root):
    prog = sorted(os.path.join(d, f) for d, _, fs in os.walk(os.path.join(root, "src", "main", "scala"))
                  for f in fs if f.endswith(".scala"))
    harness = sorted(os.path.join(HERE, "harness", f) for f in os.listdir(os.path.join(HERE, "harness"))
                     if f.endswith(".scala"))
    return prog, harness


def scalac(out, classpath, files):
    compiler = ":".join(os.path.join(SPARK_JARS, f"scala-{m}-{SCALA}.jar")
                        for m in ("compiler", "library", "reflect"))
    os.makedirs(out, exist_ok=True)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                        "-nowarn", "-d", out, "-classpath", classpath] + files,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        fail(f"compile failed:\n{r.stdout[-4000:]}")


def build(root):
    """Compiles engine then harness once per source tree; returns the classpath."""
    prog, harness = sources(root)
    if not prog:
        fail("no engine sources under src/main/scala: run from the root of a source checkout")
    if not os.path.isdir(SPARK_JARS):
        fail("no Spark jars: set SPARK_HOME to the Spark install")
    h = hashlib.sha256()
    for f in prog + harness:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(root, BUILD, "classes-" + h.hexdigest()[:16])
    jars = os.path.join(SPARK_JARS, "*")
    if not os.path.exists(os.path.join(out, "ok")):
        tmp = f"{out}.tmp{os.getpid()}"
        t0 = time.time()
        scalac(os.path.join(tmp, "engine"), jars, prog)
        scalac(os.path.join(tmp, "harness"), os.path.join(tmp, "engine") + ":" + jars, harness)
        open(os.path.join(tmp, "ok"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return ":".join([os.path.join(out, "harness"), os.path.join(out, "engine"), jars])


def live_jvms():
    pids = []
    for p in os.listdir("/proc"):
        if p.isdigit() and int(p) != os.getpid():
            try:
                if os.path.basename(os.readlink(f"/proc/{p}/exe")) == "java":
                    pids.append(int(p))
            except OSError:
                pass
    return pids


def run_jvm(classpath, run_dir, workload, seconds, trace, reps, deadline):
    # -XX:-UsePerfData: the JVM would otherwise write its perf data file
    # to /tmp, outside the checkout
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dspark.sql.warehouse.dir={run_dir}/spark-warehouse",
            f"-Dderby.system.home={run_dir}", "-cp", classpath, "perfbench.Harness",
            workload, run_dir, str(seconds), str(trace), str(CORES), str(reps)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/local", SPARK_GRAFT_CPUS=str(CORES))
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    with open(f"{run_dir}/jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return "the JVM ran past the run cap and was killed"
    if rc != 0:
        with open(f"{run_dir}/jvm.log") as f:
            tail = "".join(f.readlines()[-30:])
        return f"the JVM exited with {rc}:\n{tail}"
    return None


def run(workload, seed, seconds, trace, sf=None, reps=REPS):
    """One run: returns (result line as a dict, the JVM's record)."""
    root = os.getcwd()
    classpath = build(root)
    deadline = time.time() + RUN_CAP_S
    import checks  # reuses tools/parity.py, so only inside a source checkout
    others = live_jvms()
    if others:
        fail(f"another JVM is running (pids {others}); timings would not be comparable")

    run_dir = os.path.join(root, BUILD, "runs", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        datagen.write(f"{run_dir}/data_r1", seed, sf or workloads.CONFIG[workload]["sf"])
        for r in range(2, reps + 1):
            shutil.copytree(f"{run_dir}/data_r1", f"{run_dir}/data_r{r}")
        workloads.write_ops(f"{run_dir}/ops.tsv", workload, seed)
        err = run_jvm(classpath, run_dir, workload, seconds, trace, reps, deadline)
        if err:
            fail(err, 3)
        with open(f"{run_dir}/record.json") as f:
            rec = json.load(f)
        cycles = sum(1 for o in rec["ops"] if o["label"] == "etl")
        bad = checks.check(workload, run_dir, f"{run_dir}/data_r{reps}",
                           f"{run_dir}/warehouse_r{reps}", cycles)
        for label, msg in rec["check_errors"].items():
            bad.setdefault(label, []).append(f"warm-up: {msg}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for label, msgs in sorted(bad.items()):
        print(f"perfbench: CHECK FAILED {label}: {'; '.join(msgs)}", file=sys.stderr)
    failed = 0
    for o in rec["ops"]:
        if not o["ok"]:
            print(f"perfbench: op failed: {o['label']}: {o['err']}", file=sys.stderr)
        if not o["ok"] or o["label"] in bad or "*" in bad:
            failed += 1
    ms = metrics.per_layer(rec) if trace else metrics.end_to_end(rec)
    print(f"perfbench: {workload} seed={seed} ops={len(rec['ops'])} failed={failed} "
          f"checks_failed={len(bad)}", file=sys.stderr)
    result = {"correct": failed == 0 and not bad, "attempted": len(rec["ops"]), "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in ms.items()}}
    return result, rec


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(workloads.CONFIG))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    result, _ = run(a.workload, a.seed, a.seconds, a.trace)
    print(json.dumps(result))
    sys.stdout.flush()
    if not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
