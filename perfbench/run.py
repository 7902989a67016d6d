#!/usr/bin/env python3
"""graft benchmark: one command builds the program from source, makes
seeded inputs, runs a workload in a fresh JVM, checks every output
against an independent computation, and prints the metrics.

    python3 perfbench/run.py --workload <warehouse|curation|all>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Everything a run writes stays under
the checkout: the build under .bench_build/, inputs, outputs, Spark
local dirs, warehouse dir and streaming checkpoints under
.perfbench_runs/<run id>/ (emptied at the end except result.json,
jvm.log and, for traced runs, spans.json). The last line of standard
output is one JSON object: correct, attempted, failed, metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402

WORKLOADS = ["warehouse", "curation"]
HEAP = "3g"
JVM_TIMEOUT_S = 150

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars(root):
    """The jar directory the program's own build compiles against."""
    with open(f"{root}/build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise SystemExit("perfbench: build.sbt names no Spark jar directory")
    return m.group(1)


def scalac(jars, classpath, out, sources):
    compiler = ":".join(glob.glob(f"{jars}/scala-{j}-2.13.*.jar")[0]
                        for j in ("compiler", "library", "reflect"))
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-usejavacp:false", "-nowarn", "-classpath", classpath, "-d", out] + sources
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout + r.stderr)
        raise SystemExit("perfbench: compilation failed")


def build(root, jars):
    """Compile the program (src/main/scala) and the harness with scalac
    against the Spark jars; reuse a build of the same sources."""
    prog = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    harness = sorted(glob.glob(f"{HERE}/harness/*.scala"))
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256()
    for f in prog + harness:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    base = f"{root}/.bench_build/perfbench"
    out = f"{base}/{h.hexdigest()[:16]}"
    if os.path.exists(f"{out}/done"):
        return out
    shutil.rmtree(base, ignore_errors=True)
    t = time.time()
    tmp = f"{out}.tmp"
    scalac(jars, f"{jars}/*", f"{tmp}/program", prog)
    scalac(jars, f"{jars}/*:{tmp}/program", f"{tmp}/harness", harness)
    os.rename(tmp, out)
    open(f"{out}/done", "w").close()
    log(f"built {len(prog)} program and {len(harness)} harness sources in {time.time() - t:.1f} s")
    return out


def jvm(jars, build_dir, args, log_path):
    cp = f"{build_dir}/harness:{build_dir}/program:{jars}/*"
    cmd = (["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=768m", "-XX:TieredStopAtLevel=1"] +
           ADD_OPENS +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Harness"] + args)
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return -1
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def clean_scratch(run_dir):
    """Remove exactly the entries this run added under the program's
    scratch root, and the root's parents if the run created them."""
    path = f"{run_dir}/scratch.json"
    if not os.path.exists(path):
        return
    with open(path) as f:
        s = json.load(f)
    root, before = s["root"], set(s["entries"])
    if os.path.isdir(root):
        for e in os.listdir(root):
            if e not in before:
                shutil.rmtree(os.path.join(root, e), ignore_errors=True)
    for d in s["created_dirs"]:
        try:
            os.rmdir(d)
        except OSError:
            break


def run_workload(root, jars, build_dir, workload, seed, seconds, trace):
    run_id = f"{workload}-s{seed}-t{trace}-{os.getpid()}-{int(time.time() * 1000)}"
    run_dir = f"{root}/.perfbench_runs/{run_id}"
    in_dir = f"{run_dir}/in"
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        subprocess.run([sys.executable, f"{HERE}/gen.py", workload, str(seed), in_dir],
                       check=True)
        t1 = time.time()
        rc = jvm(jars, build_dir, [workload, in_dir, run_dir, str(seconds), str(trace)],
                 f"{run_dir}/jvm.log")
        if rc != 0 or not os.path.exists(f"{run_dir}/result.json"):
            with open(f"{run_dir}/jvm.log") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            raise SystemExit(f"perfbench: {workload} JVM exited with {rc}")
        with open(f"{run_dir}/result.json") as f:
            res = json.load(f)
        t2 = time.time()
        res["check"] = check.check_run(workload, in_dir, res)
        log(f"{workload}: inputs {t1 - t0:.1f} s, JVM {t2 - t1:.1f} s, "
            f"checks {time.time() - t2:.1f} s")
        return res
    finally:
        clean_scratch(run_dir)
        keep = {"result.json", "spans.json", "jvm.log"}
        for e in os.listdir(run_dir):
            if e not in keep:
                p = os.path.join(run_dir, e)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)


def main():
    # a terminated run still stops its JVM and removes what it wrote
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(f"{root}/src/main/scala"):
        raise SystemExit("perfbench: run from the root of a graft checkout")
    with open(f"{root}/BENCHMARK.json") as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    jars = spark_jars(root)
    build_dir = build(root, jars)
    results = {}
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        results[w] = run_workload(root, jars, build_dir, w, a.seed, a.seconds, a.trace)
    correct, attempted, failed, metrics = True, 0, 0, {}
    for w, r in results.items():
        ck = r["check"]
        correct &= ck["failed_checks"] == 0
        attempted += r["attempted"]
        failed += r["failed"] + ck["failed_ops"]
        log(f"{w}: attempted {r['attempted']}, failed {r['failed'] + ck['failed_ops']}, "
            f"checks {ck['checked']} ({ck['failed_checks']} failed), passes {r['passes']}, "
            f"nproc {r['nproc']}, heap {r['heap_max_mb']:.0f} MB")
        for msg in ck["messages"][:20]:
            log(f"  CHECK FAIL {msg}")
        for msg in r["errors"][:20]:
            log(f"  ERROR {msg}")
        src = r["layers"] if a.trace else r["metrics"]
        for name, unit in units.items():
            v = src[name]
            log(f"  {w} {name} = {v:.6g} {unit}")
            key = name if len(results) == 1 else f"{w}.{name}"
            metrics[key] = {"value": v, "unit": unit}
        if a.trace == 1:
            log(f"  {w} traced end-to-end: " +
                ", ".join(f"{k}={v:.4g}" for k, v in r["metrics"].items()))
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
