#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness (sbt, offline) into perfbench/.work; inputs are generated from
the seed once and cached there. The last line of stdout is the result
JSON; the lines before it name every metric of the run with its unit.
See perfbench/METRICS.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

WORK = os.path.join(HERE, ".work")
JVM = os.path.join(HERE, "jvm")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for base in (ENGINE_SRC, os.path.join(JVM, "src"), os.path.join(JVM, "build.sbt")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else next to the
    spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        sys.exit("no Spark distribution found: set SPARK_HOME")
    return os.path.join(home, "jars")


def sbt_opts():
    """Offline sbt: the caller's SBT_OPTS if set, else the user's
    repositories file when there is one."""
    if os.environ.get("SBT_OPTS"):
        return os.environ["SBT_OPTS"]
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    return " ".join(opts)


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit(f"engine sources not found under {ENGINE_SRC}: run from a full checkout")
    stamp_file, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=sbt_opts(),
               PERFBENCH_SPARK_JARS=spark_jars())
    log("building engine + harness (sbt) ...")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=JVM, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    if out.returncode != 0:
        log(out.stdout[-4000:])
        sys.exit("build failed")
    cp = [ln for ln in out.stdout.splitlines() if ln.startswith("/") and ".jar" in ln][-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, args):
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={WORK}/tmp"]
           + ADD_OPENS + ["-cp", cp, "graft.perfbench.Main"])
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    os.makedirs(f"{WORK}/tmp", exist_ok=True)
    log_path = os.path.join(args["work"], "jvm.log")
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=170)
        except subprocess.TimeoutExpired:
            rc = -9
        finally:  # never leave the JVM behind, also when this process is stopped
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        log(open(log_path).read()[-4000:])
        sys.exit(f"harness exited with {rc}")
    with open(args["out"]) as f:
        return json.load(f)


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.ALL))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 4)
    a = ap.parse_args()
    wl = workloads.ALL[a.workload]
    cp = build()
    data = wl.inputs(os.path.join(WORK, "data"), a.seed, a.seconds)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    args = dict(wl.jvm_args(data), workload=a.workload, seconds=a.seconds,
                trace=a.trace, out=os.path.join(run_dir, "raw.json"), work=run_dir,
                cores=a.cores, setups=wl.setups)
    raw = run_jvm(cp, args)
    verdicts = oracle.check(raw["oracle"], data.get("tables"), raw["oracle_sql"])
    res = wl.reduce(raw, verdicts, data)
    e2e, layer = res["end_to_end"], stats.per_layer(raw, res.get("layer", {}))
    for k, (v, u) in {**e2e, **res.get("named", {})}.items():
        print(f"{k:28s} {v:14.4f} {u}")
    if a.trace:
        untraced = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-t0", "result.json")
        report = stats.trace_report(raw, layer, e2e, untraced)
        with open(os.path.join(run_dir, "trace_report.json"), "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        log(f"span file: {os.path.join(run_dir, 'spans.json')}")
        with open(os.path.join(run_dir, "spans.json"), "w") as f:
            json.dump(raw.get("spans", []), f)
        for k, (v, u) in layer.items():
            print(f"{k:28s} {v:14.4f} {u}")
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump({k: v for k, (v, _) in e2e.items()}, f)
    metrics = layer if a.trace else e2e
    out = {"correct": res["failed"] == 0, "attempted": res["attempted"], "failed": res["failed"],
           "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
