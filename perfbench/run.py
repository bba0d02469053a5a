#!/usr/bin/env python3
"""graft's benchmark: build graft and the harness from source, run one
workload pass in a fresh JVM, check every gate's output, print metrics.

Run from the repository root:

    python3 perfbench/run.py --workload mobility --seed 1 --seconds 60 --trace 0

The last line of stdout is one JSON object with the keys correct,
attempted, failed and metrics. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = "perfbench"
SRC = "src/main/scala"
JVM_HEAP = "3g"
# A run must end within 180 s once graft is built.
RUN_LIMIT_S = 170
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark installation's jars: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark jars with a scala-compiler under {jars}; set SPARK_HOME")
    return jars


def sources(root):
    out = []
    for base, _, files in os.walk(root):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(jars, classpath, dest, files, log):
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{n}-*.jar"))[0] for n in ("compiler", "library", "reflect"))
    listing = dest + ".files"
    with open(listing, "w") as f:
        f.write("\n".join(files) + "\n")
    os.makedirs(dest, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
           "-d", dest, "-classpath", classpath, "@" + listing]
    with open(log, "ab") as f:
        if subprocess.call(cmd, stdout=f, stderr=subprocess.STDOUT) != 0:
            fail(f"compile failed, see {log}")


def build(out):
    """Compiles graft (src/main/scala) and the harness into `out`, once per source state."""
    if not os.path.isdir(SRC):
        fail(f"no {SRC}: run from the root of a graft checkout")
    jars = spark_jars()
    graft_src, bench_src = sources(SRC), sources(os.path.join(BENCH, "src"))
    h = hashlib.sha256()
    for p in graft_src + bench_src:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    key = h.hexdigest()[:16]
    classes = os.path.join(out, "classes-" + key)
    stamp = os.path.join(classes, "BUILT")
    if not os.path.exists(stamp):
        shutil.rmtree(classes, ignore_errors=True)
        os.makedirs(classes)
        log = os.path.join(out, "build.log")
        jar_cp = os.path.join(jars, "*")
        scalac(jars, jar_cp, os.path.join(classes, "graft"), graft_src, log)
        scalac(jars, os.pathsep.join([os.path.join(classes, "graft"), jar_cp]),
               os.path.join(classes, "bench"), bench_src, log)
        open(stamp, "w").close()
    return os.pathsep.join([os.path.join(classes, "bench"), os.path.join(classes, "graft"),
                            os.path.join(jars, "*")])


def check_data(data):
    sums = os.path.join(data, "sf0.01", "SHA256SUMS")
    if not os.path.exists(sums):
        fail(f"missing {sums}")
    with open(sums) as f:
        for line in f:
            digest, name = line.split()
            with open(os.path.join(data, "sf0.01", name), "rb") as t:
                if hashlib.sha256(t.read()).hexdigest() != digest:
                    fail(f"input table {name} does not match {sums}")


def run_jvm(classpath, args, out, deadline):
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.abspath(os.path.join(out, "work", args.workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    results = os.path.join(out, "results")
    os.makedirs(results, exist_ok=True)
    result = os.path.join(results, name + ".json")
    if os.path.exists(result):
        os.remove(result)
    env = dict(os.environ, SPARK_GRAFT_REPLAY_NO_SHM="1",
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java", f"-Xmx{JVM_HEAP}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", classpath, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--data", os.path.abspath(os.path.join(BENCH, "data")),
              "--work", work, "--expected", os.path.join(BENCH, "expected", "sf0.01.tsv"),
              "--result", result, "--spans", os.path.join(results, name + ".spans.json"),
              "--launch-ms", str(int(time.time() * 1000)),
              # the JVM stops starting gates in time to be done 10 s before the kill
              "--end-ms", str(int((deadline - 10) * 1000))])
    log = os.path.join(out, "logs", name + ".log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "wb") as f:
        proc = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"JVM did not finish within {RUN_LIMIT_S} s, see {log}")
    if code != 0 or not os.path.exists(result):
        fail(f"JVM exited with {code}, see {log}")
    shutil.rmtree(work, ignore_errors=True)
    with open(result) as f:
        return json.load(f), result


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=["mobility", "verify"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], required=True)
    args = p.parse_args()
    out = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    os.makedirs(out, exist_ok=True)
    classpath = build(out)
    check_data(os.path.join(BENCH, "data"))
    res, path = run_jvm(classpath, args, out, time.time() + RUN_LIMIT_S)

    d = res["detail"]
    print(f"workload {d['workload']}  seed {d['seed']}  trace {int(d['trace'])}  sf {d['sf']}  "
          f"cores {d['cores']}  threads {d['threads']}  gates {res['attempted']}  failed {res['failed']}")
    for k, m in res["metrics"].items():
        extra = ""
        if k == "gate_tail_s":
            extra = f"  (p{d['gate_tail_percentile']:.1f} of n={d['gate_tail_samples']} gates)"
        if k == "cpu_s":
            extra = (f"  (host.canary_s {d['host.canary_before_s']:.3f} before, "
                     f"{d['host.canary_after_s']:.3f} after; host.steal_frac {d['host.steal_frac']:.4f}; "
                     f"peak resident set {d['peak_rss_mb']:.1f} MB)")
        if k == "ok_frac":
            extra = f"  (failed_frac {d['failed_frac']:.4f})"
        print(f"  {k:28s} {m['value']:14.6f} {m['unit']}{extra}")
    for gate, g in d["gates"].items():
        if g["error"]:
            print(f"  FAILED {gate}: {g['error']}")
    print(f"  artifact: {path}")
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
