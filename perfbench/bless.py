#!/usr/bin/env python3
"""Bless the benchmark's expected outputs against the DuckDB oracle.

Run from the repository root (needs duckdb, pyarrow and pandas):

    python3 perfbench/bless.py

Writes every gate's output (all but the Louvain family) at sf0.01 the way
graft.Verify does, compares each with its oracle SQL run in DuckDB by
tools/check_oracle.py, and records the fingerprint of every gate that
matches in perfbench/expected/sf0.01.tsv. A gate that does not match is
left out, and the script exits non-zero naming it.
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

EXPECTED = os.path.join(run.BENCH, "expected", "sf0.01.tsv")


def main():
    out = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    classpath = run.build(out)
    data = os.path.abspath(os.path.join(run.BENCH, "data", "sf0.01"))
    dump = os.path.abspath(os.path.join(out, "bless"))
    cmd = (["java", "-Xmx" + run.JVM_HEAP]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in run.JDK_OPENS]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "graftbench.Bless", data, dump])
    subprocess.check_call(cmd, env=dict(os.environ, SPARK_GRAFT_REPLAY_NO_SHM="1"))
    report = os.path.join(dump, "correctness.json")
    subprocess.call([sys.executable, "tools/check_oracle.py", data, dump, report])
    with open(report) as f:
        oracle = json.load(f)
    blessed, bad = [], []
    with open(os.path.join(dump, "fingerprints.tsv")) as f:
        for line in f:
            gate, fp = line.rstrip("\n").split("\t", 1)
            if not fp.startswith("!") and oracle.get(gate, {}).get("hash_match"):
                blessed.append(f"{gate}\t{fp}")
            else:
                bad.append(gate)
    with open(EXPECTED, "w") as f:
        f.write("\n".join(sorted(blessed)) + "\n")
    print(f"blessed {len(blessed)} gates into {EXPECTED}; not blessed: {bad or 'none'}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
