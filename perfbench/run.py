#!/usr/bin/env python3
"""Benchmark entry point for the NHL warehouse and the query registry.

    python3 perfbench/run.py --workload nhl_daily --seed 1 --seconds 20 --trace 0

Builds the checkout's graft sources with the benchmark (build.py), runs
one workload in a JVM whose working and temporary directories sit under
perfbench/work, and passes its output through: one line per metric, then
one JSON object (correct, attempted, failed, metrics) as the last line.
Span files of traced runs go to perfbench/out.

    python3 perfbench/run.py --record-expected <graft.Verify output dir>

prints the rows and content hash of each query_mix query from a
graft.Verify dump, the format of query_mix_expected.tsv.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys

import build

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["nhl_daily", "query_mix"]
TIMEOUT_S = 175
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def sf_dir():
    """The sf0.01 test tables, where TESTDATA.md says they are."""
    with open(os.path.join(build.ROOT, "TESTDATA.md")) as fh:
        m = re.search(r"^\|\s*0\.01\s*\|\s*`([^`]+)`", fh.read(), re.M)
    if not m:
        sys.exit("perfbench: no sf0.01 directory in TESTDATA.md")
    return m.group(1).rstrip("/")


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--record-expected", metavar="VERIFY_DIR")
    a = p.parse_args()
    if not a.workload and not a.record_expected:
        p.error("--workload is required")

    build.build()
    work = os.path.join(HERE, "work", f"{a.workload or 'record'}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    args = ["--work", work]
    if a.record_expected:
        args += ["--record-expected", os.path.abspath(a.record_expected)]
    else:
        args += ["--workload", a.workload, "--seed", str(a.seed),
                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                 "--sf-dir", sf_dir(), "--out", os.path.join(HERE, "out"),
                 "--expected", os.path.join(HERE, "query_mix_expected.tsv")]
    # A fixed young generation: collections fall where allocation puts
    # them, not where G1's pause-time sizing does, so heap_peak_mb repeats.
    cmd = (["java"] + [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in ADD_OPENS] +
           ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}",
            "-cp", build.classpath(), "perfbench.Main"] + args)
    try:
        r = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                           timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: run exceeded {TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = r.stdout.splitlines()
    if r.returncode != 0 or not lines:
        sys.stdout.write(r.stdout)
        sys.exit(f"perfbench: JVM exited with {r.returncode}")
    if a.record_expected:
        sys.stdout.write(r.stdout)
        return
    json.loads(lines[-1])
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
