#!/usr/bin/env python3
"""htmlspark benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload crawl-full --seed 7 --seconds 10 --trace 0

Run from the repository root. build.py compiles the program and the JVM
side in perfbench/scala; this script then drives that JVM side. The last
line of standard output is one JSON object: {"correct", "attempted",
"failed", "metrics"}. --trace 0 reports the end-to-end metrics, --trace 1
the per-layer ones (see README.md).

Build output and the corpus, tables and Spark scratch space stay in
.bench_build/ and .bench_work/ under the working directory.
"""

import argparse
import glob
import json
import os
import re
import shutil
import subprocess
import sys
import time

import benchlib
from benchlib import BenchError
from build import build, spark_jars

WORKLOADS = ("crawl-full", "query-suite")
CORPUS_URLS = 40000          # base crawls per corpus; 1 % are crawled twice
KERNEL_DOCS = 2000           # pages in the single-thread kernel sample
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
# a copy of the fixed seed-42 sf0.01 test tables that TESTDATA.md describes
SF_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
EXPECTED_QUERIES = os.path.join(BENCH_DIR, "expected_queries.json")
WORK_DIR = os.path.abspath(".bench_work")
KEEP_CORPORA = 3
RUN_LIMIT_S = 175            # the whole run, build excluded

# build.sbt's JVM options for Spark on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """Half of MemTotal in whole GiB, clamped to [2, 8], as the tier-1 test
    command sizes SPARK_DRIVER_MEM (build.sbt's 12g default does not fit
    beside the corpus on a 16 GB machine)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(max(kb // 2097152, 2), 8)}g"


def jvm_options():
    opts = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return opts + [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{heap()}", f"-Xms{heap()}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
        # keep every file the JVM writes inside the working directory
        f"-Djava.io.tmpdir={WORK_DIR}/tmp", "-XX:-UsePerfData",
        f"-Dlog4j2.configurationFile={BENCH_DIR}/log4j2.properties"]


# --------------------------------------------------------------------- jvm

def run_jvm(classes, args, deadline):
    """Runs the JVM side to completion, killing it at `deadline` (epoch s)."""
    os.makedirs(os.path.join(WORK_DIR, "tmp"), exist_ok=True)
    cmd = (["java"] + jvm_options()
           + ["-cp", f"{classes}:{spark_jars()}/*", "perfbench.PerfBench"] + args)
    log = os.path.join(WORK_DIR, "jvm.log")
    with open(log, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"JVM timed out; see {log}")
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"JVM exited with {rc}; see {log}")


def generator_version():
    src = "src/main/scala/htmlspark/pipeline/PagesGen.scala"
    with open(src) as f:
        m = re.search(r"val GeneratorVersion = (\d+)", f.read())
    if not m:
        raise BenchError(f"no GeneratorVersion in {src}")
    return int(m.group(1))


def corpus_dir(build_key, offset, inject_wrong_text):
    """Where the corpus of one offset and its expected digests live. The
    name carries the generator version, offset, size and build, so a corpus
    or expectation made by other code is never served. The JVM writes the
    corpus when the directory has no expected.json yet."""
    name = f"g{generator_version()}-o{offset}-n{CORPUS_URLS}-b{build_key}" + (
        "-wrong" if inject_wrong_text else "")
    root = os.path.join(WORK_DIR, "corpus")
    d = os.path.join(root, name)
    if not os.path.exists(os.path.join(d, "expected.json")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
        old = sorted(glob.glob(os.path.join(root, "*")), key=os.path.getmtime)
        for stale in old[:max(len(old) - KEEP_CORPORA + 1, 0)]:
            shutil.rmtree(stale, ignore_errors=True)
    return d


def load_expected(d, offset, reference):
    with open(os.path.join(d, "expected.json")) as f:
        exp = json.load(f)
    if exp["generator_version"] != generator_version() or exp["offset"] != offset:
        raise BenchError(f"corpus {d} does not match its key")
    exp["reference_digest"] = reference["digest"]
    return exp


def offset_of(seed):
    """The seed picks a window of the PagesGen index space."""
    return (seed % 1000003) * 1000000


def run_workload(classes, workload, trace, seconds, corpus, offset,
                 inject_wrong_text, query_names, deadline):
    """One run of the JVM side; returns its raw record."""
    raw_path = os.path.join(WORK_DIR, "raw.json")
    if os.path.exists(raw_path):
        os.remove(raw_path)
    run_jvm(classes, [
        "--workload", workload, "--trace", str(trace),
        "--seconds", str(seconds), "--work", WORK_DIR, "--cores", str(cores()),
        "--corpus", corpus, "--offset", str(offset), "--urls", str(CORPUS_URLS),
        "--inject-wrong-text", "1" if inject_wrong_text else "0",
        "--kernel-docs", str(KERNEL_DOCS), "--sf", SF_DIR,
        "--queries", ",".join(sorted(query_names)), "--out", raw_path], deadline)
    with open(raw_path) as f:
        return json.load(f)


# -------------------------------------------------------------------- main

def measure(a, out):
    classes, key = build()
    deadline = time.time() + RUN_LIMIT_S
    # query p03 leaves its resume table in java.io.tmpdir
    shutil.rmtree(os.path.join(WORK_DIR, "tmp"), ignore_errors=True)
    with open(EXPECTED_QUERIES) as f:
        expected_q = json.load(f)
    if a.workload == "crawl-full":
        offset = offset_of(a.seed)
    else:
        offset = 0  # the p-faces parse PagesGen.page(0 .. n)
        print(f"seed {a.seed} recorded; the query-suite data in {SF_DIR} is fixed")
    needs_corpus = a.workload == "crawl-full" or a.trace
    d = corpus_dir(key, offset, a.inject_wrong_text) if needs_corpus else ""
    raw = run_workload(classes, a.workload, a.trace, a.seconds, d, offset,
                       a.inject_wrong_text, expected_q, deadline)
    corpus = None
    if needs_corpus:
        corpus = load_expected(d, offset, raw["reference"])
        print(f"corpus: offset {offset}, {corpus['rows_in']} incoming rows, "
              f"{corpus['n_urls']} urls, {corpus['html_bytes'] / 1e6:.1f} MB of HTML")
    raw = raw["run"]
    if a.trace:
        values = benchlib.per_layer(raw, expected_q, corpus, out)
        names = benchlib.per_layer_names(expected_q)
    else:
        values = benchlib.end_to_end(
            a.workload, raw, corpus if a.workload == "crawl-full" else expected_q, out)
        names = list(benchlib.END_TO_END)
    return {n: {"value": values[n], "unit": u} for n, u in names}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-wrong-text", action="store_true",
                    help="corrupt one expected text (tests that a wrong "
                         "result is reported as FAIL)")
    a = ap.parse_args()
    out = benchlib.Outcome()
    try:
        metrics = measure(a, out)
    except (BenchError, OSError, KeyError, subprocess.SubprocessError) as e:
        for line in out.lines:
            print(line)
        print(f"benchmark error: {e}", file=sys.stderr)
        return 1
    for line in out.lines:
        print(line)
    for n, v in metrics.items():
        print(f"{n} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
