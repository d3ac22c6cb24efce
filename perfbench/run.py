#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  It builds the library from the checkout's
sources together with the benchmark's own code (``perfbench/build.py``;
rebuilt only when a source changes), generates the seeded inputs (cached per seed
under ``perfbench/.cache``), dumps one class-data-sharing archive per
workload after each build, runs one workload in one JVM and prints the
result JSON as the last line of stdout.  Progress, the human-readable
metric report and the correctness gates go to stderr.  Exits non-zero when
the build, the input self-check, a correctness gate or the run fails.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

from build import BENCH, CLASSPATH, ROOT, STAMP, TARGET, build

CACHE = os.path.join(BENCH, ".cache")
WORKLOADS = ["pubmed_keywords", "stream_ingest_serve"]
# the JVM's limit; a normal run takes well under half of it
JVM_TIMEOUT_S = 160

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print("[run.py] " + msg, file=sys.stderr, flush=True)


def stop(procs):
    """Kills the children still running and waits for every one."""
    for p in procs:
        if p.poll() is None:
            p.kill()
        p.wait()


def inputs(seed):
    """The seed's input tree, keyed by seed and generator version;
    generated twice in parallel on first use and kept only when both
    copies are byte-identical."""
    with open(os.path.join(BENCH, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    final = os.path.join(CACHE, "seed-%d-%s" % (seed, version))
    mark = os.path.join(final, ".digest")
    if os.path.exists(mark):
        return final
    os.makedirs(CACHE, exist_ok=True)
    tmps = [os.path.join(CACHE, "tmp-%d-%d-%d" % (seed, os.getpid(), i))
            for i in range(2)]
    for t in tmps:
        shutil.rmtree(t, ignore_errors=True)
    t0 = time.time()
    procs = [subprocess.Popen(
        [sys.executable, "-c", "import sys, gen; gen.generate(%d, sys.argv[1]);"
         " print(gen.digest(sys.argv[1]))" % seed, t], cwd=BENCH,
        stdout=subprocess.PIPE, text=True) for t in tmps]
    try:
        digests = [p.communicate()[0].strip() for p in procs]
    finally:
        stop(procs)
    if any(p.returncode != 0 for p in procs) or digests[0] != digests[1]:
        for t in tmps:
            shutil.rmtree(t, ignore_errors=True)
        log("input self-check failed: seed %d gave %s" % (seed, digests))
        sys.exit(4)
    shutil.rmtree(tmps[1])
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmps[0], final)
    with open(mark, "w") as f:
        f.write(digests[0] + "\n")
    log("generated inputs for seed %d in %.1f s (sha256 %s, reproduced)"
        % (seed, time.time() - t0, digests[0][:16]))
    return final


def jvm(workload, seed, seconds, trace, data, jvm_opts, stderr=None):
    """Runs Main once in a fresh work directory; returns (exit code,
    stdout).  Exits the script when the JVM passes its time limit."""
    work = os.path.join(BENCH, ".work", "%s-%d" % (workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cores = len(os.sched_getaffinity(0))
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Xlog:disable", "-Xlog:all=error:stderr"] + jvm_opts + [
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
           "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", workload, str(seed),
            repr(seconds), str(trace), data, work, str(cores)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=stderr,
                            text=True, stdin=subprocess.DEVNULL)
    try:
        out, err = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop([proc])
        log("run exceeded its time limit")
        sys.exit(5)
    finally:
        stop([proc])
        if trace == 1 and os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(BENCH, ".work", "spans-%s.jsonl" % workload))
            log("spans kept in perfbench/.work/spans-%s.jsonl" % workload)
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 and err:
        sys.stderr.write(err[-6000:])
    return proc.returncode, out


def archive(workload):
    """The workload's archive for the current build."""
    with open(STAMP) as f:
        return os.path.join(TARGET, "cds-%s-%s.jsa"
                            % (workload, f.read().strip()[:16]))


def archives(seed, data):
    """Class-data sharing: once per build, an untimed class-loading run of
    each workload (one set-up round and one step) dumps the classes it
    loaded into an archive, and every measured run maps it.  That takes
    about a third off a cold JVM's set-up, and no measured run differs
    from the others by dumping."""
    for w in WORKLOADS:
        jsa = archive(w)
        if os.path.exists(jsa):
            continue
        log("dumping the class-data-sharing archive for %s" % w)
        t0 = time.time()
        tmp = jsa + ".%d.tmp" % os.getpid()
        code, _ = jvm(w, seed, 0, 0, data, ["-XX:ArchiveClassesAtExit=" + tmp],
                      stderr=subprocess.PIPE)
        if code != 0 or not os.path.exists(tmp):
            log("archive dump for %s failed (exit code %d)" % (w, code))
            sys.exit(8)
        os.replace(tmp, jsa)
        log("dumped in %.1f s" % (time.time() - t0))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run unwinds, so its children are killed and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("no library sources next to the benchmark; nothing to measure")
        sys.exit(2)
    if build():
        for f in os.listdir(TARGET):
            if f.endswith(".jsa"):
                os.remove(os.path.join(TARGET, f))
    data = inputs(a.seed)
    archives(a.seed, data)
    jsa = archive(a.workload)
    code, out = jvm(a.workload, a.seed, a.seconds, a.trace, data,
                    ["-Xshare:on", "-XX:SharedArchiveFile=" + jsa])
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    for l in lines[:-1] if result is not None else lines:
        print(l, file=sys.stderr)
    if result is None:
        log("no result line (exit code %d)" % code)
        sys.exit(code or 6)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    if set(result["metrics"]) != want:
        log("metrics differ from BENCHMARK.json: %s"
            % sorted(set(result["metrics"]) ^ want))
        sys.exit(7)
    print(json.dumps(result))
    sys.exit(code)


if __name__ == "__main__":
    main()
