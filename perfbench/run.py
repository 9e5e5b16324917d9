#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, every output checked.

    python3 perfbench/run.py --workload cta_pipeline --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the library with the
harness (sbt, into .bench_build/); later runs reuse the build while the
sources are unchanged. Each run generates its inputs from --seed into a
scratch directory under .bench_run/, starts a fresh JVM (and, for
cta_pipeline, the mock Train Tracker API in a second one), measures for
--seconds, checks every output, removes its scratch directory, and prints
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": n, "failed": n, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (see BENCHMARK.json);
with --trace 1 the run alternates untraced and traced passes and prints
the per-layer metrics, computed from spans and listener records (written
to --trace-out when given), including the tracing overhead.

Workloads:
  cta_pipeline   poll the mock API -> normalize -> land parquet (one poll
                 cycle per micro-batch), compact a raw NDJSON day, and run
                 the trend query on both lakes
  query_mix      relational and LLM-data registry queries over generated
                 sf0.1 tables (star schema, events, documents)
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

# query_mix: the cheap relational presentSorted sites, and the LLM-data
# queries (the heavy presentSorted family, the n-gram dedup exchange, a memo
# build)
WORKLOADS = {
    "cta_pipeline": None,
    "query_mix": [
        "q_join_semi", "q_join_anti", "q_json_serialize",
        "q_conditional_suite", "q_tokens_per_doc", "q_span_scrub",
        "q_dedup_ngram_jaccard", "q_dedup_minhash_lsh", "q_token_positions",
        "q_fuzzy_jarowinkler"],
}
# timed passes per run, at least; metrics take their median. The pipeline's
# first timed passes are still on the JVM's warm-up curve (9, 6, 5, 5.5 s on
# one run), so it needs five for the median to fall on the steady part.
PASSES = {"cta_pipeline": 5, "query_mix": 3}
SF = 0.1
CYCLES = 8           # one-cycle micro-batches landed per pipeline pass
N_TRAINS = 150       # fleet size of the mock API
HARNESS_TIMEOUT_S = 160
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "perfbench", "scala-2.13", "classes")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """sha1 over every file the build reads, in path order."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    paths = []
    for r in roots:
        if os.path.isfile(r):
            paths.append(r)
        for d, dirs, files in os.walk(r):
            dirs.sort()
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile library + harness unless the sources are unchanged."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest \
            and os.path.isdir(CLASSES):
        return digest
    log("building (sbt compile) ...")
    os.makedirs(BUILD, exist_ok=True)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep sbt's own state and scratch files inside the checkout
    cmd = ["sbt", "-batch", f"-Dsbt.global.base={BUILD}/sbt-global",
           "-Dsbt.server.autostart=false", f"-Djava.io.tmpdir={tmp}",
           f"-Djna.tmpdir={tmp}", f"-Dswoval.tmpdir={tmp}",
           "Compile / compile", "Compile / copyResources"]
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        env = dict(os.environ, JAVA_TOOL_OPTIONS="-XX:-UsePerfData")
        rc = subprocess.call(cmd, cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env)
    if rc != 0:
        sys.exit(f"perfbench: build failed (see {BUILD}/build.log)")
    with open(stamp, "w") as f:
        f.write(digest)
    return digest


def classpath():
    spark_home = os.environ.get("SPARK_HOME", "")
    jars = os.path.join(spark_home, "jars")
    if not os.path.isdir(jars):
        sys.exit("perfbench: SPARK_HOME/jars not found")
    return f"{CLASSES}:{jars}/*"


def java_cmd(main, args, heap, work, extra=()):
    opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", f"-Xmx{heap}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Dspark.sql.warehouse.dir={work}/warehouse",
             f"-Dspark.local.dir={work}/local", *opens, *extra,
             "-cp", classpath(), main] + list(args))


def wait_proc(p, timeout):
    """Wait for p; past the timeout kill it and wait."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        return -9


class Mock:
    """The mock API process: started before the harness, always stopped."""

    def __init__(self, work, bodies, fail_request):
        self.port_file = os.path.join(work, "mock.port")
        args = [bodies, self.port_file] + ([str(fail_request)] if fail_request else [])
        cmd = java_cmd("perfbench.MockCta", args, "256m", work,
                       extra=["-Dsun.net.httpserver.nodelay=true"])
        self.log = open(os.path.join(work, "mock.log"), "w")
        self.proc = subprocess.Popen(cmd, stdout=self.log, stderr=subprocess.STDOUT,
                                     stdin=subprocess.DEVNULL)
        deadline = time.time() + 30
        while not os.path.exists(self.port_file):
            if self.proc.poll() is not None or time.time() > deadline:
                self.stop()
                sys.exit("perfbench: mock API did not start")
            time.sleep(0.05)
        self.base = f"http://127.0.0.1:{open(self.port_file).read().strip()}"

    def stop(self):
        if self.proc.poll() is None:
            self.proc.terminate()
            wait_proc(self.proc, 10)
        self.log.close()


def cta_inputs(seed, work):
    """Mock bodies, probe hour, raw day and expected values for one seed."""
    bodies, rows = gen.cta_feed(seed, CYCLES, N_TRAINS)
    with open(os.path.join(work, "bodies.tsv"), "w") as f:
        for c in range(CYCLES):
            for line, _ in gen.LINES:
                f.write(f"{line}\t{bodies[line][c]}\n")
    probe_bodies, _ = gen.cta_feed(seed + 1, 60, N_TRAINS)
    with open(os.path.join(work, "probe.json"), "w") as f:
        for c in range(60):
            for line, _ in gen.LINES:
                f.write(json.dumps({"line": line, "poll_ts": gen.POLL_TS,
                                    "json": probe_bodies[line][c]}) + "\n")
    raw_rows, n_distinct, n_dups = gen.write_raw_day(
        seed, os.path.join(work, "raw"), N_TRAINS)
    landed = {}
    for _tid, line, _p, delayed, _n in rows:
        c = landed.setdefault(line, [0, 0])
        c[0] += 1
        c[1] += int(delayed)

    def trend(rs):
        by, latest = gen.trend(rs)
        return {"by_line_hour": by, "latest": latest}

    expect = {"poll_ts": gen.POLL_TS, "landed": landed, "fresh": trend(rows),
              "daily": trend(raw_rows), "daily_distinct": n_distinct}
    with open(os.path.join(work, "expect.json"), "w") as f:
        json.dump(expect, f)
    return {"landed_rows": len(rows), "raw_distinct": n_distinct,
            "raw_dups": n_dups}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", help="keep the trace files in this directory")
    ap.add_argument("--fail-query", help="self-test: add a query name that "
                    "does not exist to the mix")
    ap.add_argument("--fail-request", type=int, help="self-test: the mock "
                    "answers its n-th request with HTTP 500")
    a = ap.parse_args()
    # a terminated run still stops its JVMs (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: library sources (src/main/scala/graft) not found; "
                 "run from a checkout of the repository")
    digest = build()
    t_setup = time.time()
    cpu_start = cpu_times()
    cpus = os.cpu_count() or 1
    work = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    out = os.path.join(work, "result.json")
    harness_args = [f"workload={a.workload}", f"work={work}", f"out={out}",
                    f"seconds={a.seconds}", f"passes={PASSES[a.workload]}",
                    f"trace={a.trace}",
                    f"seed={a.seed}", f"cpus={cpus}"]
    ready = os.path.join(work, "inputs.ready")
    harness_args.append(f"ready={ready}")
    if a.workload == "cta_pipeline":
        harness_args += [f"data={work}", f"cycles={CYCLES}", f"raw={work}/raw",
                         f"probe={work}/probe.json", f"expect={work}/expect.json"]
    else:
        names = list(WORKLOADS[a.workload])
        if a.fail_query:
            names.append(a.fail_query)
        harness_args += [f"data={work}/data", f"queries={','.join(names)}"]
    # the harness JVM starts while the inputs are generated; it waits for
    # the ready file (which carries the mock's URL) before its warm pass
    harness_log = open(os.path.join(work, "harness.log"), "w")
    harness = subprocess.Popen(
        java_cmd("perfbench.Harness", harness_args, "4g", work),
        stdout=harness_log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    mock, info, late = None, {}, "abort=1\n"
    try:
        try:
            if a.workload == "cta_pipeline":
                info = cta_inputs(a.seed, work)
                mock = Mock(work, os.path.join(work, "bodies.tsv"), a.fail_request)
                late = f"mock={mock.base}\n"
            else:
                gen.write_tables(a.seed, os.path.join(work, "data"), SF)
                late = "\n"
        finally:
            with open(ready + ".tmp", "w") as f:
                f.write(late)
            os.rename(ready + ".tmp", ready)
        rc = wait_proc(harness, HARNESS_TIMEOUT_S)
        if mock:
            mock.stop()
            mock = None
        if rc != 0 or not os.path.exists(out):
            tail = open(os.path.join(work, "harness.log")).read()[-3000:]
            sys.exit(f"perfbench: harness exited with {rc}\n{tail}")
        with open(out) as f:
            res = json.load(f)
        spans = []
        if a.trace and os.path.exists(out + ".spans.jsonl"):
            with open(out + ".spans.jsonl") as f:
                spans = [json.loads(line) for line in f if line.strip()]
            if a.trace_out:
                os.makedirs(a.trace_out, exist_ok=True)
                shutil.copy(out + ".spans.jsonl", os.path.join(
                    a.trace_out, f"{a.workload}-{a.seed}.spans.jsonl"))
                shutil.copy(out, os.path.join(a.trace_out, f"{a.workload}-{a.seed}.json"))
        if a.workload != "cta_pipeline":
            metrics.check_mix(res, work)
        report = metrics.compute(res, spans, a.workload, t_setup, info)
    finally:
        wait_proc(harness, 0)
        harness_log.close()
        if mock:
            mock.stop()
        shutil.rmtree(work, ignore_errors=True)
    load_end = os.getloadavg()[0]
    report["provenance"].update({
        "nproc": cpus, "seed": a.seed, "sf": SF, "workload": a.workload,
        "seconds": a.seconds, "trace": a.trace, "source_sha1": digest,
        "git_commit": git_commit(), "load_1m_end_process": load_end,
        "cpu_steal_share": steal_share(cpu_start, cpu_times())})
    print(json.dumps({"provenance": report["provenance"],
                      "failures": report["failures"],
                      "op_failed_share": report["op_failed_share"],
                      "samples": report["samples"]}))
    print(json.dumps(report["result"]))


def cpu_times():
    """The machine's aggregate CPU counters (/proc/stat), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def steal_share(a, b):
    """Share of CPU time the hypervisor gave to other guests between two
    readings. On a shared 4-core VM, slow spells came with 15-20% steal,
    so results are comparable only at similar steal."""
    if not a or not b or sum(b) == sum(a):
        return None
    return (b[7] - a[7]) / (sum(b) - sum(a))


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10
                              ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


if __name__ == "__main__":
    main()
