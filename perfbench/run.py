#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see README.md in this directory):
  llm_pipeline  ten of the queries over documents and embeddings
  ec_stream     six streaming forms of the reference jobs, drained from a
                pre-staged backlog

Steps: build the library and the harness from source (cached by a hash of
the sources), generate the inputs from the seed, run the harness JVM
(perfbench.Main, local[4]), check every result, and print as the last line
of stdout one JSON object {"correct", "attempted", "failed", "metrics"}:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
The full record (run metadata, per-operation times and checks) is printed
on the line before and kept under perfbench/out/results/.

Everything it writes stays under perfbench/out/.
"""
import argparse
import hashlib
import json
import os
import resource
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

# Input sizes per workload, below the repository's sf0.1 testdata so that a
# run fits its time budget: llm_pipeline reads 500 documents and 500
# embeddings (the sf0.001 sizes; sf0.1 has about 5,000 documents), and
# ec_stream a backlog of 14,000 events. The relational tables are small
# (a tenth of sf0.01): only the stream joins customer and nation.
TINY = dict(customers=150, suppliers=10, parts=200, orders=1500, lineitems=6000, events=1000)
WORKLOADS = {
    "llm_pipeline": dict(TINY, documents=500, embeddings=500),
    "ec_stream": dict(TINY, documents=200, embeddings=200, stream_events=14000,
                      stream_users=150, stream_days=5, late_share=0.01, per_file=1000),
}
# JIT warm-up input: generated from another seed, small, in its own
# directory so that no path-keyed memo carries over into the timed run
WARM = dict(TINY, documents=100, embeddings=100, stream_events=400, stream_users=20,
            stream_days=1, late_share=0.01, per_file=200)
WARM_SEED_OFFSET = 1_000_003
HEAP = "4g"
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]

END_TO_END = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s", "events_per_s": "1/s",
              "batch_p50_ms": "ms", "batch_p90_ms": "ms", "peak_rss_mb": "MB"}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the repository root."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(deadline):
    """Compile library + harness; returns the runtime classpath."""
    stamp_p = os.path.join(OUT, "build.stamp")
    cp_p = os.path.join(OUT, "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp_p) and os.path.exists(cp_p):
        with open(stamp_p) as f, open(cp_p) as g:
            if f.read() == digest:
                return g.read(), digest
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH", 1)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as lf:
        try:
            r = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                 "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=lf, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=max(30, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"build timed out (log: {log})", 1)
    with open(log) as lf:
        lines = lf.read().splitlines()
    if r.returncode != 0:
        fail("build failed:\n" + "\n".join(lines[-30:]), 1)
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        fail(f"build printed no classpath (log: {log})", 1)
    with open(cp_p, "w") as f:
        f.write(cps[-1])
    with open(stamp_p, "w") as f:
        f.write(digest)
    return cps[-1], digest


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() or None


def data_fingerprint(workload, seed, sizes):
    with open(gen.__file__, "rb") as f:
        code = hashlib.sha256(f.read()).hexdigest()
    return f"{code}:{workload}:{seed}:{json.dumps(sizes, sort_keys=True)}"


def host_cpu():
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[7], sum(v)
    except (OSError, IndexError, ValueError):
        return 0, 0


def run_jvm(classpath, args, cwd, deadline):
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main"] + args
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(OUT, "spark-local"))
    log = os.path.join(cwd, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"harness timed out (log: {log})", 1)
    if code != 0:
        with open(log) as lf:
            tail = lf.read().splitlines()[-40:]
        fail(f"harness exited {code}:\n" + "\n".join(tail), 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    for f in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"library source {f} not found next to {os.path.basename(HERE)}/")
    os.makedirs(OUT, exist_ok=True)
    classpath, src_digest = build(t_start + BUILD_LIMIT_S)
    # the run limit counts from the end of any build
    deadline = time.time() + RUN_LIMIT_S - 5

    sizes = WORKLOADS[a.workload]
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    data = os.path.join(OUT, "data", tag)
    work = os.path.join(OUT, "work", tag)
    warm = data + "-warm"
    for d in (data, work, data + "-alt", warm):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(work)
    rows = gen.generate(data, a.seed, sizes)
    gen.generate(warm, a.seed + WARM_SEED_OFFSET, WARM)
    alt = data
    if a.trace:
        alt = data + "-alt"
        shutil.copytree(data, alt)

    result_p = os.path.join(work, "result.json")
    trace_p = os.path.join(OUT, "results", tag + ".trace.json")
    os.makedirs(os.path.dirname(trace_p), exist_ok=True)
    args = ["--workload", a.workload, "--data", data, "--alt", alt, "--warm", warm,
            "--out", result_p, "--work", work, "--trace", str(a.trace)]
    if a.trace:
        args += ["--trace-out", trace_p]
    steal0, total0 = host_cpu()
    ru0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    run_jvm(classpath, args, work, deadline)
    ru1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    steal1, total1 = host_cpu()
    with open(result_p) as f:
        res = json.load(f)

    ops = res["ops"]
    if a.workload != "ec_stream":
        with open(os.path.join(work, "oracle_sql.json")) as f:
            oracle_sql = json.load(f)
        want = oracle.oracle_checksums(
            data, oracle_sql, [o["name"] for o in ops if o["error"] is None],
            os.path.join(OUT, "oracle-cache"), data_fingerprint(a.workload, a.seed, sizes))
        for o in ops:
            o["oracle"] = want.get(o["name"])
            if o["error"] is not None:
                continue
            if o["oracle"] is None:
                o["error"] = "no oracle SQL: result unchecked"
            elif o["oracle"] != o["checksum"]:
                o["error"] = f"checksum {o['checksum']} != oracle {o['oracle']}"
    failed = sum(1 for o in ops if o["error"] is not None)

    if a.trace:
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in res["layers"].items()}
    else:
        m = dict(res["metrics"], peak_rss_mb=res["meta"]["peak_rss_mb"])
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "meta": dict(res["meta"], git_commit=git_commit(), source_sha256=src_digest,
                     # CPU time of the harness JVM, and the share of the host's
                     # CPU time stolen by the hypervisor while it ran
                     jvm_cpu_s=(ru1.ru_utime + ru1.ru_stime) - (ru0.ru_utime + ru0.ru_stime),
                     host_steal_share=(steal1 - steal0) / max(1, total1 - total0),
                     inputs={"dir": os.path.relpath(data, ROOT), "rows": rows}),
        "samples": res["samples"], "ops": ops, "metrics": res["metrics"],
        "layers": res["layers"], "elapsed_s": time.time() - t_start,
    }
    with open(os.path.join(OUT, "results", tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    for d in (data, alt, warm, work):
        shutil.rmtree(d, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


def unit_of(name):
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("ns_per_byte"):
        return "ns/byte"
    if name.endswith("ns_per_vec"):
        return "ns/vector"
    return "count"


if __name__ == "__main__":
    main()
