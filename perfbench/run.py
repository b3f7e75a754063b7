#!/usr/bin/env python3
"""Repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark (perfbench/build.sbt, which compiles ../src as a library) into
the checkout; later runs reuse the build while the sources are unchanged.
One JVM then generates the seeded corpus (graft.tools.GenAlt over the
fixture in perfbench/fixture), sets the engine up, measures the workload
and checks its outputs; batch outputs are compared here with the DuckDB
oracle through tools/local_verify.py. The last line of stdout is one JSON
object: {"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics of BENCHMARK.json (--trace 0) or its per-layer metrics
(--trace 1). Everything else goes to stderr, apart from one provenance
line on stdout before the result.

--seconds is accepted so that every benchmark takes the same arguments; each
workload measures a fixed input instead (perfbench/README.md).
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
BUILD = os.path.join(ROOT, ".bench_build")
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
WORKLOADS = ("suite_small", "stream_join", "ingest_appends")
# A run must end within 180 s, or 900 s when it builds first.
RUN_LIMIT_S, BUILD_LIMIT_S = 170, 840

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on
    timeout and waits for it, so no process outlives the run."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout:.0f} s")


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(deadline):
    """Compiles engine + benchmark with sbt; returns the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "build.stamp"), os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), False
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    rc, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"],
                        deadline - time.time(), cwd=HERE, env=env,
                        stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    sys.stderr.write("\n".join(lines[:-1]) + "\n")
    if rc != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed (sbt exit {rc})")
    cp = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp, True


def check_suite(work, out_dir, deadline):
    """DuckDB oracle compare of one pass's query dumps; returns failures.
    The two BPE oracles embed VALUES computed from the gate corpus, so
    they are regenerated for this corpus first."""
    sample = [q for q in open(os.path.join(out_dir, "queries.txt")).read().split() if q]
    corpus = os.path.join(work, "corpus")
    oracle = os.path.join(out_dir, "oracle_sql.json")
    tools = os.path.join(ROOT, "tools")
    frag = os.path.join(work, "bpe.txt")
    with open(frag, "w") as f:
        rc = subprocess.run([sys.executable, os.path.join(tools, "gen_bpe_oracle.py"), corpus, "12", "2"],
                            stdout=f, stderr=sys.stderr, timeout=120).returncode
    if rc != 0:
        fail("gen_bpe_oracle failed")
    subprocess.run([sys.executable, os.path.join(tools, "patch_bpe_oracle.py"), frag, oracle],
                   stdout=sys.stderr, stderr=sys.stderr, timeout=60, check=True)
    r = subprocess.run([sys.executable, os.path.join(tools, "local_verify.py"), corpus, out_dir],
                       env=dict(os.environ, VERIFY_ONLY=",".join(sample),
                                DUCKDB_TMP=os.path.join(work, "duck")),
                       capture_output=True, text=True, timeout=max(1, deadline - time.time()))
    sys.stderr.write(r.stdout + r.stderr)
    ok = {l.split()[1].rstrip(":") for l in r.stdout.splitlines() if l.startswith("OK")}
    return sum(1 for q in sample if q not in ok)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.time()
    load1 = os.getloadavg()[0]

    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(ROOT, "tools", "local_verify.py"), os.path.join(ROOT, "BENCHMARK.json"),
                 FIXTURE):
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from the root of a full checkout")
    for tool in ("java", "sbt"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    cp, built = build(started + BUILD_LIMIT_S)
    deadline = (time.time() if built else started) + RUN_LIMIT_S

    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    nproc = os.cpu_count() or 1
    java = ["java", "-cp", cp] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-XX:+UseParallelGC", "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "perfbench.Main", a.workload, str(a.seed), str(a.trace), FIXTURE, work]
    rc, _ = run_group(java, deadline - time.time(), cwd=work,
                      env=dict(os.environ, SPARK_GRAFT_CPUS=str(nproc)),
                      stdout=sys.stderr, stderr=sys.stderr)
    result_file = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        fail(f"benchmark JVM exited {rc} without a result")
    res = json.load(open(result_file))

    failed = res["failed"]
    print(f"perfbench: JVM done at {time.time() - started:.1f} s", file=sys.stderr)
    if a.workload == "suite_small":
        for d in ("pass", "traced", "after"):
            out_dir = os.path.join(work, d, "out")
            if os.path.isdir(out_dir):
                failed += check_suite(work, out_dir, deadline + 8)
        print(f"perfbench: oracle compare done at {time.time() - started:.1f} s", file=sys.stderr)

    kind = "per_layer" if a.trace else "end_to_end"
    values = res[kind]
    metrics = {}
    for m in spec[kind]:
        if m["name"] not in values:
            fail(f"the JVM reported no {m['name']}")
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}

    if a.trace:
        keep = os.path.join(BUILD, "trace", f"{a.workload}-seed{a.seed}")
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for f in ("spans.jsonl", "layers.txt"):
            shutil.copy(os.path.join(work, f), keep)
        sys.stderr.write(open(os.path.join(keep, "layers.txt")).read())
        print(f"perfbench: spans and per-layer table in {os.path.relpath(keep, ROOT)}", file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)

    provenance = dict(res["provenance"], workload=a.workload, seed=a.seed, trace=a.trace,
                      load1_start=load1, op_count=res["op_count"], op_tail_pct=res["op_tail_pct"],
                      fail_frac=failed / max(1, res["attempted"]), run_s=round(time.time() - started, 3))
    print(json.dumps({"provenance": provenance}))
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
