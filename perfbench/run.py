#!/usr/bin/env python3
"""Run one workload of the repo benchmark and print its result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload dump_reload --seed 1 --seconds 20 --trace 0

Workloads and metrics are declared in BENCHMARK.json and described in
perfbench/README.md. The script

  1. compiles the harness together with the repo's main sources (sbt,
     offline) unless a previous run already built these exact sources;
  2. runs one JVM (local[4] Spark, heap sized from MemTotal) with a
     fresh work directory under .bench_build/, which it deletes after;
  3. prints, as its last stdout line, one JSON object with the keys
     correct, attempted, failed and metrics: the end-to-end metrics
     with --trace 0, the per-layer metrics with --trace 1.

--spans-out FILE also writes every span of the run as JSON lines.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
CORPUS = os.path.join(HERE, "corpus", "sf0.01")
JVM_SECONDS = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_process(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout or error."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def spark_home():
    """$SPARK_HOME, else the installation whose spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        sys.exit("perfbench: set SPARK_HOME to a Spark installation")
    return home


def build():
    digest = source_digest()
    if os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read() == digest:
                return
    log("compiling the harness and the repo's main sources (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, _ = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                          timeout=800, cwd=HERE, env=env, stdout=sys.stderr)
    if code != 0:
        sys.exit(f"perfbench: build failed (sbt exit {code})")
    with open(STAMP, "w") as f:
        f.write(digest)


def heap():
    """MemTotal / 2, clamped to 2..8 GiB: the tier-1 test sizing."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def java_cmd(args, work=None):
    tmp = [f"-Djava.io.tmpdir={work}/tmp"] if work else []
    return (["java", "-XX:-UsePerfData", f"-Xmx{heap()}", "-Duser.timezone=UTC"] + tmp
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS]
            + ["-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark_home(), 'jars', '*')}",
               "perfbench.Main"] + args)


def run_jvm(args):
    """Run perfbench.Main in a fresh work directory; return its last stdout line."""
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="work-", dir=os.path.join(ROOT, ".bench_build"))
    try:
        os.makedirs(os.path.join(work, "tmp"))
        code, out = run_process(java_cmd([a.replace("{work}", work) for a in args], work),
                                timeout=JVM_SECONDS, cwd=work, stdout=subprocess.PIPE,
                                text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        sys.exit(f"perfbench: JVM exit {code}")
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--spans-out")
    a = ap.parse_args()
    # a terminated run still stops its JVM (see run_process)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"perfbench: unknown workload {a.workload!r}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: no src/main/scala beside perfbench/; run from a full checkout")
    build()

    spans = [os.path.abspath(a.spans_out)] if a.spans_out else []
    r = json.loads(run_jvm([a.workload, str(a.seed), str(a.seconds), str(a.trace),
                            "{work}", CORPUS] + spans))
    if a.trace:
        values = dict(r["layers"], **{"trace.rep_s_p50": r["rep_s_p50"]})
        declared = spec["per_layer"]
    else:
        values = r
        declared = spec["end_to_end"]
    # a layer the workload does not exercise did no work: 0
    metrics = {m["name"]: {"value": values.get(m["name"]) or 0.0, "unit": m["unit"]}
               for m in declared}
    frac = r["failed"] / r["attempted"] if r["attempted"] else 1.0
    log(f"{a.workload} seed={a.seed}: {r['reps']} repetitions, {r['attempted']} ops, "
        f"ops_failed_frac={frac:.4f}")
    for name, m in metrics.items():
        if not a.trace or m["value"]:
            log(f"  {name} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": bool(r["correct"]), "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
