#!/usr/bin/env python3
"""Weather-pipeline benchmark: ingest freshness, live serving, gate passes.

    python3 perfbench/run.py --workload {ingest,serve,gates} --seed N \
        --seconds S --trace {0,1}
    python3 perfbench/run.py --smoke

Run from the repository root. Builds the project's sources together with
the harness in perfbench/src (scalac from the Spark distribution, output
in .bench_build/), generates the workload's inputs from --seed, runs the
workload in one JVM, checks every output against independent oracles and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(plus the traced end-to-end figures as traced.*, for the overhead); every
workload reports every metric BENCHMARK.json declares.
Everything the run writes stays under .bench_build/, .bench_run/ and
.bench_out/ in the current directory. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("ingest", "serve", "gates")
RUN_LIMIT_S = 170          # a run, build excluded, must end well inside 180 s
BUILD_LIMIT_S = 600
GATE_SF = 0.01             # scale factor of the gates workload's tables
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


class BenchError(Exception):
    pass


def spark_jars():
    """The Spark jars: $SPARK_HOME/jars, else the directory the project's
    build.sbt names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as fh:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                              fh.read())
        except OSError:
            m = None
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError(f"no Spark jars under {jars!r} (set SPARK_HOME)")
    return jars


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise BenchError(f"program sources not found at {prog}; run from "
                         "the repository root of a full checkout")
    files = []
    for base in (prog, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compile program + harness once per source state; returns the jar."""
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    out = os.path.join(ROOT, ".bench_build", "perfbench")
    jar = os.path.join(out, "perfbench.jar")
    stamp_file = os.path.join(out, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}", "-cp",
           os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", classes, f"@{argfile}"]
    t0 = time.time()
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_LIMIT_S, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError("build failed")
    shutil.make_archive(jar[:-4], "zip", classes)
    os.replace(jar[:-4] + ".zip", jar)
    shutil.rmtree(classes)
    train(jar)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    print(f"[perfbench] built {len(srcs)} sources in {time.time() - t0:.0f} s",
          file=sys.stderr)
    return jar


def train(jar):
    """Run every workload's set-up once at a tiny scale, dumping the classes
    it loads into a class-data-sharing archive: each later JVM maps it
    instead of loading and verifying them from jars, which cuts several
    seconds off every run's start. A build of new sources makes a new
    archive.
    """
    import gen_tables
    jsa = jar[:-4] + ".jsa"
    if os.path.exists(jsa):
        os.remove(jsa)
    work = os.path.join(os.path.dirname(jar), "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    gen_tables.generate(data, 0, 0.001)
    try:
        run_jvm(jar, work, ["--workload", "train", "--seed", "0",
                            "--seconds", "1",
                            "--data", data],
                BUILD_LIMIT_S, cds=[f"-XX:ArchiveClassesAtExit={jsa}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def cpus():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 4
    return max(2, min(n, 4))


def run_jvm(jar, work, jvm_args, limit_s, cds=None):
    """Start the benchmark JVM; returns its result.json as a dict.

    Runs share the class-data-sharing archive the build dumped next to the
    jar (cds=None); the build's own run passes the dump option instead.

    The benchmark reads and writes only inside the directory it runs from,
    so the program's scratch root (SPARK_GRAFT_SCRATCH, which otherwise
    prefers tmpfs) and Spark's local dirs are pointed at the run's work
    directory. The streaming forks' checkpoints and the lake live there
    too. The figures are therefore those of the disk under the checkout.
    """
    if cds is None:
        jsa = jar[:-4] + ".jsa"
        cds = [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []
    for d in ("tmp", "scratch"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    env = dict(os.environ,
               SPARK_GRAFT_CPUS=str(cpus()),
               SPARK_GRAFT_SCRATCH=os.path.join(work, "scratch"),
               SPARK_LOCAL_DIRS=os.path.join(work, "scratch"))
    t0_ms = int(time.time() * 1000)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + ADD_OPENS + cds
           + ["-cp", jar + os.pathsep + os.path.join(spark_jars(), "*"),
              "perfbench.Main", "--t0-ms", str(t0_ms), "--work", work]
           + jvm_args)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            tail(log_path)
            raise BenchError(f"benchmark JVM exceeded {limit_s:.0f} s")
        except BaseException:  # interrupted or terminated: take the JVM along
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
    if rc != 0:
        tail(log_path)
        raise BenchError(f"benchmark JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def tail(path, n=60):
    try:
        lines = open(path, errors="replace").read().splitlines()
        sys.stderr.write("\n".join(lines[-n:]) + "\n")
    except OSError:
        pass


def declared():
    """Metric names BENCHMARK.json declares: (end_to_end, per_layer), or
    (None, None) when the file is absent."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None, None
    with open(path) as fh:
        bench = json.load(fh)
    return ({m["name"] for m in bench["end_to_end"]},
            {m["name"] for m in bench["per_layer"]})


def run(args, jar, started):
    work = os.path.join(ROOT, ".bench_run",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        jvm_args = ["--workload", args.workload, "--seed", str(args.seed),
                    "--seconds", str(args.seconds), "--trace", str(args.trace)]
        data = os.path.join(work, "data")
        # the gate tables: the gates workload's input, and on the other
        # workloads that of the traced run's gate probe
        if args.workload == "gates" or args.trace:
            import gen_tables
            gen_tables.generate(data, args.seed, GATE_SF)
            jvm_args += ["--data", data]
        limit = RUN_LIMIT_S - (time.time() - started)
        res = run_jvm(jar, work, jvm_args, limit)
        checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
        results = os.path.join(work, "gate_results")
        if os.path.isdir(results):
            import gate_check
            checks += [(f"gates.{g}.oracle", ok, d) for g, ok, d in
                       gate_check.check_all(results, data)]
        for name, ok, detail in checks:
            if not ok:
                print(f"[perfbench] check failed: {name}: {detail}",
                      file=sys.stderr)
        e2e, layer = declared()
        if args.trace:
            metrics = dict(res["per_layer"])
            metrics.update({f"traced.{k}": v
                            for k, v in res["end_to_end"].items()})
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                out = os.path.join(ROOT, ".bench_out")
                os.makedirs(out, exist_ok=True)
                shutil.copy(spans, os.path.join(
                    out, f"spans-{args.workload}-s{args.seed}.jsonl"))
        else:
            metrics = dict(res["end_to_end"])
        # every run reports the metrics BENCHMARK.json declares, each a
        # number; a run that cannot is an error, not a partial result line
        want = layer if args.trace else e2e
        missing = sorted(k for k in want or ()
                         if metrics.get(k, {}).get("value") is None)
        if missing:
            raise BenchError(f"{args.workload} did not measure: "
                             + ", ".join(missing))
        if want is not None:
            metrics = {k: metrics[k] for k in sorted(want)}
        return {"correct": bool(checks) and all(ok for _, ok, _ in checks),
                "attempted": int(res["attempted"]),
                "failed": int(res["failed"]),
                "metrics": metrics}
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)


def main():
    # a terminated run must not leave its JVM behind (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="show that every check rejects a wrong output")
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's work directory under .bench_run/")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload is required")
    try:
        jar = build()
        started = time.time()
        if args.smoke:
            import smoke
            sys.exit(smoke.main(jar, run_jvm, ROOT))
        result = run(args, jar, started)
    except BenchError as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        sys.exit(2)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
