#!/usr/bin/env python3
"""Build the engine and the benchmark harness from source, run one workload,
and print the result as the last line of standard output.

Usage (from the root of a checkout):
  python3 benchmark/run.py --workload daily_etl --seed 1 --seconds 20 --trace 0
  python3 benchmark/run.py --self-test
  python3 benchmark/run.py --record expected.json --dump outdir --seed 1
      (query_mix record mode: writes fingerprints, and dumps every result
       for tools/validate.py)

The build compiles src/main/scala and benchmark/src with the Scala compiler
that ships in Spark's jars directory ($SPARK_HOME/jars, else that of the
spark-submit on PATH) into a jar in .bench_build/, keyed by a digest of the
sources, so a later run with unchanged sources reuses it. The first workload
run of a build also writes a class-data-sharing archive of the classes it
loaded (next to the jar) when its JVM exits; later runs map it, which takes
class loading out of each run's cold start. Each run gets its own scratch
directory under .bench_build/ (JVM temp dir and Spark local dir included),
removed when the run ends; per-run result files stay in .bench_build/results.
"""
import argparse
import hashlib
import json
import os
import selectors
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("daily_etl", "query_mix", "docstore_lifecycle")
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"run.py: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    submit = shutil.which("spark-submit")
    homes = [os.environ.get("SPARK_HOME", ""),
             os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if os.path.isdir(jars) and any(n.startswith("scala-compiler") for n in os.listdir(jars)):
            return jars
    fail("no Spark jars directory with a Scala compiler "
         "($SPARK_HOME/jars, or next to spark-submit on PATH)")


def scala_sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    for r in roots:
        if not os.path.isdir(r):
            fail(f"missing source directory {os.path.relpath(r, ROOT)}; "
                 "run from the root of a full checkout")
    files = []
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(jars):
    files = scala_sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(",".join(sorted(os.listdir(jars))).encode())
    digest = h.hexdigest()
    out = os.path.join(BUILD, f"classes-{digest[:16]}.jar")
    if os.path.exists(out):
        return out, digest
    tmp = f"{out}.tmp{os.getpid()}.jar"
    argfile = os.path.join(BUILD, f"scalac-args-{os.getpid()}.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    print(f"[bench] compiling {len(files)} Scala sources", file=sys.stderr)
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
                       stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    os.remove(argfile)
    if r.returncode != 0:
        if os.path.exists(tmp):
            os.remove(tmp)
        fail("compilation failed")
    os.replace(tmp, out)
    print(f"[bench] compiled in {time.time() - t0:.1f} s", file=sys.stderr)
    return out, digest


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "none (not a git checkout)"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
    return r.stdout.strip() or "unknown"


def run_jvm(classes, jars, main, args, work, timeout_s=RUN_TIMEOUT_S, share=False):
    """Run `main` and return its exit code and stdout lines. With `share`,
    map the build's class-data-sharing archive, or write it at exit if the
    build has none yet."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    archive = classes[:-len(".jar")] + ".jsa"
    dumping = share and not os.path.exists(archive)
    cds = []
    if dumping:
        cds = [f"-XX:ArchiveClassesAtExit={work}/classes.jsa"]
    elif share:
        cds = [f"-XX:SharedArchiveFile={archive}"]
    env = {k: v for k, v in os.environ.items()
           if not (k.startswith("SPARK_GRAFT_") or k.startswith("GRAFT_"))}
    env["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory;
    # JVM warnings (class-data sharing's included) go to stderr, away from the result
    cmd = (["java", "-XX:-UsePerfData", "-Xlog:disable", "-Xlog:all=warning:stderr"] + cds
           + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env, cwd=ROOT,
                            start_new_session=True)
    lines = []
    try:
        deadline = time.time() + timeout_s
        sel = selectors.DefaultSelector()
        sel.register(proc.stdout, selectors.EVENT_READ)
        while True:
            left = deadline - time.time()
            if left <= 0:
                raise TimeoutError(f"{main} did not finish within {timeout_s} s")
            if sel.select(timeout=min(left, 1.0)):
                line = proc.stdout.readline()
                if not line:
                    break
                lines.append(line.rstrip("\n"))
        proc.wait(timeout=max(1.0, deadline - time.time()))
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if dumping and proc.returncode == 0 and os.path.exists(f"{work}/classes.jsa"):
        os.replace(f"{work}/classes.jsa", archive)
    return proc.returncode, lines


def select_metrics(result, trace):
    """Keep the metrics BENCHMARK.json lists for this kind of run (end to
    end untraced, per layer traced); the report above the result line
    prints the rest."""
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        return result
    with open(spec_path) as fh:
        spec = json.load(fh)
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    missing = [n for n in names if n not in result["metrics"]]
    if missing:
        fail(f"result lacks metrics {missing}")
    result["metrics"] = {n: result["metrics"][n] for n in names}
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record")
    ap.add_argument("--dump")
    a = ap.parse_args()

    jars = spark_jars()
    data = os.path.join(BENCH, "data")
    expected = os.path.join(BENCH, "expected", "query_mix.json")
    if not a.self_test and not os.path.isdir(data):
        fail("missing fixture tables in benchmark/data")
    if not a.self_test and not a.record and (a.workload is None or a.seed is None or a.seconds is None):
        fail("--workload, --seed and --seconds are required")
    os.makedirs(BUILD, exist_ok=True)
    classes, digest = build(jars)

    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        if a.self_test:
            code, lines = run_jvm(classes, jars, "graft.bench.SelfTest", [], work)
            print("\n".join(lines))
            sys.exit(code)
        workload = "query_mix" if a.record else a.workload
        args = ["--workload", workload, "--seed", str(a.seed if a.seed is not None else 1),
                "--seconds", str(0 if a.record else a.seconds), "--trace", str(a.trace),
                "--data", data, "--expected", expected, "--work", work,
                "--results", os.path.join(BUILD, "results"),
                "--meta", f"git_commit={git_commit()}", "--meta", f"source_sha256={digest}",
                "--meta", f"heap=-Xmx{HEAP}"]
        if a.record:
            args += ["--record", os.path.abspath(a.record)]
            if a.dump:
                args += ["--dump", os.path.abspath(a.dump)]
        # record mode runs the whole catalog twice (fingerprint, then dump)
        code, lines = run_jvm(classes, jars, "graft.bench.Main", args, work,
                              timeout_s=3600 if a.record else RUN_TIMEOUT_S, share=True)
        result = None
        for line in lines:
            if line.startswith("{") and '"correct"' in line:
                result = line
            else:
                print(line)
        if code != 0 or result is None:
            fail(f"benchmark JVM exited with code {code} and no result")
        print(json.dumps(select_metrics(json.loads(result), a.trace)))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
