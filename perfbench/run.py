#!/usr/bin/env python3
"""Benchmark of the engine through its public client surface.

Builds the repository's main sources together with the benchmark program
(perfbench/src), generates the corpus, runs one workload in one JVM and
prints its result line last on stdout.

Usage, from the repository root:
  python3 perfbench/run.py --workload {lookup,ingest,batch} --seed N \
      --seconds S --trace {0,1}
  python3 perfbench/run.py --smoke       every workload at sf0.001, traced and
                                         untraced, checking every named metric
  python3 perfbench/run.py --reference --scale 0.1
                                         print expected.tsv for a corpus scale

Everything the run creates stays under perfbench/target (the build) and
perfbench/.work (corpus, per-run warehouse, traces); the per-run directory is
removed when the run ends, whatever its outcome.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench-build.sha256")
SCALE = "0.05"
SMOKE_SCALE = "0.001"
JVM_LIMIT_S = 170
# lookup runs C1 only, with the code cache of a default tiered JVM (C1
# alone would get 48 MB, which per-statement generated classes fill); the
# other workloads run the default tiered JIT: see "JIT" in perfbench/README.md
JIT = {"lookup": ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation: set SPARK_HOME")
    return home


def source_hash():
    h = hashlib.sha256()
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(home):
    digest = source_hash()
    if os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("compiling the engine and the benchmark program")
    tmp = os.path.join(BENCH, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    # the build's own temporary files stay in the checkout too, for every
    # JVM the sbt launcher starts (its Java version probe included)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
                       + " -Dsbt.server.autostart=false")
    env["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp} "
                                "-XX:-UsePerfData -Dsbt.boot.lock=false")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0:
        die("build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def corpus(scale):
    # keyed by the generator's content, so a changed generator regenerates
    with open(os.path.join(BENCH, "gen_corpus.py"), "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    out = os.path.join(WORK, f"corpus-sf{scale}-{version}")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    r = subprocess.run([sys.executable, os.path.join(BENCH, "gen_corpus.py"), tmp, scale],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        die("corpus generation failed")
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def run_jvm(home, workload, seed, seconds, trace, scale, setups):
    """Runs perfbench.Main; returns (exit code, stdout lines)."""
    data = corpus(scale)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    trace_out = os.path.join(WORK, "traces", f"{workload}-seed{seed}-{os.getpid()}.jsonl")
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx4g", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false"] +
           JIT.get(workload, []) +
           ["-cp", f"{CLASSES}:{home}/jars/*", "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--corpus", data,
            "--run-dir", run_dir, "--trace-out", trace_out,
            "--expected", os.path.join(BENCH, f"expected-sf{scale}.tsv"),
            "--setups", str(setups)])
    env = dict(os.environ, SPARK_HOME=home, SPARK_GRAFT_LOCAL_DIR=f"{run_dir}/spark-local")
    env.pop("SPARK_LOCAL_DIRS", None)
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)

    def stop(*_):
        kill(proc)
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(4)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=JVM_LIMIT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        kill(proc)
        log(f"run exceeded {JVM_LIMIT_S} s")
        out, code = "", 3
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return code, out.splitlines()


def kill(proc):
    if proc.poll() is None:
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()


def smoke(home):
    """Every workload at sf0.001, untraced then traced: each must pass its
    result checks, run every operation kind and print exactly the metrics
    BENCHMARK.json names."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ok = True
    for w in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, lines = run_jvm(home, w["name"], 1, 2, trace, SMOKE_SCALE, 1)
            want = {m["name"]: m["unit"] for m in spec[key]}
            try:
                res = json.loads(lines[-1])
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                problems = [] if code == 0 else [f"exit code {code}"]
                if not res["correct"] or res["failed"]:
                    problems.append(f"checks failed ({res['failed']} of {res['attempted']})")
                detail = json.loads(next(l for l in lines if l.startswith("[perfbench] detail "))
                                    .split(" ", 2)[2])
                idle = sorted(k for k, v in detail.items() if k.endswith(("ops", ".commits", ".reads")) and not v)
                if idle:
                    problems.append(f"operation kinds that never ran: {idle}")
                if got != want:
                    problems.append(f"metrics differ: missing {sorted(set(want) - set(got))}, "
                                    f"extra {sorted(set(got) - set(want))}, units "
                                    f"{sorted(k for k in want if k in got and got[k] != want[k])}")
            except (IndexError, ValueError, KeyError, StopIteration) as e:
                problems = [f"no result line ({e}), exit code {code}"]
            print(f"smoke {w['name']} trace={trace}: {'ok' if not problems else '; '.join(problems)}")
            ok = ok and not problems
    return 0 if ok else 1


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=["lookup", "ingest", "batch"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true")
    p.add_argument("--reference", action="store_true")
    p.add_argument("--scale", default=SCALE)
    a = p.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "GraftEngine.scala")):
        die("the engine sources are not beside the benchmark: run from a repository checkout")
    if not (a.smoke or a.reference or a.workload):
        die("one of --workload, --smoke, --reference is required")
    home = spark_home()
    build(home)
    if a.smoke:
        sys.exit(smoke(home))
    workload = "reference" if a.reference else a.workload
    code, lines = run_jvm(home, workload, a.seed, a.seconds, a.trace,
                          a.scale if a.reference else SCALE, 3)
    for line in lines:
        print(line)
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
