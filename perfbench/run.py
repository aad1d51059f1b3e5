#!/usr/bin/env python3
"""Build the program and the benchmark from source, run one workload, and
print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. The program (src/main/scala) and the
benchmark (perfbench/src) are compiled together with the Scala compiler
that ships in Spark's jars directory ($SPARK_HOME/jars, else the
unmanagedBase that build.sbt names); no build tool is involved. Build
output, run directories, JVM logs and span files go to
$CARGO_TARGET_DIR, default .bench_build. The build is reused while no
source file changes.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUN_TIMEOUT_S = 170

# The JVM flags build.sbt gives forked runs: the JDK 17 module opens Spark
# needs outside spark-submit, UTC, and no UI.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-Xms3g", "-Xmx3g",
]


class BenchError(Exception):
    pass


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the unmanagedBase build.sbt names."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (ROOT / "build.sbt").read_text())
        if not m:
            raise BenchError("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BenchError(f"no Spark/Scala jars in {jars}")
    return jars


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((HERE / "src").rglob("*.scala"))
    if not program:
        raise BenchError(f"program sources not found under {ROOT / 'src/main/scala'}")
    return program + bench


def build(out, jars):
    """Compiles program and benchmark into out/classes unless unchanged."""
    srcs = sources()
    out.mkdir(parents=True, exist_ok=True)
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    digest = h.hexdigest()
    classes, stamp = out / "classes", out / "classes.stamp"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    print(f"[perfbench] compiling {len(srcs)} Scala files", file=sys.stderr, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp)] + [str(s) for s in srcs]
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise BenchError("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest)
    return classes


def run_jvm(main_args, out, jars, classes, log_name, timeout_s):
    """Runs a benchmark main; relays its stdout except the result line,
    which it returns (None if there was none)."""
    work = out / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", *JVM_FLAGS,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dderby.stream.error.file={work / 'derby.log'}",
           "-cp", f"{classes}:{jars}/*", *main_args, "--work", str(work)]
    log = out / log_name
    result = None
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True)
        killer = threading.Timer(timeout_s, proc.kill)
        previous = signal.signal(signal.SIGTERM, lambda *_: (proc.kill(), sys.exit(143)))
        killer.start()
        try:
            for line in proc.stdout:
                if line.startswith("PERFBENCH "):
                    result = json.loads(line[len("PERFBENCH "):])
                else:
                    print(line, end="", flush=True)
            code = proc.wait()
        finally:
            killer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            signal.signal(signal.SIGTERM, previous)
            shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        tail = log.read_text(errors="replace").splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        raise BenchError(f"JVM exited with code {code} (log: {log})")
    return result


def report(spec, trace, raw):
    """The result line: the metrics BENCHMARK.json lists for this mode, by
    name with unit. Per-layer metrics a workload never exercises read 0."""
    listed = spec["per_layer"] if trace else spec["end_to_end"]
    names = {m["name"] for m in listed}
    measured = raw["metrics"]
    unknown = sorted(set(measured) - names)
    if unknown:
        raise BenchError(f"measured metrics missing from BENCHMARK.json: {unknown}")
    missing = sorted(names - set(measured))
    if missing and not trace:
        raise BenchError(f"end-to-end metrics not measured: {missing}")
    return {
        "correct": bool(raw["correct"]),
        "attempted": int(raw["attempted"]),
        "failed": int(raw["failed"]),
        "metrics": {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
                    for m in listed},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="run the benchmark's own tests instead of a workload")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    jars = spark_jars()
    out = build_dir()
    classes = build(out, jars)
    if a.self_test:
        run_jvm(["perfbench.SelfTest"], out, jars, classes, "self-test.log", RUN_TIMEOUT_S)
        return
    workloads = [w["name"] for w in spec["workloads"]]
    if a.workload not in workloads:
        raise BenchError(f"--workload must be one of {workloads}")
    if a.seconds < 1:
        raise BenchError("--seconds must be at least 1")
    spans = out / "trace" / f"{a.workload}-seed{a.seed}.jsonl"
    raw = run_jvm(["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                   "--spans", str(spans), "--docs", str(HERE / "data" / "documents.parquet")],
                  out, jars, classes, f"{a.workload}.log", RUN_TIMEOUT_S)
    if raw is None:
        raise BenchError("the benchmark printed no result")
    if a.trace:
        print(f"[perfbench] spans: {spans}")
    print(json.dumps(report(spec, a.trace, raw)))


if __name__ == "__main__":
    try:
        main()
    except (BenchError, OSError, ValueError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
