#!/usr/bin/env python3
"""Build and run the graft benchmark.

    python3 perfbench/run.py --workload <name|all> --seed <n> [--seconds <s>] [--trace 0|1]
    python3 perfbench/run.py --build-only

Run from the root of a source checkout. The first run compiles the
engine's sources (src/main) and the benchmark's own sources
(perfbench/src) with the Scala compiler that ships with Spark, into
.bench_build/graftbench; later runs reuse that build until a source file
changes. Each run starts one JVM with a fixed heap, works in its own
directory under .bench_work (removed afterwards), and prints the JVM's
output; the last line is the result JSON. A traced run also writes its
spans to .bench_out/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ["ingest_cycles", "corpus_dedup_search"]
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_DIR = ROOT / ".bench_build" / "graftbench"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list the engine's own build passes to its JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark distribution's jars directory: $SPARK_HOME/jars, or the
    one next to spark-submit on PATH. It must hold the Scala compiler."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if list(c.glob("spark-core_*.jar")) and list(c.glob("scala-compiler-*.jar")):
            return c
    fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def digest(files, base):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(base)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compile_scala(jars, files, dest, classpath):
    if dest.exists():
        shutil.rmtree(dest)
    dest.mkdir(parents=True)
    argfile = dest.parent / (dest.name + ".sources")
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    compiler = os.pathsep.join(str(next(jars.glob(f"{n}-*.jar")))
                               for n in ("scala-compiler", "scala-library", "scala-reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(dest), "-classpath", classpath, f"@{argfile}"]
    print(f"graftbench: compiling {len(files)} files into {dest.relative_to(ROOT)}",
          file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        fail(f"compilation of {dest.name} failed")


def build(jars):
    """Compile what changed; return the runtime classpath."""
    main_src = ROOT / "src" / "main" / "scala"
    resources = ROOT / "src" / "main" / "resources"
    bench_src = HERE / "src"
    if not main_src.is_dir():
        fail(f"no engine sources at {main_src.relative_to(ROOT)}: run from a source checkout")
    main_files = sorted(main_src.rglob("*.scala"))
    res_files = sorted(p for p in resources.rglob("*") if p.is_file()) if resources.is_dir() else []
    bench_files = sorted(bench_src.rglob("*.scala"))
    if not main_files or not bench_files:
        fail("engine or benchmark sources missing")
    jar_cp = str(jars / "*")
    main_cls, bench_cls = BUILD_DIR / "main", BUILD_DIR / "bench"
    main_stamp = digest(main_files + res_files, ROOT)
    stamp = BUILD_DIR / "main.stamp"
    if not stamp.exists() or stamp.read_text() != main_stamp:
        compile_scala(jars, main_files, main_cls, jar_cp)
        for r in res_files:
            target = main_cls / r.relative_to(resources)
            target.parent.mkdir(parents=True, exist_ok=True)
            shutil.copyfile(r, target)
        stamp.write_text(main_stamp)
    bench_stamp = main_stamp + digest(bench_files, ROOT)
    stamp = BUILD_DIR / "bench.stamp"
    if not stamp.exists() or stamp.read_text() != bench_stamp:
        compile_scala(jars, bench_files, bench_cls, os.pathsep.join([jar_cp, str(main_cls)]))
        stamp.write_text(bench_stamp)
    return os.pathsep.join([str(bench_cls), str(main_cls), jar_cp])


def git_commit():
    if not (ROOT / ".git").exists():
        return "unknown"
    r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "unknown"


def java_cmd(classpath, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={work / 'tmp'}", f"-Dspark.local.dir={work / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            f"-Dspark.hadoop.hadoop.tmp.dir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", *opens, "-cp", classpath, main, *args]


def run_jvm(classpath, name, main, args):
    """Run one JVM in a fresh work directory; return (exit code, stdout lines).
    The JVM's stderr (Spark's log) goes to .bench_out/<name>.log."""
    work = ROOT / ".bench_work" / f"{name}-{os.getpid()}"
    if work.exists():
        shutil.rmtree(work)
    (work / "tmp").mkdir(parents=True)
    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    log = out_dir / f"{name}.log"
    cmd = java_cmd(classpath, work, main, [*args, "--work", str(work / "run")])
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            out, _ = proc.communicate()
            print(f"graftbench: {name} timed out after {RUN_TIMEOUT_S} s", file=sys.stderr)
            proc.returncode = proc.returncode or 124
        finally:
            # the JVM has exited (or is being killed); take any process it
            # left in its group with it
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        tail = log.read_text(errors="replace").splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=0,
                    help="recorded; each run does a fixed amount of work")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "tiny"], default="full")
    ap.add_argument("--build-only", action="store_true")
    a = ap.parse_args()
    if not a.build_only and not a.workload:
        ap.error("--workload is required")
    classpath = build(spark_jars())
    if a.build_only:
        return 0
    code = 0
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        name = f"{w}-seed{a.seed}-trace{a.trace}"
        args = ["--workload", w, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--size", a.size, "--commit", git_commit(),
                "--spans", str(ROOT / ".bench_out" / f"spans-{name}.jsonl")]
        rc, lines = run_jvm(classpath, name, "graftbench.Main", args)
        for line in lines:
            print(line, flush=True)
        code = code or rc
    return code


if __name__ == "__main__":
    sys.exit(main())
