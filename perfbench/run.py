#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload gene_cluster --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run compiles the program's
sources together with the benchmark's own code (sbt, offline); later runs
reuse the build while no source file changed. The benchmark JVM generates
the seeded inputs under perfbench/work/, runs the workload, checks its
outputs and prints one JSON object; the work directory is removed
afterwards. Traced runs (--trace 1) also write
perfbench/out/trace-<workload>-s<seed>.json.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
WORKLOADS = ("gene_cluster", "vector_index", "corpus_curation")
JVM_HEAP = "2g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit (the launcher's default module options)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ROOT / "src" / "main", BENCH / "src"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def steal_jiffies():
    """(all CPU time, CPU time stolen by the hypervisor) since boot, from
    /proc/stat; None where it cannot be read. Their ratio over a run is
    the share of the machine's CPU time that other guests took."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
        return sum(f), f[7]
    except (OSError, ValueError, IndexError):
        return None


def jvm_flags(work):
    # JVM warnings go to stderr: stdout carries only the result
    return ([f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
             "-Xlog:disable", "-Xlog:all=warning:stderr", "-XX:-UsePerfData"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")])


def jvm_cmd(cp, work, workload, seed, seconds, trace, jvm_extra):
    return (["java"] + jvm_flags(work) + jvm_extra
            + ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace), "--work", str(work),
               "--out", str(BENCH / "out")])


def new_work(name):
    work = BENCH / "work" / name
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    return work


def build():
    """Compile if any source changed; return the runtime classpath.

    The compiled classes go into one jar, so that a class-data-sharing
    archive (dumped by one short training run) can cut JVM and Spark
    start-up of every later run; the archive speeds class loading only.
    Every run maps the archive, so a failed dump fails the build."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no program sources at src/main/scala: run from a full checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")
    cp_file, stamp_file = TARGET / "perfbench-classpath.txt", TARGET / "perfbench-stamp.txt"
    want = stamp()
    if (cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == want
            and (TARGET / "perfbench.jsa").is_file()):
        return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    print("[perfbench] building (sbt compile)", file=sys.stderr)
    # sbt's launcher script starts its JVM as a child: run both in their
    # own process group, so a timeout ends the whole build
    sbt = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = sbt.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(sbt.pid, signal.SIGKILL)
        sbt.wait()
        fail("build timed out")
    if sbt.returncode != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {sbt.returncode})")
    cps = [l.strip() for l in out.splitlines()
           if l.strip().endswith(".jar") and "classes" in l and not l.startswith("[")]
    if not cps:
        sys.stderr.write(out[-4000:])
        fail("build printed no classpath")
    entries = cps[-1].split(os.pathsep)
    classes = Path(entries[0])
    if not classes.is_dir():
        fail(f"unexpected first classpath entry {classes}")
    jar = TARGET / "perfbench.jar"
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    cp = os.pathsep.join([str(jar)] + entries[1:])
    jsa = TARGET / "perfbench.jsa"
    jsa.unlink(missing_ok=True)
    work = new_work("cds")
    print("[perfbench] dumping the class-data-sharing archive", file=sys.stderr)
    try:
        dump = subprocess.run(jvm_cmd(cp, work, "gene_cluster", 0, 1, 0,
                                      [f"-XX:ArchiveClassesAtExit={jsa}"]),
                              cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                              text=True, stdin=subprocess.DEVNULL, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("class-data-sharing archive dump timed out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if dump.returncode != 0 or not jsa.is_file():
        sys.stderr.write(dump.stderr[-4000:])
        jsa.unlink(missing_ok=True)
        fail(f"class-data-sharing archive dump failed (exit {dump.returncode})")
    cp_file.write_text(cp)
    stamp_file.write_text(want)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be >= 1")
    cp = build()
    work = new_work(f"{a.workload}-s{a.seed}-p{os.getpid()}")
    cds = [f"-XX:SharedArchiveFile={TARGET / 'perfbench.jsa'}"]
    steal0 = steal_jiffies()
    proc = subprocess.Popen(jvm_cmd(cp, work, a.workload, a.seed, a.seconds, a.trace, cds),
                            cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    steal1 = steal_jiffies()
    if steal0 and steal1 and steal1[0] > steal0[0]:
        share = (steal1[1] - steal0[1]) / (steal1[0] - steal0[0])
        print(f"[perfbench] steal share {share:.4f}", file=sys.stderr)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-4000:])
        fail(f"benchmark JVM exited {proc.returncode} without a result")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
