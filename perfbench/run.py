#!/usr/bin/env python3
"""Lakehouse benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the program and the
benchmark into .bench_build/classes/perfbench.jar (perfbench/build.sh);
later runs reuse the jar while no source has changed. The first run of each
workload on a build also records the classes its JVM loads in a
class-data-sharing archive (.bench_build/classes/<workload>.jsa), which
later runs of the workload map instead of loading and verifying those
classes again: that takes seconds off every JVM start and first Spark job. The run itself is one JVM
(perfbench.Main) on a local[4] Spark session; its work files live under
.bench_build/runs/<workload>-s<seed>-t<trace>/ and are removed afterwards,
except the JVM log and the trace (spans.jsonl, layers.tsv) of a --trace 1
run. An untraced run also leaves its result in .bench_build/last/, keyed by
workload, seed and a hash of the sources; a traced run of the same three
measures its tracing overhead against it.

Workloads (see BENCHMARK.json): live_tail, batch. The last line of
standard output is one JSON object with `correct`, `attempted`, `failed`
and `metrics`: every end-to-end metric with --trace 0, every per-layer
metric with --trace 1. The exit code is 0 only when every op succeeded and
every output matched its reference.
"""
import argparse
import hashlib
import json
import os
import pathlib
import re
import shutil
import subprocess
import sys

BUILD = pathlib.Path(".bench_build")
CLASSES = BUILD / "classes"
JVM_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources_stamp():
    h = hashlib.sha256()
    roots = [pathlib.Path("src/main/scala"), pathlib.Path("perfbench/src")]
    files = sorted(p for r in roots if r.is_dir() for p in r.rglob("*.scala"))
    files.append(pathlib.Path("perfbench/build.sh"))
    for p in files:
        h.update(str(p).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    stamp = sources_stamp()
    stamp_file = CLASSES / "STAMP"
    if stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    subprocess.run(["bash", "perfbench/build.sh", str(CLASSES), spark_jars()], check=True,
                   stdout=sys.stderr)
    stamp_file.write_text(stamp)


def spark_jars():
    """The Spark jars the program builds against: $SPARK_HOME/jars, else the
    unmanagedBase directory the repository's build.sbt names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', pathlib.Path("build.sbt").read_text())
    if not m:
        sys.exit("run.py: set SPARK_HOME to the Spark distribution the program builds against")
    return m.group(1)


def jvm_cmd(work, workload, args):
    """The benchmark JVM for one run of `workload` whose files live under
    `work`: it maps the workload's class-data-sharing archive, or writes
    the archive at exit when there is none yet."""
    jars = os.path.join(spark_jars(), "*")
    archive = CLASSES / f"{workload}.jsa"
    cds = (f"-XX:SharedArchiveFile={archive}" if archive.is_file()
           else f"-XX:ArchiveClassesAtExit={archive}")
    # JVM log lines (the archive dump's among them) go to stderr, so the
    # result stays the last line of standard output. The four Spark task
    # threads already fill the four cores: a fixed-size heap under the
    # stop-the-world parallel collector and two JIT compiler threads leave
    # the fewest other threads competing with them. Room for the classes
    # Spark generates keeps class metadata from triggering full
    # collections (0.1-0.25 s pauses) in the middle of timed ops.
    return (["java", cds, "-Xlog:disable", "-Xlog:all=warning:stderr",
             "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-XX:CICompilerCount=2",
             "-XX:MetaspaceSize=512m",
             "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
             "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}",
             "-Dspark.ui.enabled=false"]
            + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", f"{CLASSES / 'perfbench.jar'}{os.pathsep}{jars}", "perfbench.Main",
               "--work", str(work), "--digests", "perfbench/digests.json",
               "--workload", workload] + args)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["live_tail", "batch"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec = json.loads(pathlib.Path("BENCHMARK.json").read_text())
    if not pathlib.Path("src/main/scala").is_dir():
        sys.exit("run.py: no program sources here (src/main/scala); run from the repository root")
    build()

    work = BUILD / "runs" / f"{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # a traced run reports its overhead against an untraced run of the
    # same workload, seed and sources
    baseline = BUILD / "last" / f"{a.workload}-s{a.seed}-{sources_stamp()[:16]}.json"
    cmd = jvm_cmd(work, a.workload, ["--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--baseline", str(baseline)])
    with open(work / "jvm.log", "w") as log:
        try:
            p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"run.py: the run took over {JVM_TIMEOUT_S} s (log: {work / 'jvm.log'})")
    lines = p.stdout.strip().splitlines()
    if p.returncode not in (0, 1) or not lines or not lines[-1].startswith("{"):
        sys.exit(f"run.py: the run failed with code {p.returncode} (log: {work / 'jvm.log'})")
    for line in lines[:-1]:
        print(line)
    result = json.loads(lines[-1])
    want = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    if sorted(result["metrics"]) != sorted(want):
        sys.exit(f"run.py: metrics {sorted(result['metrics'])} do not match BENCHMARK.json")
    for entry in work.iterdir():
        if entry.name not in ("trace", "jvm.log"):
            shutil.rmtree(entry) if entry.is_dir() else entry.unlink()
    if not a.trace and p.returncode == 0:
        baseline.parent.mkdir(exist_ok=True)
        baseline.write_text(json.dumps(result))
    print(json.dumps(result))
    sys.exit(p.returncode)


if __name__ == "__main__":
    main()
