#!/usr/bin/env python3
"""Run one workload of the repository benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library's main
sources together with the benchmark (sbt, in perfbench/) and, for
operator_headline, the fixed table set; later runs reuse both while the
sources are unchanged. Everything is written under .bench_build/ in the
checkout. The last line of standard output is the result object; the line
before it carries the run context, the workload's own figures, the output
checks and, in a traced run, the span summary.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
WORKLOADS = ("prov_pipeline", "operator_headline")
MIN_FREE_GB = 4.0
RUN_TIMEOUT_S = 170
# fixed and pre-touched, so resident memory is the heap plus what the program
# holds outside it, not the collector's sizing decisions of the moment
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [ROOT / "src" / "main", BENCH / "src", BENCH / "build.sbt",
             BENCH / "project" / "build.properties"]
    for r in roots:
        if r.is_file():
            yield r
        elif r.is_dir():
            yield from sorted(p for p in r.rglob("*") if p.is_file())


def source_stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_logged(cmd, log, cwd, timeout):
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{cmd[0]} timed out; see {log}")


def build(stamp):
    """Compile with sbt when the sources changed; return the classpath."""
    cp_file = BUILD / "classpath.txt"
    stamp_file = BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    # build.sbt compiles against the jars of this Spark distribution
    spark = os.environ.get("SPARK_HOME")
    if not spark or not (Path(spark) / "jars").is_dir():
        fail("SPARK_HOME must point at a Spark distribution with a jars/ directory")
    log = BUILD / "build.log"
    code = run_logged(["sbt", "-batch", "-Dsbt.server.autostart=false",
                       "compile", "export Runtime/fullClasspath"],
                      log, BENCH, 800)
    lines = log.read_text().splitlines()
    cps = [l.strip() for l in lines
           if "perfbench/target" in l and not l.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); see {log}")
    cp_file.write_text(cps[-1])
    stamp_file.write_text(stamp)
    return cps[-1]


def java_cmd(cp, work, extra_props=()):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    props = [f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", *extra_props]
    # no hsperfdata file: the JVM would write it outside the checkout
    return ["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:-UsePerfData", *props, "-cp", cp, "perfbench.Main"]


def headline_data(cp):
    """The fixed operator tables, built once per checkout."""
    data = BUILD / "headline-data"
    if (data / "embeddings.parquet").exists():
        return data
    work = BUILD / "work-prepare"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    code = run_logged(java_cmd(cp, work) + ["--prepare-headline-data", str(data),
                                            "--work", str(work)],
                      BUILD / "headline-data.log", ROOT, 600)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail(f"building the operator tables failed; see {BUILD / 'headline-data.log'}")
    return data


def commit_of(stamp):
    if not (ROOT / ".git").exists():
        return "src-sha256:" + stamp[:16]
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return "src-sha256:" + stamp[:16]


def untraced_walls(workload):
    rec = BUILD / "records" / f"{workload}.jsonl"
    if not rec.exists():
        return []
    return [json.loads(l)["unit_wall_s"] for l in rec.read_text().splitlines() if l]


def run_jvm(cp, args, ref_wall, data, commit):
    """One measured JVM; returns (exit code, last stdout line)."""
    work = BUILD / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    props = [f"-Dperfbench.headlineData={data}"] if data else []
    cmd = java_cmd(cp, work, props) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work), "--out", str(BUILD / "results"), "--commit", commit]
    if ref_wall:
        cmd += ["--untraced-unit-wall", repr(ref_wall)]
    env = {k: v for k, v in os.environ.items()
           if k not in ("GRAFT_ENABLE_PROVENANCE", "GRAFT_ENABLE_VCS")}
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True, start_new_session=True)
    lines = []
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{args.workload} did not finish within {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    for l in lines[:-1]:
        print(l)
    return proc.returncode, (lines[-1] if lines else "")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no library sources under {ROOT / 'src/main/scala'}; run from a full checkout")
    BUILD.mkdir(exist_ok=True)
    free_gb = shutil.disk_usage(BUILD).free / 1e9
    if free_gb < MIN_FREE_GB:
        fail(f"only {free_gb:.1f} GB free under {BUILD}; {MIN_FREE_GB} GB needed")

    stamp = source_stamp()
    cp = build(stamp)
    data = headline_data(cp) if args.workload == "operator_headline" else None
    commit = commit_of(stamp)

    # tracing overhead: the traced unit wall over the median untraced one
    # recorded in this checkout (reported as 0 until an untraced run exists)
    walls = untraced_walls(args.workload) if args.trace == 1 else []
    ref_wall = statistics.median(walls) if walls else None

    code, last = run_jvm(cp, args, ref_wall, data, commit)
    if not last.startswith("{"):
        fail(f"{args.workload} printed no result (exit {code})")
    if args.trace == 0 and code == 0:
        record_untraced(args.workload, last)
    print(last)
    sys.exit(code)


def record_untraced(workload, last):
    result = json.loads(last)
    rec = BUILD / "records"
    rec.mkdir(exist_ok=True)
    with open(rec / f"{workload}.jsonl", "a") as f:
        f.write(json.dumps({"unit_wall_s":
                            result["metrics"]["unit_wall_s"]["value"]}) + "\n")


if __name__ == "__main__":
    main()
