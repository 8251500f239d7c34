#!/usr/bin/env python3
"""Run one benchmark workload from the root of a source checkout.

    python3 perfbench/run.py --workload etl_cohort --seed 1 --seconds 20 --trace 0

Builds the program (the root sbt build) and the benchmark package
(perfbench/build.sbt) when their sources changed, generates the
workload's inputs from the seed, runs the workload in a fresh JVM and
prints every metric with its unit. The last line of standard output is
one JSON object: correct, attempted, failed (packets) and metrics.
Every result is also appended to .bench_build/perfbench/results.jsonl,
which report.py summarises. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

# Input size of each workload: patients for etl_cohort, sites for etl_sites.
SIZES = {"etl_cohort": 10000, "etl_sites": 1}
BUILD = Path(".bench_build") / "perfbench"
RUN_LIMIT_S = 170
JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-XX:MetaspaceSize=2g",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [
    arg for pkg in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    files = [Path("build.sbt"), Path("project/build.properties"),
             HERE / "build.sbt", HERE / "project/build.properties"]
    for root in (Path("src/main"), HERE / "src"):
        files += sorted(p for p in root.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt(cwd, *commands, timeout):
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *commands],
                       cwd=cwd, env=env, capture_output=True, text=True, timeout=timeout)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(f"sbt {' '.join(commands)} failed in {cwd}")
    return p.stdout


def classpath():
    """Build the program and the benchmark if their sources changed."""
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    digest = sources_digest()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip()
    t0 = time.time()
    out = sbt(HERE, "compile", "export Compile/fullClasspath", timeout=800)
    cp = [line for line in out.splitlines() if line.strip() and not line.startswith("[")][-1]
    cp_file.write_text(cp)
    stamp.write_text(digest)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (Path("build.sbt").is_file() and Path("src/main/scala/graft").is_dir()
            and gen.FIXTURE.is_dir()):
        fail("run from the root of a graft source checkout (build.sbt, src/ not found)")
    BUILD.mkdir(parents=True, exist_ok=True)
    cp = classpath()

    work = (BUILD / args.workload).resolve()
    t0 = time.time()
    manifest = gen.generate(args.workload, args.seed, SIZES[args.workload], work / "inputs")
    gen_s = time.time() - t0

    result_path = work / "result.json"
    result_path.unlink(missing_ok=True)
    log_path = work / f"jvm-seed{args.seed}-trace{args.trace}.log"
    launch_ms = int(time.time() * 1000)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "perfbench.Main",
           f"config={work / 'inputs' / 'config.yaml'}",
           f"manifest={work / 'inputs' / 'manifest.json'}",
           f"expected={(gen.FIXTURE / 'expected').resolve()}",
           f"work={work}", f"seconds={args.seconds}", f"trace={args.trace}",
           f"launch_ms={launch_ms}", f"gen_s={gen_s}",
           f"result={result_path}", f"spans={work / 'spans.json'}"]
    (work / "tmp").mkdir(exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {RUN_LIMIT_S} s; log in {log_path}")
    if code != 0 or not result_path.exists():
        sys.stderr.write(log_path.read_text()[-4000:])
        fail(f"JVM exited with {code}; log in {log_path}")

    result = json.loads(result_path.read_text())
    record = dict(result, workload=args.workload, seed=args.seed, trace=args.trace,
                  input_bytes=manifest["input_bytes"], packets=len(manifest["subjects"]))
    with open(BUILD / "results.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    for k, v in result.get("summary", {}).items():
        print(f"{k}: {v}")
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
