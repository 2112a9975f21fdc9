#!/usr/bin/env python3
"""One run of the wingfoilspark benchmark.

    python3 perfbench/run.py --workload <replay_ticks|curate|live_ticks>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
benchmark with sbt (offline) into the checkout; later runs reuse the build
while the sources are unchanged. The JVM side (perfbench/src) times the
workload and writes a result file; this script then checks every batch
query's output against its DuckDB oracle (SparkEntry.oracleSql) with the
repo's tools/check_oracle.py and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}.
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
from pathlib import Path

WORKLOADS = ("replay_ticks", "curate", "live_ticks")
# Per-layer metrics of layers a workload does not run read 0 there.
NOT_RUN = {
    "replay_ticks": ("streaming.",),
    "curate": ("streaming.",),
    "live_ticks": ("driver.", "core.s", "augurs.s", "market.s", "text.s", "similarity.s"),
}
DEADLINE_S = 170  # seconds a run may take after the build
BUILD_DEADLINE_S = 600  # seconds the sbt build may take
BENCH = Path("perfbench")
DATA = BENCH / "data"
WORK = Path(".bench_build")
# Matches org.apache.spark.launcher.JavaModuleOptions: Spark on JDK 17
# outside spark-submit needs these.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def metric_units(kind):
    """Name -> unit of the metrics BENCHMARK.json lists under `kind`."""
    spec = json.loads(Path("BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[kind]}


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [Path("build.sbt"), Path("project/build.properties"),
             BENCH / "build.sbt", BENCH / "project/build.properties"]
    for root in (Path("src/main"), BENCH / "src"):
        files += sorted(p for p in root.rglob("*") if p.is_file())
    for p in files:
        if p.exists():
            h.update(str(p).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles library + benchmark with sbt unless the sources are unchanged;
    returns the runtime classpath."""
    stamp_file, cp_file = WORK / "stamp", WORK / "classpath.txt"
    stamp = source_stamp()
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    log = WORK / "build.log"
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=BUILD_DEADLINE_S)
        out.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed, see {log}")
    classpath = lines[-1].strip()
    cp_file.write_text(classpath)
    stamp_file.write_text(stamp)
    return classpath


def run_jvm(classpath, args, run_dir, deadline):
    tmp = (WORK / "tmp").resolve()
    tmp.mkdir(exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(os.cpu_count()), "--data", str(DATA),
            "--run-dir", str(run_dir)]
    log = run_dir / "jvm.log"
    with open(log, "w") as out:
        # setup_s runs from here: the JVM's launch is part of what a
        # one-shot user waits for.
        cmd += ["--launched-ns", str(time.time_ns())]
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail("stopped")
        signal.signal(signal.SIGTERM, stop)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"the run overran its deadline, see {log}")
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
    if code != 0 or not (run_dir / "result.json").exists():
        tail = log.read_text().splitlines()[-20:]
        fail("the JVM failed:\n" + "\n".join(tail))
    return json.loads((run_dir / "result.json").read_text())


def oracle_check(result, run_dir, deadline):
    """Checks the cold pass's query outputs (<run_dir>/out/<query>) against
    their DuckDB oracles with tools/check_oracle.py: columns by name, rows
    sorted, values exact. Returns [(query, executions, why)] for every query
    that did not pass, a query without oracle SQL included."""
    out = run_dir / "out"
    runs = {q["name"]: q["executions"] for q in result["oracle"]}
    sql = {q["name"]: q["sql"] for q in result["oracle"] if q["sql"] is not None}
    bad = [(n, runs[n], "no oracle SQL") for n in runs if n not in sql]
    if not sql:
        return bad
    (out / "oracle_sql.json").write_text(json.dumps(sql))
    try:
        proc = subprocess.run([sys.executable, "tools/check_oracle.py", str(DATA), str(out), *sql],
                              capture_output=True, text=True,
                              timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        fail("the oracle check overran the run's deadline")
    passed, why = set(), {}
    for line in proc.stdout.splitlines():
        if line.startswith("PASS "):
            passed.update(line.partition(":")[2].split())
        elif line.startswith("FAIL "):
            name, _, msg = line[len("FAIL "):].partition(": ")
            why[name] = msg
    for name in sql:
        if name not in passed:
            bad.append((name, runs[name], why.get(
                name, f"not reported by check_oracle.py (exit {proc.returncode}): {proc.stderr[-500:]}")))
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S

    if not (Path("build.sbt").is_file() and Path("src/main/scala").is_dir()):
        fail("run this from the root of a wingfoilspark checkout "
             "(build.sbt and src/main/scala not found)")
    WORK.mkdir(exist_ok=True)
    classpath = build()
    deadline = max(deadline, time.monotonic() + DEADLINE_S - 20)

    run_dir = WORK / "runs" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    result = run_jvm(classpath, args, run_dir, deadline)

    failed, failures = result["failed"], list(result["failures"])
    for name, runs, why in oracle_check(result, run_dir, deadline):
        failed += runs
        failures.append(f"{name}: {why}")
    for f in failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)

    if args.trace:
        units = metric_units("per_layer")
        values = dict({n: 0.0 for n in units if n.startswith(NOT_RUN[args.workload])},
                      **result["layers"])
    else:
        units = metric_units("end_to_end")
        values = result["metrics"]
    metrics = {}
    for name, unit in units.items():
        # null stands for NaN or +Inf (a percentile over events never
        # emitted): no number to report, so the run fails.
        if values.get(name) is None:
            fail(f"metric {name} was not measured or is not finite; failures: {failures}")
        metrics[name] = {"value": values[name], "unit": unit}
    print(json.dumps({"info": result["info"]}), file=sys.stderr)
    for d in run_dir.iterdir():  # query outputs and streaming checkpoints
        if d.is_dir():
            shutil.rmtree(d, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
