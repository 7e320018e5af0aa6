"""Benchmark entry point.

    python3 perfbench/run.py --workload <sql_analytics|llm_ops|dbt_run>
        --seed <n> --seconds <s> --trace <0|1>

Builds the library and the harness from source (perfbench/build.py),
generates the input tables (perfbench/gendata.py), launches one JVM with
build.sbt's exact javaOptions and prints, as the last line of stdout, one
JSON object: {"correct", "attempted", "failed", "metrics"}. Untraced runs
report the end-to-end metrics, traced runs the per-layer ones. Every run
also leaves a self-describing record under .bench_build/perfbench/records
and, when traced, a span file under .bench_build/perfbench/traces.

Extra flags (outside the result-line interface): --record 1 rewrites
perfbench/expected/<workload>.json from this run's outputs; --mode
selftest runs the failure-accounting self-test.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
DATA_SF = "0.01"
DBT_INCREMENTS = 1     # incremental dbt runs after the full build
WORKLOADS = ("llm_ops", "dbt_run", "sql_analytics")
TIMEOUT_S = 175


def java_options():
    """build.sbt's javaOptions, verbatim: the shared add-opens list,
    UI off, UTC, heap, en-US locale and the 512 MB JIT code cache."""
    opens_file = os.path.join(ROOT, "tools", "jdk17-add-opens.txt")
    opens = []
    with open(opens_file) as fh:
        for line in fh:
            p = line.strip()
            if p and not p.startswith("#"):
                opens += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opens + [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
        "-Duser.language=en", "-Duser.country=US",
        f"-XX:ReservedCodeCacheSize={os.environ.get('SPARK_CODE_CACHE', '512m')}",
    ]


def ensure_data():
    """Generate the input tables once per checkout (keyed by the
    generator's content, so an edited generator regenerates)."""
    stamp = build.digest([os.path.join(HERE, "gendata.py")])
    base = os.path.join(OUT, "data")
    stamp_file = os.path.join(base, "gendata.sha256")
    data = os.path.join(base, f"sf{DATA_SF}")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(base, ignore_errors=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gendata.py"),
                        data, DATA_SF], check=True)
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    return data


def commit_id():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0 and os.path.isdir(os.path.join(ROOT, ".git")):
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-" + build.source_hash()[:16]


def task_slots():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def check_line(obj):
    assert set(obj) == {"correct", "attempted", "failed", "metrics"}, obj
    assert isinstance(obj["attempted"], int) and obj["attempted"] >= 1
    assert isinstance(obj["failed"], int)
    for k, v in obj["metrics"].items():
        assert set(v) == {"value", "unit"}, (k, v)


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", type=int, choices=(0, 1), default=0)
    ap.add_argument("--mode", choices=("run", "selftest"), default="run")
    a = ap.parse_args(argv)

    try:
        classes = build.build()
    except (RuntimeError, OSError, subprocess.CalledProcessError) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    data = ensure_data()

    work = os.path.join(OUT, "work")
    for d in ("spark-local", "spark-warehouse", "tmp", "dbt"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    logs = os.path.join(OUT, "logs")
    os.makedirs(logs, exist_ok=True)
    expected = os.path.join(HERE, "expected", f"{a.workload}.json")
    extra = []
    if a.workload == "dbt_run":
        batches = os.path.join(work, "dbt", "batches")
        subprocess.run([sys.executable, os.path.join(HERE, "gendata.py"),
                        "batches", data, batches, str(a.seed),
                        str(DBT_INCREMENTS)], check=True)
        extra = ["--batches", batches, "--increments", str(DBT_INCREMENTS)]

    cmd = (["java", "-cp", os.pathsep.join(
               [classes, os.path.join(build.spark_jars(), "*")])]
           + java_options()
           + [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--record", str(a.record), "--mode", a.mode,
              "--slots", str(task_slots()),
              "--data", data, "--scale", f"sf{DATA_SF}",
              "--work", work, "--expected", expected,
              "--commit", commit_id()] + extra)
    log_path = os.path.join(logs, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=log, text=True)
        try:
            out, _ = proc.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            print(f"[perfbench] timed out; log: {log_path}", file=sys.stderr)
            return 3
    for d in ("spark-local", "spark-warehouse", "tmp", "dbt"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    with open(log_path) as fh:
        for line in fh:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    lines = [l for l in out.splitlines() if l.strip()]
    if a.mode != "run":
        print("\n".join(lines))
        return proc.returncode
    if proc.returncode != 0 or not lines:
        print(f"[perfbench] JVM exited {proc.returncode}; log: {log_path}",
              file=sys.stderr)
        return proc.returncode or 4
    obj = json.loads(lines[-1])
    check_line(obj)
    print(json.dumps(obj))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
