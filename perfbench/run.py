"""Runs one benchmark workload and prints its figures; the last line of
standard output is the result JSON (see perfbench/README.md).

Usage, from the repository root:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      [--plant-defect 1]

Builds the engine and the benchmark first (perfbench/build.py), then runs
the benchmark JVM with its scratch files under .bench_build and removes
them when it ends. Spans of a traced run are kept in .bench_build/traces.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
HEAP = "2g"
# a run must end within 180 s of its start once the build is done
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--plant-defect", default="0", choices=["0", "1"])
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"run: unknown workload {a.workload}", file=sys.stderr)
        return 2
    expected = {m["name"] for m in spec["end_to_end" if a.trace == "0" else "per_layer"]}

    cp = build.ensure()
    work = build.OUT / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    traces = build.OUT / "traces"
    traces.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           # a fixed, pre-touched heap: no heap growth or first-touch page
           # faults inside the timed ops
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
              "-Dfile.encoding=UTF-8", "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", str(work),
              "--spans", str(traces / f"{a.workload}-seed{a.seed}.spans.jsonl"),
              "--plant-defect", a.plant_defect])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    last = None
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    deadline = time.monotonic() + JVM_TIMEOUT_S

    def kill(*_):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    signal.signal(signal.SIGALRM, kill)
    signal.alarm(JVM_TIMEOUT_S)
    try:
        for line in proc.stdout:
            if last is not None:
                print(last, flush=True)
            last = line.rstrip("\n")
        proc.wait()
    finally:
        signal.alarm(0)
        kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if time.monotonic() > deadline:
        print(f"run: killed after {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 1
    if proc.returncode != 0 or last is None:
        print(f"run: benchmark JVM exited with code {proc.returncode}", file=sys.stderr)
        return 1
    try:
        result = json.loads(last)
    except ValueError:
        print(f"run: last line is not JSON: {last}", file=sys.stderr)
        return 1
    if set(result.get("metrics", {})) != expected:
        print(f"run: metrics differ from BENCHMARK.json: {sorted(set(result['metrics']) ^ expected)}",
              file=sys.stderr)
        return 1
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
