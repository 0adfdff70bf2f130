"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark (see build.py), then runs one JVM with
Spark local[nproc]. Inputs are generated from the sf0.1 fixtures
(PERFBENCH_SF, default ~/testdata/sf0.1) into temp dirs under
.bench_build/perfbench/tmp; traced runs write their spans as JSONL under
.bench_build/perfbench/traces. Exits non-zero, without a result line, when
the build, the run or the result fails.
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

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("elt_append", "registry_mix")
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
RUN_TIMEOUT_S = 170
# A fixed heap, so heap resizing does not move timings. The JIT stops at
# C1: with C2, Spark's planner code keeps compiling for about ten passes of
# registry_mix (about 70 s), and a pass then runs 25-40 % faster at a point
# that differs from run to run; C1 reaches its plateau within the warm-up.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-XX:TieredStopAtLevel=1"]
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--inject-broken", action="store_true",
                    help="give one tenant a model that fails (self-test only)")
    ap.add_argument("--check-generation", action="store_true",
                    help="fingerprint both generations and check they agree")
    ap.add_argument("--record-expected", metavar="TSV",
                    help="write the registry fingerprints of this run to TSV")
    a = ap.parse_args(argv)

    sf = Path(os.environ.get("PERFBENCH_SF", Path.home() / "testdata" / "sf0.1"))
    if not (sf / "orders.parquet").exists():
        sys.exit(f"perfbench: sf0.1 fixtures not found at {sf}")
    classes = build.build()

    tmp = build.OUT / "tmp" / f"run-{os.getpid()}"
    tmp.mkdir(parents=True, exist_ok=True)
    traces = build.OUT / "traces"
    cp = os.pathsep.join([str(classes)] + build.spark_jars())
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", "-Dderby.system.home=" + str(tmp)]
           + [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in JDK_OPENS]
           + ["-cp", cp, "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--sf", str(sf), "--out", str(traces),
              "--expected", str(Path(__file__).resolve().parent / "registry_expected.tsv")])
    if a.inject_broken:
        cmd.append("--inject-broken")
    if a.check_generation:
        cmd.append("--check-generation")
    if a.record_expected:
        cmd += ["--record-expected", str(Path(a.record_expected).resolve())]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(tmp))
    for k in [k for k in env if k.startswith("GRAFT_")]:
        del env[k]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=str(tmp), env=env, start_new_session=True)
    deadline = time.monotonic() + RUN_TIMEOUT_S
    try:
        out, _ = proc.communicate(timeout=max(deadline - time.monotonic(), 1))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if proc.returncode != 0 or not isinstance(result, dict) or set(result) != RESULT_KEYS:
        sys.stderr.write(out)
        sys.exit(f"perfbench: run failed (exit {proc.returncode})")
    for l in lines[:-1]:
        if l.startswith("{\"detail\"") or l.startswith("{\"generation\""):
            sys.stderr.write(l + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
