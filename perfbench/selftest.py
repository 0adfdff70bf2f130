"""Self-test of the benchmark harness (not of the program).

    python3 perfbench/selftest.py

Checks:
  1. a normal elt_append run is correct, and two input generations with
     one seed fingerprint identically;
  2. failures are counted, never timed as fast: with one tenant's mart
     model broken (elt_append) and with one query reading an empty fixture
     dir (registry_mix), success_rate falls, refresh_s does not drop below
     the normal run's, and op_geomean_s does not drop by more than OP_NOISE;
  3. in a directory holding only BENCHMARK.json and perfbench/, the
     benchmark exits non-zero without printing a result.
Takes about three minutes on 4 cores.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("elt_append", "registry_mix")
# A failed op counts as a whole refresh, which raises the geometric mean by
# about 20 % (elt_append) to 35 % (registry_mix); two runs of one seed can
# differ by up to about 10 % from host noise alone.
OP_NOISE = 0.10


def command(workload):
    return ["python3", "perfbench/run.py", "--workload", workload, "--seed", "7",
            "--seconds", "8", "--trace", "0"]


def run(workload, extra):
    p = subprocess.run(command(workload) + extra, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if p.returncode == 0 and lines else None), p.stderr


def value(result, metric):
    return result["metrics"][metric]["value"]


def main():
    failures = []

    for workload in WORKLOADS:
        extra = ["--check-generation"] if workload == "elt_append" else []
        rc, normal, err = run(workload, extra)
        if rc != 0 or not normal["correct"] or normal["failed"] != 0:
            sys.exit(f"normal {workload} run failed (rc {rc}):\n{err[-3000:]}")
        if extra:
            gens = [json.loads(l)["generation"] for l in err.splitlines()
                    if l.startswith('{"generation"')]
            if not gens or len(gens[0]) < 2 or any(g != gens[0][0] for g in gens[0]):
                failures.append(f"two generations with one seed differ: {gens}")

        rc, broken, err = run(workload, ["--inject-broken"])
        if rc != 0:
            failures.append(f"broken {workload} run exited {rc}")
            continue
        if broken["failed"] == 0 or value(broken, "success_rate") >= value(normal, "success_rate"):
            failures.append(f"a failure on {workload} did not lower success_rate")
        for metric, slack in (("refresh_s", 0.0), ("op_geomean_s", OP_NOISE)):
            if value(broken, metric) < value(normal, metric) * (1 - slack):
                failures.append(f"a failure on {workload} made {metric} drop "
                                f"({value(broken, metric)} < {value(normal, metric)})")

    bare = ROOT / ".bench_build" / "perfbench" / "bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(command("elt_append"), cwd=bare, capture_output=True, text=True,
                       timeout=180)
    shutil.rmtree(bare, ignore_errors=True)
    if p.returncode == 0 or p.stdout.strip():
        failures.append("benchmark ran without the program's sources")

    for f in failures:
        print("FAIL:", f)
    print("selftest:", "FAILED" if failures else "ok")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
