"""Self-test of the benchmark at sf0.001 (about three minutes on 4 cores).

    python3 geobench/selftest.py

Checks, each in a fresh process the way the benchmark is run:
1. every workload runs once at sf0.001 and passes its correctness gate;
2. a deliberately wrong expected count makes the gate fire: ``correct`` is
   false and ``failed`` / ``error_rate`` rise;
3. a traced run prints every per-layer metric named in BENCHMARK.json;
4. in a directory holding only BENCHMARK.json and geobench/ (no engine),
   the benchmark exits non-zero without printing a result.
Exit status 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = [sys.executable, "geobench/run.py", "--sf", "0.001", "--seconds", "1", "--seed", "42"]


def run(args, cwd=ROOT) -> tuple[int, dict | None, dict | None]:
    """(exit code, env line, result line) of one benchmark process."""
    p = subprocess.run(RUN + args, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    result = json.loads(lines[-1]) if lines and '"correct"' in lines[-1] else None
    env = json.loads(lines[-2])["env"] if result and len(lines) > 1 else None
    if result is None:
        sys.stderr.write(p.stderr[-2000:])
    return p.returncode, env, result


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    checks: list[tuple[str, bool]] = []

    for w in spec["workloads"]:
        rc, env, res = run(["--workload", w["name"]])
        ok = rc == 0 and res is not None and res["correct"] and res["failed"] == 0
        ok = ok and set(res["metrics"]) == {m["name"] for m in spec["end_to_end"]}
        checks.append((f"{w['name']} passes its gate at sf0.001", ok))

    rc, env, res = run(["--workload", "jvm_analytics", "--expect", "tile_pyramid=1"])
    fired = (rc == 0 and res is not None and not res["correct"] and res["failed"] >= 1
             and env["error_rate"] > 0)
    checks.append(("a wrong expected count raises error_rate", fired))

    rc, env, res = run(["--workload", "udf_joins", "--trace", "1"])
    names = {m["name"] for m in spec["per_layer"]}
    ok = rc == 0 and res is not None and set(res["metrics"]) == names
    ok = ok and res["metrics"]["python.total_ms"]["value"] > 0
    checks.append(("a traced run prints every per-layer metric", ok))

    bare = os.path.join(ROOT, ".geobench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(os.path.join(ROOT, "geobench"), os.path.join(bare, "geobench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, _, res = run(["--workload", "jvm_analytics"], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    checks.append(("without the engine it exits non-zero and prints no result",
                   rc != 0 and res is None))

    for name, ok in checks:
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    return 0 if all(ok for _, ok in checks) else 1


if __name__ == "__main__":
    sys.exit(main())
