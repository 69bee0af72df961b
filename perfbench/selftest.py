"""Self-test of the benchmark at a tiny scale (about three minutes).

    python3 perfbench/selftest.py

Checks that
- an untraced run prints every end-to-end metric of ``BENCHMARK.json``
  by name with its unit, and a traced run every per-layer metric;
- a deliberately wrong routed answer fails the run (exit code 1,
  ``"correct": false``);
- in a directory holding only ``BENCHMARK.json`` and this directory the
  benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(*extra: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", "sparse", "--seed", "7",
           "--seconds", "4", *extra]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=200)
    return p.returncode, p.stdout.strip().splitlines()


def check_metrics(lines: list[str], declared: list[dict]) -> list[str]:
    result = json.loads(lines[-1])
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(result)}")
    if result.get("correct") is not True or result.get("attempted", 0) < 1:
        errors.append(f"run not correct: {result}")
    got = result.get("metrics", {})
    for m in declared:
        entry = got.get(m["name"])
        if entry is None:
            errors.append(f"missing metric {m['name']}")
        elif entry.get("unit") != m["unit"] or not isinstance(entry.get("value"), (int, float)):
            errors.append(f"bad metric entry {m['name']}: {entry}")
    extra = set(got) - {m["name"] for m in declared}
    if extra:
        errors.append(f"undeclared metrics {sorted(extra)}")
    return errors


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []

    for trace, declared in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
        code, lines = run("--trace", trace, "--tiny")
        errs = [f"exit code {code}"] if code != 0 or not lines else check_metrics(lines, declared)
        print(f"trace {trace}: {'ok' if not errs else errs}")
        failures += errs

    code, lines = run("--trace", "0", "--tiny", "--inject-wrong-answer")
    wrong_ok = code == 1 and lines and json.loads(lines[-1])["correct"] is False
    print(f"wrong answer fails the run: {'ok' if wrong_ok else f'exit {code}'}")
    if not wrong_ok:
        failures.append("wrong answer did not fail the run")

    bare = os.path.join(ROOT, ".perfbench", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        code, lines = run("--trace", "0", cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    bare_ok = code != 0 and not lines
    print(f"bare directory exits non-zero without a result: {'ok' if bare_ok else f'exit {code}, {lines}'}")
    if not bare_ok:
        failures.append("bare directory run did not fail cleanly")

    print("PASS" if not failures else f"FAIL: {failures}")
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
