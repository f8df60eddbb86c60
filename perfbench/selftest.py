"""Self-test of the benchmark at tiny scale.

    python3 perfbench/selftest.py [workload ...]

For every workload (default: all) it runs ``run.py --tiny`` three times and
checks that

* the timed run prints every end-to-end metric of BENCHMARK.json with its
  unit, with ``correct`` true and no failed operation (error rate 0);
* the traced run prints every per-layer metric of BENCHMARK.json;
* a run with one tampered expected answer reports a failure.

Finally it checks that the benchmark refuses to run (non-zero exit, no
result line) in a directory holding only BENCHMARK.json and the benchmark
directory. Exits non-zero if any check fails.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(cwd: str, *args: str) -> tuple[int, dict | None, str]:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        last = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        last = None
    return proc.returncode, last, proc.stderr[-3000:]


def _metrics_ok(res: dict | None, spec: list[dict]) -> str:
    if res is None:
        return "no result line"
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        return f"result keys {sorted(res)}"
    for m in spec:
        got = res["metrics"].get(m["name"])
        if got is None or got.get("unit") != m["unit"] \
                or not isinstance(got.get("value"), (int, float)):
            return f"metric {m['name']} missing or malformed: {got}"
    return ""


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    bad = []
    for w in names:
        base = ["--workload", w, "--seed", "1", "--seconds", "2", "--tiny"]
        code, res, err = _run(ROOT, *base, "--trace", "0")
        why = _metrics_ok(res, bench["end_to_end"])
        if not why and (code != 0 or not res["correct"] or res["failed"]):
            why = f"exit {code}, correct={res['correct']}, failed={res['failed']}"
        print(f"{w} timed: {why or 'ok'}")
        bad += [(w, "timed", why, err)] if why else []
        code, res, err = _run(ROOT, *base, "--trace", "1")
        why = _metrics_ok(res, bench["per_layer"]) or (
            f"exit {code}" if code else "")
        print(f"{w} traced: {why or 'ok'}")
        bad += [(w, "traced", why, err)] if why else []
        code, res, err = _run(ROOT, *base, "--trace", "0", "--tamper")
        why = "" if res is not None and res["failed"] > 0 \
            and not res["correct"] else f"tampered answer not caught: {res}"
        print(f"{w} tampered: {why or 'ok'}")
        bad += [(w, "tampered", why, err)] if why else []
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, res, err = _run(bare, "--workload", names[0], "--seed", "1",
                          "--seconds", "2", "--trace", "0")
    why = "" if code != 0 and res is None else f"exit {code}, result {res}"
    print(f"bare directory refused: {why or 'ok'}")
    bad += [("bare", "refuse", why, err)] if why else []
    shutil.rmtree(bare, ignore_errors=True)
    for w, kind, why, err in bad:
        print(f"\nFAILED {w} {kind}: {why}\n{err}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
