"""Self-test of the benchmark harness at tiny input sizes.

Run from the repository root (takes a few minutes; one Spark session per
run, so run it alone):

    python3 perfbench/selftest.py [workload ...]

For each workload it checks that
- an untraced run prints exactly the end-to-end metrics of BENCHMARK.json
  with their units, and the workload's detail metrics by name and unit;
- a traced run prints every per-layer metric of BENCHMARK.json;
- a run with an injected wrong answer reports the op as failed;
and that the harness exits non-zero, printing no result, in a directory
that holds only BENCHMARK.json and the benchmark's own files.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: detail metrics each workload prints, by name and unit
DETAIL = {
    "ingest": {
        "ingest_samples_per_s": "1/s",
        "ingest_op_p50_s": "s",
        "stream_samples_per_s": "1/s",
        "stream_batch_p50_ms": "ms",
    },
    "report_serve": {
        "report_p50_ms": "ms",
        "report_p90_ms": "ms",
        "reports_per_s": "1/s",
        "catalog_pass_s": "s",
    },
}
COMMON = {"op_max_ms": "ms", "failed_op_ratio": "ratio", "jvm_peak_rss_mb": "MB"}


def run(cwd: str, workload: str, trace: int, *extra: str) -> tuple[int, list[dict], str]:
    cmd = [
        sys.executable,
        os.path.join(HERE, "run.py"),
        "--workload", workload,
        "--seed", "7",
        "--seconds", "2",
        "--trace", str(trace),
        "--tiny",
        *extra,
    ]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    parsed = []
    for line in p.stdout.strip().splitlines()[-2:]:
        try:
            parsed.append(json.loads(line))
        except ValueError:
            pass
    return p.returncode, parsed, p.stderr[-3000:]


def expect(cond: bool, what: str, problems: list[str]) -> None:
    if not cond:
        problems.append(what)


def check_metrics(got: dict, want: dict[str, str], label: str, problems: list[str]) -> None:
    for name, unit in want.items():
        m = got.get(name)
        expect(m is not None, f"{label}: {name} missing", problems)
        if m is not None:
            expect(m.get("unit") == unit, f"{label}: {name} unit {m.get('unit')} != {unit}", problems)
            expect(isinstance(m.get("value"), (int, float)), f"{label}: {name} not a number", problems)


def check_workload(workload: str, bench: dict) -> list[str]:
    problems: list[str] = []
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}

    rc, out, err = run(ROOT, workload, 0)
    expect(rc == 0 and len(out) == 2, f"{workload}: untraced run failed (rc {rc}): {err}", problems)
    if rc == 0 and len(out) == 2:
        detail, result = out
        expect(set(result) == {"correct", "attempted", "failed", "metrics"}, f"{workload}: result keys {set(result)}", problems)
        expect(result["correct"] is True and result["failed"] == 0, f"{workload}: untraced run not correct: {detail['context']['problems']}", problems)
        expect(result["attempted"] >= 1, f"{workload}: no ops attempted", problems)
        expect(set(result["metrics"]) == set(e2e), f"{workload}: end-to-end names {sorted(result['metrics'])}", problems)
        check_metrics(result["metrics"], e2e, f"{workload} e2e", problems)
        check_metrics(detail["detail"], {**DETAIL[workload], **COMMON}, f"{workload} detail", problems)
        expect(detail["detail"]["failed_op_ratio"]["value"] == 0, f"{workload}: failed_op_ratio not 0", problems)

    rc, out, err = run(ROOT, workload, 1)
    expect(rc == 0 and len(out) == 2, f"{workload}: traced run failed (rc {rc}): {err}", problems)
    if rc == 0 and len(out) == 2:
        result = out[1]
        expect(set(result["metrics"]) == set(layer), f"{workload}: per-layer names differ: {sorted(set(layer) ^ set(result['metrics']))}", problems)
        check_metrics(result["metrics"], layer, f"{workload} per-layer", problems)

    rc, out, err = run(ROOT, workload, 0, "--inject-wrong-answer")
    expect(rc == 0 and len(out) == 2, f"{workload}: injected run failed (rc {rc}): {err}", problems)
    if rc == 0 and len(out) == 2:
        detail, result = out
        expect(result["failed"] >= 1 and result["correct"] is False, f"{workload}: injected wrong answer not counted", problems)
        expect(detail["detail"]["failed_op_ratio"]["value"] > 0, f"{workload}: failed_op_ratio did not rise", problems)
    return problems


def check_bare_directory() -> list[str]:
    """Only BENCHMARK.json and the benchmark's files: must fail cleanly."""
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_work")) as bare:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, os.path.basename(HERE)))
        p = subprocess.run(
            [sys.executable, os.path.join(os.path.basename(HERE), "run.py"), "--workload",
             "ingest", "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
    problems = []
    expect(p.returncode != 0, "bare directory: exit code 0", problems)
    expect('"metrics"' not in p.stdout, "bare directory: printed a result", problems)
    return problems


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    problems = check_bare_directory()
    for workload in argv or [w["name"] for w in bench["workloads"]]:
        found = check_workload(workload, bench)
        print(f"{workload}: {'ok' if not found else 'FAILED'}", flush=True)
        problems += found
    for p in problems:
        print("  " + p)
    print("selftest: " + ("ok" if not problems else f"{len(problems)} problem(s)"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
