"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload at toy size, untraced and traced, and checks that the
last stdout line is a result with every metric BENCHMARK.json names, each
with its unit; that the report line carries the workload's named figures;
and that in a directory holding only the benchmark (no program) the command
fails without printing a result.  Takes a few minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The end-to-end figures the report line names, per workload.
NAMED = {
    "kg_build_resume": ["setup_s", "error_rate", "peak_rss_mb", "kg_triples_per_s",
                        "kg_cache_mb", "resume_full_s", "resume_delta_s",
                        "resume_written_mb"],
    "catalog_mix": ["setup_s", "error_rate", "peak_rss_mb", "catalog_vec_s",
                    "catalog_text_s", "catalog_sql_s"],
}


def run(cmd: list[str], cwd: str, timeout: float = 300) -> subprocess.CompletedProcess:
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = spec["command"] + ["--workload", workload, "--seed", "1", "--seconds", "1",
                             "--trace", str(trace), "--size", "toy"]
    p = run(cmd, ROOT)
    if p.returncode != 0:
        return [f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}"]
    lines = p.stdout.strip().splitlines()
    result, report = json.loads(lines[-1]), json.loads(lines[-2])["report"]
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(result)}")
    if not (result["correct"] and result["failed"] == 0 and result["attempted"] >= 1):
        errors.append(f"correct={result['correct']} failed={result['failed']} "
                      f"failures={report['failures']}")
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != wanted:
        errors.append(f"metrics differ: missing {sorted(set(wanted) - set(got))}, "
                      f"extra {sorted(set(got) - set(wanted))}, units "
                      f"{[k for k in wanted if k in got and got[k] != wanted[k]]}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], (int, float)):
            errors.append(f"{k} value {v['value']!r}")
    for name in NAMED[workload]:
        m = report["metrics"].get(name)
        if m is None or not isinstance(m["value"], (int, float)) or not m["unit"]:
            errors.append(f"report lacks {name}")
    return [f"{workload} trace={trace}: {e}" for e in errors]


def check_without_program(spec: dict) -> list[str]:
    bare = os.path.join(ROOT, ".perfbench_work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        w = spec["workloads"][0]["name"]
        proc = run(spec["command"] + ["--workload", w, "--seed", "1", "--seconds", "1",
                                      "--trace", "0"], bare, timeout=180)
        if proc.returncode == 0 or '"correct"' in proc.stdout:
            return [f"without the program: exit {proc.returncode}, stdout {proc.stdout[-300:]!r}"]
        return []
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors = check_without_program(spec)
    for w in spec["workloads"]:
        for trace in (0, 1):
            errors += check_run(spec, w["name"], trace)
            print(f"{w['name']} trace={trace} done", file=sys.stderr, flush=True)
    for e in errors:
        print("FAIL", e)
    print("smoke ok" if not errors else f"smoke failed: {len(errors)} problem(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
