"""Smoke test of the benchmark itself, at tiny input sizes.

    python3 perfbench/smoke.py

For every workload it checks that a run prints, as its last line, the
result object with every metric BENCHMARK.json names and with the unit it
declares (untraced and traced), that all outputs pass their checks, and
that every check rejects a deliberately corrupted output. It also checks
that the benchmark fails without printing a result in a directory that
holds nothing but the benchmark. Exits non-zero on the first failure.
"""

import json
import shutil
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(cwd: Path, *args) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)


def expect(cond: bool, what: str):
    if not cond:
        print(f"FAIL: {what}")
        sys.exit(1)


def check_result(workload: str, trace: int, p: subprocess.CompletedProcess):
    tag = f"{workload} trace={trace}"
    expect(p.returncode == 0, f"{tag}: exit code {p.returncode}\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{tag}: result keys {sorted(res)}")
    expect(res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
           f"{tag}: correct={res['correct']} failed={res['failed']} attempted={res['attempted']}")
    want = SPEC["per_layer" if trace else "end_to_end"]
    expect(set(res["metrics"]) == {m["name"] for m in want}, f"{tag}: metric names differ")
    for m in want:
        got = res["metrics"][m["name"]]
        expect(got["unit"] == m["unit"] and isinstance(got["value"], (int, float)),
               f"{tag}: {m['name']} printed as {got}")
        expect(any(line.startswith(f"[perfbench] {m['name']} = ") and line.endswith(f" {m['unit']}")
                   for line in lines), f"{tag}: {m['name']} not printed with its unit")
    return lines


def main():
    for w in (w["name"] for w in SPEC["workloads"]):
        lines = check_result(w, 0, run(ROOT, "--workload", w, "--seed", "7", "--seconds", "1",
                                       "--trace", "0", "--tiny", "--self-test"))
        selftest = [ln for ln in lines if ln.startswith("[perfbench] self-test ")]
        expect(len(selftest) > 0, f"{w}: no check was self-tested")
        missed = [ln for ln in selftest if not ln.endswith("corruption detected")]
        expect(not missed, f"{w}: checks accepted a corrupted output: {missed}")
        print(f"ok   {w}: end-to-end metrics, {len(selftest)} checks reject corrupted outputs")
        check_result(w, 1, run(ROOT, "--workload", w, "--seed", "7", "--seconds", "1",
                               "--trace", "1", "--tiny"))
        print(f"ok   {w}: per-layer metrics")

    # a directory with only the benchmark must fail without printing a result
    bare = build.build_dir() / "smoke-bare"
    shutil.rmtree(bare, ignore_errors=True)
    bare.mkdir(parents=True)
    shutil.copy(ROOT / "BENCHMARK.json", bare)
    shutil.copytree(ROOT / "perfbench", bare / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        p = run(bare, "--workload", SPEC["workloads"][0]["name"], "--seed", "1",
                "--seconds", "1", "--trace", "0")
        expect(p.returncode != 0 and "metrics" not in p.stdout,
               f"bare directory: exit {p.returncode}, stdout {p.stdout[-500:]!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    print("ok   a directory without the program fails without a result")


if __name__ == "__main__":
    main()
