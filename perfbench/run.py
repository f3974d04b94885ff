"""graft benchmark: one seeded workload per run, in its own JVM.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
        [--tiny] [--self-test]

Builds the program and the benchmark from source when they changed
(build.py), runs the workload on local[4] with one client thread in a
closed loop, checks every output, and prints as its last line one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. The full record (env block, checks, per-layer self time) is
kept under <build dir>/results, and compare.py compares such records.
"""

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str, code: int = 2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def git_head():
    """HEAD's commit when the tree is a git checkout, else None."""
    head = ROOT / ".git" / "HEAD"
    if not head.is_file():
        return None
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    f = ROOT / ".git" / ref[5:]
    if f.is_file():
        return f.read_text().strip()
    packed = ROOT / ".git" / "packed-refs"
    if packed.is_file():
        for line in packed.read_text().splitlines():
            if line.endswith(" " + ref[5:]):
                return line.split()[0]
    return None


def run_jvm(classpath, args, work: Path) -> dict:
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the throughput collector: less GC work on 4 cores than G1, so runs are shorter;
    # no perf-data file, so nothing is written outside the checkout
    cmd += ["-XX:+UseParallelGC", "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
            "-cp", os.pathsep.join(classpath), "graftbench.Main", "--work", str(work)] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"workload did not finish within {TIMEOUT_S} s", 3)
    if proc.returncode != 0:
        fail(f"workload JVM exited with {proc.returncode}", 3)
    for line in out.splitlines():
        if line.startswith("@@record "):
            return json.loads(line[len("@@record "):])
    fail("workload JVM printed no record", 3)


def pick(spec: list, got: dict, kind: str) -> dict:
    """The metrics BENCHMARK.json names, each with the unit it declares."""
    out = {}
    for m in spec:
        v = got.get(m["name"])
        if v is None or v["unit"] != m["unit"]:
            fail(f"{kind} metric {m['name']} ({m['unit']}) missing from the record: {v}")
        out[m["name"]] = {"value": v["value"], "unit": v["unit"]}
    return out


def tracing_overhead(rec: dict, results: Path):
    """Traced vs the latest untraced run of the same code, workload and seed."""
    env = rec["env"]
    same = []
    for f in results.glob(f"{env['workload']}-s{env['seed']}-t0-*.json"):
        r = json.loads(f.read_text())
        e = dict(r["env"], trace=env["trace"])
        if e == env:
            same.append((f.stat().st_mtime, r))
    if not same:
        return None
    base = max(same, key=lambda t: t[0])[1]["metrics"]["rows_per_s"]["value"]
    traced = rec["metrics"]["rows_per_s"]["value"]
    return {"untraced_rows_per_s": base, "traced_rows_per_s": traced,
            "overhead_frac": base / traced - 1.0 if traced > 0 else None}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    ap.add_argument("--self-test", action="store_true",
                    help="also feed every check a corrupted output it must reject")
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        fail("BENCHMARK.json not found")
    spec = json.loads(spec_file.read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")

    try:
        classpath = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    work = build.build_dir() / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    args += ["--tiny"] if a.tiny else []
    args += ["--self-test"] if a.self_test else []
    try:
        rec = run_jvm(classpath, args, work)
        spans = work / "spans.jsonl"
        results = build.build_dir() / "results"
        results.mkdir(parents=True, exist_ok=True)
        rec["env"].update(git_head=git_head(), source_digest=build.source_digest(),
                          bench_digest=build.stamp(build.sources(build.BENCH_SRC), ""),
                          host_cpus=os.cpu_count(), python=platform.python_version())
        name = f"{a.workload}-s{a.seed}-t{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
        if a.trace:
            rec["tracing_overhead"] = tracing_overhead(rec, results)
            if spans.is_file():
                shutil.copy(spans, results / f"{name}.spans.jsonl")
        (results / f"{name}.json").write_text(json.dumps(rec, indent=1) + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = (pick(spec["per_layer"], rec["per_layer"], "per-layer") if a.trace
               else pick(spec["end_to_end"], rec["metrics"], "end-to-end"))
    print(f"[perfbench] env {json.dumps(rec['env'], sort_keys=True)}")
    for c in rec["checks"]:
        print(f"[perfbench] check {c['check']}: {c['runs'] - c['failures']}/{c['runs']} passed")
    for c in rec["self_test"]:
        print(f"[perfbench] self-test {c['check']}: corruption "
              f"{'detected' if c['corruption_detected'] else 'MISSED'}")
    if a.trace:
        for layer, s in rec["layer_self_s"].items():
            print(f"[perfbench] self time {layer}: {s:.3f} s")
        print(f"[perfbench] tracing overhead: {json.dumps(rec.get('tracing_overhead'))}")
    for n, m in metrics.items():
        print(f"[perfbench] {n} = {m['value']} {m['unit']}")
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
