"""Compare two sets of benchmark records, like for like.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are record files or directories of them (run.py keeps one
record per run under <build dir>/results). Records are compared per
workload and trace mode. The comparison is refused (exit 2) when the env
blocks differ in anything but the seed (with the input facts it decides) and
the identity of the code under test (git HEAD, source digest): a different
core count, Spark or JVM version, input size or benchmark version is not
like for like.
"""

import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# what may differ between two comparable records
VARYING = {"seed", "observed", "git_head", "source_digest"}


def load(arg: str) -> list:
    p = Path(arg)
    files = sorted(p.glob("*.json")) if p.is_dir() else [p]
    return [json.loads(f.read_text()) for f in files]


def config(rec: dict) -> dict:
    return {k: v for k, v in rec["env"].items() if k not in VARYING}


def quartiles(xs: list):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def main():
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    if not base or not new:
        print("no records to compare", file=sys.stderr)
        sys.exit(2)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m for m in spec["end_to_end"] + spec["per_layer"]}

    groups = {}
    for side, recs in (("base", base), ("new", new)):
        for r in recs:
            key = (r["env"]["workload"], r["env"]["trace"])
            groups.setdefault(key, {"base": [], "new": []})[side].append(r)

    for (workload, trace), g in sorted(groups.items()):
        configs = {json.dumps(config(r), sort_keys=True) for r in g["base"] + g["new"]}
        if len(configs) > 1:
            print(f"refusing to compare {workload} (trace={trace}): env blocks differ:", file=sys.stderr)
            for c in sorted(configs):
                print(f"  {c}", file=sys.stderr)
            sys.exit(2)
        if not g["base"] or not g["new"]:
            print(f"{workload} (trace={trace}): only one side has records; skipped")
            continue
        print(f"{workload} (trace={trace}): {len(g['base'])} base vs {len(g['new'])} new runs")
        field = "per_layer" if trace else "metrics"
        for name in g["base"][0][field]:
            b = [r[field][name]["value"] for r in g["base"] if name in r[field]]
            n = [r[field][name]["value"] for r in g["new"] if name in r[field]]
            if not b or not n:
                continue
            bq, nq = quartiles(b), quartiles(n)
            unit = g["base"][0][field][name]["unit"]
            ratio = nq[1] / bq[1] if bq[1] else float("nan")
            line = (f"  {name:48s} base {bq[1]:.6g} [{bq[0]:.6g}, {bq[2]:.6g}]"
                    f"  new {nq[1]:.6g} [{nq[0]:.6g}, {nq[2]:.6g}] {unit}  x{ratio:.3f}")
            m = bounds.get(name, {})
            if "bound" in m and bq[1]:
                worse = (nq[1] - bq[1]) / bq[1] if m["better"] == "lower" else (bq[1] - nq[1]) / bq[1]
                if worse > m["bound"]:
                    line += f"  WORSE by {worse:.1%} (bound {m['bound']:.0%})"
            print(line)


if __name__ == "__main__":
    main()
