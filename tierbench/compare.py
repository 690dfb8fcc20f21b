"""Compare two result sets of the tier-engine benchmark.

    python3 tierbench/compare.py BASE.jsonl NEW.jsonl

Each file holds the records ``run.py`` appends (``.tierbench/results.jsonl``
or a ``--record`` file), one run per line.  For every workload and metric
the two sets share, this prints each set's run count, first quartile,
median and third quartile, and the change of the new median against the
base.  It flags an end-to-end metric whose new median is worse than the
base by more than the bound in BENCHMARK.json (``WORSE``), and one whose
spread, the quartile distance as a share of the median, exceeds the bound
in either set (``SPREAD``).

``op_median_ms`` is the geometric mean of the per-kind median latencies,
so on a workload with k operation kinds one kind must slow down by
(1 + bound)^k before it trips the bound (2.44x for the stream's four
kinds).  So each kind's median (``p50_ms[kind]``, from the detail line) is
also compared, and flagged ``WORSE`` against the op_median_ms bound.

Only correct runs are summarised; a set with incorrect runs is flagged
(``INCORRECT``).  Per-layer metrics from traced runs are printed without
a verdict.  Exit status 1 means something was flagged.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path: str) -> tuple[dict, dict]:
    """{(workload, trace): {metric: [values]}} of the correct runs, and
    {(workload, trace): number of incorrect runs}."""
    out: dict = {}
    bad: dict = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            rec = json.loads(line)
            key = (rec["workload"], rec.get("trace", 0))
            if not rec["result"]["correct"]:
                bad[key] = bad.get(key, 0) + 1
                continue
            per = out.setdefault(key, {})
            for name, m in rec["result"]["metrics"].items():
                per.setdefault(name, []).append(m["value"])
            if not key[1]:
                for kind, lat in rec["detail"].get("latency_ms", {}).items():
                    per.setdefault(f"p50_ms[{kind}]", []).append(lat["p50"])
    return out, bad


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    (base, base_bad), (new, new_bad) = load(argv[0]), load(argv[1])
    flagged = False
    for key in sorted(set(base) | set(new) | set(base_bad) | set(new_bad)):
        workload, trace = key
        print(f"\n{workload} ({'traced' if trace else 'untraced'})")
        for tag, bad in (("base", base_bad), ("new", new_bad)):
            if bad.get(key):
                print(f"  INCORRECT: {bad[key]} {tag} run(s) failed their checks")
                flagged = True
        if key not in base or key not in new:
            continue
        print(f"  {'metric':32} {'n':>3} {'q1':>12} {'median':>12} {'q3':>12}   {'change':>8}")
        for name in sorted(set(base[key]) & set(new[key])):
            a, b = quartiles(base[key][name]), quartiles(new[key][name])
            change = b[1] / a[1] - 1 if a[1] else float("nan")
            notes = []
            m = e2e.get(name) if not trace else None
            if m is not None:
                worse = change if m["better"] == "lower" else -change
                if worse > m["bound"]:
                    notes.append("WORSE")
                spreads = [(q3 - q1) / med for q1, med, q3 in (a, b) if med]
                if any(s > m["bound"] for s in spreads):
                    notes.append("SPREAD")
            elif name.startswith("p50_ms[") and change > e2e["op_median_ms"]["bound"]:
                notes.append("WORSE")
            flagged |= bool(notes)
            for tag, xs, q in (("base", base[key][name], a), ("new", new[key][name], b)):
                print(
                    f"  {name if tag == 'base' else '':32} {len(xs):>3} "
                    f"{q[0]:>12.5g} {q[1]:>12.5g} {q[2]:>12.5g}"
                    + (f"   {change:>+8.1%} {' '.join(notes)}" if tag == "new" else "")
                )
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
