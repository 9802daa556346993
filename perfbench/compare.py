"""Compare two sets of benchmark runs metric by metric.

    python3 perfbench/compare.py BASE.jsonl [CHANGE.jsonl]

Each file holds result lines, one per run, as ``run.py`` prints them
last (``... | tail -1 >> BASE.jsonl``). For every end-to-end metric
in BENCHMARK.json the report gives each set's median and quartiles
(``statistics.quantiles(values, n=4)``) and its spread: the distance
between the quartiles as a share of the median. With two sets it adds
the change of the median, signed so that positive is worse, and a
verdict against the metric's bound:

- ``worse``: the median got worse by more than the bound;
- ``unresolved``: within the bound, but a set's spread exceeds it,
  unless every run of the change reads better than every base run;
- ``ok``: otherwise.

With one set, a metric whose spread exceeds its bound is ``noisy``.
Exits 1 if any verdict is ``worse``, ``unresolved`` or ``noisy``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def load(path: str) -> dict[str, list[float]]:
    """Metric name -> values over the runs in a result-lines file."""
    out: dict[str, list[float]] = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            for name, m in json.loads(line)["metrics"].items():
                out.setdefault(name, []).append(float(m["value"]))
    return out


def summary(values: list[float]) -> dict[str, float]:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (values[0],) * 3
    return {"n": len(values), "median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def compare(base: dict, change: dict | None, spec: list[dict]) -> list[dict]:
    rows = []
    for m in spec:
        name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
        if name not in base:
            continue
        a = summary(base[name])
        row = {"metric": name, "bound": bound, "base": a}
        if change is None or name not in change:
            row["verdict"] = "noisy" if a["spread"] > bound else "ok"
        else:
            b = summary(change[name])
            delta = (b["median"] - a["median"]) / a["median"] if a["median"] else 0.0
            worse_by = delta if lower else -delta
            better_all = (max(change[name]) < min(base[name])) if lower else (min(change[name]) > max(base[name]))
            if worse_by > bound:
                verdict = "worse"
            elif max(a["spread"], b["spread"]) > bound and not better_all:
                verdict = "unresolved"
            else:
                verdict = "ok"
            row.update(change_set=b, worse_by=worse_by, verdict=verdict)
        rows.append(row)
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Compare two sets of perfbench runs.")
    ap.add_argument("base")
    ap.add_argument("change", nargs="?")
    a = ap.parse_args(argv)
    with open(SPEC) as f:
        spec = json.load(f)["end_to_end"]
    rows = compare(load(a.base), load(a.change) if a.change else None, spec)
    for r in rows:
        s = r["base"]
        line = f"{r['metric']:<16} base {s['median']:.4g} [{s['q1']:.4g}, {s['q3']:.4g}] spread {s['spread']:.3f}"
        if "change_set" in r:
            c = r["change_set"]
            line += (f" | change {c['median']:.4g} [{c['q1']:.4g}, {c['q3']:.4g}] spread {c['spread']:.3f}"
                     f" | worse by {r['worse_by']:+.3f}")
        print(f"{line} | bound {r['bound']} -> {r['verdict']}")
    print(json.dumps({"verdicts": {r["metric"]: r["verdict"] for r in rows}}))
    return 1 if any(r["verdict"] != "ok" for r in rows) else 0


if __name__ == "__main__":
    sys.exit(main())
