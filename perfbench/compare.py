"""Summarise and compare benchmark run records.

    python3 perfbench/compare.py RUN_DIR              # spread per metric
    python3 perfbench/compare.py BASE_DIR NEW_DIR     # medians, new vs base

A RUN_DIR holds the run records ``run.py`` writes (``.perfbench_out/``
by default). For each workload and metric the spread is the distance
between the first and third quartile of the runs' values as a share of
their median. Comparing refuses (exit code 2) when the two sides were
measured at different core counts or masters: such numbers describe
different machines, not different code.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.harness import comparable  # noqa: E402


def load(run_dir: Path) -> dict[tuple[str, int], list[dict]]:
    """Run records grouped by (workload, trace)."""
    groups: dict[tuple[str, int], list[dict]] = {}
    for path in sorted(run_dir.glob("*.json")):
        rec = json.loads(path.read_text())
        groups.setdefault((rec["workload"], rec["trace"]), []).append(rec)
    return groups


def metric_values(records: list[dict]) -> dict[str, list[float]]:
    """Every metric of the result line and, untraced, every end-to-end
    figure of the record, gated or not (per-operation, wall clock)."""
    out: dict[str, list[float]] = {}
    for rec in records:
        figures = {name: m["value"] for name, m in rec["result"]["metrics"].items()}
        if not rec["trace"]:
            figures.update(rec["end_to_end"])
        for name, value in figures.items():
            out.setdefault(name, []).append(float(value))
    return out


def spread(values: list[float]) -> float:
    """Interquartile range over the median (0 for fewer than two runs)."""
    if len(values) < 2 or statistics.median(values) == 0:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 1
    sides = [load(Path(a)) for a in argv]
    base = sides[0]
    new = sides[-1]
    for key in sorted(new):
        workload, trace = key
        if key not in base:
            continue
        if len(sides) == 2:
            ref = base[key][0]
            why = next((w for r in base[key] + new[key] if (w := comparable(ref, r))), None)
            if why:
                print(f"refusing to compare {workload}: {why}", file=sys.stderr)
                return 2
        bv, nv = metric_values(base[key]), metric_values(new[key])
        runs = f"{len(base[key])}" + (f" vs {len(new[key])}" if len(sides) == 2 else "")
        print(f"{workload} trace={trace} runs={runs}")
        for name in nv:
            b_med = statistics.median(bv.get(name, [0.0]))
            n_med = statistics.median(nv[name])
            line = f"  {name:34s} median={n_med:.6g} spread={spread(nv[name]):.3f}"
            if len(sides) == 2:
                ratio = n_med / b_med if b_med else float("nan")
                line += f" base={b_med:.6g} new/base={ratio:.3f}"
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
