"""Diff two sets of benchmark runs, per workload and metric.

    python3 perfbench/compare.py OLD.jsonl NEW.jsonl

Each file holds run records as written by ``run.py --out`` (one JSON line
per run).  For every (workload, metric) present on both sides the tool
prints both medians, the ratio and the larger of the two quartile spreads.

Wall and CPU times drift with the machine, so a move in one of them only
says "changed".  The counters in ``DETERMINISTIC`` repeat exactly on the
same code and inputs, so any move in them is marked ``code``: the program
does different work.  Compare run sets made with the same seeds:
stream_ingest's inputs, and so its byte counters, depend on the seed.
Exit status 1 when any counter moved.
"""

from __future__ import annotations

import json
import statistics
import sys

DETERMINISTIC = {
    "plans.build_jobs", "operators.jobs", "operators.stages", "operators.tasks",
    "operators.shuffle_write_bytes", "operators.shuffle_read_bytes", "catalyst.exchanges",
    "streaming.batches",
}


def _spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q3 - q1


def _by_key(records: list[dict]) -> dict[tuple[str, str], list[float]]:
    out: dict[tuple[str, str], list[float]] = {}
    for rec in records:
        for metric, value in rec["metrics"].items():
            out.setdefault((rec["workload"], metric), []).append(float(value))
    return out


def diff(old: list[dict], new: list[dict]) -> list[dict]:
    a, b = _by_key(old), _by_key(new)
    rows = []
    for key in sorted(a.keys() & b.keys()):
        mo, mn = statistics.median(a[key]), statistics.median(b[key])
        spread = max(_spread(a[key]), _spread(b[key]))
        metric = key[1]
        if metric in DETERMINISTIC:
            verdict = "code" if mn != mo else "same"
        else:
            verdict = "same" if abs(mn - mo) <= spread else "changed"
        rows.append({
            "workload": key[0], "metric": metric, "old": mo, "new": mn,
            "ratio": mn / mo if mo else None, "spread": spread, "verdict": verdict,
        })
    return rows


def _load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    rows = diff(_load(argv[0]), _load(argv[1]))
    for r in rows:
        ratio = f"{r['ratio']:.3f}" if r["ratio"] is not None else "-"
        print(f"{r['workload']:22} {r['metric']:32} {r['old']:14.6g} {r['new']:14.6g} "
              f"x{ratio:>7} spread {r['spread']:.4g} {r['verdict']}")
    moved = [r for r in rows if r["verdict"] == "code"]
    print(f"{len(moved)} deterministic counter(s) moved: "
          + (", ".join(f"{r['workload']}/{r['metric']}" for r in moved) or "none"))
    return 1 if moved else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
