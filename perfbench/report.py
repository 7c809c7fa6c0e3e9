"""Layer table of traced runs.

    python3 perfbench/report.py perfbench/_traces/*.jsonl \
        [--untraced index_fleet=57.6 --untraced code_dedup=44.0]

Each trace file is what one ``run.py --trace 1`` run wrote: a header line,
then one span per line. For every workload the report prints one row per
layer — self time, Spark jobs and stages, shuffle bytes written, spill and
Py4J round trips made by the layer's own code — over the traced timed job
and over the isolated pass. Coverage is the layer's self time in the timed
job as a share of the untraced ``wall_s`` median given with ``--untraced``
(the traced wall time when none is given); the tracing overhead is the
traced wall time minus that median.
"""

from __future__ import annotations

import argparse
import json
import statistics
from collections import defaultdict

COLUMNS = ("self_s", "jobs", "stages", "shuffle_write_bytes", "spill_bytes",
           "py4j")


def load(path: str) -> tuple[dict, list[dict]]:
    with open(path) as f:
        header = json.loads(f.readline())
        return header, [json.loads(line) for line in f if line.strip()]


def layer_rows(spans: list[dict]) -> dict[str, dict]:
    """Per (phase, layer) sums, where phase is 'timed' for spans inside the
    timed job and 'isolated' for the rest."""
    by_id = {s["id"]: s for s in spans}
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s)

    def phase(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return "timed" if s["name"] == "timed" else "isolated"

    rows = defaultdict(lambda: dict.fromkeys(COLUMNS, 0))
    for s in spans:
        if s["name"] == "timed":
            continue
        r = rows[(phase(s), s["layer"])]
        dur = s["end"] - s["start"]
        r["self_s"] += dur - sum(c["end"] - c["start"] for c in kids[s["id"]])
        r["py4j"] += s["py4j"] - sum(c["py4j"] for c in kids[s["id"]])
        for k in ("jobs", "stages", "shuffle_write_bytes", "spill_bytes"):
            r[k] += s.get(k, 0)
    return rows


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("traces", nargs="+")
    ap.add_argument("--untraced", action="append", default=[],
                    help="workload=median untraced wall_s in seconds")
    args = ap.parse_args()
    untraced = {k: float(v) for k, v in (a.split("=") for a in args.untraced)}

    by_workload = defaultdict(list)
    for path in args.traces:
        header, spans = load(path)
        by_workload[header["workload"]].append((header, spans))

    for workload, runs in sorted(by_workload.items()):
        traced = statistics.median(h["wall_s"] for h, _ in runs)
        base = untraced.get(workload, traced)
        print(f"\n## {workload}: {len(runs)} traced run(s), traced wall_s "
              f"{traced:.2f} s, untraced median {base:.2f} s, tracing "
              f"overhead {traced - base:+.2f} s")
        print(f"| phase | layer | {' | '.join(COLUMNS)} | coverage |")
        print("|---" * (len(COLUMNS) + 3) + "|")
        merged = defaultdict(lambda: defaultdict(list))
        for _, spans in runs:
            for key, row in layer_rows(spans).items():
                for k, v in row.items():
                    merged[key][k].append(v)
        total = 0.0
        for (ph, layer), cols in sorted(merged.items()):
            med = {k: statistics.median(v) for k, v in cols.items()}
            cov = med["self_s"] / base if ph == "timed" else None
            if cov is not None:
                total += cov
            cells = [f"{med['self_s']:.2f}"] + [
                f"{med[k]:.0f}" for k in COLUMNS[1:]]
            print(f"| {ph} | {layer} | {' | '.join(cells)} | "
                  f"{'' if cov is None else f'{cov:.1%}'} |")
        print(f"\ntimed job: layer self times cover {total:.1%} of the "
              f"untraced wall_s median")


if __name__ == "__main__":
    main()
