"""Per-op-kind layer medians of traced perfbench runs, side by side.

    python tools/layer_by_kind.py PARENT_spans.json [CHANGE_spans.json]

Reads the ``*_spans.json`` that ``perfbench/run.py --trace 1`` writes and
prints, for every op kind (``simple_rag``, ``knn``, ``turn``, ...), the
median over that kind's ops of: wall time, the union of its Spark job
spans, executor run and CPU time, the driver gap (wall minus jobs), task
count, input bytes, and the time inside the op's public calls (its
top-level ``call`` spans). With two files the second is the change and a
last column gives its difference from the first, so a perf claim can name
the layer it moved in one command.
"""

from __future__ import annotations

import json
import statistics
import sys

METRICS = ("wall_ms", "job_ms", "run_ms", "cpu_ms", "driver_gap_ms",
           "tasks", "input_bytes", "call_ms")


def per_kind(doc: dict) -> dict[str, dict[str, list[float]]]:
    """kind -> metric -> one value per op of that kind."""
    by_id = {s["id"]: s for s in doc["spans"]}
    call_ms: dict[int, float] = {}
    for s in doc["spans"]:
        parent = by_id.get(s["parent"])
        if s["layer"] == "call" and parent is not None and parent["layer"] == "op":
            call_ms[s["op"]] = call_ms.get(s["op"], 0.0) + (s["end"] - s["start"]) * 1e3
    out: dict[str, dict[str, list[float]]] = {}
    for op in doc["ops"]:
        row = {"wall_ms": op["wall_s"] * 1e3, "call_ms": call_ms.get(op["op_id"], 0.0)}
        row.update({m: op[m] for m in METRICS if m in op})
        kind = out.setdefault(op["kind"], {})
        for m, v in row.items():
            kind.setdefault(m, []).append(float(v))
    return out


def medians(doc: dict) -> dict[str, tuple[int, dict[str, float]]]:
    """kind -> (op count, metric -> median)."""
    return {kind: (len(vals["wall_ms"]), {m: statistics.median(v) for m, v in vals.items()})
            for kind, vals in per_kind(doc).items()}


def table(docs: list[dict]) -> list[str]:
    sides = [medians(d) for d in docs]
    head = f"{'kind':<14}{'metric':<15}" + "".join(
        f"{'n / ' + name:>22}" for name in ("parent", "change")[:len(docs)])
    if len(docs) == 2:
        head += f"{'change %':>10}"
    lines = [head]
    for kind in sorted(set().union(*sides)):
        for m in METRICS:
            cells, vals = "", []
            for side in sides:
                n, med = side.get(kind, (0, {}))
                v = med.get(m)
                vals.append(v)
                cells += f"{n:>6} {'-' if v is None else format(v, '.1f'):>15}"
            if len(vals) == 2:
                a, b = vals
                cells += (f"{(b - a) / a * 100:>+9.1f}%" if a and b is not None
                          else f"{'-':>10}")
            lines.append(f"{kind:<14}{m:<15}{cells}")
    return lines


def main(argv: list[str]) -> int:
    if not 1 <= len(argv) <= 2:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    docs = []
    for path in argv:
        with open(path) as fh:
            docs.append(json.load(fh))
    print("\n".join(table(docs)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
