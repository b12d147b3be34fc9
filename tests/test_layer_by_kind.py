"""tools/layer_by_kind.py over a synthetic perfbench spans file."""

from __future__ import annotations

import json

from tools import layer_by_kind


def _op(op_id, kind, wall_s, job_ms, cpu_ms):
    return {"op_id": op_id, "kind": kind, "wall_s": wall_s, "jobs": 1,
            "job_ms": job_ms, "run_ms": cpu_ms + 1, "cpu_ms": cpu_ms,
            "driver_gap_ms": wall_s * 1e3 - job_ms, "tasks": 1,
            "input_bytes": 100, "output_bytes": 0}


def _doc(scale: float) -> dict:
    ops = [_op(0, "simple_rag", 0.2 * scale, 100 * scale, 90 * scale),
           _op(1, "simple_rag", 0.4 * scale, 120 * scale, 110 * scale),
           _op(2, "simple_rag", 0.3 * scale, 110 * scale, 100 * scale),
           _op(3, "knn", 0.5, 200, 150)]
    spans = []
    for op in ops:  # an op span, one call under it, a nested call under that
        base = op["op_id"] * 10
        spans += [
            {"id": base + 1, "op": op["op_id"], "name": op["kind"], "layer": "op",
             "start": 0.0, "end": op["wall_s"], "parent": None},
            {"id": base + 2, "op": op["op_id"], "name": "call", "layer": "call",
             "start": 0.0, "end": 0.01 * (op["op_id"] + 1), "parent": base + 1},
            {"id": base + 3, "op": op["op_id"], "name": "inner", "layer": "call",
             "start": 0.0, "end": 0.005, "parent": base + 2},
        ]
    return {"stamp": {}, "spans": spans, "ops": ops, "stages": []}


def test_medians_per_kind():
    med = layer_by_kind.medians(_doc(1.0))
    n, rag = med["simple_rag"]
    assert n == 3
    assert rag["wall_ms"] == 300.0
    assert rag["job_ms"] == 110.0
    assert rag["cpu_ms"] == 100.0
    assert rag["driver_gap_ms"] == 190.0
    assert rag["call_ms"] == 20.0  # top-level call spans only: 10, 20, 30 ms
    assert med["knn"][0] == 1


def test_side_by_side_change_column(tmp_path, capsys):
    paths = []
    for name, scale in (("parent", 1.0), ("change", 0.5)):
        path = tmp_path / f"{name}_spans.json"
        path.write_text(json.dumps(_doc(scale)))
        paths.append(str(path))
    assert layer_by_kind.main(paths) == 0
    rows = {tuple(line.split()[:2]): line.split()
            for line in capsys.readouterr().out.splitlines()[1:]}
    assert rows[("simple_rag", "cpu_ms")][-1] == "-50.0%"
    assert rows[("simple_rag", "tasks")][-1] == "+0.0%"
    assert rows[("knn", "wall_ms")][-1] == "+0.0%"
