"""The before/after checker over two sweep result files."""

from __future__ import annotations

import json

from compare import compare

BENCH = {
    "workloads": [{"name": "w", "why": "-"}],
    "end_to_end": [
        {"name": "jobs", "unit": "count", "better": "lower", "bound": 0.1},
        {"name": "ok", "unit": "ratio", "better": "higher", "bound": 0.01},
    ],
}


def _results(path, jobs, ok, layer_jobs, layer_bytes, correct=True):
    runs = [
        {"workload": "w", "seed": s, "trace": 0, "result": {
            "correct": correct or s != 1,
            "metrics": {"jobs": {"value": jobs}, "ok": {"value": ok}}}}
        for s in (1, 2, 3)
    ] + [
        {"workload": "w", "seed": 1, "trace": 1, "result": {
            "correct": True,
            "metrics": {"a.spark_jobs": {"value": layer_jobs},
                        "a.output_bytes": {"value": layer_bytes},
                        "a.self_s": {"value": 9.0}}}}
    ]
    path.write_text(json.dumps({"runs": runs}))
    return str(path)


def test_names_metrics_past_their_bound_and_counters_that_rose(tmp_path):
    before = _results(tmp_path / "b.json", 100, 1.0, layer_jobs=5, layer_bytes=100_000)
    # written timestamps move a layer's bytes by a few from run to run
    same = _results(tmp_path / "s.json", 109, 1.0, layer_jobs=5, layer_bytes=100_050)
    worse = _results(
        tmp_path / "w.json", 111, 0.9, layer_jobs=6, layer_bytes=100_200, correct=False
    )
    assert compare(BENCH, before, same) == []
    found = compare(BENCH, before, worse)
    assert [line.split(":")[0] for line in found] == [
        "w correct runs", "w jobs", "w ok", "w a.output_bytes", "w a.spark_jobs"
    ]
