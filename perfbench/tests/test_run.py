"""Small pieces of run.py that need no Spark session."""

import json
import os
import subprocess
import sys

import run


def test_tail_uses_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = run.tail(xs)
    assert (value, pct, n) == (90.0, 90.0, 100)
    assert sum(x > value for x in xs) == 10


def test_tail_falls_back_to_max():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_units_match_benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS


def test_refuses_without_the_package(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(run.HERE):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(run.HERE, name), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix_eager",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_spans_record_enclosing_layer():
    import spans

    t = spans.Tracer()
    t.op = "op#0"
    with t.span("pipeline.run"):
        with t.span("io.publish"):
            pass
    assert [(s[0], s[3], s[4]) for s in t.spans] == [
        ("io.publish", "op#0", "pipeline.run"),
        ("pipeline.run", "op#0", None),
    ]
    totals = t.totals({"op#0"})
    assert set(totals) == {"pipeline.run", "io.publish"}
    assert totals["pipeline.run"] >= totals["io.publish"]
