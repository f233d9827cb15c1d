"""BENCHMARK.json, the result line and the failure exit."""

import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow as pa

import run
import verify
import workloads

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _spec():
    with open(SPEC) as fh:
        return json.load(fh)


def test_benchmark_json_matches_the_program():
    spec = _spec()
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert NAME.match(m["name"]) and UNIT.match(m["unit"])
        assert m["better"] in ("lower", "higher")


def _records(ok_flags):
    recs = [run.Record(i, 0, "query", f"q{i}", 0.1, []) for i in range(len(ok_flags))]
    for r, ok in zip(recs, ok_flags):
        if not ok:
            r.fail("wrong result")
    return recs


def test_result_line_schema():
    values = {"setup_s": 1.5, "op_gmean_ms": 2.0, "op_slow_quarter_ms": 3.0,
              "ops_per_s": 4.0, "peak_rss_mb": 5.0}
    line = run.result_line(_records([True, True]), [], values, traced=False)
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["attempted"] == 2 and line["failed"] == 0
    assert set(line["metrics"]) == set(run.END_TO_END)
    for k, m in line["metrics"].items():
        assert m == {"value": values[k], "unit": run.END_TO_END[k]}
    json.dumps(line)


def test_result_line_counts_failures_and_fills_every_layer():
    line = run.result_line(_records([True, False, True]), [], {}, traced=True)
    assert (line["correct"], line["attempted"], line["failed"]) == (False, 3, 1)
    assert set(line["metrics"]) == set(run.PER_LAYER)
    assert not run.result_line(_records([True]), ["q_x"], {}, traced=True)["correct"]


def test_digest_ignores_row_order_and_integer_width():
    a = pa.table({"x": pa.array([1, 2, None], pa.int64()), "s": ["a", "b", None],
                  "f": [0.1 + 0.2, 1e10, None]})
    b = pa.table({"f": [None, 1e10 + 1e-6, 0.3], "s": [None, "b", "a"],
                  "x": pa.array([None, 2, 1], pa.int32())})
    assert verify.digest(a) == verify.digest(b)
    c = pa.table({"x": pa.array([1, 2, 2], pa.int64()), "s": ["a", "b", None],
                  "f": [0.3, 1e10, None]})
    assert verify.digest(a) != verify.digest(c)


def test_playbook_model_rerun_only_repeats_privilege_tasks():
    import gen

    for seed in range(6):
        rows, tasks = gen.playbook(seed)
        changed = workloads.PlaybookModel(rows).run(tasks)["changed"]
        rerun = changed[len(tasks):]
        assert [c for (kind, _), c in zip(tasks, rerun) if kind != "grants"] == [False] * 4
        assert [c for (kind, _), c in zip(tasks, rerun) if kind == "grants"] == [True]
        assert sum(changed[:len(tasks)]) == 2


def test_exits_nonzero_without_the_program(tmp_path):
    dst = tmp_path / "perfbench"
    shutil.copytree(BENCH, dst, ignore=shutil.ignore_patterns(".*", "__pycache__", "tests"))
    shutil.copy(SPEC, tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "olap", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
