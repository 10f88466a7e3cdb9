"""Self-tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
from common import quantile  # noqa: E402
from ledger import Tracer, covered, progress_splits  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# ------------------------------------------------------------ metric names


def test_end_to_end_names_and_units_are_pinned():
    pinned = {
        "setup_s": "s",
        "work_per_s": "1/s",
        "latency_p50_s": "s",
        "latency_p90_s": "s",
    }
    assert run.END_TO_END == pinned
    assert {m["name"]: m["unit"] for m in _spec()["end_to_end"]} == pinned


def test_per_layer_names_and_units_match_the_spec():
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert spec == run.PER_LAYER
    layers = {name.split(".")[0] for name in spec}
    assert layers == {"session", "sources", "functions", "operators", "streaming",
                      "sinks", "layer", "trace"}


def test_spec_obeys_its_own_limits():
    spec = _spec()
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in spec["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))


# -------------------------------------------------------------- generator


def test_scene_frames_are_a_function_of_the_seed():
    a, b, c = gen.Scene(5, 2), gen.Scene(5, 2), gen.Scene(6, 2)
    for i in (0, 3, 7):
        assert np.array_equal(a.frame(i), b.frame(i))
    assert not np.array_equal(a.frame(0), c.frame(0))
    assert [a.position(i) for i in range(30)] == [b.position(i) for i in range(30)]


def test_scene_motion_flag_matches_the_motion_kernels():
    from distributed_video_analytics_flink_spark.functions.motion import (
        motion_boxes_from_gray,
        preprocess_gray,
    )

    for cam in range(3):
        s = gen.Scene(9, cam)
        gray = [preprocess_gray(s.frame(i).tobytes(), gen.ROWS, gen.COLS) for i in range(10)]
        for i in range(1, 10):
            boxes = motion_boxes_from_gray(gray[i - 1], gray[i], gen.ROWS, gen.COLS)
            assert bool(boxes) == s.has_motion(i), (cam, i)


def test_wire_timestamp_is_fixed_width_at_its_offset():
    ts = gen.iso_ts(1_700_000_000.25)
    assert ts == "2023-11-14T22:13:20.250000+00:00"
    line = gen.frame_line(3, ts, np.zeros((gen.ROWS, gen.COLS, 3), np.uint8))
    off = gen.ts_offset(3)
    assert line[off : off + len(ts)].decode() == ts
    assert len(gen.iso_ts(0.0)) == len(ts)


def test_tables_and_documents_are_deterministic(tmp_path):
    import pyarrow.parquet as pq

    for d in ("a", "b", "c"):
        gen.write_tables(4 if d != "c" else 5, str(tmp_path / d), sf=0.001)
    for t in ("lineitem", "events", "documents", "embeddings"):
        a = pq.read_table(tmp_path / "a" / f"{t}.parquet")
        assert a.equals(pq.read_table(tmp_path / "b" / f"{t}.parquet"))
        assert not a.equals(pq.read_table(tmp_path / "c" / f"{t}.parquet"))
    docs = gen.documents(4, 300)
    assert docs == gen.documents(4, 300)
    assert any(d["text"].endswith(" dup") for d in docs)


def test_mjpeg_sequences_are_deterministic_and_move():
    s = gen.mjpeg_sequences(3, 4, 16)
    assert s == gen.mjpeg_sequences(3, 4, 16)
    assert s != gen.mjpeg_sequences(4, 4, 16)
    assert all(any(a != b for a, b in zip(q, q[1:])) for q in s)


# ------------------------------------------------------- self-time arithmetic


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_self_time_subtracts_the_children_union():
    tr = Tracer("t", True)
    with tr.span("operators.q", "operators") as parent:
        pass
    parent.start, parent.end = 100.0, 110.0
    tr.add("spark.job", "operators", 101.0, 104.0, parent)
    tr.add("spark.job", "operators", 103.0, 106.0, parent)
    tr.add("spark.job", "operators", 109.0, 112.0, parent)  # runs past the end
    assert tr.self_time(parent) == pytest.approx(10.0 - 5.0 - 1.0)
    assert tr.layer_self_times()["operators"] == pytest.approx(4.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer("t", False)
    with tr.span("sources.x", "sources") as sp:
        assert sp is None
    assert tr.spans == []


def test_nested_spans_carry_parent_and_run_id():
    tr = Tracer("run-7", True)
    with tr.span("operators.a", "operators") as a:
        with tr.span("sources.b", "sources") as b:
            pass
    assert b.parent == a.id and a.parent is None
    assert {s.run_id for s in tr.spans} == {"run-7"}
    with pytest.raises(ValueError):
        with tr.span("x", "nonsense"):
            pass


def test_progress_splits_reads_duration_and_state_parts():
    p = {
        "batchId": 3, "timestamp": "2024-01-01T00:00:00.000Z", "numInputRows": 16,
        "durationMs": {"triggerExecution": 900, "addBatch": 700, "walCommit": 40},
        "stateOperators": [{"commitTimeMs": 120, "numRowsTotal": 8, "memoryUsedBytes": 5},
                           {"commitTimeMs": 30, "numRowsTotal": 2, "memoryUsedBytes": 1}],
    }
    (s,) = progress_splits([p])
    assert (s["batch_id"], s["rows"], s["trigger_ms"], s["add_batch_ms"]) == (3, 16, 900, 700)
    assert (s["wal_commit_ms"], s["commit_offsets_ms"]) == (40, 0)
    assert (s["state_commit_ms"], s["state_rows"], s["state_bytes"]) == (150, 10, 6)


# ------------------------------------------------------------- statistics


def test_quantile_matches_interpolated_median_and_ends():
    xs = [5.0, 1.0, 3.0, 2.0]
    assert quantile(xs, 0.5) == statistics.median(xs)
    assert quantile(xs, 0.0) == 1.0 and quantile(xs, 1.0) == 5.0
    assert quantile([7.0], 0.9) == 7.0


# ----------------------------------------------------------- lone checkout


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark's files,
    the command exits non-zero without printing a result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analyst_mix",
         "--seed", "1", "--seconds", "8", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
