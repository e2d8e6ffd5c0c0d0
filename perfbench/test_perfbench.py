"""Tests for the benchmark's own helpers. Run: python3 -m pytest perfbench -q"""

from __future__ import annotations

import os
import shutil
import sys
import time

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402
from stats import (Recorder, Span, beyond, check_name, percentile, result_line,  # noqa: E402
                   self_times, tail_percentile, union_length)


def test_percentile_interpolates_like_numpy():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 0.5) == 3
    assert percentile(xs, 0.9) == pytest.approx(4.6)
    assert percentile([7.0], 0.9) == 7.0


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(15) is None
    assert tail_percentile(21) == 0.5
    assert tail_percentile(41) == 0.75
    assert tail_percentile(101) == 0.9
    assert tail_percentile(1001) == 0.99
    for n in (21, 41, 101, 250, 1001):
        assert beyond(n, tail_percentile(n)) >= 10


@pytest.mark.parametrize("name", ["setup_s", "fsio.calls.rename", "a-b_c.9", "9lives"])
def test_metric_names_accepted(name):
    assert check_name(name) == name


@pytest.mark.parametrize("name", ["", "_x", ".x", "has space", "x/y", "é", "x" * 65])
def test_metric_names_rejected(name):
    with pytest.raises(ValueError):
        check_name(name)


def test_result_line_rejects_bad_names_and_missing_values():
    with pytest.raises(ValueError):
        result_line(True, 1, 0, {"bad name": (1.0, "s")})
    with pytest.raises(ValueError):
        result_line(True, 1, 0, {"x": (float("nan"), "s")})
    with pytest.raises(ValueError):
        result_line(True, 0, 0, {"x": (1.0, "s")})


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        Span("batch", 0.0, 10.0, None, "r"),
        Span("fsio", 1.0, 3.0, 0, "r"),
        Span("fsio", 2.0, 4.0, 0, "r"),   # overlaps its sibling
        Span("decode", 9.0, 12.0, 0, "r"),  # runs past the parent's end
        Span("rename", 1.5, 2.5, 1, "r"),
    ]
    assert self_times(spans) == pytest.approx([10 - 3 - 1, 2 - 1, 2, 3, 1])
    assert union_length([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3)


def test_recorder_reports_only_spans_opened_after_since():
    rec = Recorder("r", enabled=True)
    with rec.span("batch"):
        with rec.span("fsio"):
            pass
    rec.since = time.perf_counter()
    with rec.span("batch"):
        with rec.span("fsio"):
            time.sleep(0.01)
    assert len(rec.durations("batch")) == 1
    assert len(rec.closed("fsio")) == 1
    assert 0 <= rec.self_time("batch") < rec.durations("batch")[0]


def _stage(tmp_path, seed):
    d = tmp_path / f"in{seed}"
    return d, gen.stage_chain(str(d), seed, blocks=60, per_file=25, mean_transfers=5)


def test_generator_is_deterministic(tmp_path):
    (a, ta), (b, tb) = _stage(tmp_path, 7), _stage(tmp_path / "again", 7)
    assert ta == tb
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) == [f"part-{i:06d}.parquet" for i in range(3)]
    for n in names:
        assert (a / n).read_bytes() == (b / n).read_bytes()
    _c, tc = _stage(tmp_path, 8)
    assert tc.as_record() != ta.as_record()


def test_generator_seed_changes_order_not_amount_of_work():
    import numpy as np

    a, b = np.random.default_rng(1), np.random.default_rng(2)
    ca, cb = gen.transfer_counts(a, 500, 40.0), gen.transfer_counts(b, 500, 40.0)
    assert sorted(ca) == sorted(cb) and list(ca) != list(cb)
    assert 35 <= ca.mean() <= 45 and ca.max() <= 400
    na, nb = gen.nil_blocks(a, 500), gen.nil_blocks(b, 500)
    assert na.sum() == nb.sum() == 5 and list(na) != list(nb)


def test_generator_truth_matches_its_files(tmp_path):
    d, truth = _stage(tmp_path, 3)
    table = pq.read_table(str(d))
    assert table.num_rows == truth.blocks
    payloads = table.column("payload").to_pylist()
    assert sum(p is not None for p in payloads) == truth.non_nil
    assert sum(len(p) for p in payloads if p) == truth.payload_bytes
    assert truth.rows_between(0, truth.blocks - 1) == (truth.non_nil, truth.child_rows)


def _write_lake(tmp_path, truth):
    """A lake built straight from the truth: decode the staged payloads with
    the program's protowire and write range files the way the sink names them."""
    import pyarrow as pa

    from substreams_sink_parquet_spark import protowire as pw
    from substreams_sink_parquet_spark.partition import file_name

    raw = pq.read_table(str(tmp_path / "in3")).to_pylist()
    lake = tmp_path / "lake"
    (lake / gen.CHILD_TABLE).mkdir(parents=True)
    for rs in range(0, truth.blocks, 20):
        main, child = [], []
        for row in raw[rs:rs + 20]:
            if row["payload"] is None:
                continue
            msg = pw.decode_message(row["payload"], gen.BLOCK)
            main.append(row["block_number"])
            child += [t["amount"] for t in msg.get("transfers", [])]
        name = file_name(rs, rs + 20)
        pq.write_table(pa.table({"block_number": pa.array(main, pa.int64())}), str(lake / name))
        pq.write_table(pa.table({"amount": pa.array(child, pa.int64())}),
                       str(lake / gen.CHILD_TABLE / name))
    return lake


def test_lake_check_passes_a_whole_lake_and_fails_a_truncated_one(tmp_path):
    _d, truth = _stage(tmp_path, 3)
    lake = _write_lake(tmp_path, truth)
    assert checks.check_lake(str(lake), truth) == []

    cut = tmp_path / "cut"
    shutil.copytree(lake, cut)
    (cut / gen.CHILD_TABLE / "0000000040-0000000060.parquet").unlink()
    assert any("child" in p or "covers" in p for p in checks.check_lake(str(cut), truth))

    gap = tmp_path / "gap"
    shutil.copytree(lake, gap)
    (gap / "0000000020-0000000040.parquet").unlink()
    assert any("gaps" in p for p in checks.check_lake(str(gap), truth))


def test_benchmark_json_lists_exactly_the_metrics_the_runs_print():
    import json

    import run
    import workloads

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


def test_tip_schedule_is_seeded_and_spaced_within_its_gaps():
    import workloads

    a, b = workloads.tip_schedule(5, 20.0), workloads.tip_schedule(5, 20.0)
    assert a == b and a != workloads.tip_schedule(6, 20.0)
    due = [a[i] for i in sorted(a)]
    assert min(a) == workloads.TIP_WARM_FILES and due[0] == 0 and due[-1] < 20.0
    assert all(y - x in workloads.TIP_GAPS_S for x, y in zip(due, due[1:]))


def test_tip_files_are_fed_half_way_between_trigger_ticks():
    import workloads

    t = workloads.next_half_second()
    wall = time.time() + (t - time.perf_counter())
    assert wall % 1 == pytest.approx(0.5, abs=0.01)
    assert 0.5 <= t - time.perf_counter() <= 1.5
