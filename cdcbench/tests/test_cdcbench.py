"""The benchmark's own tests: metric names and units, span self times,
and that the output checks fire.

    python3 -m pytest cdcbench/tests -q

The tiny runs start Spark, about half a minute each.
"""

from __future__ import annotations

import json
import subprocess
import sys
import time
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from cdcbench.model import UsersModel, csv_mismatch  # noqa: E402
from cdcbench.tracing import Span, Tracer  # noqa: E402
from cdcbench.workload import SHAPES, Workload  # noqa: E402

BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())


def tiny_run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, "cdcbench/run.py", "--workload", workload, "--seed", "3",
           "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    out = tiny_run(workload, trace)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    if trace:
        trace_file = ROOT / ".cdcbench_out" / f"{workload}-seed3-trace.json"
        spans = json.loads(trace_file.read_text())["spans"]
        assert spans
        for s in spans:
            assert -1e-9 <= s["self_s"] <= s["end"] - s["start"] + 1e-9, s["name"]


def test_self_time_excludes_children_and_never_exceeds_duration():
    tr = Tracer()
    outer = tr._open("outer")
    time.sleep(0.02)
    inner = tr._open("inner")
    time.sleep(0.03)
    tr._close(inner)
    tr._close(outer)
    tr.compute_self_times()
    assert inner.parent == outer.id
    assert inner.self_s == pytest.approx(inner.duration)
    assert outer.self_s == pytest.approx(outer.duration - inner.duration)
    for s in (outer, inner):
        assert 0 <= s.self_s <= s.duration


def test_self_time_sums_to_root_duration():
    tr = Tracer()
    tr.spans = [Span(0, None, "jobs.start_export_job", 0.0, 10.0),
                Span(1, 0, "watermark.get", 1.0, 2.0),
                Span(2, 0, "exports.run_delta_export", 2.0, 9.0),
                Span(3, 2, "csv_sink.write_users_csv", 4.0, 8.0)]
    tr.compute_self_times()
    assert [s.self_s for s in tr.spans] == [2.0, 1.0, 3.0, 4.0]
    assert sum(s.self_s for s in tr.subtree(tr.spans[0])) == tr.spans[0].duration


class _Store:
    def get(self, consumer):
        return None


def _workload(tmp_path) -> Workload:
    wl = Workload("cdc_incremental", SHAPES["cdc_incremental"]["tiny"], 1, str(tmp_path), {})
    created = np.array([10, 20, 30, 40], dtype=np.int64) * 1_000_000
    wl.model = UsersModel(created, created + 5, np.array([False, True, False, False]))
    wl.store = _Store()
    return wl


def test_check_fires_on_a_wrong_expected_count(tmp_path):
    wl = _workload(tmp_path)
    expected = wl.model.expect("full", None)
    out = Path(wl.out_dir)
    out.mkdir()
    (out / "f.csv").write_bytes(wl.model.render("full", expected.mask))
    job = {"rowsExported": expected.rows}
    wl._check_export("consumer 0", "full", "f.csv", job, expected, compare_bytes=True)
    assert wl.failures == []
    (out / "f.csv").write_bytes(wl.model.render("full", expected.mask))
    expected.rows += 1
    wl._check_export("consumer 0", "full", "f.csv", job, expected, compare_bytes=True)
    assert len(wl.failures) == 1 and "expected 4" in wl.failures[0]


def test_csv_comparison_allows_only_tie_reordering():
    header = b"id,name,email,created_at,updated_at,is_deleted\n"
    a = b"1,A,a,t0,2026-01-01T00:00:01.000000+00:00,False\n"
    b = b"2,B,b,t0,2026-01-01T00:00:01.000000+00:00,False\n"
    c = b"3,C,c,t0,2026-01-01T00:00:02.000000+00:00,False\n"
    assert csv_mismatch(header + a + b + c, header + b + a + c) is None
    assert "ordered" in csv_mismatch(header + c + a + b, header + a + b + c)
    assert "rows" in csv_mismatch(header + a + b, header + a + b + c)
    assert "differs" in csv_mismatch(header + a + b + c.replace(b"False", b"True"),
                                     header + a + b + c)
    assert "header" in csv_mismatch(b"x\n" + a, header + a)


def test_change_batch_stamps_order_the_batch_totally():
    wl = _workload(Path("."))
    table, apply = wl.model.change_batch(np.random.default_rng(0), 1, 3, 10**12, 0.34, 0.34)
    stamps = table.column("updated_at").cast("int64").to_pylist()
    assert len(set(stamps)) == 3 and min(stamps) >= 10**12
    apply()
    assert wl.model.size == 5
    assert wl.model.expect("delta", 10**12 - 1).rows == 3
