"""Tests of the benchmark itself: generator determinism, metric naming,
the event-log parser and the correctness checks. None starts Spark.

    python -m pytest perfbench/tests -q
"""

import copy
import json
import re
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from perfbench import checks, gen, metrics
from perfbench.trace import Span, busy_seconds, parse_event_log, span_stats

HERE = Path(__file__).resolve().parent
REPO = HERE.parent.parent
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _tables(root: Path) -> dict:
    return {p.relative_to(root): pq.read_table(p) for p in sorted(root.rglob("*.parquet"))}


@pytest.mark.parametrize("workload", sorted(gen.SIZES))
def test_generator_is_deterministic_per_seed_and_varies_across_seeds(tmp_path, workload):
    a = gen.generate(workload, 7, tmp_path / "a")
    b = gen.generate(workload, 7, tmp_path / "b")
    c = gen.generate(workload, 8, tmp_path / "c")
    ta, tb, tc = (_tables(tmp_path / x) for x in "abc")
    assert ta.keys() == tb.keys() == tc.keys()
    assert all(ta[k].equals(tb[k]) for k in ta)
    assert a["props"] == b["props"]
    assert any(not ta[k].equals(tc[k]) for k in ta)
    # sizes are fixed per workload: seeds move keys, not the amount of work
    assert a["props"]["rows_per_pass"] == c["props"]["rows_per_pass"]


def test_metric_names_units_and_benchmark_json_agree():
    from perfbench.workloads import WORKLOADS

    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    for name in [*metrics.END_TO_END, *metrics.PER_LAYER, *WORKLOADS]:
        assert NAME.match(name), name
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert all(0 < b <= bounds["setup_s"] <= 0.25 for b in bounds.values())
    # the result line stays well under 2000 characters even when every
    # value is a long float
    for names in (metrics.END_TO_END, metrics.PER_LAYER):
        line = json.dumps({"correct": True, "attempted": 100, "failed": 0, "metrics": {
            n: {"value": 1234.5678901234567, "unit": u} for n, u in names.items()}},
            separators=(",", ":"))
        assert len(line) < 1800


def test_result_line_is_strict_json_when_every_pass_fails():
    passes = [{"i": 0, "traced": False, "errors": ["Traceback ..."], "s": 1.5}]
    out = metrics.end_to_end({"passes": passes}, 12.5, 100)
    assert (out["correct"], out["attempted"], out["failed"]) == (False, 1, 1)
    line = json.dumps(out, allow_nan=False)
    assert json.loads(line)["metrics"]["setup_s"]["value"] == 12.5
    assert set(out["metrics"]) == set(metrics.END_TO_END)


def test_event_log_parser_on_recorded_log():
    jobs, intervals = parse_event_log(HERE / "data" / "tiny_eventlog.json")
    assert sorted((j.group, j.tasks, j.shuffle_bytes, j.gc_ms) for j in jobs.values()) == [
        ("aux", 1, 0, 20), ("span-0", 3, 118, 17), ("span-1", 4, 140, 36)]
    assert len(intervals) == 8

    t0, t1 = jobs[0].start_ms / 1000, jobs[1].end_ms / 1000
    root = Span(0, "pass", None, t0, t1)
    child = Span(1, "closure", 0, jobs[1].start_ms / 1000, t1)
    stats = span_stats([root, child], jobs, intervals)
    assert (stats[0]["jobs"], stats[0]["tasks"], stats[0]["shuffle_bytes"]) == (2, 7, 258)
    assert (stats[1]["jobs"], stats[1]["tasks"], stats[1]["shuffle_bytes"]) == (1, 4, 140)
    assert stats[0]["self_s"] == pytest.approx((t1 - t0) - (child.end - child.start))
    # job 0's tasks overlap: [229, 785] and [923, 1180] ms past 1792221920 s
    busy0 = busy_seconds(intervals, t0, jobs[0].end_ms / 1000)
    assert busy0 == pytest.approx(0.813)
    assert 0 < stats[1]["idle_s"] < child.end - child.start


def test_busy_seconds_clips_and_merges():
    iv = [(1000, 3000), (2000, 4000), (6000, 7000)]
    assert busy_seconds(iv, 0.0, 10.0) == pytest.approx(4.0)
    assert busy_seconds(iv, 2.5, 6.5) == pytest.approx(2.0)
    assert busy_seconds([], 0.0, 1.0) == 0.0


@pytest.fixture(scope="module")
def release(tmp_path_factory):
    out = tmp_path_factory.mktemp("release")
    from perfbench.workloads import _edges, _terms

    m = gen.generate("ontology_release", 3, out)
    f = m["files"]
    want = checks.expected_release(_terms(f["terms_n"]), _edges(f["edges_n"]),
                                   _terms(f["terms_n1"]), _edges(f["edges_n1"]))
    want["closure"] = checks.expected_closure(_terms(f["terms_n"]), _edges(f["edges_n1"]))
    want["edges"] = set(_edges(f["edges_n1"]))
    return want, m["props"]


def test_release_check_accepts_reference_and_rejects_corruption(release):
    want, props = release
    assert want["inserts"] and want["updates"] and want["newly_obsolete"]
    assert checks.check_release(copy.deepcopy(want), want, props) == []

    bad = copy.deepcopy(want)
    cls = sorted(bad["classes"])[0]
    bad["classes"].remove(cls)
    bad["classes"].add(cls[:3] + ("corrupted definition",) + cls[4:])
    assert any("class state" in e for e in checks.check_release(bad, want, props))

    bad = copy.deepcopy(want)
    bad["closure"].pop()
    assert any("live closure" in e for e in checks.check_release(bad, want, props))

    bad = copy.deepcopy(want)
    bad["inserts"].pop()
    errs = checks.check_release(bad, want, props)
    assert any("insert report" in e for e in errs)
    assert any("seeded" in e for e in errs)


def test_assertion_check_accepts_oracle_and_rejects_corruption(tmp_path):
    m = gen.generate("transcript_kg", 3, tmp_path)
    want = checks.expected_assertions(m["sf_dir"])
    assert len(want) > 10
    # the extended dictionary's obsolete hubs resolve through redirects,
    # and co-mentions put some terms in a component other than their own
    assert any(s != o for s, _, o in want)
    assert checks.check_assertions(set(want), want) == []
    s, p, o = sorted(want)[0]
    bad = (set(want) - {(s, p, o)}) | {(s, p, "FIX:0")}
    assert checks.check_assertions(bad, want)
    assert checks.check_assertions(set(sorted(want)[1:]), want)


def test_run_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits
    non-zero without printing a result."""
    (tmp_path / "perfbench").mkdir()
    for p in HERE.parent.glob("*.py"):
        (tmp_path / "perfbench" / p.name).write_text(p.read_text())
    (tmp_path / "BENCHMARK.json").write_text((REPO / "BENCHMARK.json").read_text())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "transcript_kg",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
