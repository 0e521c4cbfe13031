"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import compare  # noqa: E402
from perfbench.run import report  # noqa: E402
from perfbench.stats import (  # noqa: E402
    TooFewSamples,
    check_name,
    percentile,
    quartiles,
    spread,
    worse_by,
)
from perfbench.timeline import (  # noqa: E402
    Span,
    Tracer,
    commit_for_files,
    self_times,
    uncovered,
    union_length,
)
from perfbench.workloads import Run, StagedFile, file_freshness  # noqa: E402


# -- percentile rule ---------------------------------------------------------


def test_median_needs_ten_samples_beyond_it():
    assert percentile(list(range(20)), 0.5) == 9
    with pytest.raises(TooFewSamples):
        percentile(list(range(19)), 0.5)


def test_p75_needs_forty_samples():
    assert percentile(list(range(1, 41)), 0.75) == 30
    with pytest.raises(TooFewSamples):
        percentile(list(range(1, 40)), 0.75)


def test_percentile_is_order_insensitive_nearest_rank():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0] * 4
    assert percentile(vals, 0.5) == 3.0 == percentile(sorted(vals), 0.5)
    assert percentile(list(range(1, 21)), 0.45) == 9


def test_percentile_rejects_bad_quantiles():
    with pytest.raises(ValueError):
        percentile([1.0] * 40, 1.0)
    with pytest.raises(ValueError):
        percentile([1.0] * 40, 0.0)


# -- file -> commit mapping --------------------------------------------------


def test_each_file_maps_to_the_commit_covering_its_last_seq():
    commits = [
        {"version": 3, "seq_min": 0, "seq_max": 99, "ts_ms": 1},
        {"version": 4, "seq_min": 100, "seq_max": 299, "ts_ms": 2},
    ]
    files = [(0, 99), (100, 199), (200, 299), (300, 399)]
    got = commit_for_files(files, commits)
    assert [c and c["version"] for c in got] == [3, 4, 4, None]


def test_file_mapping_prefers_the_earliest_version_and_skips_empty_commits():
    commits = [
        {"version": 9, "seq_min": 0, "seq_max": 50},
        {"version": 2, "seq_min": 0, "seq_max": 50},
        {"version": 5, "seq_min": None, "seq_max": None},
    ]
    assert commit_for_files([(10, 50)], commits)[0]["version"] == 2
    with pytest.raises(ValueError):
        commit_for_files([(5, 4)], commits)


# -- a tail that does not keep up --------------------------------------------


def _tail(n_files, undrained=0):
    run = Run(spark=None, work="", seed=0, seconds=1, tracer=Tracer(False))
    landed = [StagedFile(f"log-{i}", 10 * i, 10 * i + 9, 10, 100) for i in range(n_files)]
    due = [float(i) for i in range(n_files)]
    applied = [{"ts_ms": (d + 0.1 * i) * 1e3} for i, d in enumerate(due)]
    applied[n_files - undrained:] = [None] * undrained
    file_freshness(run, landed, due, applied)
    run.e2e["setup_s"] = (1.0, "s")
    return run


DECLARED = {"setup_s": "s", "freshness_s_p50": "s", "ok_ops_ratio": "ratio"}


def _report(run, capsys):
    code = report(run, DECLARED, None, time.time())
    return code, json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_drained_tail_reports_the_median_freshness(capsys):
    run = _tail(20)
    assert run.e2e["freshness_s_p50"] == (pytest.approx(0.9), "s")
    code, result = _report(run, capsys)
    assert code == 0 and result["attempted"] == 20 and result["failed"] == 0
    assert result["metrics"]["ok_ops_ratio"]["value"] == 1.0


def test_undrained_file_fails_the_run_instead_of_a_freshness(capsys):
    run = _tail(20, undrained=1)
    assert "freshness_s_p50" not in run.e2e
    assert run.layer["harness.backlog_files_end"] == 1
    code, result = _report(run, capsys)
    assert code == 1
    assert result["attempted"] == 20 and result["failed"] == 1
    assert result["metrics"]["ok_ops_ratio"]["value"] == pytest.approx(19 / 20)
    assert "freshness_s_p50" not in result["metrics"]


def test_too_few_files_for_the_median_is_reported_not_raised(capsys):
    run = _tail(19)
    assert "freshness_s_p50" not in run.e2e
    assert any("freshness not reported" in n for n in run.notes)
    code, result = _report(run, capsys)
    assert code == 1 and result["failed"] == 0


# -- self time and driver gap ------------------------------------------------


def test_union_and_uncovered_merge_overlapping_intervals():
    assert union_length([(0, 2), (1, 3), (5, 6), (6, 6)]) == 4
    # a 10 s call whose jobs ran over [1, 4] and [3, 6]: 5 s of driver gap
    assert uncovered(0, 10, [(1, 4), (3, 6)]) == 5
    # job time outside the call does not count
    assert uncovered(0, 10, [(-5, 2), (9, 20)]) == 7
    assert uncovered(0, 10, []) == 10


def test_self_time_subtracts_the_union_of_child_spans():
    spans = [
        Span(0, "root", 0.0, 10.0),
        Span(1, "a", 1.0, 4.0, parent=0),
        Span(2, "b", 3.0, 5.0, parent=0),
        Span(3, "c", 3.5, 4.5, parent=2),
        Span(4, "open", 6.0, None, parent=0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(6.0)
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(1.0)
    assert 4 not in st


def test_tracer_nests_spans_per_thread_and_records_nothing_when_off():
    tr = Tracer(enabled=True)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner.parent == outer.sid
    assert [s.name for s in tr.named("inner")] == ["inner"]
    off = Tracer(enabled=False)
    with off.span("x") as s:
        pass
    assert off.spans == [] and s.duration >= 0


# -- metric names and spreads ------------------------------------------------


@pytest.mark.parametrize(
    "name", ["setup_s", "lake.merge.jobs_per_call", "a-b.c_1", "9x", "_x", ".x"]
)
def test_metric_name_pattern_accepts(name):
    assert check_name(name) == name


@pytest.mark.parametrize("name", ["", "a b", "a/b", "a\n", "ß", None])
def test_metric_name_pattern_rejects(name):
    with pytest.raises(ValueError):
        check_name(name)


def test_benchmark_json_names_units_and_bounds_are_valid():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        check_name(n)
        assert n[0].isalnum() and len(n) <= 64
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())


def test_spread_and_worse_by():
    assert quartiles([1, 2, 3, 4, 5]) == (1.5, 3, 4.5)
    assert spread([1, 2, 3, 4, 5]) == pytest.approx(1.0)
    assert worse_by(10, 12, "lower") == pytest.approx(0.2)
    assert worse_by(10, 12, "higher") == pytest.approx(-0.2)


# -- two-set comparison ------------------------------------------------------


def _write_set(path, values, jobs, trace=0):
    os.makedirs(path)
    for seed, (v, j) in enumerate(zip(values, jobs)):
        result = {"correct": True, "attempted": 3, "failed": 0, "metrics": {
            "compact_s": {"value": v, "unit": "s"},
            "lake.merge.jobs_per_call": {"value": j, "unit": "count"},
        }}
        with open(os.path.join(path, f"tail_mor-seed{seed}.log"), "w") as f:
            f.write(f"perfbench workload=tail_mor seed={seed} seconds=1 trace={trace}\n")
            f.write(f"metric compact_s {v} s\n" + json.dumps(result) + "\n")


def test_diff_agrees_on_equal_sets_and_flags_shifts_and_changed_counts(
    tmp_path, monkeypatch, capsys
):
    monkeypatch.chdir(ROOT)
    base = [1.0, 1.01, 0.99, 1.0, 1.02]
    _write_set(tmp_path / "a", base, [3] * 5)
    _write_set(tmp_path / "b", base, [3] * 5)
    _write_set(tmp_path / "slow", [v * 1.5 for v in base], [3] * 5)
    _write_set(tmp_path / "fast", [v * 0.6 for v in base], [3] * 5)
    _write_set(tmp_path / "wide", [0.5, 0.8, 1.0, 1.2, 1.5], [3] * 5)
    _write_set(tmp_path / "jobs", base, [3, 3, 4, 3, 3])
    assert compare.main(["diff", str(tmp_path / "a"), str(tmp_path / "b")]) == 0
    # two sets of the same code must agree in both directions, and each
    # must be steady on its own
    for other in ("slow", "fast", "wide"):
        assert compare.main(["diff", str(tmp_path / "a"), str(tmp_path / other)]) == 1
        assert "DISAGREE" in capsys.readouterr().out
    assert compare.main(["diff", str(tmp_path / "a"), str(tmp_path / "jobs")]) == 1
    assert "CHANGED" in capsys.readouterr().out


def test_diff_reports_tracing_overhead_from_the_metric_lines(tmp_path, monkeypatch, capsys):
    monkeypatch.chdir(ROOT)
    _write_set(tmp_path / "plain", [1.0] * 5, [3] * 5)
    _write_set(tmp_path / "traced", [1.1] * 5, [3] * 5, trace=1)
    assert compare.main(["diff", str(tmp_path / "plain"), str(tmp_path / "traced")]) == 0
    out = capsys.readouterr().out
    assert "tracing overhead" in out and "compact_s: +0.100" in out


def test_trace_dump_records_self_time(tmp_path):
    tr = Tracer(enabled=True)
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    tr.dump(tmp_path / "t.json", {"x": 1})
    with open(tmp_path / "t.json") as f:
        d = json.load(f)
    assert d["counts"] == {"x": 1}
    outer, inner = d["spans"]
    assert inner["parent"] == outer["sid"]
    assert outer["self_s"] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"])
    )


def test_parse_seeds():
    assert compare.parse_seeds("1-3,7") == [1, 2, 3, 7]
