"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import reference  # noqa: E402
import stats  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


# --- generator determinism --------------------------------------------------


def test_tables_same_seed_same_tables():
    a, b = fixtures.make_tables(3), fixtures.make_tables(3)
    assert a.keys() == b.keys()
    for name in a:
        assert a[name].equals(b[name]), name


def test_tables_differ_between_seeds():
    a, b = fixtures.make_tables(3), fixtures.make_tables(4)
    assert not a["events"].equals(b["events"])
    assert not a["lineitem"].equals(b["lineitem"])


def test_stream_same_seed_same_files(tmp_path):
    events = fixtures.make_tables(5)["events"]
    s1 = fixtures.make_stream(5, events, 4, 200)
    s2 = fixtures.make_stream(5, events, 4, 200)
    assert s1 == s2
    fixtures.write_stream(s1, str(tmp_path / "a"))
    fixtures.write_stream(s2, str(tmp_path / "b"))
    for name in sorted(os.listdir(tmp_path / "a")):
        assert (tmp_path / "a" / name).read_bytes() == (tmp_path / "b" / name).read_bytes()
    assert s1 != fixtures.make_stream(6, events, 4, 200)


def test_stream_files_in_mtime_order(tmp_path):
    events = fixtures.make_tables(1)["events"]
    fixtures.write_stream(fixtures.make_stream(1, events, 5, 50), str(tmp_path))
    names = sorted(os.listdir(tmp_path))
    mtimes = [os.path.getmtime(tmp_path / n) for n in names]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def test_stream_fault_rates():
    events = fixtures.make_tables(2)["events"]
    lines = [x for f in fixtures.make_stream(2, events, 20, 500) for x in f]
    n = len(lines)
    malformed = sum(x.record is None for x in lines)
    recs = [x.record for x in lines if x.record is not None]
    ts = [reference._parse_ts(r["ts"]) for r in recs]
    assert all(reference.NOW - reference.MAX_AGE <= t <= reference.NOW for t in ts)
    invalid = sum(bool(reference.failure_reasons(dict(r, ts=t))) for r, t in zip(recs, ts))
    # out-of-range + type + schema + format faults: 27% of lines
    assert 0.22 < invalid / n < 0.32
    assert 0 < malformed / n < 0.01
    late = sum(fixtures.lateness_seconds(i) > 0 for i in range(1000))
    assert late == 100


# --- reference model --------------------------------------------------------


def _line(i, ts, value=10.0, user=1, et="click", k=1):
    rec = {"event_id": i, "ts": ts, "user_id": user, "event_type": et, "value": value, "props": json.dumps({"k": k})}
    return fixtures.StreamLine(rec, json.dumps(rec))


def test_reference_dedups_and_drops_late_rows():
    b0 = [_line(1, "2024-01-15 10:00:00"), _line(1, "2024-01-15 10:00:00")]
    b1 = [_line(2, "2024-01-15 10:20:00")]
    # the watermark after batch 0 is 09:59:00; late filtering in batch 2
    # uses it, so 09:58:00 is dropped and 10:01:00 survives
    b2 = [_line(3, "2024-01-15 09:58:00"), _line(4, "2024-01-15 10:01:00", value=5.0)]
    aggs, dlq = reference.stream_reference([b0, b1, b2])
    assert dlq == []
    w10 = (1, int((reference.dt.datetime(2024, 1, 15, 10, 0) - reference.dt.datetime(1970, 1, 1)).total_seconds()))
    assert aggs[w10] == (15.0, 2, 5.0, 10.0, "click")
    assert sum(a[1] for a in aggs.values()) == 3


def test_reference_dlq_reasons():
    bad = [
        _line(1, "2024-01-15 10:00:00", value=150.0),
        _line(2, "2024-01-15 10:00:00", et="CLICK!"),
        _line(3, "2023-12-01 10:00:00"),
        fixtures.StreamLine(None, '"event_id": 4}'),
    ]
    _aggs, dlq = reference.stream_reference([bad])
    assert [r[1] for r in dlq] == [
        "out_of_range:value",
        "bad_format:event_type",
        "stale_or_future:ts",
        "malformed:json;missing:user_id;missing:value;missing:event_type;"
        "bad_type:props.k;stale_or_future:ts",
    ]


# --- metric names, counts and the percentile rule -------------------------


def test_benchmark_spec_is_valid():
    assert stats.check_spec(_spec()) == []


def test_per_module_metrics_follow_the_batch_panel():
    sys.path.insert(0, os.path.dirname(HERE))
    from real_time_iot_data_engineering_pipeline_spark import registry

    import workloads

    registry.load_all()
    modules = {registry.QUERIES[q].__module__.rsplit(".", 1)[-1] for q in workloads.PANEL}
    named = {
        m["name"].split(".")[1]
        for m in _spec()["per_layer"]
        if m["name"].startswith("queries.") and m["name"].count(".") == 2
    }
    assert named == modules


@pytest.mark.parametrize("name", ["latency_p50_s", "queries.build_s", "9lives", "a-b.c_d"])
def test_good_names(name):
    assert stats.NAME_RE.match(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "x" * 65, "a/b", "é"])
def test_bad_names(name):
    assert not stats.NAME_RE.match(name)


def test_spec_limits_are_enforced():
    spec = _spec()
    too_many = dict(spec, end_to_end=spec["end_to_end"] * 0 + [
        {"name": f"m{i}", "unit": "s", "better": "lower", "bound": 0.1} for i in range(17)
    ])
    assert any("end_to_end" in p for p in stats.check_spec(too_many))
    loose = dict(spec, end_to_end=[dict(m, bound=0.3) for m in spec["end_to_end"]])
    assert any("bound" in p for p in stats.check_spec(loose))
    dup = dict(spec, per_layer=spec["per_layer"] + spec["per_layer"][:1])
    assert any("twice" in p for p in stats.check_spec(dup))
    no_setup = dict(spec, end_to_end=[m for m in spec["end_to_end"] if m["name"] != "setup_s"])
    assert any("setup_s" in p for p in stats.check_spec(no_setup))


def test_percentile_needs_ten_samples_beyond():
    assert not stats.reportable(19, 0.5)
    assert stats.reportable(20, 0.5)
    assert not stats.reportable(99, 0.9)
    assert stats.reportable(100, 0.9)
    assert stats.reportable(200, 0.95)
    assert stats.tail_percentile(list(range(19))) is None
    assert stats.tail_percentile(list(range(40)))[0] == 0.75
    assert stats.tail_percentile(list(range(1000)))[0] == 0.99


def test_quantile_matches_statistics_inclusive():
    import statistics

    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6]
    assert stats.median(xs) == statistics.median(xs)
    assert stats.quantile(xs, 0.25) == statistics.quantiles(xs, n=4, method="inclusive")[0]


def test_result_line_has_exactly_the_contract_keys():
    line = json.loads(stats.result_line(True, 5, 0, {"setup_s": (1.25, "s")}))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {"setup_s": {"value": 1.25, "unit": "s"}}
