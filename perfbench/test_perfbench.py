"""Self-tests of the benchmark. Run from the root of a checkout:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import run as bench  # noqa: E402
from perfbench.layers import Spans, derive, self_times  # noqa: E402


def _span(i, parent, start, end):
    return {"id": i, "name": f"s{i}", "parent": parent, "start": start, "end": end}


def test_self_time_is_span_minus_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.5, 4.0),   # overlaps its sibling: counted once
        _span(3, 0, 5.0, 6.0),
        _span(4, 3, 5.2, 5.4),   # grandchild: not subtracted from span 0
        _span(5, 0, 9.5, 12.0),  # runs past its parent: clipped
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (3.0 + 1.0 + 0.5))
    assert st[1] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0 - 0.2)
    assert st[4] == pytest.approx(0.2)


def test_recorded_spans_nest():
    rec = Spans()
    with rec.span("outer"):
        with rec.span("inner"):
            pass
    outer, inner = rec.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    st = self_times(rec.spans)
    assert st[outer["id"]] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"])
    )


def test_derived_ratios_have_a_base():
    m = derive(Counter(scan_calls=4, scan_hits=3), cores=4)
    assert m["scan.cache_hit_ratio"] == 0.75
    assert m["memo.hit_ratio"] == 0.0  # no calls: reported as 0, not a crash


def test_corrupted_hash_fails_the_entry_not_the_run():
    stored = {
        "good": {"rows": 3, "h1": 10, "h2": 20, "oracle": "x"},
        "bad": {"rows": 3, "h1": 11, "h2": 20},     # corrupted h1
        "rows_only": {"rows": 5},
        "raises": {"rows": 1, "h1": 1, "h2": 1},
    }
    observed = {
        "good": {"rows": 3, "h1": 10, "h2": 20},
        "bad": {"rows": 3, "h1": 10, "h2": 20},
        "rows_only": {"rows": 5},
    }

    def hash_of(expected, df):
        if df == "raises":
            raise RuntimeError("boom")
        got = observed[df]
        return {k: got[k] for k in expected}

    dfs = {name: name for name in stored}
    dfs["crashed"] = None  # raised during a pass: already counted there
    failures = bench.check_outputs(dfs, stored, hash_of)
    assert set(failures) == {"bad", "raises"}
    assert "h1" in failures["bad"]
    assert "RuntimeError" in failures["raises"]


def test_entry_without_stored_hash_fails():
    failures = bench.check_outputs({"new": "new"}, {}, lambda e, df: {})
    assert failures == {"new": "no stored output hash"}


def test_unknown_workload_is_a_clear_error(capsys):
    code = bench.main(["--workload", "no_such", "--seed", "1", "--seconds", "1"])
    out, err = capsys.readouterr()
    assert code == 2
    assert out == ""
    assert "unknown workload 'no_such'" in err and "star_sql" in err


def test_unknown_entry_is_a_clear_error():
    workloads = {"w": {"entries": ["q1_top_sellers", "q99_missing"]}}
    with pytest.raises(bench.BenchError, match="q99_missing"):
        bench.resolve_entries(workloads, "w", {"q1_top_sellers": object()})


def test_workloads_are_hashed():
    workloads = bench.load_json("workloads.json")
    hashes = bench.load_json("hashes.json")["entries"]
    for w in workloads.values():
        assert w["entries"] and all(e in hashes for e in w["entries"])


@pytest.fixture(scope="module")
def spark():
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[1]").appName("perfbench-test")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_output_hash_is_order_insensitive_and_catches_a_change(spark):
    from perfbench.outhash import output_hash

    rows = [(1, 0.5, "a", [1.0, None], {"k": 2}), (2, None, None, None, None)]
    schema = "id long, x double, s string, v array<double>, m map<string,int>"
    a = output_hash(spark.createDataFrame(rows, schema))
    b = output_hash(spark.createDataFrame(rows[::-1], schema).repartition(2))
    changed = output_hash(spark.createDataFrame([rows[0], (2, 0.0, None, None, None)], schema))
    assert a == b and a["rows"] == 2
    assert changed != a
    stored = {"e": dict(a, h2=a["h2"] + 1)}
    failures = bench.check_outputs(
        {"e": spark.createDataFrame(rows, schema)}, stored, bench.hash_of
    )
    assert list(failures) == ["e"]
