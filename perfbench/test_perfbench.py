"""Tests of the benchmark itself (no Spark needed).

    python -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import re
import types

import pytest

from perfbench import checks, engine, gen, run, stats
from perfbench.trace import Span, Tracer, node_rows
from perfbench.workloads import check_rows

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# ---------------------------------------------------------------------------
# generator determinism
# ---------------------------------------------------------------------------
def _frames(tmp_path, sub: str, seed: int) -> list[list[bytes]]:
    d = tmp_path / sub
    d.mkdir()
    st = gen.write_speedtests(str(d), seed, 2, 50, 1000)
    mr = gen.write_mobile_rewards(str(d), seed, 2, 50, 10, first_ms=gen.T0_MS + 1)
    return [gen.read_frames(p) for p in st.paths + mr.paths], st.paths + mr.paths


def test_same_seed_gives_identical_frames_and_files(tmp_path):
    a, pa = _frames(tmp_path, "a", 7)
    b, pb = _frames(tmp_path, "b", 7)
    assert a == b
    # gzip headers carry mtime 0 and no name, so the files match too
    assert [open(p, "rb").read() for p in pa] == [open(p, "rb").read() for p in pb]


def test_other_seed_gives_other_frames(tmp_path):
    a, _ = _frames(tmp_path, "a", 7)
    b, _ = _frames(tmp_path, "b", 8)
    assert a != b


def test_generator_truth_matches_program_decoder(tmp_path):
    """The generator's own encoder speaks the program's wire schema."""
    from huckli_spark.functions.keys import helium_pubkey
    from huckli_spark.ingest.filetypes import REGISTRY
    from huckli_spark.sources.protowire import decode

    st = gen.write_speedtests(str(tmp_path), 3, 2, 40, 5)
    msg = REGISTRY["verified-speedtest"].msg
    rows = [decode(msg, f) for p in st.paths for f in gen.read_frames(p)]
    truth = st.tables["verified_speedtest_report"]
    assert len(rows) == truth.rows == st.records
    assert sum(r["report"]["report"]["upload_speed"] for r in rows) == truth.sums["upload_speed"]
    assert {helium_pubkey(r["report"]["report"]["pub_key"]) for r in rows} == truth.keys

    mr = gen.write_mobile_rewards(str(tmp_path), 3, 2, 80, 5)
    msg = REGISTRY["mobile-rewards"].msg
    rows = [decode(msg, f) for p in mr.paths for f in gen.read_frames(p)]
    radio = [r["radio_reward_v2"] for r in rows if r["radio_reward_v2"] is not None]
    assert len(radio) == mr.tables["mobile_radio_rewards"].rows
    assert {helium_pubkey(r["hotspot_key"]) for r in radio} == mr.tables["mobile_radio_rewards"].keys
    hexes = sum(len(r["covered_hexes"]) for r in radio)
    assert hexes == mr.tables["mobile_reward_covered_hexes"].rows
    assert sum(h["rank"] for r in radio for h in r["covered_hexes"]) == mr.tables[
        "mobile_reward_covered_hexes"
    ].sums["rank"]


def test_distinct_key_share_is_recorded(tmp_path):
    (tmp_path / "big").mkdir()
    (tmp_path / "small").mkdir()
    big = gen.write_speedtests(str(tmp_path / "big"), 1, 1, 500, 1_000_000)
    small = gen.write_speedtests(str(tmp_path / "small"), 1, 1, 500, 5)
    assert big.distinct_key_share > 0.95
    assert small.distinct_key_share == 5 / 500
    assert big.properties()["distinct_key_share_per_arrow_batch"] > 0.95


# ---------------------------------------------------------------------------
# correctness checks fail on wrong answers
# ---------------------------------------------------------------------------
def test_corrupted_expected_count_fails_check(tmp_path):
    fs = gen.write_mobile_rewards(str(tmp_path), 2, 1, 60, 5)
    out = {t: truth.rows for t, truth in fs.tables.items()}
    assert check_rows(out, fs, "batch") == []
    fs.tables["mobile_radio_rewards"].rows += 1
    problems = check_rows(out, fs, "batch")
    assert len(problems) == 1 and "mobile_radio_rewards" in problems[0]


def test_missing_table_counts_as_zero_rows(tmp_path):
    fs = gen.write_mobile_rewards(str(tmp_path), 2, 1, 60, 5)
    out = {t: truth.rows for t, truth in fs.tables.items()}
    del out["mobile_gateway_rewards"]
    assert check_rows(out, fs, "batch")


def test_mutated_query_answer_fails_check():
    cols = ["k", "n", "total"]
    want = [("a", 1, 0.1 + 0.2), ("b", 2, 10.0)]
    # same multiset, other order, other column order, float rounding noise
    got_cols = ["total", "k", "n"]
    got = [(10.0, "b", 2), (0.3, "a", 1)]
    assert checks.compare_results(got_cols, got, cols, want, "q") == []
    assert checks.compare_results(got_cols, [(10.0, "b", 3), (0.3, "a", 1)], cols, want, "q")
    assert checks.compare_results(got_cols, [(10.5, "b", 2), (0.3, "a", 1)], cols, want, "q")
    assert checks.compare_results(got_cols, got[:1], cols, want, "q")
    assert checks.compare_results(["total", "k", "m"], got, cols, want, "q")


def test_truth_comparison_tolerates_only_float_noise():
    assert checks.compare_truth({"s": 1.0, "n": 3}, {"s": 1.0 + 1e-13, "n": 3}, "t") == []
    assert checks.compare_truth({"s": 1.0}, {"s": 1.001}, "t")
    assert checks.compare_truth({"n": 3}, {"n": 4}, "t")
    assert checks.compare_truth({"n": 3}, {}, "t")


# ---------------------------------------------------------------------------
# metrics: names, units, and the result line
# ---------------------------------------------------------------------------
def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_emitted_metrics():
    b = _benchmark_json()
    e2e = [(m["name"], m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]]
    assert e2e == run.END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in b["per_layer"]] == run.PER_LAYER
    assert {w["name"] for w in b["workloads"]} == {"ingest_continue", "query_mix"}
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    assert len(names) == len(set(names))
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME_RE.match(m["name"]), m
        assert UNIT_RE.match(m["unit"]), m
    for m in b["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def _fake_result(trace: bool) -> dict:
    wl = types.SimpleNamespace(
        name="ingest_continue",
        batch_s=[1.0, 1.2, 1.1],
        query_s=[0.3, 0.4],
        batch_wall_s=[1.1, 1.3, 1.2],
        query_wall_s=[0.3, 0.5],
        records=300,
        stored_bytes=50,
        payload_bytes=100,
        attempted=3,
        failed=0,
        problems=[],
        input_props={},
    )
    layers = {name: 1.0 for name, _unit, _better in run.PER_LAYER} if trace else None
    return {
        "wl": wl,
        "setup_s": 2.0,
        "setup_wall_s": 2.2,
        "start_s": 1.5,
        "warmup_s": 0.5,
        "measure_s": 3.5,
        "steal_share": 0.1,
        "steal_busy_share": 0.2,
        "peak_rss_mb": 900.0,
        "layers": layers,
    }


@pytest.mark.parametrize("trace", [0, 1])
def test_result_line_carries_every_metric(trace, capsys):
    args = types.SimpleNamespace(seed=1, trace=trace)
    out = run.report(args, _fake_result(bool(trace)))
    metrics = run.PER_LAYER if trace else run.END_TO_END
    want = [(m[0], m[1]) for m in metrics]
    assert [(k, v["unit"]) for k, v in out["metrics"].items()] == want
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["attempted"] == 3 and out["failed"] == 0
    printed = capsys.readouterr().out
    for name, unit in want:
        assert re.search(rf"^{re.escape(name)} \S+ {re.escape(unit)}$", printed, re.M), name
    assert "failed_share 0.0000 ratio" in printed


def test_failed_op_marks_result_incorrect():
    r = _fake_result(False)
    r["wl"].failed = 1
    out = run.report(types.SimpleNamespace(seed=1, trace=0), r)
    assert out["correct"] is False and out["failed"] == 1


# ---------------------------------------------------------------------------
# summaries
# ---------------------------------------------------------------------------
def test_tail_has_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 101)]
    label, value = stats.tail(xs)
    assert label == "p90" and 90.0 <= value <= 91.0
    assert sum(x > value for x in xs) == 10
    assert stats.tail([3.0, 1.0, 2.0])[0] == "p75"


def test_unstolen_share():
    assert engine.unstolen_share((100, 10, 90), (200, 30, 170)) == pytest.approx(0.8)
    assert engine.unstolen_share((100, 10, 90), (100, 10, 90)) == 1.0


def test_quantiles_are_harrell_davis():
    assert stats.betainc(2.5, 2.5, 0.5) == pytest.approx(0.5)
    assert stats.betainc(3.75, 1.25, 0.9) == pytest.approx(0.76938376675, rel=1e-9)
    assert stats.quantile([5.0, 1.0, 4.0, 2.0, 3.0], 0.5) == pytest.approx(3.0)
    assert stats.quantile([7.0], 0.75) == 7.0
    # two clusters: the sample median jumps by the gap when one sample
    # crosses over, the estimate moves by a fraction of it
    low, high = [1.0] * 8 + [2.0] * 8, [1.0] * 7 + [2.0] * 9
    assert stats.median(high) - stats.median(low) == 0.5
    assert stats.quantile(high, 0.5) - stats.quantile(low, 0.5) < 0.25


def test_self_time_subtracts_children():
    t = Tracer()
    t.spans = [
        Span("perfbench", "op", 0.0, 10.0, None, 1),
        Span("ingest.warehouse", "ingest", 1.0, 9.0, 0, 1),
        Span("spark", "parquet", 2.0, 7.0, 1, 1),
    ]
    selfs = t.self_times()[1]
    assert selfs == {"perfbench": 2.0, "ingest.warehouse": 3.0, "spark": 5.0}


# ---------------------------------------------------------------------------
# tracing measures the program, and fails loudly when it cannot
# ---------------------------------------------------------------------------
def test_wrapping_a_missing_function_fails():
    owner = types.SimpleNamespace(present=lambda: 1)
    t = Tracer()
    with pytest.raises(KeyError):
        t.wrap(owner, "renamed", "layer")
    t.wrap(owner, "present", "layer")
    t.begin(0)
    assert owner.present() == 1
    t.end()
    t.restore()
    assert [(s.layer, s.name) for s in t.spans] == [("layer", "present")]


def test_listing_entries_are_counted_where_the_listing_reads_them(tmp_path):
    from huckli_spark.sources import listing

    gen.write_mobile_rewards(str(tmp_path), 1, 3, 5, 5)
    (tmp_path / "unrelated.txt").write_text("x")
    t = Tracer()
    t.install()
    try:
        t.begin(0)
        files = listing.list_local(str(tmp_path), gen.MOBILE_PREFIX)
        t.end()
    finally:
        t.restore()
    assert len(files) == 3
    assert t.counts[0] == {"listing.calls": 1, "listing.files_returned": 3, "listing.entries_scanned": 4}
    assert listing.os is os


def test_key_kernel_counts_the_encodes_it_performs(tmp_path):
    fs = gen.write_speedtests(str(tmp_path), 1, 2, 300, 50)
    fs.paths = fs.paths[:1]
    wl = types.SimpleNamespace(last_input=fs)
    k = run.kernel_timings(wl)
    assert k["keys.rows"] == fs.key_rows == 600
    # the per-batch memo encodes each distinct key of a batch once
    assert k["keys.encoded"] == fs.key_distinct
    assert k["keys.memo_hit_ratio"] == pytest.approx(1 - fs.distinct_key_share)
    assert k["keys.us_per_key"] > 0 and k["protowire.us_per_frame"] > 0


def test_operator_rows_are_read_from_sql_metrics():
    execution = {
        "nodes": [
            {"nodeName": "MapInPandas", "metrics": [{"name": "number of output rows", "value": "1,204"}]},
            {"nodeName": "Scan parquet ", "metrics": [{"name": "number of output rows", "value": "17"}]},
        ]
    }
    assert node_rows(execution, "MapInPandas") == [1204]
    assert node_rows(execution, "Scan") == [17]
