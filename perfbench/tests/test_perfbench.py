"""Tests for the benchmark's own code (no Spark needed).

Run with ``python3 -m pytest perfbench/tests -q`` from the repository root.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import report  # noqa: E402
from spans import Span, Tracer  # noqa: E402
from workloads import END_TO_END, PER_LAYER, WALL, Workload  # noqa: E402

SMALL = 70_000  # turns: the three hot conversations plus ~400 others


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for name in sorted(files):
            with open(os.path.join(dirpath, name), "rb") as f:
                h.update(name.encode() + f.read())
    return h.hexdigest()


def test_transcripts_are_deterministic_per_seed():
    a, la = gen.transcripts_table(5, SMALL)
    b, lb = gen.transcripts_table(5, SMALL)
    c, lc = gen.transcripts_table(6, SMALL)
    assert a.equals(b) and la == lb
    assert not a.equals(c)


def test_generated_files_are_byte_identical(tmp_path):
    one = gen.generate(str(tmp_path / "one"), "transcripts", 3, SMALL)
    two = gen.generate(str(tmp_path / "two"), "transcripts", 3, SMALL)
    assert _digest(one.path("plain")) == _digest(two.path("plain"))
    x1 = gen.generate(str(tmp_path / "one"), "xml", 3)
    x2 = gen.generate(str(tmp_path / "two"), "xml", 3)
    assert _digest(x1.path("docs")) == _digest(x2.path("docs"))
    assert x1.ledger == x2.ledger


def test_cache_is_reused_and_bounded(tmp_path):
    cache = str(tmp_path)
    first = gen.generate(cache, "xml", 1)
    again = gen.generate(cache, "xml", 1)
    assert again.root == first.root and again.ledger == first.ledger
    for seed in range(2, gen.CACHE_KEEP + 3):
        gen.generate(cache, "xml", seed)
    kept = sorted(os.listdir(cache))
    assert len(kept) == gen.CACHE_KEEP
    assert f"v{gen.GEN_VERSION}-xml-s{gen.CACHE_KEEP + 2}-n0" in kept


def test_transcript_ledger_adds_up():
    table, ledger = gen.transcripts_table(9, SMALL)
    assert ledger["turns"] == table.num_rows
    assert ledger["violations"] == sum(ledger["by_constraint"].values())
    want: dict = {}
    for kind, n in ledger["planted"].items():
        for cid, k in gen.TRANSCRIPT_KINDS[kind].items():
            want[cid] = want.get(cid, 0) + k * n
    assert want == ledger["by_constraint"]
    sliced = table.slice(0, ledger["slice"]["turns"]).column("conv_id")
    assert set(sliced.to_pylist()) == {
        f"conv-{c:08d}" for c in range(gen.SLICE_CONVS)}


def test_slice_matches_pandas_oracle():
    """The per-defect signatures agree with the independent oracle: the
    slice holds one conversation of each kind and two no-user ones."""
    root = os.path.dirname(os.path.dirname(HERE))
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.join(root, "tests"))
    spec_mod = pytest.importorskip("sissaschool_xmlschema_spark.spec")
    oracle = pytest.importorskip("pandas_oracle")

    table, ledger = gen.transcripts_table(4, SMALL)
    pdf = table.slice(0, ledger["slice"]["turns"]).to_pandas()
    got = oracle.count_violations(pdf, spec_mod.transcript_spec())
    want: dict = {}
    for kind, sig in gen.TRANSCRIPT_KINDS.items():
        for cid, k in sig.items():
            want[cid] = want.get(cid, 0) + k * (2 if kind == "no_user" else 1)
    assert {k: v for k, v in got.items() if v} == want
    assert want == ledger["slice"]["by_constraint"]


def test_xml_ledger_counts_planted_defects(tmp_path):
    inputs = gen.generate(str(tmp_path), "xml", 8)
    led = inputs.ledger
    assert len(led["batches"]) == gen.XML_BATCHES
    for batch in led["batches"]:
        sizes = [led["docs"][d]["turns"] for d in batch]
        assert len(batch) == gen.XML_BATCH
        assert all(5 <= n <= 45 for n in sizes[:-1])
        assert gen.XML_LARGE_TURNS[0] <= sizes[-1] < gen.XML_LARGE_TURNS[1]
    assert any(d["errors"] for d in led["docs"].values())
    with open(inputs.path("docs", led["warmup"])) as f:
        assert f.read().startswith('<?xml version="1.0" encoding="UTF-8"?>')


@pytest.mark.parametrize("values", [
    [3.0], [1.0, 2.0], [5.0, 1.0, 4.0, 2.0, 3.0], [0.5, 9.0, 2.25, 7.5, 1.0, 4.0],
    [float(x) for x in range(1, 11)],
])
def test_percentiles_match_numpy_linear(values):
    np = pytest.importorskip("numpy")
    for q in (0, 10, 25, 50, 75, 90, 100):
        assert report.percentile(values, q) == pytest.approx(
            float(np.percentile(values, q)))
    assert report.median(values) == pytest.approx(statistics.median(values))
    p25, p50, p75 = report.quartiles(values)
    assert p25 <= p50 <= p75


def test_percentile_of_empty_sample_raises():
    with pytest.raises(ValueError):
        report.percentile([], 50)


def test_self_time_subtracts_the_union_of_child_spans():
    tracer = Tracer.__new__(Tracer)
    root = Span("op", 0, None, "r", 0.0, 10.0)
    tracer.spans = [
        root,
        Span("a", 1, 0, "r", 1.0, 4.0),
        Span("b", 2, 0, "r", 3.0, 5.0),   # overlaps a: covered 1..5
        Span("c", 3, 0, "r", 7.0, 8.0),
        Span("d", 4, 3, "r", 7.2, 7.5),   # grandchild: not op's child
    ]
    assert tracer.self_time(root) == pytest.approx(10.0 - 4.0 - 1.0)
    assert tracer.self_time(tracer.spans[3]) == pytest.approx(1.0 - 0.3)
    assert tracer.self_time(tracer.spans[1]) == pytest.approx(3.0)


def test_result_line_is_compact_json_with_expected_keys():
    m = report.Metrics()
    for name, unit in END_TO_END:
        m.put(name, 1.25, unit, [1.0, 1.25, 2.0])
    line = report.result_line(True, 7, 0, m.pick([n for n, _ in END_TO_END]))
    assert "\n" not in line and " " not in line
    doc = json.loads(line)
    assert list(doc) == ["correct", "attempted", "failed", "metrics"]
    assert doc["correct"] is True and doc["attempted"] == 7
    assert set(doc["metrics"]) == {n for n, _ in END_TO_END}
    for entry in doc["metrics"].values():
        assert set(entry) == {"value", "unit"}
    table = m.table([n for n, _ in END_TO_END])
    assert "n=3" in table[0]


def test_metric_names_match_benchmark_json():
    path = os.path.join(os.path.dirname(os.path.dirname(HERE)),
                        "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json beside the benchmark")
    with open(path) as f:
        spec = json.load(f)
    assert [(e["name"], e["unit"]) for e in spec["end_to_end"]] == list(END_TO_END)
    assert [(e["name"], e["unit"]) for e in spec["per_layer"]] == list(PER_LAYER)


def test_operations_are_reported_in_reference_units():
    class Ctx:
        spark = tracer = None

    ctx = Ctx()
    ctx.reference = type("Ref", (), {"walls": [0.1, 0.3, 0.2]})()
    w = Workload(ctx)
    m = report.Metrics()
    w.op_metrics(m, [1.0, 4.0, 2.0], 50_000.0, 3, 7.5)
    value = {n: m.values[n][0] for n in m.values}
    assert value["op_ref_p50"] == pytest.approx(2.0 / 0.2)
    assert value["turns_per_ref"] == pytest.approx(50_000.0 * 0.2)
    assert value["op_s_p50"] == pytest.approx(2.0)
    assert value["ops_per_s"] == pytest.approx(3 / 7.5)
    shown = {n for n, _ in END_TO_END} | {n for n, _ in WALL}
    assert shown - {"setup_s", "peak_rss_mb"} == set(value)
