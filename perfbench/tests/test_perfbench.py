"""Tests for the benchmark's own code (no Spark session needed).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os
import re

import pyarrow.parquet as pq

import gen
import metrics
from spans import Span, Tracer, self_time_by_name, self_times, union_length
from stats import percentile, tail

BENCH_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))), "BENCHMARK.json")


# ------------------------------------------------------------- percentiles


def test_percentile_keeps_ten_samples_beyond():
    xs = list(range(1, 101))
    p = percentile(xs, 90)
    assert p == {"q": 90, "value": 90.0, "n": 100, "beyond": 10}
    assert percentile(xs[:99], 90) is None  # only 9 beyond rank 90 of 99
    assert percentile(xs, 95) is None


def test_tail_picks_highest_valid_percentile_and_counts():
    t = tail(list(range(1000)))
    assert t["q"] == 99.0 and t["beyond"] == 10 and t["n"] == 1000
    t = tail(list(range(40)))
    assert t["q"] == 75.0 and t["beyond"] == 10 and t["n"] == 40
    assert tail(list(range(39))) is None
    assert tail([]) is None


# --------------------------------------------------------------- self time


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, 0)


def test_union_length_merges_overlaps():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0


def test_self_time_nested_children():
    spans = [_span(0, 0, 10), _span(1, 1, 4, 0), _span(2, 2, 3, 1), _span(3, 6, 8, 0)]
    st = self_times(spans)
    assert st[0] == 10 - 3 - 2  # grandchild does not count against the root
    assert st[1] == 2
    assert st[2] == 1 and st[3] == 2


def test_self_time_overlapping_children_counted_once():
    spans = [_span(0, 0, 10), _span(1, 1, 5, 0), _span(2, 3, 7, 0), _span(3, 9, 12, 0)]
    # children cover [1, 7] and [9, 10] once clipped to the parent
    assert self_times(spans)[0] == 10 - 6 - 1


def test_tracer_records_parent_and_request():
    tr = Tracer(True)
    with tr.span("op", request=7):
        with tr.span("inner"):
            pass
    assert [s.parent for s in tr.spans] == [None, 0]
    assert [s.request for s in tr.spans] == [7, 7]
    assert set(self_time_by_name(tr.spans)) == {"op", "inner"}
    off = Tracer(False)
    with off.span("op"):
        pass
    assert off.spans == []


# --------------------------------------------------------------- generator


def _files(d):
    out = {}
    for root, _dirs, files in os.walk(d):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                out[os.path.relpath(os.path.join(root, f), d)] = fh.read()
    return out


def test_generator_same_seed_same_bytes_other_seed_differs(tmp_path):
    a = gen.transcripts(5, 20, 5000, cache=str(tmp_path / "a"))
    b = gen.transcripts(5, 20, 5000, cache=str(tmp_path / "b"))
    c = gen.transcripts(6, 20, 5000, cache=str(tmp_path / "c"))
    gen.publish_points(a, 2), gen.publish_points(b, 2), gen.publish_points(c, 2)
    ra, rb, rc = (gen.requests(s, d, 50) for s, d in ((5, a), (5, b), (6, c)))
    fa, fb, fc = _files(a), _files(b), _files(c)
    assert fa == fb and ra == rb
    for d in (a, c):  # the hot conversation tops every seed up to the same total
        assert pq.read_metadata(os.path.join(d, "transcripts.parquet")).num_rows == 5000
    assert fa["transcripts.parquet"] != fc["transcripts.parquet"] and ra != rc

    da = gen.documents(5, 200, cache=str(tmp_path / "a"))
    db = gen.documents(5, 200, cache=str(tmp_path / "b"))
    dc = gen.documents(6, 200, cache=str(tmp_path / "c"))
    assert _files(da) == _files(db) != _files(dc)


def test_documents_have_stated_duplicate_shares():
    t = gen.gen_documents(1000, seed=3, exact_share=0.1, near_share=0.2)
    texts = t.column("text").to_pylist()
    assert len(texts) == 1000
    assert len(texts) - len(set(texts)) >= 100  # exact copies (plus rare repeats)


def test_requests_hit_the_hot_conversation():
    ids = [f"c{i:03d}" for i in range(100)]
    reqs = gen.gen_requests(ids, "c099", 2000, seed=1)
    hot = sum(r["conv_id"] == "c099" for r in reqs)
    assert 0 < hot < 400
    assert {r["kind"] for r in reqs} == {"narrow", "wide"}


# ----------------------------------------------------------------- metrics

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _synthetic_values():
    setups = [{"start": 5.0, "load": 1.0, "warmup": 2.0}, {"start": 0.1, "load": 1.0,
              "warmup": 1.0}, {"start": 0.1, "load": 1.1, "warmup": 1.0}]
    ops = [{"seconds": 0.5}, {"seconds": 0.7}]
    tr = Tracer(True)
    with tr.span("op", request=0):
        with tr.span("plans.materialize_call"):
            pass
    e2e = metrics.end_to_end(setups, ops)
    layer = metrics.per_layer(
        setups, tr.spans, {"operators.windows.exec_s": 0.4},
        [{**dict.fromkeys(("jobs", "stages", "tasks", "sql_executions", "shuffle_write_bytes",
                           "spill_bytes", "rows_scanned", "driver_gap_ms"), 1),
          "rows_returned": 2}],
        {"rows": 20, "bytes": 100, "files": 2}, 10,
        [{"runId": "q", "durationMs": {"triggerExecution": 5, "addBatch": 3, "walCommit": 1}}],
        ops, ops, {"canary_ms": [100.0, 110.0], "steal_during": 0.01},
    )
    return e2e, layer


def test_benchmark_json_metrics_are_emitted_with_units():
    with open(BENCH_JSON) as f:
        bench = json.load(f)
    e2e, layer = _synthetic_values()
    for section, spec, values in (("end_to_end", metrics.END_TO_END, e2e),
                                  ("per_layer", metrics.PER_LAYER, layer)):
        declared = {m["name"]: m["unit"] for m in bench[section]}
        assert declared == dict(spec)
        emitted = metrics.with_units(values, spec)
        assert set(emitted) == set(declared)
        for name, v in emitted.items():
            assert NAME.match(name), name
            assert v["unit"] == declared[name]
            assert isinstance(v["value"], float)
    names = [m["name"] for s in ("end_to_end", "per_layer") for m in bench[s]]
    names += [w["name"] for w in bench["workloads"]]
    assert all(NAME.match(n) for n in names) and len(set(names)) == len(names)
    assert all(e2e[m] > 0 for m in e2e)
