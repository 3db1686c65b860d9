"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest
from contextinator_spark.config import BM25_K1

from perfbench import inputs, system, trace
from perfbench.reference import Reference, bm25f_topk, same
from perfbench.run import END_TO_END_UNITS, OVERHEAD
from perfbench.trace import Span

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_same_seed_same_inputs():
    assert inputs.zipf_rows(200, 7) == inputs.zipf_rows(200, 7)
    docs = dict((r[0], r[-1]) for r in inputs.zipf_rows(200, 7))
    assert inputs.zipf_queries(docs, 50, 8) == inputs.zipf_queries(docs, 50, 8)
    assert inputs.salad_corpus(50, 4, 7) == inputs.salad_corpus(50, 4, 7)
    sizes = {"bm25": 5, "positional": 3, "boolean": 3, "multifield": 4}
    pattern = ("bm25", "positional", "bm25", "boolean", "multifield")
    assert inputs.salad_batches(7, sizes, pattern, 3) == inputs.salad_batches(7, sizes, pattern, 3)
    # and another seed gives other inputs
    assert inputs.zipf_rows(200, 7) != inputs.zipf_rows(200, 8)
    assert inputs.salad_corpus(50, 4, 7) != inputs.salad_corpus(50, 4, 8)


def test_zipf_query_mix_is_exact_per_window():
    docs = dict((r[0], r[-1]) for r in inputs.zipf_rows(300, 3))
    qs = inputs.zipf_queries(docs, 20, 4)
    kinds = [k for k, _ in qs]
    for i in range(0, 20, 5):
        w = kinds[i : i + 5]
        assert (w.count("bm25"), w.count("phrase"), w.count("boolean")) == (3, 1, 1)
    bands = {t: b for b, terms in inputs.df_bands(docs).items() for t in terms}
    shapes = [sorted(bands[t] for t in arg) for kind, arg in qs if kind == "bm25"]
    assert shapes[:6] == [sorted(s) for s in inputs.BM25_SHAPES * 2]
    for kind, arg in qs:
        if kind == "phrase":
            assert len(arg) == 2 and arg[0] != arg[1]
        if kind == "boolean":
            must, should, mustnot = arg.split()
            assert must[0] == "+" and mustnot[0] == "-" and mustnot[1:] not in (must[1:], should)


def test_salad_corpus_amplifies_with_distinct_ids():
    docs = inputs.salad_corpus(10, 4, 1)
    assert sorted(docs) == list(range(40))
    for d in docs:
        assert docs[d] == docs[(d // 4) * 4]  # replicas of one base doc


def test_salad_batches_have_the_same_shapes_for_every_seed():
    sizes = {"bm25": 6, "positional": 4, "boolean": 2, "multifield": 3}
    pattern = ("bm25", "positional", "boolean", "multifield")

    def shapes(seed):
        return [
            (fam, [len(q) if fam in ("bm25", "multifield") else
                   (q[1] if fam == "positional" else len(q.split())) for q in batch.values()])
            for calls in inputs.salad_batches(seed, sizes, pattern, 2) for fam, batch in calls
        ]

    assert shapes(1) == shapes(2)
    assert shapes(1)[:2] == [("bm25", [1, 2, 3, 1, 2, 3]), ("positional", [None, 3, None, 4])]


def test_salad_corpus_has_the_documents_table_shape():
    base = list(inputs.salad_corpus(2000, 1, 3).values())
    dups = [t for t in base if t.endswith(" " + inputs.DUP)]
    assert len(dups) == 2000 // inputs.DUP_SHARE
    lo, hi = inputs.SALAD_LEN
    plain = [t.split() for t in base if inputs.DUP not in t.split()]
    assert min(map(len, plain)) == lo and max(map(len, plain)) == hi
    assert {w for toks in plain for w in toks} == set(inputs.SALAD_VOCAB)


def test_gc_log_peak_is_the_largest_occupancy_after_a_pause(tmp_path):
    log = tmp_path / "gc.log"
    log.write_text(
        "[0.010s][info][gc] Using G1\n"
        "[1.2s][info][gc] GC(0) Pause Young (Normal) (G1 Evacuation Pause) 24M->3M(256M) 2.1ms\n"
        "[5.0s][info][gc] GC(1) Pause Young (Concurrent Start) (G1 Humongous Allocation) 900M->700M(1024M) 9.0ms\n"
        "[5.1s][info][gc] GC(2) Concurrent Mark Cycle\n"
        "[6.0s][info][gc] GC(2) Pause Remark 710M->650M(1024M) 1.0ms\n"
        "[9.0s][info][gc] GC(3) Pause Young (Mixed) (G1 Evacuation Pause) 2G->1G(3G) 4.0ms\n"
    )
    assert system.gc_peak_after_bytes(str(log)) == 2**30


def _span(name, start, end, parent=None):
    return Span(name, start, end=end, parent=parent)


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span("bench.timed", 0.0, 10.0),
        _span("a", 1.0, 3.0, parent=0),
        _span("b", 2.0, 5.0, parent=0),  # overlaps a: covered = [1, 5]
        _span("c", 9.0, 12.0, parent=0),  # clipped to the parent: [9, 10]
    ]
    assert trace.self_times(spans) == pytest.approx([10.0 - 4.0 - 1.0, 2.0, 3.0, 3.0])


def _task(stage, cpu_ns, gc_ms=0, shuffle=0, read=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Input Metrics": {"Bytes Read": read}, "Disk Bytes Spilled": spill,
        },
    }


SYNTH_EVENTS = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1_000_500, "Stage IDs": [0, 1]},
    _task(0, 2_000_000_000, gc_ms=100, read=4096),
    _task(1, 1_000_000_000, shuffle=512),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_001_500},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1_002_000, "Stage IDs": [2]},
    _task(2, 500_000_000, spill=64),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_003_000},
    # a job submitted by a helper thread inside the second call
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1_006_000, "Stage IDs": [3]},
    _task(3, 250_000_000),
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1_006_500},
    # outside every span: attributed to nothing
    {"Event": "SparkListenerJobStart", "Job ID": 3, "Submission Time": 1_020_000, "Stage IDs": [4]},
    _task(4, 9_000_000_000),
]


def test_jobs_and_tasks_go_to_the_innermost_span():
    spans = [
        _span("bench.timed", 1000.0, 1010.0),
        _span("bm25_segments.topk_segments", 1000.2, 1004.0, parent=0),
        _span("bm25_segments.topk_segments", 1005.0, 1007.0, parent=0),
    ]
    got = trace.attribute(spans, SYNTH_EVENTS)
    assert 0 not in got  # the parent holds no job of its own
    one, two = got[1], got[2]
    assert (one["jobs"], one["tasks"]) == (2, 3)
    assert one["executor_cpu_s"] == pytest.approx(3.5)
    assert one["gc_s"] == pytest.approx(0.1)
    assert (one["input_bytes"], one["shuffle_write_bytes"], one["spill_bytes"]) == (4096, 512, 64)
    # jobs ran over [1000.5, 1001.5] and [1002, 1003]
    assert one["job_s"] == pytest.approx(2.0)
    assert (two["jobs"], two["tasks"], two["job_s"]) == (1, 1, pytest.approx(0.5))

    layer = trace.per_layer(spans, got)
    name = "bm25_segments.topk_segments"
    # medians over the two calls
    assert layer[f"{name}.jobs"] == 1.5
    assert layer[f"{name}.wall_s"] == pytest.approx((3.8 + 2.0) / 2)
    assert layer[f"{name}.driver_s"] == pytest.approx(((3.8 - 2.0) + (2.0 - 0.5)) / 2)
    assert layer["phrase.phrase_topk_indexed.wall_s"] == 0.0  # never called
    assert set(layer) == set(trace.per_layer_units())


def test_warmup_calls_are_left_out_of_per_layer_medians():
    spans = [_span("bm25_segments.topk_segments", 0.0, 100.0),
             _span("bm25_segments.topk_segments", 200.0, 201.0)]
    spans[0].request = trace.WARMUP
    assert trace.per_layer(spans, {})["bm25_segments.topk_segments.wall_s"] == 1.0


def test_scan_frac_is_input_bytes_over_store_bytes():
    spans = [_span("bm25_segments.topk_segments", 1000.2, 1004.0)]
    spans[0].extra["store_bytes"] = 8192
    layer = trace.per_layer(spans, trace.attribute(spans, SYNTH_EVENTS))
    assert layer["bm25_segments.topk_segments.scan_frac"] == pytest.approx(0.5)


def test_event_log_reads_rolling_layout_in_order(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = [json.dumps(e) for e in SYNTH_EVENTS]
    (d / "events_2_local-1").write_text("\n".join(lines[4:]) + "\n")
    (d / "events_1_local-1").write_text("\n".join(lines[:4]) + "\n")
    (d / "appstatus_local-1").write_text("")
    assert trace.read_event_log(str(tmp_path)) == SYNTH_EVENTS


DOCS = {
    0: "hash join hash table probe",
    1: "merge join sort merge",
    2: "hash table open addressing",
    3: "join join join hash",
    4: "nothing to see",
}


def test_gate_flags_a_perturbed_result():
    ref = Reference(DOCS)
    want = ref.bm25_topk(["hash", "join"], 10)
    assert len(want) == 4 and same(want, want)
    swapped = [(1, want[1][1], want[0][2]), (2, want[0][1], want[1][2]), *want[2:]]
    nudged = [want[0], (want[1][0], want[1][1], want[1][2] + 1e-4), *want[2:]]
    for bad in (swapped, nudged, want[:-1], want + [(5, 4, 0.1)]):
        assert not same(bad, want)


def test_references_follow_the_scoring_contracts():
    ref = Reference(DOCS, deleted={3})
    # a deleted doc is never ranked but still counts in n and df; the
    # shorter of two docs with one "join" each ranks first
    assert [d for _, d, _ in ref.bm25_topk(["join"], 10)] == [1, 0]
    assert ref.bm25.n == 5
    assert [d for _, d, _ in ref.phrase_topk(["hash", "table"], 10)] == [2, 0]
    assert [d for _, d, _ in ref.boolean_topk("+hash table -probe", 10)] == [2]
    # "join" within 1 token of "hash": doc 0 ("hash join"), doc 3 ("join hash")
    assert [d for _, d, _ in ref.near_topk(["join", "hash"], 1, 10)] == [0]
    assert [d for _, d, _ in Reference(DOCS).near_topk(["join", "hash"], 1, 10)] == [3, 0]


def test_bm25f_reference_reduces_to_scaled_bm25_on_one_field():
    ref = Reference(DOCS, deleted={3})
    got = bm25f_topk({"content": ref}, {"content": 1.0}, ["hash", "join"], 10)
    want = ref.bm25_topk(["hash", "join"], 10)
    assert [d for _, d, _ in got] == [d for _, d, _ in want]
    for g, w in zip(got, want):
        assert g[2] == pytest.approx(w[2] / (BM25_K1 + 1.0), abs=1e-4)


def test_bm25f_reference_blends_fields_before_saturation():
    content = Reference({0: "hash probe", 1: "hash hash", 2: "other words"})
    title = Reference({0: "hash", 1: "table", 2: "words"})
    fields = {"content": content, "title": title}
    # doc 0 matches once in each field, doc 1 twice in content only
    got = bm25f_topk(fields, {"content": 1.0, "title": 2.0}, ["hash"], 10)
    assert [d for _, d, _ in got] == [0, 1]


def test_workload_gate_flags_exactly_the_perturbed_answer(tmp_path):
    from perfbench.workloads import LatencyZipf

    w = LatencyZipf(5, str(tmp_path))
    ref = Reference(w.docs)
    want = {"bm25": ref.bm25_topk, "phrase": ref.phrase_topk, "boolean": ref.boolean_topk}
    ops = w.rounds[0]
    for op in ops:
        op.result = want[op.kind](op.arg, 10)
    bad = next(op for op in ops if op.kind == "bm25" and len(op.result) > 1)
    bad.result = [bad.result[1], bad.result[0], *bad.result[2:]]
    w.gate()
    assert [op for op in ops if op.error] == [bad]


def test_batch_gate_checks_every_family_on_every_call(tmp_path):
    from perfbench.workloads import BatchUniform

    w = BatchUniform(5, str(tmp_path))
    w.rounds = w.rounds[:2]
    for op in (op for ops in w.rounds for op in ops):
        op.result = {qid: [(1, -1, 1.0)] for qid in op.arg}  # wrong everywhere
    w.gate()
    assert all(op.error for ops in w.rounds for op in ops)


def test_benchmark_json_matches_what_the_runner_prints():
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == (
        trace.per_layer_units() | {OVERHEAD: "ratio"}
    )
