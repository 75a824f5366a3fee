"""Tests for the benchmark's own pieces (no Spark session needed):
generator determinism, percentile/tail/self-time arithmetic, the
event-log fold, verification rejecting corrupted output, and
BENCHMARK.json staying in step with the metric lists.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import numpy as np
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import gen, metrics, stats, tracing, verify  # noqa: E402

SMALL = gen.FileWriterSpec(n_pv=4, msgs_per_pv=40, n_banks=1, pulses_per_bank=20,
                           events_per_pulse=20, n_side_sources=1, side_msgs=5)


# -- generators ---------------------------------------------------------------

def test_filewriter_generator_is_deterministic_per_seed(tmp_path):
    a, exp_a = gen.filewriter_messages(7, SMALL)
    b, exp_b = gen.filewriter_messages(7, SMALL)
    c, _ = gen.filewriter_messages(8, SMALL)
    assert a == b and exp_a == exp_b
    assert a != c
    gen.write_kafka_parquet(a, tmp_path / "a.parquet")
    gen.write_kafka_parquet(b, tmp_path / "b.parquet")
    assert (tmp_path / "a.parquet").read_bytes() == (tmp_path / "b.parquet").read_bytes()


def test_filewriter_generator_plants_what_it_promises():
    from kafka_to_nexus_spark.fbs import ess

    msgs, exp = gen.filewriter_messages(3, SMALL)
    assert exp["messages"] == len(msgs)
    assert exp["corrupt"] >= 2
    good, bad = gen.split_bad(msgs)
    assert len(bad) == exp["corrupt"] and len(good) + len(bad) == len(msgs)
    assert [m["offset"] for m in bad] == list(range(len(bad)))
    for m in bad:
        with pytest.raises((ValueError, KeyError)):
            ess.decode(m["value"])
    for m in good:
        ess.decode(m["value"])
    for part in range(SMALL.partitions):
        offsets = [m["offset"] for m in good if m["partition"] == part]
        assert sorted(offsets) == list(range(len(offsets)))
    for e in exp["f144"].values():
        times = [t for t, _ in e["log"]]
        assert times == sorted(times) and len(set(times)) == len(times)
        assert times[0] < exp["start_ms"] * gen.MS_TO_NS  # the as-of row


def test_expected_log_rule():
    start, stop = 100, 200
    ts = [90, 95, 100, 100, 150, 150, 150, 201]
    vals = [1, 2, 3, 4, 5, 6, 7, 8]
    # latest pre-start row, then in-window rows; a repeat of its
    # predecessor's timestamp is dropped; post-stop rows are out
    assert gen.expected_log(ts, vals, start, stop) == [
        (95 * gen.MS_TO_NS, 2.0), (100 * gen.MS_TO_NS, 3.0), (150 * gen.MS_TO_NS, 5.0)]


def test_microbatches_keep_the_given_order(tmp_path):
    import pyarrow.parquet as pq

    msgs, _ = gen.filewriter_messages(3, SMALL)
    good, bad = gen.split_bad(msgs)
    batches = gen.slice_batches(good, 3)
    assert [m for b in batches for m in b] == good
    paths = gen.write_microbatches(batches[:1] + [bad] + batches[1:], str(tmp_path))
    assert [Path(p).stat().st_mtime for p in paths] == sorted(
        Path(p).stat().st_mtime for p in paths)
    assert set(pq.read_table(paths[1]).column("topic").to_pylist()) == {gen.BAD_TOPIC}


@pytest.mark.xfail(strict=True, reason=(
    "engine defect: fbs._decode_batches builds the timestamp column through "
    "float64 when an Arrow batch holds an undecodable buffer, moving epoch-ns "
    "timestamps by up to 128 ns; the filewriter workload therefore reads "
    "gen.BAD_TOPIC as a partition of its own"))
def test_decode_keeps_epoch_ns_timestamps_beside_an_undecodable_buffer():
    import pandas as pd

    from kafka_to_nexus_spark.fbs import _decode_batches, ess

    ts_ms = 1_700_000_000_001  # ts_ms * 10**6 is not a multiple of 256
    rows = pd.DataFrame({
        "topic": ["motion", gen.BAD_TOPIC], "partition": [0, 0], "offset": [0, 0],
        "kafka_timestamp": [ts_ms, ts_ms],
        "value": [ess.encode_f144_double("pv", 1.0, ts_ms), b"\x01\x02"],
    })
    (out,) = list(_decode_batches([rows]))
    assert int(out["timestamp"].iloc[0]) == ts_ms * gen.MS_TO_NS


def test_admission_and_ann_generators_are_deterministic():
    spec = gen.AdmissionSpec(n_standing=50, n_batches=2, batch_docs=20, vocab=200)
    s1, b1, e1 = gen.admission_corpus(5, spec)
    s2, b2, e2 = gen.admission_corpus(5, spec)
    assert (s1, b1, e1) == (s2, b2, e2)
    assert e1["arrivals"] == 40
    ids = [i for b in b1 for i in b["doc_id"]]
    assert len(set(ids)) == len(ids) and min(ids) == spec.n_standing
    ann = gen.AnnSpec(n=200, dim=8, clusters=4, n_queries=3)
    v1, q1, x1 = gen.ann_embeddings(5, ann)
    v2, q2, x2 = gen.ann_embeddings(5, ann)
    assert np.array_equal(v1, v2) and np.array_equal(q1, q2) and np.array_equal(x1, x2)


def test_exact_topk_breaks_ties_to_lower_id():
    vecs = np.array([[1.0], [2.0], [2.0], [0.5]], dtype=np.float32)
    assert gen.exact_topk(vecs, np.array([[1.0]], dtype=np.float32), 3).tolist() == [[1, 2, 0]]


# -- arithmetic ---------------------------------------------------------------

def test_percentile_interpolates():
    assert stats.percentile([1, 2, 3, 4], 50) == 2.5
    assert stats.percentile([5], 90) == 5
    assert stats.percentile(range(101), 90) == 90


def test_tail_rule_keeps_ten_samples_beyond():
    assert stats.tail_percentile(100) == 90
    assert stats.tail_percentile(40) == 75
    assert stats.tail_percentile(20) == 50  # too few for a tail: the median
    value, q, n = stats.tail(list(range(1, 41)))
    assert (q, n) == (75, 40)
    assert sum(1 for x in range(1, 41) if x > value) >= 10


def test_self_time_subtracts_union_of_overlapping_children():
    # children overlap (thread pool) and one sticks out past the span
    assert stats.self_time((0, 10), [(1, 4), (3, 5), (8, 12)]) == pytest.approx(4)
    assert stats.self_time((0, 10), []) == 10
    assert stats.covered([(0, 1), (2, 3), (2.5, 4)]) == pytest.approx(3)


# -- tracing ------------------------------------------------------------------

def _ev(**kw):
    return json.dumps(kw)


def test_event_log_fold_attributes_jobs_to_spans():
    group = {tracing.GROUP_KEY: f"{tracing.GROUP_PREFIX}3"}
    lines = [
        _ev(Event="SparkListenerJobStart", **{"Job ID": 0, "Stage IDs": [0, 1],
            "Submission Time": 1000, "Properties": group}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 0, "Stage Attempt ID": 0,
            "Task Metrics": {"Executor Run Time": 200, "Executor CPU Time": 1e8,
                             "JVM GC Time": 10,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20}}}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 1, "Stage Attempt ID": 0,
            "Task Metrics": {"Executor Run Time": 300,
                             "Shuffle Read Metrics": {"Local Bytes Read": 2**20}}}),
        _ev(Event="SparkListenerJobStart", **{"Job ID": 1, "Stage IDs": [2],
            "Submission Time": 5000, "Properties": {}}),
        _ev(Event="SparkListenerTaskEnd", **{"Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 1000}}),
    ]
    totals, by_span = tracing.fold_event_log(lines, window_ms=(0, 2000))
    assert totals["jobs"] == 1 and totals["tasks"] == 2 and totals["stages"] == 2
    assert totals["executor_run_s"] == pytest.approx(0.5)
    assert totals["executor_cpu_s"] == pytest.approx(0.1)
    assert totals["shuffle_write_mb"] == pytest.approx(1)
    assert totals["shuffle_read_mb"] == pytest.approx(1)
    assert set(by_span) == {3} and by_span[3]["jobs"] == 1


class _FakeContext:
    def __init__(self):
        self.props = {}

    def getLocalProperty(self, key):
        return self.props.get(key)

    def setLocalProperty(self, key, value):
        self.props[key] = value


class _FakeSpark:
    def __init__(self):
        self.sparkContext = _FakeContext()


def test_tracer_parents_follow_the_thread_pool():
    import concurrent.futures
    import types

    tracer = tracing.Tracer(_FakeSpark())
    mod = types.SimpleNamespace(work=lambda x: x * 2)
    tracer.wrap(mod, "work", "layer.work")
    tracer.wrap_pools()
    try:
        tracer.enabled = True
        with tracer.span("outer") as outer:
            with concurrent.futures.ThreadPoolExecutor(2) as pool:
                assert sorted(pool.map(mod.work, [1, 2, 3])) == [2, 4, 6]
    finally:
        tracer.restore()
    assert concurrent.futures.ThreadPoolExecutor.__name__ == "ThreadPoolExecutor"
    works = tracer.by_name("layer.work")
    assert len(works) == 3 and all(s.parent == outer.id for s in works)
    assert tracer.sc.getLocalProperty(tracing.GROUP_KEY) is None
    assert tracer.self_time(outer) <= outer.duration


def test_disabled_tracer_records_nothing():
    import types

    tracer = tracing.Tracer(_FakeSpark())
    mod = types.SimpleNamespace(work=lambda: 1)
    tracer.wrap(mod, "work", "layer.work")
    assert mod.work() == 1 and tracer.spans == []
    tracer.restore()
    assert mod.work.__name__ == "<lambda>"


# -- verification ---------------------------------------------------------------

def _packed(tmp_path, spec, seed=1):
    """A NeXus file written from the generator's expectations with the
    package's own HDF5 writer, as the engine would write it."""
    from kafka_to_nexus_spark.sinks import hdf5lib

    _, exp = gen.filewriter_messages(seed, spec)
    path = tmp_path / "f.nxs"
    with hdf5lib.File(path, "w") as f:
        for src, e in exp["f144"].items():
            g = f.require_group(f"{verify.INSTRUMENT}/{src}")
            g.create_dataset("time", data=np.array([t for t, _ in e["log"]], dtype=np.int64))
            g.create_dataset("value", data=np.array([v for _, v in e["log"]]))
            for name, key in (("minimum_value", "min"), ("maximum_value", "max"),
                              ("average_value", "mean")):
                g.create_dataset(name, data=np.float64(e[key]))
        for schema, col in (("al00", "alarm_severity"), ("ep01", "connection_status")):
            for src, codes in exp[schema].items():
                f.require_group(f"{verify.INSTRUMENT}/{src}").create_dataset(
                    col, data=np.array(codes, dtype=np.int16))
        for src, e in exp["ev44"].items():
            g = f.require_group(f"{verify.INSTRUMENT}/{src}")
            g.create_dataset("event_time_zero", data=np.arange(e["pulses"], dtype=np.int64))
            g.create_dataset("event_index", data=np.linspace(
                0, e["events"] - 1, e["pulses"]).astype(np.int64))
            g.create_dataset("event_id", data=np.zeros(e["events"], dtype=np.int32))
    return str(path), exp


def test_verification_accepts_the_expected_file(tmp_path):
    path, exp = _packed(tmp_path, SMALL)
    assert verify.nexus_file(path, exp, exp["corrupt"]) == []


@pytest.mark.parametrize("corruption", ["time", "value", "mean", "events", "index", "d2"])
def test_verification_rejects_a_corrupted_output(tmp_path, corruption):
    from kafka_to_nexus_spark.sinks import hdf5lib

    path, exp = _packed(tmp_path, SMALL)
    errors = exp["corrupt"]
    src = next(iter(exp["f144"]))
    g = f"{verify.INSTRUMENT}/{src}"
    bank = f"{verify.INSTRUMENT}/{next(iter(exp['ev44']))}"
    # re-write the file with one planted fault
    with hdf5lib.File(path, "r") as f:
        data = {k: f[f"{g}/{k}"][()] for k in ("time", "value", "average_value")}
        ev = {k: f[f"{bank}/{k}"][()] for k in ("event_index", "event_id")}
    if corruption == "time":
        data["time"] = data["time"].copy()
        data["time"][1] += 128
    elif corruption == "value":
        data["value"] = data["value"][::-1].copy()
    elif corruption == "mean":
        data["average_value"] = np.float64(data["average_value"] + 1)
    elif corruption == "events":
        ev["event_id"] = ev["event_id"][:-1]
    elif corruption == "index":
        ev["event_index"] = ev["event_index"][::-1].copy()
    else:
        errors += 1
    with hdf5lib.File(path, "r") as f:
        nodes = {}

        def walk(grp, prefix):
            for name, child in grp.items():
                p = f"{prefix}/{name}"
                if hasattr(child, "keys"):
                    walk(child, p)
                else:
                    nodes[p] = child[()]

        walk(f, "")
    for k, v in data.items():
        nodes[f"{g}/{k}"] = v
    for k, v in ev.items():
        nodes[f"{bank}/{k}"] = v
    with hdf5lib.File(path, "w") as f:
        for p, v in nodes.items():
            f.create_dataset(p, data=v)
    assert verify.nexus_file(path, exp, errors) != []


def test_admission_and_recall_checks():
    exp = {"arrivals": 3, "exact_ids": [10], "near_ids": [11]}
    assert verify.admission({10: "exact_dup", 11: "admitted", 12: "quota"}, exp) == []
    assert verify.admission({10: "admitted", 11: "near_dup", 12: "quota"}, exp)
    assert verify.admission({10: "exact_dup", 11: "admitted"}, exp)
    exact = np.array([[1, 2], [3, 4]])
    r, bad = verify.recall([[1, 9], [3, 4]], exact, floor=0.5)
    assert r == 0.75 and bad == []
    assert verify.recall([[8, 9], [7, 6]], exact, floor=0.5)[1]


# -- configuration ----------------------------------------------------------------

def test_benchmark_json_matches_metric_lists():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layers == metrics.PER_LAYER
    from perfbench import workloads

    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert next(m for m in spec["end_to_end"] if m["name"] == "setup_s")["bound"] == max(
        m["bound"] for m in spec["end_to_end"])
