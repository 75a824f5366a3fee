"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its spec and seed: the same seed
gives byte-identical files. Inputs are written to disk before any timed
phase; the engine only ever reads those files. Each generator also returns
the expectations the verifier checks the engine's output against.

- ``filewriter_messages``: one instrument's Kafka traffic as binary
  FlatBuffers (f144 PVs with al00/ep01 side streams, ev44 event banks,
  planted pre-start, post-stop, repeated-timestamp and corrupt messages)
  in Kafka shape ``(topic, partition, offset, timestamp, value)``. The
  corrupt buffers arrive on a topic of their own (``BAD_TOPIC``): see
  ``filewriter_messages``.
- ``admission_corpus``: a standing document corpus plus arrival batches
  with planted exact copies, near copies and a skewed source mix.
- ``ann_embeddings``: a Gaussian-mixture embedding table and probe
  vectors, with the exact top-10 neighbours computed in numpy.
"""

from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MS_TO_NS = 1_000_000
KAFKA_SCHEMA = pa.schema([
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("offset", pa.int64()),
    ("timestamp", pa.timestamp("ms", tz="UTC")),
    ("value", pa.binary()),
])
# Spark DDL of KAFKA_SCHEMA, for streaming reads that need a schema.
KAFKA_DDL = "topic string, partition int, offset long, timestamp timestamp, value binary"
# The one-partition topic that carries the undecodable buffers.
BAD_TOPIC = "unregistered"


# ---------------------------------------------------------------------------
# File-writer traffic
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class FileWriterSpec:
    n_pv: int = 40
    msgs_per_pv: int = 40
    n_banks: int = 2
    pulses_per_bank: int = 60
    events_per_pulse: int = 400
    n_side_sources: int = 4  # PVs that also carry al00 + ep01 messages
    side_msgs: int = 12  # per side source and schema
    partitions: int = 4
    window_ms: int = 60_000
    pre_start: float = 0.05
    post_stop: float = 0.02
    repeats: float = 0.02
    corrupt: float = 0.005
    start_ms: int = 1_700_000_000_000


def partition_of(source: str, partitions: int) -> int:
    return zlib.crc32(source.encode()) % partitions


def nexus_structure(spec: FileWriterSpec) -> dict:
    """The job's nexus_structure: one NXlog per PV (f144, which also spawns
    the al00/ep01 side streams) and one NXevent_data per bank (ev44)."""
    pvs = [
        {
            "type": "group", "name": f"pv_{i:03d}",
            "attributes": [{"name": "NX_class", "values": "NXlog"}],
            "children": [{
                "module": "f144",
                "config": {"topic": "motion", "source": f"pv_{i:03d}",
                           "dtype": "double", "value_units": "mm"},
            }],
        }
        for i in range(spec.n_pv)
    ]
    banks = [
        {
            "type": "group", "name": f"bank_{b}",
            "attributes": [{"name": "NX_class", "values": "NXevent_data"}],
            "children": [{
                "module": "ev44",
                "config": {"topic": "detector", "source": f"bank_{b}"},
            }],
        }
        for b in range(spec.n_banks)
    ]
    return {"children": [{
        "type": "group", "name": "entry",
        "attributes": [{"name": "NX_class", "values": "NXentry"}],
        "children": [
            {"type": "group", "name": "instrument",
             "attributes": [{"name": "NX_class", "values": "NXinstrument"}],
             "children": pvs + banks},
        ],
    }]}


def _times(rng, n: int, spec: FileWriterSpec) -> tuple[np.ndarray, int, int]:
    """Sorted distinct ms timestamps for one source: ``n_pre`` before
    start, ``n_post`` after stop (within 5 s, inside the after-stop
    leeway) and the rest inside the window."""
    start, stop = spec.start_ms, spec.start_ms + spec.window_ms
    n_pre = max(1, round(n * spec.pre_start))
    n_post = max(1, round(n * spec.post_stop))
    n_in = n - n_pre - n_post
    pre = start - 1 - rng.choice(8_000, n_pre, replace=False)
    inside = start + rng.choice(spec.window_ms + 1, n_in, replace=False)
    post = stop + 1 + rng.choice(5_000, n_post, replace=False)
    return np.sort(np.concatenate([pre, inside, post])), n_pre, n_in


def _plant_repeats(rng, ts: np.ndarray, lo: int, hi: int, share: float) -> np.ndarray:
    """Give ~``share`` of the in-window messages in ``ts[lo:hi]`` the
    timestamp of their predecessor (never the first in-window one)."""
    ts = ts.copy()
    k = round((hi - lo) * share)
    if k and hi - lo > 2:
        for i in sorted(rng.choice(np.arange(lo + 1, hi), k, replace=False)):
            ts[i] = ts[i - 1]
    return ts


def expected_log(ts_ms, values, start_ms: int, stop_ms: int) -> list[tuple[int, float]]:
    """The f144 log the engine must write for one single-partition source,
    given its messages in offset order: the latest pre-start message (the
    as-of buffer), then the in-window messages, with a message dropped when
    its timestamp equals its predecessor's in that sequence."""
    pairs = list(zip((int(t) for t in ts_ms), (float(v) for v in values)))
    pre = [p for p in pairs if p[0] < start_ms]
    seq = ([max(pre, key=lambda p: p[0])] if pre else []) + [
        p for p in pairs if start_ms <= p[0] <= stop_ms
    ]
    out, prev = [], None
    for t, v in seq:
        if t != prev:
            out.append((t * MS_TO_NS, v))
        prev = t
    return out


def filewriter_messages(seed: int, spec: FileWriterSpec) -> tuple[list[dict], dict]:
    """(messages, expectations). A message is a dict with topic, partition,
    offset, ts_ms and the encoded value; offsets follow timestamp order
    within each partition.

    The corrupt buffers (short, or an unknown schema id) sit on
    ``BAD_TOPIC`` rather than among the PVs they would otherwise
    interleave with. The engine's decode (``fbs._decode_batches``) builds
    each Arrow batch's timestamp column through float64 when the batch
    holds an undecodable buffer, which moves epoch-ns timestamps by up to
    128 ns; the workloads read ``BAD_TOPIC`` as a Spark partition of its
    own, as the Kafka source reads each topic-partition, so the file
    contents stay checkable to the nanosecond. The benchmark's tests
    record that decode defect as an expected failure."""
    from kafka_to_nexus_spark.fbs import ess

    rng = np.random.default_rng(seed)
    start, stop = spec.start_ms, spec.start_ms + spec.window_ms
    msgs: list[tuple[str, int, int, int, bytes]] = []  # topic, part, ts, seq, value
    seq = 0
    exp: dict = {"f144": {}, "al00": {}, "ep01": {}, "ev44": {},
                 "start_ms": start, "stop_ms": stop}

    def add(topic, source, ts, value):
        nonlocal seq
        msgs.append((topic, partition_of(source, spec.partitions), int(ts), seq, value))
        seq += 1

    for i in range(spec.n_pv):
        src = f"pv_{i:03d}"
        ts, n_pre, n_in = _times(rng, spec.msgs_per_pv, spec)
        ts = _plant_repeats(rng, ts, n_pre, n_pre + n_in, spec.repeats)
        vals = np.round(rng.normal(100.0 + i, 5.0, len(ts)), 6)
        for t, v in zip(ts, vals):
            add("motion", src, t, ess.encode_f144_double(src, float(v), int(t)))
        log = expected_log(ts, vals, start, stop)
        v = [x for _, x in log]
        exp["f144"][src] = {"log": log, "min": min(v), "max": max(v),
                            "mean": sum(v) / len(v), "n_in_window": n_in}
    for i in range(spec.n_side_sources):
        src = f"pv_{i:03d}"
        for schema in ("al00", "ep01"):
            ts = start + np.sort(rng.choice(spec.window_ms + 1, spec.side_msgs, replace=False))
            codes = rng.integers(0, 3, spec.side_msgs)
            for t, c in zip(ts, codes):
                buf = (ess.encode_al00(src, int(t), int(c), "limit")
                       if schema == "al00" else ess.encode_ep01(src, int(c), int(t)))
                add("motion", src, t, buf)
            exp[schema][src] = [int(c) for c in codes]
    for b in range(spec.n_banks):
        src = f"bank_{b}"
        ts, n_pre, n_in = _times(rng, spec.pulses_per_bank, spec)
        n_events_in, pulses_in = 0, 0
        for j, t in enumerate(ts):
            n_ev = int(rng.integers(spec.events_per_pulse * 4 // 5,
                                    spec.events_per_pulse * 6 // 5 + 1))
            tof = rng.integers(0, 71_000_000, n_ev, dtype=np.int32).tolist()
            pix = rng.integers(0, 100_000, n_ev, dtype=np.int32).tolist()
            add("detector", src, t, ess.encode_ev44(
                src, j, [int(t) * MS_TO_NS], [0], tof, pix))
            if start <= t <= stop:
                n_events_in += n_ev
                pulses_in += 1
        exp["ev44"][src] = {"pulses": pulses_in, "events": n_events_in}

    n_corrupt = max(2, round(len(msgs) * spec.corrupt))
    bad = []
    for k in range(n_corrupt):
        t = start + int(rng.integers(0, spec.window_ms))
        if k % 2:  # shorter than a FlatBuffers header
            value = bytes(rng.integers(0, 256, int(rng.integers(1, 8)), dtype=np.uint8))
        else:  # well-formed buffer carrying an unknown schema id
            good = bytearray(ess.encode_f144_double("pv_000", 0.0, t))
            good[4:8] = b"zz99"
            value = bytes(good)
        bad.append((t, value))
    exp["corrupt"] = n_corrupt
    exp["messages"] = len(msgs) + n_corrupt

    msgs.sort(key=lambda m: (m[1], m[2], m[3]))
    out, offsets = [], [0] * spec.partitions
    for topic, part, ts, _seq, value in msgs:
        out.append({"topic": topic, "partition": part, "offset": offsets[part],
                    "ts_ms": ts, "value": value})
        offsets[part] += 1
    bad.sort(key=lambda b: b[0])
    out.extend({"topic": BAD_TOPIC, "partition": 0, "offset": i, "ts_ms": t, "value": v}
               for i, (t, v) in enumerate(bad))
    out.sort(key=lambda m: (m["ts_ms"], m["topic"], m["partition"], m["offset"]))
    return out, exp


def split_bad(messages: list[dict]) -> tuple[list[dict], list[dict]]:
    """(decodable traffic, the ``BAD_TOPIC`` messages), each in order."""
    return ([m for m in messages if m["topic"] != BAD_TOPIC],
            [m for m in messages if m["topic"] == BAD_TOPIC])


def write_kafka_parquet(messages: list[dict], path: str) -> None:
    table = pa.table({
        "topic": [m["topic"] for m in messages],
        "partition": pa.array([m["partition"] for m in messages], pa.int32()),
        "offset": pa.array([m["offset"] for m in messages], pa.int64()),
        "timestamp": pa.array([m["ts_ms"] for m in messages], pa.timestamp("ms", tz="UTC")),
        "value": pa.array([m["value"] for m in messages], pa.binary()),
    }, schema=KAFKA_SCHEMA)
    pq.write_table(table, path)


def slice_batches(messages: list[dict], n_batches: int) -> list[list[dict]]:
    """The time-ordered traffic cut into ``n_batches`` consecutive slices."""
    bounds = np.linspace(0, len(messages), n_batches + 1).astype(int)
    return [messages[bounds[i]:bounds[i + 1]] for i in range(n_batches)]


def write_microbatches(batches: list[list[dict]], directory: str) -> list[str]:
    """One file per batch, named and stamped so a file stream source reads
    them in the given order."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    for i, batch in enumerate(batches):
        p = os.path.join(directory, f"batch-{i:04d}.parquet")
        write_kafka_parquet(batch, p)
        os.utime(p, (1_600_000_000 + i, 1_600_000_000 + i))
        paths.append(p)
    return paths


# ---------------------------------------------------------------------------
# Admission corpus
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class AdmissionSpec:
    n_standing: int = 3000
    n_sources: int = 50
    n_batches: int = 3
    batch_docs: int = 120
    exact_share: float = 0.15
    near_share: float = 0.15
    hot_share: float = 0.4  # arrivals from the one hot source
    vocab: int = 3000
    doc_words: tuple[int, int] = (25, 45)


def _vocabulary(rng, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, int(rng.integers(3, 10)))))
    return sorted(words)


def admission_corpus(seed: int, spec: AdmissionSpec) -> tuple[dict, list[dict], dict]:
    """(standing, arrival batches, expectations). Frames are column dicts
    ``doc_id, source, text``; doc ids are unique across both."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, spec.vocab)
    weights = 1.0 / np.arange(1, spec.vocab + 1)
    weights /= weights.sum()

    def text() -> str:
        n = int(rng.integers(*spec.doc_words))
        return " ".join(vocab[i] for i in rng.choice(spec.vocab, n, p=weights))

    standing = {
        "doc_id": list(range(spec.n_standing)),
        "source": [f"src_{int(s):02d}" for s in rng.integers(0, spec.n_sources, spec.n_standing)],
        "text": [text() for _ in range(spec.n_standing)],
    }
    batches, exact_ids, near_ids = [], [], []
    next_id = spec.n_standing
    for _ in range(spec.n_batches):
        b = {"doc_id": [], "source": [], "text": []}
        for _ in range(spec.batch_docs):
            u = rng.random()
            if u < spec.exact_share:
                t = standing["text"][int(rng.integers(spec.n_standing))]
                exact_ids.append(next_id)
            elif u < spec.exact_share + spec.near_share:
                words = standing["text"][int(rng.integers(spec.n_standing))].split()
                for pos in rng.choice(len(words), int(rng.integers(1, 3)), replace=False):
                    words[pos] = vocab[int(rng.integers(spec.vocab))]
                t = " ".join(words)
                near_ids.append(next_id)
            else:
                t = text()
            hot = rng.random() < spec.hot_share
            b["doc_id"].append(next_id)
            b["source"].append("src_hot" if hot else f"src_{int(rng.integers(spec.n_sources)):02d}")
            b["text"].append(t)
            next_id += 1
        batches.append(b)
    exp = {"arrivals": spec.n_batches * spec.batch_docs,
           "exact_ids": exact_ids, "near_ids": near_ids}
    return standing, batches, exp


def write_docs_parquet(frame: dict, path: str) -> None:
    pq.write_table(pa.table({
        "doc_id": pa.array(frame["doc_id"], pa.int64()),
        "source": pa.array(frame["source"], pa.string()),
        "text": pa.array(frame["text"], pa.string()),
    }), path)


# ---------------------------------------------------------------------------
# ANN embeddings
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class AnnSpec:
    n: int = 400
    dim: int = 32
    clusters: int = 32
    n_queries: int = 16
    topk: int = 10


def ann_embeddings(seed: int, spec: AnnSpec) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(vectors [n, dim] float32, queries [q, dim] float32, exact top-k ids
    [q, topk]) — the exact neighbours by max inner product, ties to the
    lower id, matching the index's scoring direction."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(0.0, 1.0, (spec.clusters, spec.dim))
    labels = rng.integers(0, spec.clusters, spec.n)
    vecs = (centres[labels] + rng.normal(0.0, 0.35, (spec.n, spec.dim))).astype(np.float32)
    q_labels = rng.integers(0, spec.clusters, spec.n_queries)
    queries = (centres[q_labels] + rng.normal(0.0, 0.35, (spec.n_queries, spec.dim))).astype(np.float32)
    return vecs, queries, exact_topk(vecs, queries, spec.topk)


def exact_topk(vecs: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    scores = queries.astype(np.float64) @ vecs.astype(np.float64).T
    ids = np.arange(vecs.shape[0])
    return np.array([np.lexsort((ids, -row))[:k] for row in scores])


def write_embeddings_parquet(vecs: np.ndarray, path: str) -> None:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(vecs.shape[0]), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
    }), path)
