"""The benchmark's workloads. Each drives the engine only through its
public calls, on inputs the seeded generators wrote to disk beforehand,
and checks its own output.

- ``filewriter``: one instrument's traffic through the file-maker path
  (decode → ``runner.run_job`` → ``sinks.hdf5.pack``, repeated), then the
  same traffic live: a file stream of micro-batches through
  ``StreamingJob.process_batch`` with snapshots, ``finalize`` and ``pack``.
- ``llm``: the training-data layouts: Bloom and near-dup admission
  layouts, the admission stream over arrival micro-batches, then an
  IVF-PQ index build and closed-loop single-query probes.

A workload is a class with ``generate`` (inputs and expectations from the
seed), ``warm_up`` and ``measure``; ``measure`` fills an ``Outcome``.
"""

from __future__ import annotations

import os
import statistics
from contextlib import nullcontext
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np

from . import envpin, gen, stats, verify


@dataclass
class Outcome:
    e2e: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list = field(default_factory=list)

    def attempt(self, what: str, problems: list[str] | None = None, n: int = 1) -> None:
        """Count ``n`` operations; the batch fails when ``problems`` is
        non-empty."""
        self.attempted += n
        if problems:
            self.failed += n
            self.failures.extend(f"{what}: {p}" for p in problems)


def _dir_stats(path: str) -> tuple[int, float]:
    files = [p for p in Path(path).rglob("*.parquet") if p.is_file()]
    return len(files), sum(p.stat().st_size for p in files) / 2**20


def _dir_mb(*paths: str) -> float:
    return sum(p.stat().st_size for d in paths for p in Path(d).rglob("*") if p.is_file()) / 2**20


def _median(xs, default=0.0) -> float:
    return statistics.median(xs) if xs else default


def _progress(query) -> list[dict]:
    """Progress of the triggers that carried data, in order."""
    return [p for p in query.recentProgress if p["numInputRows"] > 0]


def _progress_layers(progress: list[dict]) -> dict:
    out = {}
    for key in ("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit"):
        out[f"streaming.progress.{key}_ms"] = _median(
            [p["durationMs"].get(key, 0) for p in progress[1:]])
    return out


def descendant_jobs(tracer, spark_by_span: dict, root) -> int:
    """Spark jobs of ``root`` and of every span below it."""
    children: dict = {}
    for s in tracer.spans:
        children.setdefault(s.parent, []).append(s)
    todo, jobs = [root], 0
    while todo:
        s = todo.pop()
        jobs += spark_by_span.get(s.id, {}).get("jobs", 0)
        todo.extend(children.get(s.id, []))
    return jobs


# ---------------------------------------------------------------------------
# filewriter
# ---------------------------------------------------------------------------

class FileWriter:
    spec = gen.FileWriterSpec()
    # the live stream carries a smaller instrument: its cost is per micro-batch
    live_spec = gen.FileWriterSpec(n_pv=10, msgs_per_pv=40, n_banks=1, pulses_per_bank=40,
                                   events_per_pulse=400, n_side_sources=2, side_msgs=10)
    live_batches = 7  # time slices; the bad-topic buffers are one more micro-batch
    # snapshots after batches 3 and 6; the bad-topic batch (the 4th) writes
    # nothing, and a batch that writes nothing never snapshots
    snapshot_every = 3
    batch_share = 0.3  # of the measured seconds spent on repeated batch jobs
    # C1-only JIT: with the default tiered JIT the live triggers were still
    # speeding up after 25 triggers (p50 2.3 s, then 1.8 s, then 1.4 s over
    # three streams in one JVM), so a run measured wherever C2 had got to.
    # C1 settles within the warm-up (1.8 s from the first stream on), about
    # 30% above the fully warmed C2 figure.
    jvm_opts = "-XX:TieredStopAtLevel=1"

    def __init__(self, spark, dirs, seed: int) -> None:
        self.spark, self.dirs, self.seed = spark, dirs, seed

    def generate(self, tag: str) -> None:
        """The batch traffic as two files (decodable traffic, and the
        ``gen.BAD_TOPIC`` buffers); the live traffic as ``live_batches``
        time slices with the ``BAD_TOPIC`` buffers as one more micro-batch
        in the middle of the sequence."""
        msgs, self.exp = gen.filewriter_messages(self.seed, self.spec)
        good, bad = gen.split_bad(msgs)
        self.kafka = ([self.dirs.path(tag, "traffic.parquet")], self.dirs.path(tag, "bad.parquet"))
        os.makedirs(self.dirs.path(tag), exist_ok=True)
        gen.write_kafka_parquet(good, self.kafka[0][0])
        gen.write_kafka_parquet(bad, self.kafka[1])
        self.payload_mb = sum(len(m["value"]) for m in msgs) / 2**20
        live, self.live_exp = gen.filewriter_messages(self.seed, self.live_spec)
        good, bad = gen.split_bad(live)
        batches = gen.slice_batches(good, self.live_batches)
        mid = self.live_batches // 2
        self.live_dir = self.dirs.path(tag, "live")
        files = gen.write_microbatches(batches[:mid] + [bad] + batches[mid:], self.live_dir)
        self.live_kafka = (files[:mid] + files[mid + 1:], files[mid])

    def read_traffic(self, files):
        """Kafka rows of ``(decodable files, bad-topic file)``: the bad
        topic is its own Spark partition, as it would be under the Kafka
        source, which reads each topic-partition as one."""
        good, bad = files
        return self.spark.read.parquet(*good).unionByName(self.spark.read.parquet(bad))

    def fingerprint(self) -> str:
        return repr((self.exp, self.live_exp))

    def _start(self, spec, exp):
        from kafka_to_nexus_spark.plan import StartMessage

        return StartMessage(
            job_id="perfbench", filename="perfbench.nxs",
            nexus_structure=gen.nexus_structure(spec),
            start_time_ms=exp["start_ms"], stop_time_ms=exp["stop_ms"])

    def batch_job(self, name: str, live_traffic: bool = False):
        """StartMessage → closed NeXus file; returns (result, file, wall)."""
        from kafka_to_nexus_spark import fbs, runner
        from kafka_to_nexus_spark.sinks import hdf5

        out, hdf = self.dirs.path("jobs", name), self.dirs.path("jobs", f"{name}.nxs")
        src, start = ((self.live_kafka, self._start(self.live_spec, self.live_exp)) if live_traffic
                      else (self.kafka, self._start(self.spec, self.exp)))
        t0 = time.perf_counter()
        messages = fbs.decode_kafka_flatbuffers(self.read_traffic(src))
        res = runner.run_job(self.spark, start, messages, out)
        t1 = time.perf_counter()
        hdf5.pack(out, hdf)
        t2 = time.perf_counter()
        return res, hdf, {"job": t2 - t0, "run_job": t1 - t0, "pack": t2 - t1}

    def warm_up(self, tracer=None) -> None:
        """One untraced file-maker job over the (smaller) live traffic."""
        if tracer is not None:
            tracer.enabled = False
        self.batch_job("warmup", live_traffic=True)

    def live_job(self):
        """The same traffic as a live stream; returns (job, query, file, walls)."""
        from kafka_to_nexus_spark import fbs
        from kafka_to_nexus_spark.sinks import hdf5
        from kafka_to_nexus_spark.streaming import job as streaming_job

        out = self.dirs.path("live", "staged")
        final = self.dirs.path("live", "final.nxs")
        t0 = time.perf_counter()
        job = streaming_job.StreamingJob(
            self.spark, self._start(self.live_spec, self.live_exp), out)
        job.enable_snapshots(self.dirs.path("live", "snapshot.nxs"), self.snapshot_every)
        source = (self.spark.readStream.schema(gen.KAFKA_DDL)
                  .option("maxFilesPerTrigger", 1).parquet(self.live_dir))
        query = (fbs.decode_kafka_flatbuffers(source).writeStream
                 .option("checkpointLocation", self.dirs.path("live", "checkpoint"))
                 .trigger(availableNow=True)
                 .foreachBatch(job.process_batch).start())
        query.awaitTermination()
        t1 = time.perf_counter()
        job.finalize()
        hdf5.pack(out, final)
        t2 = time.perf_counter()
        return job, query, final, {"stream": t1 - t0, "finalize": t2 - t1, "total": t2 - t0}

    def measure(self, seconds: float, tracer=None) -> Outcome:
        o = Outcome()
        n_msgs = self.exp["messages"]
        t_start = time.perf_counter()
        walls, traced_walls, untraced_walls, last = [], [], [], None
        while len(walls) < 2 or (time.perf_counter() - t_start < self.batch_share * seconds
                                 and len(walls) < 8):
            traced = tracer is not None and len(walls) % 2 == 1
            if tracer is not None:
                tracer.enabled = traced
            try:
                with (tracer.span("workload.batch_job") if tracer else nullcontext()):
                    res, hdf, w = self.batch_job(f"rep{len(walls)}")
                last = (res, hdf)
                problems = verify.nexus_file(hdf, self.exp, res.metrics["flatbuffer_errors"])
            except Exception as exc:  # noqa: BLE001 - a failed job is counted, not fatal
                w, problems = {"job": time.perf_counter() - t_start}, [repr(exc)]
            o.attempt(f"batch job {len(walls)}", problems)
            walls.append(w)
            (traced_walls if traced else untraced_walls).append(w["job"])
        if tracer is not None:
            tracer.enabled = True
        try:
            job, query, final, live = self.live_job()
            progress = _progress(query)
            problems = verify.nexus_file(final, self.live_exp,
                                         job.state.metrics["flatbuffer_errors"])
            if len(progress) != self.live_batches + 1:
                problems.append(f"{len(progress)} triggers for {self.live_batches + 1} files")
        except Exception as exc:  # noqa: BLE001
            progress, live, problems = [], {}, [repr(exc)]
        o.attempt("live job", problems, n=max(1, len(progress)))

        job_s = _median([w["job"] for w in walls if "run_job" in w], float("nan"))
        trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress[1:]]
        o.e2e = {
            "job_s": job_s,
            "msgs_per_s": n_msgs / job_s,
            "docs_per_s": self.live_exp["messages"] / live["stream"] if live else 0.0,
            "batch_latency_p50_s": _median(trig, float("nan")),
        }
        tail = stats.tail(trig) if trig else (float("nan"), 0, 0)
        o.detail = {
            "batch_jobs": len(walls),
            "job_s_all": [round(w["job"], 4) for w in walls],
            "pack_s": _median([w.get("pack", 0) for w in walls]),
            "finalize_s": live.get("finalize", float("nan")),
            "live_stream_s": live.get("stream", float("nan")),
            "batch_latency_tail_s": {"value": tail[0], "percentile": tail[1], "samples": tail[2]},
            "batch_latency_all": trig,
            "messages": n_msgs,
            "live_messages": self.live_exp["messages"],
        }
        if tracer is not None:
            o.layers = self._layers(tracer, last, progress, traced_walls, untraced_walls)
        return o

    # -- traced run -----------------------------------------------------------

    def extra_passes(self, tracer) -> dict:
        """Decode-only and window-only passes, timed as their own spans."""
        from pyspark.sql import functions as F

        from kafka_to_nexus_spark import fbs
        from kafka_to_nexus_spark.operators import filters, quality

        start_ns = self.exp["start_ms"] * gen.MS_TO_NS
        stop_ns = self.exp["stop_ms"] * gen.MS_TO_NS
        decoded = fbs.decode_kafka_flatbuffers(self.read_traffic(self.kafka))
        with tracer.span("fbs.decode_pass") as s_dec:
            row = decoded.agg(F.count(F.lit(1)).alias("n"),
                              F.sum(F.col("schema").isNull().cast("int")).alias("bad")).collect()[0]
        with tracer.span("operators.window_pass") as s_win:
            valid = quality.valid_only(quality.with_error_code(decoded))
            windowed = filters.with_asof_buffer(valid, start_ns, stop_ns).persist()
            w = windowed.agg(F.count(F.lit(1)).alias("n"),
                             F.sum(F.col("is_buffered_message").cast("int")).alias("buf")).collect()[0]
        keyed = windowed.filter(F.col("schema") != "ev44")
        dropped = keyed.count() - filters.drop_repeated_timestamps(keyed).count()
        windowed.unpersist()
        planted = self._planted_repeats()
        return {
            "fbs.decode_s": s_dec.duration, "fbs.msgs": row["n"],
            "fbs.payload_mb": self.payload_mb, "fbs.invalid": row["bad"],
            "operators.window_s": s_win.duration, "operators.rows_in": row["n"],
            "operators.rows_windowed": w["n"], "operators.rows_buffered": w["buf"],
            "operators.rows_repeated_dropped": dropped,
            "_checks": ([] if row["bad"] == self.exp["corrupt"] else
                        [f"decode pass: {row['bad']} invalid, planted {self.exp['corrupt']}"])
            + ([] if dropped == planted else
               [f"window pass: {dropped} repeats dropped, planted {planted}"]),
        }

    def _planted_repeats(self) -> int:
        """Messages the F4 drop must remove: per f144 source, the buffered
        row plus the in-window messages, less the rows of the expected log."""
        return sum(e["n_in_window"] + 1 - len(e["log"]) for e in self.exp["f144"].values())

    def _layers(self, tracer, last, progress, traced_walls, untraced_walls) -> dict:
        from kafka_to_nexus_spark.sinks import hdf5

        m: dict = {}
        runs = tracer.by_name("runner.run_job")
        m["runner.run_job_s"] = _median([s.duration for s in runs])
        m["runner.self_s"] = _median([tracer.self_time(s) for s in runs])
        per_rep = [[s for s in tracer.spans if s.end and r.start <= s.start and s.end <= r.end]
                   for r in tracer.by_name("workload.batch_job")]

        def per_job(name_prefix, agg):
            vals = []
            for kids in per_rep:
                spans = [s for s in kids if s.name.startswith(name_prefix)]
                vals.append(agg(spans))
            return _median(vals)

        m["plan.build_s"] = per_job("plan.", lambda ss: sum(s.duration for s in ss))
        m["modules.aggregates_s"] = per_job(
            "modules.aggregates", lambda ss: stats.covered([(s.start, s.end) for s in ss]))
        m["sinks.staging.write_s"] = per_job(
            "sinks.staging.write", lambda ss: stats.covered([(s.start, s.end) for s in ss]))
        m["sinks.staging.calls"] = per_job("sinks.staging.write", len)
        m["sinks.hdf5.pack_s"] = per_job("sinks.hdf5.pack", lambda ss: sum(s.duration for s in ss))
        if last is not None:
            res, hdf = last
            m["plan.streams"] = len(res.plan.streams)
            m["sinks.staging.files"], m["sinks.staging.mb"] = _dir_stats(res.out_dir)
            m["modules.rows_out"] = _staged_rows(res.out_dir)
            m["sinks.hdf5.file_mb"] = os.path.getsize(hdf) / 2**20
            m["sinks.hdf5.datasets"] = _count_datasets(hdf)
        m["sinks.hdf5.backend_h5py"] = float(envpin.hdf5_backend(hdf5) == "h5py")
        snaps = tracer.by_name("streaming.job.snapshot")
        m["sinks.hdf5.snapshot_p50_s"] = _median([s.duration for s in snaps])
        m["sinks.hdf5.snapshot_sum_s"] = sum(s.duration for s in snaps)
        m["sinks.hdf5.snapshots"] = len(snaps)
        batches = tracer.by_name("streaming.job.process_batch")
        m["streaming.job.process_batch_s"] = _median([s.duration for s in batches[1:]])
        m["streaming.job.finalize_s"] = sum(s.duration for s in tracer.by_name("streaming.job.finalize"))
        m["streaming.job.batches"] = len(batches)
        m["_process_batch_spans"] = batches
        m.update(_progress_layers(progress))
        m["trace.overhead_s"] = _median(traced_walls) - _median(untraced_walls)
        return m


def _staged_rows(out_dir: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(p).metadata.num_rows
               for p in Path(out_dir).rglob("*.parquet") if p.is_file())


def _count_datasets(path: str) -> int:
    h5 = verify._h5()
    n = 0

    def walk(g):
        nonlocal n
        for _name, child in g.items():
            if hasattr(child, "keys"):
                walk(child)
            else:
                n += 1

    with h5.File(path, "r") as f:
        walk(f)
    return n


# ---------------------------------------------------------------------------
# llm
# ---------------------------------------------------------------------------

def train_ivf_pq(emb, coarse_k: int, m: int, k: int, n_iter: int = 1):
    """The trainer calls ``queries._ivf_pq_layout`` makes: coarse k-means,
    then PQ codebooks on the residuals. Kept in one place so that swapping
    the trainer implementation changes this function only."""
    from pyspark.sql import functions as F

    from kafka_to_nexus_spark.llm import similarity as sim

    coarse = sim.kmeans_train_portable(emb, k=coarse_k, n_iter=n_iter)
    ordered = sorted(coarse)
    cid_col = sim.pq_code_col("CAST(embedding AS ARRAY<DOUBLE>)", [coarse])[0]
    cent_map = F.map_from_arrays(
        sim.lit_longs([cid for cid, _ in ordered]),
        F.array(*[sim.lit_doubles(c) for _, c in ordered]),
    )
    resid = emb.select(
        F.col("vec_id"),
        F.zip_with(F.col("embedding").cast("array<double>"),
                   F.element_at(cent_map, cid_col), lambda x, c: x - c).alias("embedding"),
    )
    books = sim.pq_train_portable(resid, m=m, k=k, n_iter=n_iter)
    return coarse, books


class Llm:
    adm_spec = gen.AdmissionSpec()
    ann_spec = gen.AnnSpec()
    quota, tau = 10, 0.5
    jvm_opts = ""  # C1-only made the layout builds and triggers slower, no steadier
    coarse_k, probes, pq_m, pq_k = 8, 2, 4, 16
    recall_floor = 0.5
    # passes over the probe vectors: the first warms the probe path up
    # (probe latency falls by a third over the first pass in a fresh JVM)
    # and gives recall; the second is timed
    probe_rounds = 2

    def __init__(self, spark, dirs, seed: int) -> None:
        self.spark, self.dirs, self.seed = spark, dirs, seed

    def generate(self, tag: str) -> None:
        standing, batches, self.adm_exp = gen.admission_corpus(self.seed, self.adm_spec)
        base = self.dirs.path(tag)
        os.makedirs(os.path.join(base, "arrivals"), exist_ok=True)
        self.standing = os.path.join(base, "standing.parquet")
        gen.write_docs_parquet(standing, self.standing)
        self.arrivals = os.path.join(base, "arrivals")
        for i, b in enumerate(batches):
            p = os.path.join(self.arrivals, f"batch-{i:04d}.parquet")
            gen.write_docs_parquet(b, p)
            os.utime(p, (1_600_000_000 + i, 1_600_000_000 + i))
        vecs, self.queries, self.exact = gen.ann_embeddings(self.seed, self.ann_spec)
        self.emb = os.path.join(base, "embeddings.parquet")
        gen.write_embeddings_parquet(vecs, self.emb)

    def fingerprint(self) -> str:
        return repr((self.adm_exp, self.exact.tolist()))

    def warm_up(self, tracer=None) -> None:
        """Build the stored layouts the serving side reads: the Bloom and
        near-dup admission layouts, then the IVF-PQ index. A deployment
        builds them once, cold, before serving, so they are set-up here;
        their times are reported in the details."""
        from pyspark.sql import functions as F

        from kafka_to_nexus_spark.llm import dedup
        from kafka_to_nexus_spark.llm import similarity as sim

        if tracer is not None:
            tracer.enabled = True
        self.bloom, self.nd = self.dirs.path("adm", "bloom"), self.dirs.path("adm", "neardup")
        t0 = time.perf_counter()
        standing = self.spark.read.parquet(self.standing)
        dedup.write_bloom_layout(standing.select(F.md5("text").alias("_fp")), self.bloom, "_fp",
                                 k=4, bits_per_key=6)
        dedup.write_neardup_banding_layout(standing, self.nd)
        t1 = time.perf_counter()
        emb = self.spark.read.parquet(self.emb)
        self.coarse, self.books = train_ivf_pq(emb, self.coarse_k, self.pq_m, self.pq_k)
        self.layout = self.dirs.path("ann", "layout")
        sim.write_ivf_pq_layout(emb, self.coarse, self.books, self.layout)
        t2 = time.perf_counter()
        self.build_s = {"admission": t1 - t0, "ann": t2 - t1}
        self.layout_mb = _dir_mb(self.bloom, self.nd)

    def measure(self, seconds: float, tracer=None) -> Outcome:
        """Fixed work (``seconds`` is not used): the admission stream, then
        the probe passes."""
        from kafka_to_nexus_spark.llm import similarity as sim
        from kafka_to_nexus_spark.streaming import stateful

        o = Outcome()
        if tracer is not None:
            tracer.enabled = True
        decisions = self.dirs.path("adm", "decisions")
        t0 = time.perf_counter()
        source = (self.spark.readStream.schema("doc_id long, source string, text string")
                  .option("maxFilesPerTrigger", 1).parquet(self.arrivals))
        query = stateful.admission_stream(
            source, self.bloom, self.nd, decisions, self.dirs.path("adm", "checkpoint"),
            quota=self.quota, tau=self.tau)
        try:
            query.processAllAvailable()
        finally:
            query.stop()
            if query._admission_session is not None:
                query._admission_session.close()
        stream_s = time.perf_counter() - t0
        progress = _progress(query)
        rows = self.spark.read.parquet(decisions).select("doc_id", "stage").collect()
        dec = {r["doc_id"]: r["stage"] for r in rows}
        o.attempt("admission", verify.admission(dec, self.adm_exp), n=self.adm_exp["arrivals"])

        lat, found, traced_lat, untraced_lat = [], [], [], []
        for rnd in range(self.probe_rounds):
            if rnd == 1:
                t_probe = time.perf_counter()
            for i, q in enumerate(self.queries):
                traced = tracer is not None and i % 2 == 1
                if tracer is not None:
                    tracer.enabled = traced
                a = time.perf_counter()
                try:
                    with (tracer.span("llm.similarity.probe") if tracer else nullcontext()):
                        hits = sim.ivf_pq_stored_probe(
                            self.spark, self.layout, self.coarse, self.books, q.tolist(),
                            probes=self.probes, topk=self.ann_spec.topk).collect()
                    problems = []
                except Exception as exc:  # noqa: BLE001 - a failed probe is counted
                    hits, problems = [], [repr(exc)]
                d = time.perf_counter() - a
                o.attempt(f"probe {i}", problems)
                if rnd == 0:
                    found.append([r["vec_id"] for r in hits])
                    continue
                lat.append(d)
                (traced_lat if traced else untraced_lat).append(d)
        probe_loop_s = time.perf_counter() - t_probe
        if tracer is not None:
            tracer.enabled = True
        recall, problems = verify.recall(found, self.exact, self.recall_floor)
        o.failures.extend(f"ann: {p}" for p in problems)

        trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress[1:]]
        o.e2e = {
            "job_s": _median(lat, float("nan")),
            "msgs_per_s": len(lat) / probe_loop_s,
            "docs_per_s": self.adm_exp["arrivals"] / stream_s,
            "batch_latency_p50_s": _median(trig, float("nan")),
        }
        b_tail, q_tail = stats.tail(trig), stats.tail(lat)
        o.detail = {
            "layout_build_s": self.build_s,
            "admission_stream_s": stream_s,
            "batch_latency_tail_s": {"value": b_tail[0], "percentile": b_tail[1],
                                     "samples": b_tail[2]},
            "batch_latency_all": trig,
            "query_latency_p50_s": _median(lat),
            "query_latency_all": [round(x, 4) for x in lat],
            "query_latency_tail_s": {"value": q_tail[0], "percentile": q_tail[1],
                                     "samples": q_tail[2]},
            "recall_at_10": recall,
            "stages": {s: sum(1 for v in dec.values() if v == s)
                       for s in ("admitted", "exact_dup", "near_dup", "quota")},
        }
        if tracer is not None:
            st = o.detail["stages"]
            folds = tracer.by_name("streaming.stateful.admit_and_fold")

            def total(*names):
                return sum(s.duration for n in names for s in tracer.by_name(n))

            m = {
                "llm.dedup.write_bloom_layout_s": total("llm.dedup.write_bloom_layout"),
                "llm.dedup.write_neardup_banding_layout_s": total(
                    "llm.dedup.write_neardup_banding_layout"),
                "llm.dedup.layout_mb": self.layout_mb,
                "llm.similarity.train_s": total("llm.similarity.kmeans_train_portable",
                                                "llm.similarity.pq_train_portable"),
                "llm.similarity.write_layout_s": total("llm.similarity.write_ivf_pq_layout"),
                "llm.similarity.probe_s": _median(
                    [s.duration for s in tracer.by_name("llm.similarity.probe")]),
                "llm.similarity.rows_scanned_per_query": self._rows_scanned(),
                "streaming.stateful.admit_and_fold_s": _median([s.duration for s in folds[1:]]),
                "streaming.stateful.admitted": st["admitted"],
                "streaming.stateful.exact_dup": st["exact_dup"],
                "streaming.stateful.near_dup": st["near_dup"],
                "streaming.stateful.quota": st["quota"],
                "streaming.stateful.admit_ratio": st["admitted"] / max(1, len(dec)),
                "trace.overhead_s": _median(traced_lat) - _median(untraced_lat),
                "_fold_spans": folds,
            }
            m.update(_progress_layers(progress))
            o.layers = m
        return o

    def _rows_scanned(self) -> float:
        """Mean rows in the lists each probe reads (the probe rule: the
        ``probes`` centroids with the largest dot product)."""
        sizes = {}
        for d in Path(self.layout).glob("list_id=*"):
            sizes[int(d.name.split("=", 1)[1])] = _staged_rows(str(d))
        cids = np.array([c for c, _ in sorted(self.coarse)])
        cents = np.array([v for _, v in sorted(self.coarse)])
        scanned = []
        for q in self.queries:
            order = np.lexsort((cids, -(cents @ q.astype(np.float64))))
            scanned.append(sum(sizes.get(int(cids[j]), 0) for j in order[:self.probes]))
        return float(np.mean(scanned))


def instrument(tracer) -> None:
    """Wrap each layer's public functions (module or class attributes)."""
    from kafka_to_nexus_spark import fbs, modules, runner
    from kafka_to_nexus_spark.llm import dedup, similarity
    from kafka_to_nexus_spark.operators import filters, quality
    from kafka_to_nexus_spark.sinks import hdf5, staging
    from kafka_to_nexus_spark.streaming import job as streaming_job
    from kafka_to_nexus_spark.streaming import stateful

    wrap = tracer.wrap
    tracer.wrap_pools()
    tracer.patch_module_pools(runner)
    wrap(fbs, "decode_kafka_flatbuffers", "fbs.decode_kafka_flatbuffers")
    for owner in (runner, streaming_job):
        wrap(owner, "build_plan", "plan.build_plan")
    for fn in ("with_error_code", "valid_only", "observe_stream_metrics"):
        wrap(quality, fn, f"operators.{fn}")
    for fn in ("with_asof_buffer", "window_filter", "source_filter", "drop_repeated_timestamps"):
        wrap(filters, fn, f"operators.{fn}")
    wrap(runner, "run_job", "runner.run_job")
    for mod in {id(m): m for m in modules.REGISTRY.values()}.values():
        if hasattr(mod, "transform"):
            wrap(mod, "transform", "modules.transform")
        if hasattr(mod, "aggregates"):
            wrap(mod, "aggregates", "modules.aggregates",
                 on_result=tracer.timed_collect("modules.aggregates.collect"))
    for fn in ("write_dataset", "write_dataset_grouped", "write_dataset_grouped_batched",
               "write_empty_dataset"):
        wrap(staging, fn, f"sinks.staging.write.{fn}")
    wrap(staging, "write_meta", "sinks.staging.write_meta")
    wrap(hdf5, "pack", "sinks.hdf5.pack")
    for fn in ("process_batch", "snapshot", "finalize"):
        wrap(streaming_job.StreamingJob, fn, f"streaming.job.{fn}")
    wrap(stateful.AdmissionSession, "admit_and_fold", "streaming.stateful.admit_and_fold")
    for fn in ("write_bloom_layout", "write_neardup_banding_layout"):
        wrap(dedup, fn, f"llm.dedup.{fn}")
    for fn in ("kmeans_train_portable", "pq_train_portable", "write_ivf_pq_layout",
               "ivf_pq_stored_probe"):
        wrap(similarity, fn, f"llm.similarity.{fn}")


WORKLOADS = {"filewriter": FileWriter, "llm": Llm}
