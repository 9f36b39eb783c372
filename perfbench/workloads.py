"""The benchmark's operations, correctness gates and metrics.

Two operation types exercise the program, closed loop with one client:

* a **tick** -- one ``plans.pipeline.run_pipeline`` call, the scheduled
  ingest DAG run: list, read, anti-join against the tracking table,
  chunk + Goldman DNA + Reed-Solomon encode, validate, reassemble, write
  the sinks and append to the tracking table;
* a **pass** -- each query of a fixed list built fresh (``fn(spark,
  sf_dir)``) and collected (``toPandas``), one after the other.

Every workload times both types, so every run reports every metric: its
*main* operation and a smaller *companion* of the other type.
``ingest_fresh`` ticks a fresh corpus (main) and passes over the streaming
query (companion); ``query_mix`` passes over the full mix (main) and ticks
a small rescan corpus, 98% already tracked (companion).

Each timed call is followed by an untimed gate; a gate failure counts
against ``failed`` and never aborts the run.
"""

from __future__ import annotations

import contextlib
import glob
import json
import math
import os
import shutil
import statistics
import subprocess
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import inputs
from check_oracle import compare
from tracer import JobTotals, Tracer, patched, spanned

# the query mix, by the cost that dominates each query: eager jobs inside
# the query function, or execution of the collected plan
BUILD_BOUND = ("stats_selection_quantiles",)
EXEC_BOUND = ("q1_pricing_summary",)
MIX = BUILD_BOUND + EXEC_BOUND
# the companion pass of ingest_fresh: a streaming drain, which measures the
# streaming layer (it is left out of MIX to keep a query_mix run short)
MINI_MIX = ("stream_session_windows",)
# a query that disagrees with its oracle at DEFECT_SCALE (an open engine
# defect); traced runs probe it outside the gated operations
KNOWN_DEFECT = "agg_rfm_segments"

TABLE_SCALE = 0.1  # 1.0 == sf0.01 row counts
DEFECT_SCALE = 1.0
FRESH_DOCS, FRESH_MEAN_BYTES = 32, 75_000
RESCAN_DOCS, RESCAN_NEW, RESCAN_MEAN_BYTES = 100, 2, 2_000
CODEC_SAMPLE_BYTES = 256 * 1024
# about the wall of one warm round, a main call and a companion call (6-9 s
# on a 4-core host); a run makes round(--seconds / ROUND_S) rounds
ROUND_S = 8.0
# query_mix passes that set-up makes after the first call of each type
WARM_PASSES = 2

_MB = 1024.0 * 1024.0


# ------------------------------------------------------------------ inputs


@dataclass
class TickInput:
    """A corpus directory and what one tick over it must produce."""

    input_dir: str
    new: dict[str, bytes]  # files the tick must encode (non-empty, untracked)
    old: dict[str, bytes]  # files already in the tracking snapshot
    empty: list[str]  # empty files: Spark's whole-text read yields no row
    snapshot: str | None = None  # tracking table to restore before a tick

    @property
    def n_files(self) -> int:
        return len(self.new) + len(self.old) + len(self.empty)


def fresh_input(work: str, seed: int) -> TickInput:
    texts = inputs.fresh_texts(seed, FRESH_DOCS, FRESH_MEAN_BYTES)
    corpus = inputs.write_corpus(os.path.join(work, "fresh"), texts)
    new = {n: b for n, b in corpus.files.items() if b}
    return TickInput(corpus.input_dir, new, {}, sorted(set(corpus.files) - set(new)))


def rescan_input(work: str, seed: int) -> TickInput:
    old, new = inputs.rescan_texts(seed, RESCAN_DOCS, RESCAN_NEW, RESCAN_MEAN_BYTES)
    input_dir = os.path.join(work, "rescan")
    old_corpus = inputs.write_corpus(input_dir, old)
    new_corpus = inputs.write_corpus(input_dir, new)
    snapshot = os.path.join(work, "tracking_snapshot")
    inputs.write_tracking_snapshot(snapshot, old_corpus, os.path.join(work, "earlier"))
    return TickInput(input_dir, new_corpus.files, old_corpus.files, [], snapshot)


def oracles(tables: str, names) -> dict:
    """Each query's DuckDB ``oracle_sql`` result over the generated tables."""
    import duckdb

    from __spark_entry__ import oracle_sql

    sql = oracle_sql()
    con = duckdb.connect()
    try:
        for path in glob.glob(os.path.join(tables, "*.parquet")):
            table = os.path.basename(path)[: -len(".parquet")]
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        return {n: con.execute(sql[n]).fetchdf() for n in names}
    finally:
        con.close()


# --------------------------------------------------------------- results


@dataclass
class OpResult:
    kind: str  # "tick" or "pass"
    wall_s: float
    attempted: int
    failed: int
    traced: bool
    verified_mb: float = 0.0  # tick: bytes encoded, validated and gated
    queries: dict[str, tuple[float, float]] = field(default_factory=dict)
    residue_blocks: int = 0
    layer: dict[str, float] = field(default_factory=dict)  # traced only
    profile: dict[str, dict] = field(default_factory=dict)  # traced pass
    errors: list[str] = field(default_factory=list)

    @property
    def mix_s(self) -> float:
        return sum(b + e for b, e in self.queries.values())

    @property
    def geomean_s(self) -> float:
        walls = [b + e for b, e in self.queries.values()]  # failed queries have none
        return math.exp(statistics.fmean(map(math.log, walls))) if walls else 0.0


def _receipt() -> dict:
    """Host state before a timed call: 1-minute load, the number of JVMs
    on the box and the wall of a fixed single-thread loop, so a noisy run
    can be told from a regression.  The loop is there because load and
    steal do not show other tenants slowing the host's cores down."""
    java = 0
    for comm in glob.glob("/proc/[0-9]*/comm"):
        try:
            with open(comm) as fh:
                java += fh.read().strip() == "java"
        except OSError:  # the process ended while we looked
            continue
    t0, acc = time.perf_counter(), 0
    for i in range(100_000):
        acc += i * i
    return {
        "load1": round(os.getloadavg()[0], 2),
        "java": java,
        "cpu_probe_ms": round((time.perf_counter() - t0) * 1000, 2),
    }


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


# ------------------------------------------------------------------ bench


class Bench:
    """One run: the inputs, the Spark session and everything measured."""

    def __init__(self, work: str, seed: int, trace: bool):
        self.work = work
        self.seed = seed
        self.trace = trace
        self.tracer = Tracer(f"s{seed}-p{os.getpid()}", enabled=False)
        self.spark = None
        self.listener = None
        self.receipts: list[dict] = []
        self.session_s = 0.0
        self.known_defect_errors: list[str] = []  # traced runs only
        self.phases: dict[str, float] = {}  # wall seconds per run phase
        self.steal: dict[str, float] = {}  # CPU steal share per run phase
        self._t, self._cpu = time.perf_counter(), _cpu_times()
        self._n = 0
        self.tables = os.path.join(work, "tables")
        inputs.write_tables(self.tables, seed, TABLE_SCALE)

    def phase(self, name: str) -> None:
        """Close the current run phase: its wall time, and the share of CPU
        time the hypervisor gave to other guests (steal) while it ran."""
        now, cpu = time.perf_counter(), _cpu_times()
        self.phases[name] = now - self._t
        self.steal[name] = (cpu[0] - self._cpu[0]) / max(1, cpu[1] - self._cpu[1])
        self._t, self._cpu = now, cpu

    def scratch(self, tag: str) -> str:
        self._n += 1
        path = os.path.join(self.work, "ops", f"{self._n:03d}-{tag}")
        os.makedirs(path)
        return path

    # -------------------------------------------------------------- session

    def start_session(self) -> None:
        """Create the session (a cold JVM); times it."""
        from airflow_pipeline_text_processing_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.tracer.bind(self.spark)
        if self.trace:
            self.listener = _batch_listener()
            self.spark.streams.addListener(self.listener)

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = gateway.proc
        try:
            self.spark.stop()
            gateway.shutdown()
        except Exception:  # noqa: BLE001 -- a run stopped mid-call leaves the
            traceback.print_exc()  # gateway broken; the JVM still exits below
        self.spark = None
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)

    # ----------------------------------------------------------------- tick

    def tick(self, inp: TickInput, traced: bool) -> OpResult:
        from airflow_pipeline_text_processing_spark.plans.pipeline import (
            PipelineConfig,
            run_pipeline,
        )

        d = self.scratch("tick")
        cfg = PipelineConfig(
            input_dir=inp.input_dir,
            output_dir=os.path.join(d, "out"),
            tracking_path=os.path.join(d, "tracking"),
            dlq_dir=os.path.join(d, "dlq"),
            run_id=os.path.basename(d),
        )
        if inp.snapshot:
            shutil.copytree(inp.snapshot, cfg.tracking_path)
        before = _tracking_hashes(cfg.tracking_path)
        self.receipts.append(_receipt())
        self.tracer.enabled = traced
        with _traced_pipeline(self.tracer, cfg) if traced else contextlib.nullcontext():
            t0 = time.perf_counter()
            with self.tracer.span("pipeline.tick") as root:
                try:
                    counters = run_pipeline(self.spark, cfg)
                except Exception:  # noqa: BLE001 -- a failed tick is a result
                    traceback.print_exc()
                    counters = {}
            wall = time.perf_counter() - t0
        self.tracer.enabled = False
        res = self._gate_tick(inp, cfg, counters, before, wall, traced)
        if traced:
            res.layer = self._tick_layers(root, inp)
        return res

    def _gate_tick(self, inp, cfg, counters, before, wall, traced) -> OpResult:
        """Counters match the corpus, the tracking table gained exactly the
        new files' rows, and each new file's processed text is
        byte-identical to the file.  A wrong counter or tracking table fails
        every document of the tick; a wrong output fails its document."""
        errors = []
        want = {"processed": len(inp.new), "skipped": len(inp.old), "failed": 0}
        got = {k: counters.get(k) for k in want}
        if got != want:
            errors.append(f"counters {got} != {want}")
        added = Counter(_tracking_hashes(cfg.tracking_path))
        added.subtract(before)
        if +added != Counter(inputs.md5(b) for b in inp.new.values()) or -added:
            errors.append(f"tracking table gained {added.total()} rows, want {len(inp.new)}")
        written = {}
        for part in glob.glob(os.path.join(cfg.output_dir, "processed", "*.json")):
            with open(part, encoding="utf-8") as fh:
                for line in fh:
                    row = json.loads(line)
                    written[row["filename"]] = row.get("text", "")
        bad = {
            name for name, data in inp.new.items()
            if name not in written or written[name].encode("utf-8") != data
        } | (set(written) - set(inp.new))
        if errors:
            failed, ok_bytes = inp.n_files, 0
        else:
            failed = len(bad)
            ok_bytes = sum(len(b) for n, b in inp.new.items() if n not in bad)
        if bad:
            errors.append(f"processed output wrong for {sorted(bad)[:5]}")
        return OpResult("tick", wall, inp.n_files, failed, traced,
                        verified_mb=ok_bytes / _MB, errors=errors)

    def _tick_layers(self, root, inp: TickInput) -> dict[str, float]:
        tr = self.tracer
        tr.drain()
        spans = [root] + tr.descendants(root)
        out = {}
        for s in spans:
            key = f"{s.name}_s"
            out[key] = out.get(key, 0.0) + s.dur
        totals = tr.job_totals(root)
        new_mb = sum(len(b) for b in inp.new.values()) / _MB
        layer = {
            "sources.read_text_dir_s": out.get("sources.read_text_dir_s", 0.0),
            "sources.tracking_lookup_s": out.get("sources.tracking_lookup_s", 0.0),
            "sources.tracking_append_s": out.get("sources.tracking_append_s", 0.0),
            "sources.input_read_mb": totals.input_mb,
            "sources.useful_read_ratio": new_mb / totals.input_mb if totals.input_mb else 0.0,
            "sources.self_s": tr.layer_self_s("sources", spans),
            "pipeline.jobs": totals.jobs,
            "pipeline.stages": totals.stages,
            "pipeline.tasks": totals.tasks,
            "pipeline.task_s": totals.task_s,
            "pipeline.shuffle_mb": totals.shuffle_mb,
            "pipeline.spill_mb": totals.spill_mb,
            "pipeline.self_s": tr.layer_self_s("pipeline", spans),
        }
        for action in PIPELINE_ACTIONS:
            layer[f"pipeline.{action}_s"] = out.get(f"pipeline.{action}_s", 0.0)
        return layer

    # ----------------------------------------------------------------- pass

    def query_pass(self, names, oracles, traced: bool, tables: str | None = None) -> OpResult:
        from __spark_entry__ import REGISTRY

        tables = tables or self.tables
        res = OpResult("pass", 0.0, len(names), 0, traced)
        self.receipts.append(_receipt())
        jsc = self.spark.sparkContext._jsc
        batches0 = len(self.listener.batches) if self.listener else 0
        self.tracer.enabled = traced
        t_pass = time.perf_counter()
        spans = {}
        for name in names:
            fn = REGISTRY[name][0]
            try:
                with self.tracer.span(f"queries.{name}") as q:
                    t0 = time.perf_counter()
                    with self.tracer.span("queries.build") as b:
                        df = fn(self.spark, tables)
                    t1 = time.perf_counter()
                    with self.tracer.span("queries.exec") as e:
                        got = df.toPandas()
                    t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 -- a failed query is a result
                traceback.print_exc()
                res.failed += 1
                res.errors.append(f"{name}: {type(exc).__name__}")
                continue
            spans[name] = (q, b, e)
            res.queries[name] = (t1 - t0, t2 - t1)
            res.residue_blocks += len(jsc.getPersistentRDDs())
            issues = compare(name, got, oracles[name])
            if issues:
                res.failed += 1
                res.errors.append(f"{name}: {issues[0]}")
        res.wall_s = time.perf_counter() - t_pass
        self.tracer.enabled = False
        if traced:
            self._pass_layers(res, spans, batches0)
        return res

    def _pass_layers(self, res: OpResult, spans, batches0: int) -> None:
        tr = self.tracer
        tr.drain()
        total = {"build_s": 0.0, "exec_s": 0.0, "jobs_in_build": 0}
        agg = JobTotals()
        for name, (q, b, e) in spans.items():
            totals = tr.job_totals(q)
            in_build = tr.job_totals(b).jobs
            res.profile[name] = {
                "build_s": b.dur, "exec_s": e.dur, "jobs_in_build": in_build,
                **vars(totals),
            }
            total["build_s"] += b.dur
            total["exec_s"] += e.dur
            total["jobs_in_build"] += in_build
            agg.add(totals)
        batches = self.listener.batches[batches0:]
        res.layer = {
            "queries.build_s": total["build_s"],
            "queries.exec_s": total["exec_s"],
            "queries.jobs": agg.jobs,
            "queries.jobs_in_build": total["jobs_in_build"],
            "queries.stages": agg.stages,
            "queries.tasks": agg.tasks,
            "queries.task_s": agg.task_s,
            "queries.shuffle_mb": agg.shuffle_mb,
            "queries.spill_mb": agg.spill_mb,
            "streaming.batches": len(batches),
            "streaming.batch_ms": statistics.fmean(batches) if batches else 0.0,
            "session.residue_blocks": res.residue_blocks,
        }

    # ------------------------------------------------------ layer probes

    def known_defect(self) -> int:
        """One untraced pass over KNOWN_DEFECT on tables at DEFECT_SCALE,
        gated against its oracle; returns 1 when it disagrees (why goes to
        ``known_defect_errors``), else 0.  Kept out of the run's operations:
        until the engine is fixed it fails at that scale."""
        tables = os.path.join(self.work, "defect_tables")
        inputs.write_tables(tables, self.seed, DEFECT_SCALE)
        res = self.query_pass([KNOWN_DEFECT], oracles(tables, [KNOWN_DEFECT]), False, tables)
        self.known_defect_errors = res.errors
        return res.failed

    def codec_rates(self, inp: TickInput) -> dict[str, float]:
        """Single-thread throughput, in this process, of the three codec kernels on
        (up to CODEC_SAMPLE_BYTES of) the workload's own new texts."""
        from airflow_pipeline_text_processing_spark.codec import (
            chunker,
            goldman,
            reed_solomon,
        )

        texts, size = [], 0
        for data in inp.new.values():
            texts.append(data.decode("utf-8"))
            size += len(data)
            if size >= CODEC_SAMPLE_BYTES:
                break
        mb = size / _MB
        t0 = time.perf_counter()
        chunks = [c for t in texts for c in chunker.build_chunks(t)]
        t1 = time.perf_counter()
        pieces = [
            goldman.dna_to_bytes(c["dna_sequence"], c["original_length_bytes"])
            for c in chunks
        ]
        t2 = time.perf_counter()
        for p in pieces:
            reed_solomon.rs_parity_tail(p, chunker.DEFAULT_RS_NSYM)
        t3 = time.perf_counter()
        return {
            "codec.encode_mb_per_s": mb / (t1 - t0),
            "codec.decode_mb_per_s": mb / (t2 - t1),
            "codec.rs_mb_per_s": mb / (t3 - t2),
        }

    def encode_documents_s(self, inp: TickInput) -> tuple[float, bool]:
        """``encode_documents`` over already-read documents, one aggregate,
        no sinks; returns (seconds, every document round-tripped)."""
        import pyspark.sql.functions as F

        from airflow_pipeline_text_processing_spark.plans.pipeline import (
            encode_documents,
        )
        from airflow_pipeline_text_processing_spark.sources.text_dir import (
            with_descriptor,
        )

        rows = [(n, b.decode("utf-8")) for n, b in sorted(inp.new.items())]
        n = self.spark.sparkContext.defaultParallelism
        docs = with_descriptor(
            self.spark.createDataFrame(rows, "path string, text string").repartition(n)
        )
        t0 = time.perf_counter()
        ok, total = encode_documents(docs).agg(
            F.sum((F.col("status") == "completed").cast("int")), F.count("*")
        ).collect()[0]
        return time.perf_counter() - t0, ok == total == len(rows)


PIPELINE_ACTIONS = (
    "is_empty", "count", "count_ok", "count_bad",
    "write_processed", "write_chunks", "write_reports", "write_dlq",
)


def _tracking_hashes(path: str) -> list[str]:
    if not glob.glob(os.path.join(path, "*.parquet")):
        return []
    return pq.read_table(path, columns=["file_hash"]).column(0).to_pylist()


def _batch_listener():
    """A streaming listener that keeps every micro-batch's duration (ms)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        def __init__(self):
            self.batches: list[float] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            self.batches.append(float(event.progress.batchDuration))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return BatchListener()


@contextlib.contextmanager
def _traced_pipeline(tracer: Tracer, cfg):
    """Spans around the calls ``run_pipeline`` makes into the sources and
    functions layers and around each Spark action it issues."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from airflow_pipeline_text_processing_spark.plans import pipeline
    from airflow_pipeline_text_processing_spark.sources.tracking import TrackingTable

    counts = iter(("pipeline.count", "pipeline.count_ok", "pipeline.count_bad"))

    def writer_name(_self, path, *args, **kwargs):
        if path == cfg.tracking_path:
            return "sources.tracking_write"
        if path == cfg.dlq_dir:
            return "pipeline.write_dlq"
        return "pipeline.write_" + os.path.basename(path)

    with contextlib.ExitStack() as stack:
        for owner, attr, name in (
            (pipeline, "read_text_dir", "sources.read_text_dir"),
            (pipeline, "encode_documents", "functions.encode_documents"),
            (TrackingTable, "processed_hashes", "sources.tracking_lookup"),
            (TrackingTable, "append_new", "sources.tracking_append"),
            (DataFrame, "isEmpty", "pipeline.is_empty"),
            (DataFrame, "count", lambda *a, **k: next(counts, "pipeline.count_more")),
            (DataFrameWriter, "json", writer_name),
            (DataFrameWriter, "parquet", writer_name),
        ):
            stack.enter_context(patched(owner, attr, spanned(tracer, name)))
        yield
