"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Builds the workload's inputs from the seed
under ``.perfbench_work/``, starts a local Spark session sized to this
host, measures for about ``--seconds`` seconds, checks every output and
prints one ``name value unit`` line per metric followed by a JSON summary
as the last line of standard output.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` traces every call and reports the
per-layer metrics.  A receipt (host load per timed call, the
spans of traced calls, per-query profiles) is written to
``.perfbench_traces/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest_fresh", "query_mix")
PACKAGE = "airflow_pipeline_text_processing_spark"


def _driver_mem() -> str:
    """A Spark JVM heap that fits the host: a sixth of RAM, 1-4 GiB."""
    with open("/proc/meminfo") as fh:
        total_kib = int(fh.readline().split()[1])
    return f"{max(1, min(4, total_kib // (6 * 1024 * 1024)))}g"


def _prepare_env(root: str, work: str) -> None:
    """Size the session from the host and keep every file it writes
    (Spark scratch, JVM and Python temp files) inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    submit = [
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ]
    pythonpath = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": _driver_mem(),
        # Python workers import the package by name
        "PYTHONPATH": os.pathsep.join(pythonpath),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join(shlex.quote(a) for a in submit),
        # the short-lived launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    tempfile.tempdir = tmp


def _rounds(calls, seconds: float, trace: bool) -> list:
    """``round(seconds / ROUND_S)`` rounds, at least one, of one call of each
    of ``calls``.  The count depends on ``seconds`` alone, not on how fast
    the host is: the JVM still warms up over the rounds, so every run of a
    workload takes its medians at the same points of that warm-up."""
    import workloads as W

    return [call(trace) for _ in range(max(1, round(seconds / W.ROUND_S))) for call in calls]


def _unit(name: str) -> str:
    for suffix, unit in (
        ("_mb_per_s", "MB/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
        ("_ratio", "ratio"),
    ):
        if name.endswith(suffix):
            return unit
    return "count"


def _median_of(results, key) -> float:
    return statistics.median(key(r) for r in results)


def _measure(workload: str, seed: int, seconds: float, trace: bool, work: str):
    import numpy as np

    import workloads as W

    bench = W.Bench(work, seed, trace)
    if workload == "query_mix":
        order = [str(n) for n in np.random.default_rng([seed, 4]).permutation(W.MIX)]
        tick_input = W.rescan_input(work, seed)
        oracles = W.oracles(bench.tables, order)

        def run_pass(traced):
            return bench.query_pass(order, oracles, traced)

        calls = [run_pass, lambda traced: bench.tick(tick_input, traced)]
        warm_passes = W.WARM_PASSES
    else:
        tick_input = W.fresh_input(work, seed)
        oracles = W.oracles(bench.tables, W.MINI_MIX)

        def run_pass(traced):
            return bench.query_pass(W.MINI_MIX, oracles, traced)

        calls = [lambda traced: bench.tick(tick_input, traced), run_pass]
        warm_passes = 0  # the streaming pass is as fast on its second call as later

    probes = {}
    try:
        bench.phase("inputs")
        # set-up: a cold session, then the first call of each type, which
        # pays for JIT, code generation and the Python-worker pool, then
        # more passes over the query mix, whose planning warms up slowest:
        # a pass can still be 30% faster two calls later
        bench.start_session()
        first = [call(False) for call in calls]
        first += [run_pass(False) for _ in range(warm_passes)]
        setup_s = bench.session_s + sum(o.wall_s for o in first)
        bench.phase("setup")
        ops = _rounds(calls, seconds, trace)
        bench.phase("rounds")
        if trace:
            probes.update(bench.codec_rates(tick_input))
            enc_s, enc_ok = bench.encode_documents_s(tick_input)
            probes["functions.encode_documents_s"] = enc_s
            probes["session.jvm_peak_rss_mb"] = bench.jvm_peak_rss_mb()
            if not enc_ok:
                ops[-1].failed += 1
                ops[-1].errors.append("encode_documents probe lost a document")
            probes[f"queries.{W.KNOWN_DEFECT}_failed"] = bench.known_defect()
            bench.phase("probes")
    finally:
        bench.close()
        bench.phase("close")
    return bench, setup_s, first, ops, probes


def _report(setup_s, first, ops, probes, trace: bool) -> dict:
    """Metrics are medians over the rounds' calls; the set-up calls count
    only in ``attempted`` and ``failed``."""
    ticks = [o for o in ops if o.kind == "tick"]
    passes = [o for o in ops if o.kind == "pass"]
    attempted = sum(o.attempted for o in first + ops)
    failed = sum(o.failed for o in first + ops)
    if not trace:
        metrics = {
            "setup_s": setup_s,
            "ingest_mb_per_s": _median_of(ticks, lambda o: o.verified_mb / o.wall_s),
            "tick_s": _median_of(ticks, lambda o: o.wall_s),
            "query_mix_s": _median_of(passes, lambda o: o.mix_s),
            "query_geomean_s": _median_of(passes, lambda o: o.geomean_s),
        }
    else:
        metrics = {}
        for key in sorted({k for o in ops for k in o.layer}):
            metrics[key] = statistics.median(o.layer[key] for o in ops if key in o.layer)
        metrics.update(probes)
        metrics["failed_ratio"] = failed / attempted
        # traced walls: minus the untraced run's tick_s / query_mix_s, the
        # tracing overhead
        metrics["trace.tick_s"] = _median_of(ticks, lambda o: o.wall_s)
        metrics["trace.query_mix_s"] = _median_of(passes, lambda o: o.mix_s)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": _unit(k)} for k, v in metrics.items()},
    }


def _write_receipt(root, args, bench, setup_s, first, ops, result) -> None:
    out_dir = os.path.join(root, ".perfbench_traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    receipt = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "setup_s": setup_s,
        "session_s": bench.session_s,
        "phases_s": bench.phases,
        "steal_share": bench.steal,
        "host": bench.receipts,
        "ops": [
            {"kind": o.kind, "setup": i < len(first), "traced": o.traced,
             "wall_s": o.wall_s, "attempted": o.attempted, "failed": o.failed,
             "errors": o.errors, "queries": o.queries, "profile": o.profile,
             "layer": o.layer}
            for i, o in enumerate(first + ops)
        ],
        "known_defect_errors": bench.known_defect_errors,
        "spans": bench.tracer.dump(),
        "result": result,
    }
    with open(path, "w") as fh:
        json.dump(receipt, fh, indent=1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a stopped run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, PACKAGE))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print(f"perfbench: no {PACKAGE} package here; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path[:0] = [root, os.path.join(root, "tools"), HERE]
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        _prepare_env(root, work)
        bench, setup_s, first, ops, probes = _measure(
            args.workload, args.seed, args.seconds, bool(args.trace), work
        )
        result = _report(setup_s, first, ops, probes, bool(args.trace))
        _write_receipt(root, args, bench, setup_s, first, ops, result)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for o in first + ops:
        for err in o.errors:
            print(f"perfbench: {o.kind} failed check: {err}", file=sys.stderr)
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
