"""Meter-engine benchmark: one workload per run, one client, closed loop.

Run from the repository root:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 20 --trace 0

Workloads: ingest, report_serve. The seed picks every
generated input (meter ids, time offsets, report mix, catalog corpus and
query order); the engine only sees those inputs. Each run
starts its own Spark session (local[N], N = min(4, nproc)) and measures
for ``--seconds`` after an untimed set-up and warm-up.

Stdout ends with a detail line (workload-specific metrics, settings,
load average) and then one JSON result line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced
run (spans are written to ``.bench_out/``).
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

PACKAGE = "cassaforte_meter_transmission_gen_spark"
HERE = os.path.dirname(os.path.abspath(__file__))

#: executor cores and driver heap, set explicitly: the package's
#: get_spark defaults to all cores and a 16g driver, which does not fit
#: a 15 GB machine without swap
MAX_CPUS = 4
DRIVER_MEM = "3g"


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-test input sizes")
    p.add_argument(
        "--inject-wrong-answer",
        action="store_true",
        help="corrupt the first op's observed result (self-test of the checks)",
    )
    return p.parse_args(argv)


def configure_env(work: str) -> dict:
    """Pin cores, heap, scratch and time zone before Spark starts; every
    file Spark or Python writes stays under ``work``."""
    cpus = min(MAX_CPUS, os.cpu_count() or 1)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        TZ="UTC",
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf",
                shlex.quote(f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"),
                "--conf",
                shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
                "--conf",
                "spark.ui.showConsoleProgress=false",
                "pyspark-shell",
            ]
        ),
    )
    time.tzset()
    return {"cpus": cpus, "driver_mem": DRIVER_MEM}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from /proc/stat;
    steal is time a virtual CPU was runnable but its host ran something
    else."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return ticks[7] if len(ticks) > 7 else 0, sum(ticks)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def per_layer(w, tracer, traced: list[int], delta: dict, n_ops: int) -> dict:
    """Per-layer metrics from the spans of the traced ops (see NOTES.md)."""
    from workloads import CATALOG

    by_op = {op: [s for s in tracer.spans if s["op"] == op] for op in traced}
    spans = [s for op_spans in by_op.values() for s in op_spans]
    # per-op means of a layer are taken over the traced ops of the kind
    # that runs it; a workload without that kind reads 0
    bulk = [op for op in traced if w.kind(op) == "bulk"]
    stream = [op for op in traced if w.kind(op) == "stream"]

    def named(name: str, pred=lambda s: True, ops=None) -> list[dict]:
        return [s for s in spans if s["name"] == name and pred(s) and (ops is None or s["op"] in ops)]

    def busy(name: str, ops: list[int]) -> float:
        return sum(s["end"] - s["start"] for s in named(name, ops=ops)) / max(1, len(ops))

    def total(name: str, key: str, ops: list[int], pred=lambda s: True) -> float:
        return sum(s["attrs"].get(key, 0) for s in named(name, pred, ops)) / max(1, len(ops))

    def wall(select, ops: list[int]) -> float:
        """Per op, first start to last end of the spans ``select`` picks
        (they may overlap on several driver threads)."""
        t = 0.0
        for op in ops:
            sel = select(by_op[op])
            if sel:
                t += max(s["end"] for s in sel) - min(s["start"] for s in sel)
        return t / max(1, len(ops))

    def thread_of(marker: str):
        """Every span on the driver thread(s) that ran ``marker``."""
        def select(op_spans):
            threads = {s["thread"] for s in op_spans if s["name"] == marker}
            return [s for s in op_spans if s["thread"] in threads]
        return select

    def mean_ms(values) -> float:
        values = list(values)
        return statistics.mean(values) * 1000 if values else 0.0

    # grain versions are written by streaming_ingest_batch_fn as
    # <table>/v=<batch id>, each the output of counter_merge
    grain_write = lambda s: "/v=" in s["attrs"].get("path", "")  # noqa: E731
    fn_ms = {s["op"]: (s["end"] - s["start"]) * 1000 for s in named("stream.batch_fn")}
    trigger = getattr(w, "trigger_ms", {})
    scans = getattr(w, "scans", [])
    scanned = lambda key: sum(sc.get(key, 0) for r in scans for sc in r["scans"])  # noqa: E731
    grains = [s["attrs"]["grain"] for s in named("rollups.choose_source_grain")]
    # outermost generator calls (meter_samples_second calls transmissions)
    gen_ids = {s["id"] for s in spans if s["name"].startswith("meter_generator.")}
    gen = [s for s in spans if s["id"] in gen_ids and s["parent"] not in gen_ids]

    m: dict[str, tuple[float, str]] = {
        "layout.write_time_partitioned_s": (busy("layout.write_time_partitioned", bulk), "s"),
        "layout.bytes_written": (total("layout.write_time_partitioned", "bytes", bulk), "bytes"),
        "layout.files_written": (total("layout.write_time_partitioned", "files", bulk), "count"),
        "ingest.raw_branch_s": (wall(thread_of("layout.write_time_partitioned"), bulk), "s"),
        "ingest.rollup_branch_s": (wall(thread_of("io.parquet_sink_write"), bulk), "s"),
        "rollups.counter_merge_s": (
            wall(lambda op_spans: [s for s in op_spans if s["name"] == "spark.parquet_write" and grain_write(s)], stream),
            "s",
        ),
        "io.parquet_sink_write_s": (busy("io.parquet_sink_write", bulk), "s"),
        "stream.batch_fn_ms": (busy("stream.batch_fn", stream) * 1000, "ms"),
        "stream.grain_bytes_rewritten_per_batch": (total("spark.parquet_write", "bytes", stream, grain_write), "bytes"),
        "stream.files_per_batch": (total("spark.parquet_write", "files", stream), "count"),
        "spark.jobs_per_op": (delta["max_job_id"] / n_ops, "count"),
        "layout.read_meter_time_range_build_ms": (
            mean_ms(s["end"] - s["start"] for s in named("layout.read_meter_time_range")),
            "ms",
        ),
        "layout.partitions_read": (scanned("numPartitions") / max(1, len(scans)), "count"),
        "layout.files_read": (scanned("numFiles") / max(1, len(scans)), "count"),
        "layout.rows_scanned_per_row_out": (
            scanned("numOutputRows") / max(1, sum(r["rows_out"] for r in scans)),
            "ratio",
        ),
        "rollups.routed_energy_report_ms": (mean_ms(v / 1000 for v in getattr(w, "routed_ms", [])), "ms"),
        "stream.trigger_overhead_ms": (
            mean_ms((trigger[op] - fn_ms[op]) / 1000 for op in stream if op in trigger and op in fn_ms),
            "ms",
        ),
    }
    for g in ("second", "minute", "hour", "day"):
        m[f"rollups.route_share.{g}"] = (grains.count(g) / len(grains) if grains else 0.0, "ratio")
    # every catalog op of the run, traced or not: the harness times them
    builds = getattr(w, "builds", [])
    for fam, query in CATALOG.items():
        fb = [(b, e) for name, b, e in builds if name == query]
        m[f"plans.{fam}.build_ms"] = (mean_ms(b for b, _ in fb), "ms")
        m[f"plans.{fam}.exec_s"] = (mean_ms(e for _, e in fb) / 1000, "s")
    m["meter_generator.build_ms"] = (mean_ms(s["end"] - s["start"] for s in gen), "ms")
    m["jvm.gc_ms_per_op"] = (delta["gc_ms"] / n_ops, "ms")
    m["spark.shuffle_write_bytes_per_op"] = (delta["shuffle_write_bytes"] / n_ops, "bytes")
    return m


def trace_overhead_s(w, lat: dict[int, float], traced: list[int], untraced: list[int]) -> float:
    """Per op of the cycle: for each kind, the mean over the groups timed
    both traced and untraced of the difference of their medians; 0 when a
    kind has no such group."""
    total = 0.0
    for kind in w.KINDS:
        on, off = w.groups(kind, lat, traced), w.groups(kind, lat, untraced)
        common = on.keys() & off.keys()
        if not common:
            return 0.0
        total += statistics.mean(statistics.median(on[g]) - statistics.median(off[g]) for g in common)
    return total / w.cycle


def noop_generator_rate(spark) -> float:
    """Samples/s of the raw generator alone, forced with a ``noop`` write
    (the second of two runs, after the first compiled the plan)."""
    from cassaforte_meter_transmission_gen_spark.sources.meter_generator import transmissions
    from workloads import SAMPLES_PER_SECOND

    meters, seconds = 2, 1800
    for _ in range(2):
        start = time.perf_counter()
        transmissions(spark, meters, seconds=seconds).write.format("noop").mode("overwrite").save()
        elapsed = time.perf_counter() - start
    return meters * seconds * SAMPLES_PER_SECOND / elapsed


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"error: run from the repository root; ./{PACKAGE} not found", file=sys.stderr)
        return 2
    sys.path[:0] = [root, HERE]
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        return run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args: argparse.Namespace, root: str, work: str) -> int:
    settings = configure_env(work)
    load_start = os.getloadavg()
    t_setup = time.perf_counter()

    from cassaforte_meter_transmission_gen_spark.session import get_spark
    from tracing import SparkCounters, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    tracer = Tracer()
    if args.trace:
        tracer.install()
    spark = get_spark("perfbench")
    w = None
    try:
        settings["executor_cores"] = spark.sparkContext.defaultParallelism
        w = WORKLOADS[args.workload](
            spark, work, args.seed, args.seconds, tracer, args.tiny, args.inject_wrong_answer
        )
        session_s = time.perf_counter() - t_setup
        w.setup()
        build_s = time.perf_counter() - t_setup - session_s
        w.warmup()
        setup_s = time.perf_counter() - t_setup
        counters = SparkCounters(spark) if args.trace else None
        before = counters.snapshot() if counters else None

        lat: dict[int, float] = {}
        failed: set[int] = set()
        traced: list[int] = []
        ticks_start = cpu_ticks()
        loop_start = time.perf_counter()
        deadline = loop_start + args.seconds
        i = 0
        while w.has_more() and (i == 0 or time.perf_counter() < deadline or not w.can_stop(i)):
            # every other cycle of op kinds is traced, so the two halves
            # see the same mix of kinds
            tracer.start_op(i, bool(args.trace) and (i // w.cycle) % 2 == 1)
            if tracer.active:
                traced.append(i)
            try:
                dt, ok = w.op(i)
            finally:
                tracer.end_op()
            lat[i] = dt
            if not ok:
                failed.add(i)
            i += 1
        loop_s = time.perf_counter() - loop_start
        ticks_end = cpu_ticks()
        steal = (ticks_end[0] - ticks_start[0]) / max(1, ticks_end[1] - ticks_start[1])
        n_ops = i
        w.latencies = [lat[k] for k in range(n_ops)]
        after = counters.snapshot() if counters else None
        t_finish = time.perf_counter()
        failed |= w.finish()
        finish_s = time.perf_counter() - t_finish
        rss = jvm_peak_rss_mb(spark)

        ops = range(n_ops)
        shared = {
            "setup_s": (setup_s, "s"),
            "cycle_ms": (w.cycle_time(lat, ops, statistics.median) * 1000, "ms"),
            # throughput of the op mix: the cycle at each kind's mean latency
            "ops_per_s": (w.cycle / w.cycle_time(lat, ops, statistics.mean), "1/s"),
            "stored_bytes_per_sample": (w.stored_bytes_per_sample, "bytes"),
        }
        detail = {k: {"value": v, "unit": u} for k, (v, u) in w.detail(shared).items()}
        # a run holds too few ops of a kind for a p90 with ten ops beyond
        # it; the slowest op is reported, but it spreads too much between
        # runs to carry a bound
        detail["op_max_ms"] = {"value": max(w.latencies) * 1000, "unit": "ms"}
        detail["failed_op_ratio"] = {"value": len(failed) / n_ops, "unit": "ratio"}
        detail["jvm_peak_rss_mb"] = {"value": rss, "unit": "MB"}
        load_end = os.getloadavg()
        nproc = os.cpu_count() or 1
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "ops": n_ops,
            "loop_s": loop_s,
            "session_s": session_s,
            "build_s": build_s,
            "warmup_s": setup_s - session_s - build_s,
            "finish_s": finish_s,
            "problems": w.problems[:10],
            "op_ms": [round(v * 1000, 1) for v in w.latencies],
            "nproc": nproc,
            **settings,
            "load_start": load_start,
            "load_end": load_end,
            "loop_steal_share": steal,
            # more runnable threads than this run's own cores, or a host
            # that took the virtual CPUs away for more than a twentieth of
            # the loop, suggests another workload shared the machine
            "contended": load_start[0] > nproc
            or load_end[0] > settings["cpus"] + nproc / 2
            or steal > 0.05,
        }

        if args.trace:
            delta = {k: after[k] - before[k] for k in before}
            metrics = per_layer(w, tracer, traced, delta, n_ops)
            metrics["meter_generator.noop_samples_per_s"] = (noop_generator_rate(spark), "1/s")
            traced_set = set(traced)
            off = [k for k in ops if k not in traced_set]
            metrics["trace.overhead_ms_per_op"] = (trace_overhead_s(w, lat, traced, off) * 1000, "ms")
            spans_path = os.path.join(root, ".bench_out", f"{args.workload}-seed{args.seed}-spans.json")
            tracer.dump(spans_path)
            context["spans"] = os.path.relpath(spans_path, root)
        else:
            metrics = shared
        print(json.dumps({"context": context, "detail": detail}))
        result = {
            "correct": not failed and not w.problems,
            "attempted": n_ops,
            "failed": len(failed),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        sys.stdout.flush()
    finally:
        if w is not None:
            w.close()
        tracer.uninstall()
        stop_spark(spark)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
