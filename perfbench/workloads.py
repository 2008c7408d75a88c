"""The two workloads. Each drives the package only through its public
functions and checks every op against a closed-form expectation.

Every meter-second carries the same 15,000-sample sawtooth, whose energy is
59 J, so any count or sum the engine returns has an exact expected value.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

# modules, not names: the traced run wraps module attributes at run time
from cassaforte_meter_transmission_gen_spark.operators import ingest, rollups
from cassaforte_meter_transmission_gen_spark.plans import REGISTRY
from cassaforte_meter_transmission_gen_spark.schemas import METER_SAMPLES
from cassaforte_meter_transmission_gen_spark.sources import layout, meter_generator
from cassaforte_meter_transmission_gen_spark.sources.meter_generator import T0_EPOCH
from cassaforte_meter_transmission_gen_spark.streaming import pipeline

import corpus
from bench import HEADLINE
from tracing import dir_size, scan_metrics

SAMPLES_PER_SECOND = 15000
JOULES_PER_SECOND = 59
DAY = 86400
GRAIN_SECONDS = {"second": 1, "minute": 60, "hour": 3600, "day": DAY}
ROLLUP_TABLES = {g: f"meter_samples_{g}" for g in GRAIN_SECONDS}


def buckets(t0: int, t1: int, grain_s: int) -> int:
    """Distinct ``grain_s``-buckets touched by the seconds in [t0, t1)."""
    return (t1 - 1) // grain_s - t0 // grain_s + 1


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


class Workload:
    """setup() and warmup() are untimed; op(i) returns (latency_s, ok)."""

    name = ""
    #: the kind of each op of the repeating cycle (op i has kind
    #: KINDS[i % cycle]); a traced run traces every other cycle, so traced
    #: and untraced ops see the same mix of kinds
    KINDS: tuple[str, ...] = ("op",)

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer, tiny: bool, inject: bool):
        self.spark = spark
        self.run_seconds = seconds
        self.work = work
        self.rng = random.Random(seed)
        self.seed = seed
        self.tracer = tracer
        self.tiny = tiny
        self.inject = inject
        self.latencies: list[float] = []
        # every wrong answer, warm-up included; any entry makes the run incorrect
        self.problems: list[str] = []

    def wrong(self, i: int) -> int:
        """Offset added to observed values of op ``i``: 1 for the first
        timed op under ``--inject-wrong-answer``, else 0."""
        return 1 if self.inject and i == 0 else 0

    def setup(self) -> None:
        pass

    def warmup(self) -> None:
        pass

    def can_stop(self, done: int) -> bool:
        return True

    def has_more(self) -> bool:
        """False when the workload's staged input is used up."""
        return True

    def finish(self) -> set[int]:
        """Post-loop checks; returns indices of ops found wrong."""
        return set()

    def close(self) -> None:
        pass

    def detail(self, shared: dict) -> dict:
        """The issue's names for metrics of one op kind."""
        return {}

    @property
    def cycle(self) -> int:
        return len(self.KINDS)

    def kind(self, i: int) -> str:
        return self.KINDS[i % self.cycle]

    def group(self, i: int):
        """Ops of one kind whose cost differs by design (a report shape, a
        catalog query) fall in different groups."""
        return None

    def groups(self, kind: str, lat: dict[int, float], ops) -> dict:
        """Latencies of the ops of ``kind`` among ``ops``, by group."""
        out: dict = {}
        for i in ops:
            if self.kind(i) == kind:
                out.setdefault(self.group(i), []).append(lat[i])
        return out

    def kind_time(self, kind: str, lat: dict[int, float], ops, stat) -> float:
        """The mean over the kind's groups of ``stat`` of each group's
        latencies among ``ops``. A median over a kind whose groups differ
        in cost would fall between their clusters and jump with the count
        of each group in a run."""
        return statistics.mean(stat(v) for v in self.groups(kind, lat, ops).values())

    def cycle_time(self, lat: dict[int, float], ops, stat) -> float:
        """Time of one cycle of the op mix: each kind of KINDS at ``stat``
        of its latencies among ``ops``. Unlike a statistic over all ops
        it neither mixes kinds nor depends on where the loop stopped."""
        return sum(self.kind_time(k, lat, ops, stat) for k in self.KINDS)


class IngestBulk(Workload):
    """The bulk part of ``ingest``: backfill calls of ingest_batch, each
    into a fresh directory."""

    SECONDS = 2700  # 1 meter x 2700 s = 40.5 M samples per call
    # a cold JVM's first Spark job takes ~10 s whatever its size, and the
    # calls after it are still slow while the JIT compiles the write path,
    # so the warm-up starts with smaller calls (measured on 4 cores: 9.2 s
    # for 1 x 450 s, 2.9 s for 1 x 900 s, then 3.6 s falling to 2.8 s over
    # seven 1 x 2700 s calls)
    WARMUP_SECONDS = (450, 900, SECONDS)

    def setup(self) -> None:
        self.meters = 1
        self.seconds = 120 if self.tiny else self.SECONDS
        self.samples_per_op = self.meters * self.seconds * SAMPLES_PER_SECOND
        self.said = self.rng.randrange(1000, 90000)
        self.stored_bytes = self.stored_samples = 0
        self.outputs: dict[int, tuple[str, int]] = {}

    def _t0(self, seconds: int) -> int:
        # every call crosses midnight inside its middle half, so every call
        # writes two day partitions of similar size (a call that stays in
        # one day measured ~0.5 s faster, which made the op times bimodal)
        day = T0_EPOCH + self.rng.randrange(1, 365) * DAY
        return day - self.rng.randrange(seconds // 4, 3 * seconds // 4)

    def _call(self, i: int, seconds: int) -> tuple[float, bool]:
        t0 = self._t0(seconds)
        out = os.path.join(self.work, f"ingest_{i}")
        report: dict[str, int] = {}
        start = time.perf_counter()
        paths = ingest.ingest_batch(
            self.spark,
            out,
            num_meters=self.meters,
            start_said=self.said,
            t0_epoch=t0,
            seconds=seconds,
            report=report,
        )
        elapsed = time.perf_counter() - start
        t1 = t0 + seconds
        want = {ROLLUP_TABLES[g]: self.meters * buckets(t0, t1, s) for g, s in GRAIN_SECONDS.items()}
        want["meter_samples"] = self.meters * seconds
        ok = report == want
        if not ok:
            self.problems.append(f"op {i}: wrote {report}, want {want}")
        if i >= 0:
            self.stored_bytes += dir_size(out)[0]
            self.stored_samples += self.samples_per_op
        self.outputs[i] = (paths["meter_samples_day"], seconds)
        return elapsed, ok

    def op(self, i: int) -> tuple[float, bool]:
        return self._call(i, self.seconds)

    def warmup(self) -> None:
        sizes = (60,) if self.tiny else self.WARMUP_SECONDS
        for k, seconds in enumerate(sizes):
            self._call(k - len(sizes), seconds)

    def finish(self) -> set[int]:
        """The day table of every call holds 59 J per meter-second (read
        after the loop so the check's Spark jobs stay out of it)."""
        failed = set()
        for i, (day_path, seconds) in self.outputs.items():
            total = self.spark.read.parquet(day_path).agg(F.sum("joules")).first()[0]
            if total + self.wrong(i) != JOULES_PER_SECOND * self.meters * seconds:
                failed.add(i)
                self.problems.append(f"op {i}: day table holds {total} J")
            shutil.rmtree(os.path.dirname(day_path), ignore_errors=True)
        return {i for i in failed if i >= 0}  # warm-up failures stay in problems


class IngestStream(Workload):
    """The stream part of ``ingest``, exactly-once stream ingest: staged
    transmission files replayed one file per micro-batch into
    ``foreachBatch(streaming_ingest_batch_fn)``.

    The harness stages the input itself and moves one file into the
    stream's input directory per op, waiting for that batch to commit
    (closed loop, so the query can be stopped between batches).
    ``run_bounded_streaming_ingest`` is not used: it deletes a caller-owned
    ``stage_dir`` in its ``finally`` and would time staging as ingest.
    """

    PER_FILE = 120  # meter-seconds per staged file (one micro-batch)
    # batch times fall for about fifteen batches while the JIT compiles the
    # batch path (measured 2.5 s -> 1.1 s on 4 cores in a fresh JVM); the
    # bulk warm-up before them compiles much of the same write path
    WARMUP_BATCHES = 4
    samples_per_op = PER_FILE * SAMPLES_PER_SECOND

    def setup(self) -> None:
        # enough files for a batch every 0.5 s plus the warm-up, so the
        # loop never runs dry; a multiple of 4 keeps meters whole per file
        self.warmup_n = 2 if self.tiny else self.WARMUP_BATCHES
        self.files_n = -(-(self.warmup_n + 2 + int(self.run_seconds / 0.5)) // 4) * 4
        self.meters = 1 if self.tiny else 4
        self.seconds = self.files_n * self.PER_FILE // self.meters
        self.said = self.rng.randrange(1000, 90000)
        self.t0 = T0_EPOCH + self.rng.randrange(0, 365) * DAY + self.rng.randrange(0, DAY)
        stage = os.path.join(self.work, "stage")
        meter_generator.transmissions(
            self.spark, self.meters, self.said, self.t0, self.seconds, slices=self.files_n
        ).write.mode("overwrite").parquet(stage)
        # part-<slice index>: slice k holds ids [k*PER_FILE, (k+1)*PER_FILE)
        self.staged = sorted(
            os.path.join(stage, f) for f in os.listdir(stage) if f.startswith("part-")
        )
        if len(self.staged) != self.files_n:
            raise RuntimeError(f"staged {len(self.staged)} files, expected {self.files_n}")
        self.input = os.path.join(self.work, "input")
        os.makedirs(self.input)
        out = os.path.join(self.work, "out")
        self.paths = {t: os.path.join(out, t) for t in ROLLUP_TABLES.values()}
        self.paths["meter_samples"] = os.path.join(out, "meter_samples")
        self.commits = os.path.join(out, "_commits")
        self.out = out
        batch_fn = pipeline.streaming_ingest_batch_fn(self.paths, self.commits)
        tracer = self.tracer

        def traced_batch_fn(batch, batch_id):
            tracer.record("stream.batch_fn", batch_fn, batch, batch_id)

        self.query = (
            self.spark.readStream.schema(METER_SAMPLES)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.input)
            .writeStream.foreachBatch(traced_batch_fn)
            .option("checkpointLocation", os.path.join(self.work, "checkpoint"))
            .trigger(processingTime="0 seconds")
            .start()
        )
        self.fed = 0
        self.trigger_ms: dict[int, float] = {}

    def _batch(self) -> dict:
        """Feed the next staged file and wait for its micro-batch."""
        k = self.fed
        src = self.staged[k]
        os.rename(src, os.path.join(self.input, os.path.basename(src)))
        self.fed += 1
        deadline = time.monotonic() + 120
        while time.monotonic() < deadline:
            exc = self.query.exception()
            if exc is not None:
                raise RuntimeError(f"stream failed: {exc}")
            if os.path.exists(os.path.join(self.commits, str(k))):
                for p in reversed(self.query.recentProgress):
                    if p["batchId"] == k and p["numInputRows"] > 0:
                        return p
            time.sleep(0.005)
        raise TimeoutError(f"batch {k} did not commit")

    def warmup(self) -> None:
        for _ in range(self.warmup_n):
            self._batch()

    def has_more(self) -> bool:
        return self.fed < self.files_n

    def op(self, i: int) -> tuple[float, bool]:
        p = self._batch()
        trigger_ms = p["durationMs"]["triggerExecution"]
        self.trigger_ms[i] = trigger_ms
        # numInputRows counts every scan of the batch (raw and second
        # writes both read it), so rows are checked on the tables in finish()
        return trigger_ms / 1000.0, True

    def close(self) -> None:
        if getattr(self, "query", None) is not None and self.query.isActive:
            self.query.stop()
            self.query.awaitTermination(60)

    def finish(self) -> set[int]:
        self.close()
        spark = self.spark
        batches = self.fed
        rows = batches * self.PER_FILE
        # per batch: PER_FILE second rows worth 59 J each
        second = pipeline.read_stream_table(spark, self.paths, "meter_samples_second", self.commits)
        per_batch = (
            second.withColumn("batch", F.regexp_extract(F.input_file_name(), r"batch=(\d+)", 1))
            .groupBy("batch")
            .agg(F.count("*").alias("n"), F.sum("joules").alias("j"))
            .collect()
        )
        seen = {int(r["batch"]): (r["n"], r["j"]) for r in per_batch}
        failed = set()
        for k in range(batches):
            n, j = seen.get(k, (0, 0))
            i = k - self.warmup_n  # negative for warm-up batches
            if n != self.PER_FILE or j + self.wrong(i) != JOULES_PER_SECOND * self.PER_FILE:
                failed.add(i)
                self.problems.append(f"batch {k}: {n} second rows, {j} J")
        # grain tables: totals and bucket counts over the processed ids
        ids = range(rows)
        expected = {}
        for grain, secs in GRAIN_SECONDS.items():
            keys = {(x // self.seconds, (self.t0 + x % self.seconds) // secs) for x in ids}
            expected[grain] = len(keys)
        ok = True
        for grain in GRAIN_SECONDS:
            df = pipeline.read_stream_table(spark, self.paths, ROLLUP_TABLES[grain], self.commits)
            n, j = df.agg(F.count("*"), F.sum("joules")).first()
            if n != expected[grain] or j != JOULES_PER_SECOND * rows:
                ok = False
                self.problems.append(f"{grain}: {n} rows, {j} J; want {expected[grain]}, {JOULES_PER_SECOND * rows}")
        raw = pipeline.read_stream_table(spark, self.paths, "meter_samples", self.commits).count()
        if raw != rows:
            ok = False
            self.problems.append(f"raw: {raw} rows, want {rows}")
        if not ok:
            failed |= set(range(batches - self.warmup_n))
        self.stored_bytes = dir_size(self.out)[0]
        self.stored_samples = rows * SAMPLES_PER_SECOND
        return {i for i in failed if i >= 0}


class Ingest(Workload):
    """Both ingest shapes in one session, in a repeating cycle of one bulk
    call (the backfill shape) and two stream micro-batches (the live 1 Hz
    shape), so each takes about half of the loop. Each part keeps its own
    op numbering, inputs and checks; op ``i`` of the loop is op
    ``len(ops) - 1`` of its part when it runs."""

    name = "ingest"
    KINDS = ("bulk", "stream", "stream")

    def __init__(self, spark, work, seed, seconds, tracer, tiny, inject):
        super().__init__(spark, work, seed, seconds, tracer, tiny, inject)
        rest = (seconds, tracer, tiny, inject)
        self.bulk = IngestBulk(spark, work, seed, *rest)
        # another seed: distinct meter ids and offsets for the stream part
        self.stream = IngestStream(spark, work, seed + 1_000_003, *rest)
        self.parts = {"bulk": (self.bulk, []), "stream": (self.stream, [])}
        self.trigger_ms: dict[int, float] = {}

    def setup(self) -> None:
        self.bulk.setup()
        self.stream.setup()

    def warmup(self) -> None:
        # the cold JVM's first jobs on bulk calls, then batches, so the
        # loop starts on a JVM that has run both
        self.bulk.warmup()
        self.stream.warmup()

    def op(self, i: int) -> tuple[float, bool]:
        part, ops = self.parts[self.kind(i)]
        ops.append(i)
        result = part.op(len(ops) - 1)
        if part is self.stream:
            self.trigger_ms[i] = self.stream.trigger_ms[len(ops) - 1]
        return result

    def can_stop(self, done: int) -> bool:
        return done >= 2 * self.cycle  # a median of at least two ops per kind

    def has_more(self) -> bool:
        return self.stream.has_more()

    def close(self) -> None:
        self.stream.close()

    def finish(self) -> set[int]:
        failed = set()
        for part, ops in self.parts.values():
            failed |= {ops[k] for k in part.finish()}
            self.problems += part.problems
        self.stored_bytes_per_sample = (self.bulk.stored_bytes + self.stream.stored_bytes) / (
            self.bulk.stored_samples + self.stream.stored_samples
        )
        return failed

    def detail(self, shared: dict) -> dict:
        bulk = [self.latencies[i] for i in self.parts["bulk"][1]]
        stream = [self.latencies[i] for i in self.parts["stream"][1]]
        # no stream_batch_p90_ms: a run holds about ten batches, where a
        # nearest-rank p90 is the slowest batch or the one below it
        return {
            "ingest_samples_per_s": (len(bulk) * self.bulk.samples_per_op / sum(bulk), "1/s"),
            "ingest_op_p50_s": (statistics.median(bulk), "s"),
            "stream_samples_per_s": (len(stream) * self.stream.samples_per_op / sum(stream), "1/s"),
            "stream_batch_p50_ms": (statistics.median(stream) * 1000, "ms"),
        }


#: plan family -> the query of bench.py's HEADLINE set that report_serve
#: runs for it: the one whose first run in a session is shortest, so the
#: once-per-run oracle pass stays short (families as in Query.tags)
CATALOG = {
    "meter": "meter_rollup_day",
    "tpch": "q18_large_volume_customers",
    "analytics": "sort_limit_top100_lineitems",
    "events": "events_sessionization_30m",
    "dedup": "dedup_simhash_signatures",
    "vector": "ann_bruteforce_cosine_topk",
    "text": "text_token_top50",
}
if not set(CATALOG.values()) <= set(HEADLINE):
    raise ImportError(f"catalog queries missing from bench.HEADLINE: {set(CATALOG.values()) - set(HEADLINE)}")


class ReportServe(Workload):
    """One client serving reads against a store built in setup, in a
    repeating cycle of three requests: the flagship raw-layout read plus a
    per-meter sum, a grain-routed energy report over an aligned or
    non-aligned range, and one plans registry query (one per plan family,
    forced with a ``noop`` write, over a seeded catalog corpus)."""

    name = "report_serve"
    KINDS = ("flagship", "routed", "catalog")
    SAID_BUCKETS = 4
    # cycles 2k and 2k + 1 take the k-th shape of each report kind (cycled)
    # and the same meter count, so every run serves the same mix and a
    # traced run, which traces the odd cycles, times each shape both traced
    # and untraced; the seed places the ranges and picks the meters.
    #: (range length s, alignment s) of flagship reports; 1 = not aligned
    FLAGSHIP_SHAPES = ((6 * 3600, 3600), (6 * 3600, 1), (DAY, 1), (DAY, 3600))
    #: (grain, aligned to it) of routed reports over one-day ranges
    ROUTED_SHAPES = (
        ("minute", True), ("hour", True), ("day", False),
        ("minute", False), ("hour", False), ("day", True),
    )

    def setup(self) -> None:
        self.meters, self.days = (2, 1) if self.tiny else (2, 2)
        self.said = self.rng.randrange(1000, 90000)
        self.t0 = T0_EPOCH + self.rng.randrange(0, 365) * DAY
        self.t1 = self.t0 + self.days * DAY
        self.corpus = os.path.join(self.work, "corpus")
        corpus.generate(self.corpus, self.seed)
        self.order = list(CATALOG.values())
        self.rng.shuffle(self.order)
        self.wrong_queries: set[str] = set()
        self.kinds: list[str] = []
        self.builds: list[tuple[str, float, float]] = []
        self.routed_ms: list[float] = []
        self.scans: list[dict] = []
        # the oracle check (the catalog queries' first, slow runs) is
        # set-up work; it overlaps the store build on a second driver thread
        with ThreadPoolExecutor(max_workers=1) as pool:
            check = pool.submit(self._check_catalog)
            self._build_store()
            check.result()

    def _build_store(self) -> None:
        store = os.path.join(self.work, "store")
        report: dict[str, int] = {}
        paths = ingest.ingest_batch(
            self.spark,
            store,
            num_meters=self.meters,
            start_said=self.said,
            t0_epoch=self.t0,
            seconds=self.days * DAY,
            write_raw=False,
            report=report,
        )
        for grain, secs in GRAIN_SECONDS.items():
            want = self.meters * buckets(self.t0, self.t1, secs)
            if report.get(ROLLUP_TABLES[grain]) != want:
                raise RuntimeError(f"store build wrote {report} rows, expected {want} at {grain}")
        self.flagship_path = os.path.join(self.work, "second_by_day")
        # the second table is written sorted by (said, datetime) within
        # each file, so the re-read is already clustered: no shuffle
        layout.write_time_partitioned(
            self.spark.read.parquet(paths["meter_samples_second"]),
            self.flagship_path,
            said_buckets=self.SAID_BUCKETS,
            clustered=True,
        )
        self.rollups = {
            g: self.spark.read.parquet(paths[t]) for g, t in ROLLUP_TABLES.items()
        }
        stored = dir_size(store)[0] + dir_size(self.flagship_path)[0]
        self.stored_bytes_per_sample = stored / (self.meters * self.days * DAY * SAMPLES_PER_SECOND)

    def _range(self, length: int, align: int) -> tuple[int, int]:
        """A seeded [a, a + length) inside the store, ``a`` a multiple of
        ``align`` seconds."""
        a = self.t0 + self.rng.randrange(0, (self.t1 - self.t0 - length) // align + 1) * align
        return a, a + length

    def _shape(self, i: int, shapes: tuple) -> tuple:
        return shapes[(i // self.cycle // 2) % len(shapes)]

    def _flagship(self, i: int, saids: list[int]) -> tuple[float, bool, str]:
        a, b = self._range(*self._shape(i, self.FLAGSHIP_SHAPES))
        start = time.perf_counter()
        df = (
            layout.read_meter_time_range(
                self.spark, self.flagship_path, a, b, saids, said_buckets=self.SAID_BUCKETS
            )
            .groupBy("said")
            .agg(F.sum("joules").alias("joules"), F.count("*").alias("rows"))
        )
        rows = df.collect()
        elapsed = time.perf_counter() - start
        got = {r["said"]: r["joules"] + self.wrong(i) for r in rows}
        ok = got == {s: JOULES_PER_SECOND * (b - a) for s in saids}
        if self.tracer.active:
            self.scans.append({"scans": scan_metrics(df), "rows_out": len(saids) * (b - a)})
        return elapsed, ok, f"flagship {saids} [{a}, {b}): {rows}"

    def _routed(self, i: int, saids: list[int]) -> tuple[float, bool, str]:
        grain, aligned = self._shape(i, self.ROUTED_SHAPES)
        a, b = self._range(DAY, GRAIN_SECONDS[grain] if aligned else 1)
        start = time.perf_counter()
        rows = rollups.routed_energy_report(self.rollups, grain, a, b, saids).collect()
        elapsed = time.perf_counter() - start
        totals: dict[int, int] = {}
        for r in rows:
            totals[r["said"]] = totals.get(r["said"], 0) + r["joules"]
        ok = len(rows) == len(saids) * buckets(a, b, GRAIN_SECONDS[grain])
        ok &= {s: j + self.wrong(i) for s, j in totals.items()} == {
            s: JOULES_PER_SECOND * (b - a) for s in saids
        }
        self.routed_ms.append(elapsed * 1000)
        return elapsed, ok, f"routed {grain} {saids} [{a}, {b}): {rows}"

    def _query(self, i: int) -> str:
        return self.order[(i // self.cycle) % len(self.order)]

    def _catalog(self, i: int) -> tuple[float, bool, str]:
        name = self._query(i)
        start = time.perf_counter()
        df = REGISTRY[name].fn(self.spark, self.corpus)
        built = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        end = time.perf_counter()
        self.spark.catalog.clearCache()
        self.builds.append((name, built - start, end - built))
        return end - start, name not in self.wrong_queries, f"catalog {name}"

    def op(self, i: int) -> tuple[float, bool]:
        kind = self.kind(i)
        if kind == "catalog":
            elapsed, ok, what = self._catalog(i)
        else:
            # one meter in cycles 0, 1, 4, 5, ..., two in cycles 2, 3, 6, 7, ...
            # (so each shape always serves the same meter count)
            saids = self.rng.sample(range(self.said, self.said + self.meters), 1 + (i // self.cycle // 2) % 2)
            elapsed, ok, what = (self._flagship if kind == "flagship" else self._routed)(i, saids)
        if not ok:
            self.problems.append(f"op {i}: {what}")
        if i >= 0:
            self.kinds.append(kind)
        return elapsed, ok

    def _check_catalog(self) -> None:
        """Every catalog query's result against its DuckDB oracle, once per
        run (order- and column-order-insensitive); a query found wrong
        fails each of its timed ops."""
        con = corpus.duck_connection(self.corpus)
        try:
            for n, name in enumerate(self.order):
                q = REGISTRY[name]
                df = q.fn(self.spark, self.corpus)
                got = corpus.canonical_rows(df.columns, [tuple(r) for r in df.collect()])
                self.spark.catalog.clearCache()
                if self.inject and n == 0:
                    got = got[1:] + ["injected"]
                cols, rows = corpus.oracle_rows(con, q.oracle)
                if got != corpus.canonical_rows(cols, rows):
                    self.wrong_queries.add(name)
                    self.problems.append(f"{name}: result differs from its DuckDB oracle")
        finally:
            con.close()

    def warmup(self) -> None:
        # one report of each kind; set-up ran every catalog query once
        for i in (-3, -2):
            self.op(i)
        self.routed_ms.clear()

    def can_stop(self, done: int) -> bool:
        # every catalog query and every report shape timed at least once
        return done // self.cycle >= max(len(self.order), 2 * len(self.ROUTED_SHAPES))

    def group(self, i: int):
        kind = self.kind(i)
        if kind == "catalog":
            return self._query(i)
        return self._shape(i, self.FLAGSHIP_SHAPES if kind == "flagship" else self.ROUTED_SHAPES)

    def detail(self, shared: dict) -> dict:
        reports = [t for t, k in zip(self.latencies, self.kinds) if k != "catalog"]
        lat = dict(enumerate(self.latencies))
        return {
            "report_p50_ms": (statistics.median(reports) * 1000, "ms"),
            "report_p90_ms": (pct(reports, 0.9) * 1000, "ms"),
            "reports_per_s": (len(reports) / sum(reports), "1/s"),
            # one pass over the catalog queries, each at its median latency
            "catalog_pass_s": (
                len(CATALOG) * self.kind_time("catalog", lat, lat, statistics.median),
                "s",
            ),
        }


WORKLOADS = {w.name: w for w in (Ingest, ReportServe)}
