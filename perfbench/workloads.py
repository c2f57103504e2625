"""The benchmark's workloads: closed loop, one process, fixed work per run.

Each workload stages seeded inputs, builds its pipeline (``setup``),
applies one warm-up batch, times the measured batches one after the
other, then times point lookups and decoding scans on the final table.
Reads never overlap writes.  Correctness gates run after every timed
region; a mismatch counts as a failed operation.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

import gen

# Sizes are fixed per workload; only the number of measured batches
# follows --seconds (a fixed function of it, never of measured speed).
BULK = {
    "batch_events": 60_000,
    "num_keys": 200_000,
    "max_len": 128,
    "snapshot_docs": 30_000,
    "snapshot_stride": 2,
    "bucket_count": 16,
    "est_batch_s": 5.0,
}
TRICKLE = {
    "batch_events": 300,
    "snapshot_docs": 20_000,
    "snapshot_stride": 8,
    "max_len": 32,
    "bucket_count": 16,
    "first_lsn": 1_000_000,
    "est_batch_s": 5.0,
}
SETUP_REPEATS = 3
LOOKUPS = 5
BULK_LOOKUP_AT = 3  # this lookup asks for READ_KEYS_ISIN_MAX + 1 keys
CHECKED_LOOKUPS = (0, BULK_LOOKUP_AT)  # compared with read(version) after the reads
SCANS = 5


def measured_batches(seconds: int, est_batch_s: float) -> int:
    return max(2, round(seconds / est_batch_s))


def file_bytes(root: str, part: str | None = None) -> int:
    """Apparent bytes of every file under ``root`` (only under
    directories named ``part`` when given)."""
    total = 0
    for d, _, files in os.walk(root):
        if part is None or part in d.split(os.sep):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def version_sum(pipe_root: str) -> int:
    """Sum of the newest snapshot version of every pipeline table, read
    from the directory listing (not through the traced API)."""
    total = 0
    for t in os.listdir(pipe_root):
        snaps = os.path.join(pipe_root, t, "_meta", "snapshots")
        if os.path.isdir(snaps):
            total += max(int(f[1:9]) for f in os.listdir(snaps) if f.endswith(".json"))
    return total


class Run:
    """State and samples of one benchmark run."""

    def __init__(self, spark, session_s: float, build_session, work: str, seed: int, seconds: int, trace: bool):
        self.spark = spark
        self.build_session = build_session
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.session_s: list[float] = [session_s]
        self.build_s: list[float] = []
        self.setup_s = 0.0
        self.batch_spans: list[tuple[float, float]] = []  # (start, end) of each measured batch
        self.batch_events: list[int] = []
        self.lookup_s: list[float] = []
        self.lookup_files: list[int] = []
        self.scan_s: list[float] = []
        self.info: dict = {"phase_s": {}}
        self._mark = time.perf_counter()

    @property
    def batch_s(self) -> list[float]:
        return [t1 - t0 for t0, t1 in self.batch_spans]

    def mark(self, phase: str) -> None:
        """Close the current phase: wall seconds since the previous mark."""
        now = time.perf_counter()
        self.info["phase_s"][phase] = now - self._mark
        self._mark = now

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    def gate(self, name: str, fn) -> None:
        """Run a correctness gate outside any timed region."""
        try:
            ok = fn()
        except Exception as e:  # a gate that cannot run is a failed gate
            ok = False
            name = f"{name}: {type(e).__name__}: {e}"[:300]
        if not ok:
            self.fail(name)

    def build(self, make) -> object:
        """Set up ``SETUP_REPEATS`` times and keep the last pipeline.
        Session starts: the cold one the run began with, then stop and
        start again in the same JVM until there are ``SETUP_REPEATS``.
        Pipeline builds: ``SETUP_REPEATS`` into fresh roots, in the last
        session.  ``setup_s`` is the median session start plus the median
        build, so the cold JVM start and the cold first build drop out.
        A traced run installs its tracer afterwards, on the session the
        measured work runs in."""
        for _ in range(SETUP_REPEATS - 1):
            t0 = time.perf_counter()
            self.spark.stop()
            self.spark = self.build_session()
            self.session_s.append(time.perf_counter() - t0)
        pipe = None
        for i in range(SETUP_REPEATS):
            if i:
                shutil.rmtree(os.path.join(self.work, f"pipe{i - 1}"))
            t0 = time.perf_counter()
            pipe = make(self.spark, os.path.join(self.work, f"pipe{i}"))
            self.build_s.append(time.perf_counter() - t0)
        self.setup_s = statistics.median(self.session_s) + statistics.median(self.build_s)
        if self.trace:
            import layers

            self.tracer = layers.install(self.spark)
        return pipe

    # ------------------------------------------------------------ reads
    def read_phase(self, table, key_pool) -> None:
        """One untimed lookup and one untimed scan, then
        ``LOOKUPS`` timed point lookups of 16-64 keys (one bulk lookup past
        READ_KEYS_ISIN_MAX), then ``SCANS`` timed decoding scans."""
        from pyspark.sql import functions as F

        from horizon_etl_spark.tables.lake import READ_KEYS_ISIN_MAX

        rng = np.random.default_rng([self.seed, 9])
        tokens = F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x)

        def scan():
            self.attempted += 1
            table.read(self.spark).agg(F.count(F.lit(1)), F.sum(tokens)).collect()

        self.attempted += 1
        table.read_keys(self.spark, [f"doc-{int(r):012d}" for r in key_pool(rng, 32)]).collect()
        scan()
        sampled = []
        for i in range(LOOKUPS):
            n = READ_KEYS_ISIN_MAX + 1 if i == BULK_LOOKUP_AT else int(rng.integers(16, 65))
            keys = [f"doc-{int(r):012d}" for r in key_pool(rng, n)]
            version = table.current_version()
            self.attempted += 1
            t0 = time.perf_counter()
            df = table.read_keys(self.spark, keys)
            rows = df.collect()
            self.lookup_s.append(time.perf_counter() - t0)
            if self.tracer is not None:
                self.lookup_files.append(len(df.inputFiles()))
            if i in CHECKED_LOOKUPS:
                sampled.append((keys, version, rows))
        self.mark("read_keys")
        for _ in range(SCANS):
            t0 = time.perf_counter()
            scan()
            self.scan_s.append(time.perf_counter() - t0)
        self.mark("scans")
        for keys, version, rows in sampled:
            self.gate("read_keys == read(version) filtered", lambda: _rows(rows) == _rows(
                table.read(self.spark, version=version).join(
                    self.spark.createDataFrame([(k,) for k in keys], "doc_id string"),
                    "doc_id", "left_semi",
                ).collect()
            ))


def _rows(rows) -> list[str]:
    return sorted(json.dumps(r.asDict(), sort_keys=True, default=str) for r in rows)


def fingerprint(df) -> tuple:
    """Order-free multiset fingerprint of a payload frame: row count and
    the decimal sum of a 64-bit hash of every row."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)]).cast("decimal(38,0)")
    return tuple(df.agg(F.count(F.lit(1)), F.sum(h)).collect()[0])


# ----------------------------------------------------------------- bulk
def bulk_replay(run: Run) -> dict:
    """Large whole-row batches through ``apply_batch`` with lineage on
    (metrics, change_log, rollup) into a range-pruned target."""
    from pyspark.sql import functions as F

    from horizon_etl_spark.cdc import apply as apply_mod
    from horizon_etl_spark.cdc.oracle import expected_final
    from horizon_etl_spark.cdc.schema import CHANGE_FEED_SCHEMA

    c = BULK
    n = measured_batches(run.seconds, c["est_batch_s"])
    tables = gen.whole_row_batches(run.seed, 1 + n, c["batch_events"], c["num_keys"], c["max_len"])
    paths = gen.write_files(tables, os.path.join(run.work, "feed"))
    snap_path = os.path.join(run.work, "snapshot.parquet")
    pq.write_table(
        gen.snapshot_table(run.seed, c["snapshot_docs"], c["snapshot_stride"], c["max_len"]), snap_path
    )
    snapshot_lsn = -1
    run.mark("stage")

    def make(spark, root):
        pipe = apply_mod.CdcPipeline.create(root, bucket_count=c["bucket_count"])
        apply_mod.bootstrap(pipe, spark, spark.read.parquet(snap_path), as_of_lsn=snapshot_lsn, with_rollup=True)
        return pipe

    pipe = run.build(make)
    spark = run.spark
    run.mark("setup")
    feed = [spark.read.schema(CHANGE_FEED_SCHEMA).parquet(p) for p in paths]
    run.attempted += 1
    apply_mod.apply_batch(pipe, feed[0], 0, with_rollup=True)  # warm-up
    run.mark("warmup")
    run.batch_events = [t.num_rows for t in tables[1:]]
    data_before = file_bytes(pipe.root, "data")
    for b in range(1, 1 + n):
        run.attempted += 1
        t0 = time.perf_counter()
        apply_mod.apply_batch(pipe, feed[b], b, with_rollup=True)
        run.batch_spans.append((t0, time.perf_counter()))
    run.info["data_bytes_written"] = file_bytes(pipe.root, "data") - data_before
    run.info["measured_files"] = paths[1:]
    run.mark("measured")

    k = c["num_keys"]
    run.read_phase(pipe.target, lambda rng, m: rng.integers(1, 2 * k, size=m))
    run.mark("read_checks")

    # correctness: the target equals the LWW fold of snapshot + every event
    def target_equal():
        snap_events = (
            spark.read.parquet(snap_path)
            .withColumn("op", F.lit("insert"))
            .withColumn("lsn", F.lit(snapshot_lsn).cast("long"))
            .withColumn("ts", F.lit(None).cast("timestamp"))
        )
        events = spark.read.schema(CHANGE_FEED_SCHEMA).parquet(*paths).unionByName(snap_events)
        return fingerprint(pipe.target.read(spark)) == fingerprint(expected_final(events))

    def rollup_equal():
        rebuilt = pipe.target.read(spark).groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.coalesce(F.col("n_tok"), F.lit(0))).alias("total_tokens"),
        )
        return sorted(map(tuple, rebuilt.collect())) == sorted(map(tuple, pipe.rollup.read(spark).collect()))

    def change_log_unique():
        log = pipe.change_log.read(spark)
        return log.groupBy("batch_id", "doc_id", "lsn").count().filter("count > 1").count() == 0

    run.gate("target == oracle.expected_final", target_equal)
    run.gate("rollup == rebuild from target", rollup_equal)
    run.gate("change_log (batch_id, doc_id, lsn) unique", change_log_unique)
    run.mark("gates")
    return {"pipe": pipe, "config": {**c, "measured_batches": n}}


def speedup_vs_1core(run: Run) -> float:
    """Replay a fixed slice of the first measured batch (its events with
    lsn below ``batch_events + 25_000``, about 26k with the re-delivered
    ones) into a fresh pipeline at the session's parallelism, then again
    at ``local[1]`` in the same JVM.  Stops ``run.spark``; returns
    t(local[1]) / t(local[N])."""
    from pyspark.sql import functions as F

    from horizon_etl_spark.cdc import apply as apply_mod
    from horizon_etl_spark.cdc.schema import CHANGE_FEED_SCHEMA

    path = run.info["measured_files"][0]
    first_lsn = BULK["batch_events"]  # lsn range of batch 1 starts here
    times = []
    for i in range(2):
        spark = run.spark if i == 0 else run.build_session("local[1]")
        pipe = apply_mod.CdcPipeline.create(os.path.join(run.work, f"slice{i}"), bucket_count=BULK["bucket_count"])
        df = spark.read.schema(CHANGE_FEED_SCHEMA).parquet(path).filter(F.col("lsn") < first_lsn + 25_000)
        t0 = time.perf_counter()
        apply_mod.apply_batch(pipe, df, 0, with_rollup=True)
        times.append(time.perf_counter() - t0)
        spark.stop()
    return times[1] / times[0]


# -------------------------------------------------------------- trickle
def trickle_attr(run: Run) -> dict:
    """Small per-attribute batches through ``run_stream`` (one staged file
    per micro-batch) into a bloom-enabled attr-LWW target bootstrapped
    from a snapshot, lineage on."""
    from horizon_etl_spark.cdc import apply as apply_mod
    from horizon_etl_spark.cdc.attrs import sequential_fold_oracle
    from horizon_etl_spark.cdc.schema import ATTR_CHANGE_FEED_SCHEMA
    from horizon_etl_spark.streaming import runner

    c = TRICKLE
    n = measured_batches(run.seconds, c["est_batch_s"])
    docs, stride = c["snapshot_docs"], c["snapshot_stride"]
    snapshot = gen.snapshot_table(run.seed, docs, stride, c["max_len"])
    snap_path = os.path.join(run.work, "snapshot.parquet")
    pq.write_table(snapshot, snap_path)
    tables = gen.trickle_batches(
        run.seed, 1 + n, c["batch_events"], docs, stride, c["first_lsn"], c["max_len"]
    )
    feed_dir = os.path.join(run.work, "feed")
    paths = gen.write_files(tables, feed_dir)
    snapshot_lsn = c["first_lsn"] - 1
    run.mark("stage")

    def make(spark, root):
        pipe = apply_mod.CdcPipeline.create(root, bucket_count=c["bucket_count"], attr_lww=True)
        pipe.target.set_props({"key_bloom": "true"})
        apply_mod.bootstrap(pipe, spark, spark.read.parquet(snap_path), as_of_lsn=snapshot_lsn, with_rollup=True)
        return pipe

    pipe = run.build(make)
    spark = run.spark
    run.mark("setup")
    # a batch's time runs from the stream's hand-off to apply_batch until
    # its commit is visible, as on bulk_replay; the stream's own work
    # between batches counts in events_per_s only
    calls: list[tuple[int, float, float]] = []
    data_bytes: list[int] = []
    apply_batch = runner.apply_batch

    def timed(*args, **kwargs):
        batch_id = kwargs["batch_id"]
        if batch_id == 1:
            data_bytes.append(file_bytes(pipe.root, "data"))
        t0 = time.perf_counter()
        out = apply_batch(*args, **kwargs)
        calls.append((batch_id, t0, time.perf_counter()))
        if batch_id == n:
            data_bytes.append(file_bytes(pipe.root, "data"))
        return out

    run.attempted += 1 + n
    runner.apply_batch = timed
    try:
        runner.run_stream(
            spark, pipe, feed_dir, os.path.join(run.work, "checkpoint"),
            max_files_per_trigger=1, feed_schema=ATTR_CHANGE_FEED_SCHEMA, with_rollup=True,
        )
    finally:
        runner.apply_batch = apply_batch
    run.batch_spans = [(t0, t1) for b, t0, t1 in calls if b >= 1]
    run.batch_events = [t.num_rows for t in tables[1:]]
    run.info["data_bytes_written"] = data_bytes[1] - data_bytes[0]
    run.info["measured_files"] = paths[1:]
    run.mark("stream")

    def key_pool(rng, m):
        present = rng.integers(0, docs, size=m) * stride
        anywhere = rng.integers(0, docs * stride, size=m)
        return np.where(rng.random(m) < 0.5, present, anywhere)

    run.read_phase(pipe.target, key_pool)
    run.mark("read_checks")

    def one_batch_per_file():
        runs = pipe.runs.read(spark).filter("batch_id >= 0").select("batch_id", "input_rows").collect()
        return sorted((r["batch_id"], r["input_rows"]) for r in runs) == [
            (i, t.num_rows) for i, t in enumerate(tables)
        ]

    def target_equal():
        payload = list(gen.PAYLOAD)
        events = [
            {**r, "op": "insert", "lsn": snapshot_lsn, "fields": None} for r in snapshot.to_pylist()
        ]
        for t in tables:
            events.extend(t.to_pylist())
        expected = sequential_fold_oracle(events, payload)
        rows = pipe.target.read(spark).toArrow().to_pylist()
        got = {r["doc_id"]: {p: r[p] for p in payload} for r in rows}
        return got == expected

    run.gate("one micro-batch per staged file", one_batch_per_file)
    run.gate("target == attrs.sequential_fold_oracle", target_equal)
    run.mark("gates")
    return {"pipe": pipe, "config": {**c, "measured_batches": n}}


WORKLOADS = {"bulk_replay": bulk_replay, "trickle_attr": trickle_attr}


def end_to_end(run: Run, out: dict, peak_rss_mb: float) -> dict:
    return {
        "setup_s": (run.setup_s, "s"),
        # from the start of the first measured batch to the end of the last
        "events_per_s": (sum(run.batch_events) / (run.batch_spans[-1][1] - run.batch_spans[0][0]), "ev/s"),
        "batch_s_p50": (statistics.median(run.batch_s), "s"),
        "read_keys_s_p50": (statistics.median(run.lookup_s), "s"),
        "scan_s": (statistics.median(run.scan_s), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "table_mb": (file_bytes(out["pipe"].root) / 2**20, "MB"),
    }
