"""The three product-path workloads, their checks and their metrics.

A run is one process: it starts a pinned Spark session, serves the
engine over gRPC on a loopback port, and drives it from closed-loop
clients in the same process. See ``perfbench/README.md`` for what each
workload stresses and why.
"""

from __future__ import annotations

import math
import os
import random
import shlex
import statistics
import sys
import threading
import time
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen, sparklog, stats
from perfbench.client import CallFailed, GrpcClient
from perfbench.trace import LAYER_METRICS, Tracer, layer_times

CORES = len(os.sched_getaffinity(0))
#: Driver heap, initial and maximum. The package default (48g) is more than
#: a small box has, and a heap that grows on demand grows by a different
#: amount each run; either lets GC timing and RSS drift between runs.
HEAP = "2g"
TICK_ROWS = 2_000
LEDGER_PARTS = 24
LEDGER_PART_ROWS = 62_500
#: Fixture builds per run; ``setup_s`` takes their median.
SETUP_REPEATS = 3
#: Measured ops per second of ``--seconds``, sized so that a 15-second run
#: measures about 15 s on a 4-core box. The op count is fixed by the
#: arguments alone, so both commits of a comparison do the same work and
#: see the same ledger growth.
OPS_PER_SECOND = {"increment": 40 / 15, "backfill": 7 / 15, "concurrent": 60 / 15}
MIN_OPS = {"increment": 20, "backfill": 3, "concurrent": 4 * CORES}
SYSTEM_TIME0 = datetime(2024, 1, 1, tzinfo=timezone.utc)

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "throughput_ops": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    **{m: "s" for m in LAYER_METRICS},
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.scan_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.input_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.cores_busy_ratio": "ratio",
    "sources.rows_scanned_per_row_out": "ratio",
    "trace.coverage_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
}


@dataclass
class Op:
    """One ExecuteTransform request, its outcome and its client-side wall."""

    req: object  # TransformRequest
    measured: bool
    wall: float = 0.0
    resp: object = None  # TransformResponse
    error: str | None = None


# -- Spark and the server ---------------------------------------------------


def start_spark(work: str, trace: bool):
    """The benchmark's own pinned session: ``local[nproc]``, UI off, a
    bounded heap, every scratch file inside the run's work directory, and
    an uncompressed event log only when tracing."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    confs = {
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"
    os.environ["SPARK_DRIVER_MEM"] = HEAP
    from kamu_engine_datafusion_spark.session import odf_session

    spark = odf_session("perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _process_tree(pid: int) -> list[int]:
    out = [pid]
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                for child in f.read().split():
                    out += _process_tree(int(child))
    except OSError:
        pass
    return out


def peak_rss_mb(spark) -> float:
    """High-water resident memory of this process plus the JVM (and any
    Python workers it runs), in MB."""
    jvm = spark.sparkContext._gateway.proc.pid
    return (_hwm_kb(os.getpid()) + sum(_hwm_kb(p) for p in _process_tree(jvm))) / 1024.0


class Server:
    """The engine's gRPC server on an ephemeral loopback port."""

    def __init__(self, spark) -> None:
        from kamu_engine_datafusion_spark.transport.grpc_server import serve_grpc

        self.h2 = serve_grpc(spark, port=0)
        self.port = self.h2.server_address[1]

    def close(self) -> None:
        self.h2.shutdown()
        self.h2.server_close()


# -- tracing hooks ----------------------------------------------------------


def install_tracing(spark) -> Tracer:
    """Wrap each layer boundary, under the name its caller looks up."""
    from pyspark.sql import SparkSession

    import kamu_engine_datafusion_spark.plans.transform as transform
    from kamu_engine_datafusion_spark.streaming.incremental import IncrementalRunner
    from kamu_engine_datafusion_spark.transport import odf_flatbuffers as fb

    tracer = Tracer()
    sc = spark.sparkContext
    engine_call = transform.Engine.execute_transform

    def tagged(self, request, *args, **kwargs):
        # Spark copies the calling thread's local properties into each job
        # it starts, which is how the event log charges jobs to requests.
        key = request.new_data_path
        sc.setLocalProperty(sparklog.KEY_PROPERTY, key if key in tracer.traced else None)
        try:
            return engine_call(self, request, *args, **kwargs)
        finally:
            sc.setLocalProperty(sparklog.KEY_PROPERTY, None)

    tracer.patch(transform.Engine, "execute_transform", tagged)
    request_key = lambda args: args[1].new_data_path  # noqa: E731
    tracer.wrap(transform.Engine, "execute_transform", "plans.engine", key_before=request_key)
    tracer.wrap(IncrementalRunner, "tick", "streaming.tick")
    tracer.wrap(GrpcClient, "execute_transform", "transport.client_call", key_before=request_key)
    for name in ("encode_transform_request", "decode_response", "encode_response"):
        tracer.wrap(fb, name, "transport.codec")
    tracer.wrap(
        fb,
        "decode_transform_request",
        "transport.codec",
        key_after=lambda body: body.get("new_data_path"),
    )
    tracer.wrap(SparkSession, "newSession", "plans.new_session")
    tracer.wrap(transform, "tune_session", "plans.tune_session")
    tracer.wrap(transform, "register_input", "sources.register_input")
    tracer.wrap(transform, "run_transform_steps", "plans.run_transform_steps")
    for name in ("normalize_raw_result", "validate_raw_result", "with_system_columns"):
        tracer.wrap(transform, name, f"operators.{name}")
    tracer.wrap(transform, "write_parquet_single_file", "sources.write_parquet_single_file")
    return tracer


# -- workloads --------------------------------------------------------------


def transform_request(files: list[str], lo: int, hi: int, next_offset: int, out: str, i: int):
    """The filter/map transform of the ``[lo, hi]`` slice of ``files``."""
    from kamu_engine_datafusion_spark.plans.types import (
        DatasetVocabulary,
        OffsetInterval,
        SqlQueryStep,
        TransformRequest,
        TransformRequestInput,
    )

    return TransformRequest(
        dataset_alias="output",
        system_time=SYSTEM_TIME0 + timedelta(minutes=i),
        next_offset=next_offset,
        vocab=DatasetVocabulary(),
        transform=[SqlQueryStep(query=gen.TRANSFORM_SQL)],
        inputs=[
            TransformRequestInput(
                dataset_alias="input",
                query_alias="input",
                schema_file=files[0],
                data_paths=list(files),
                offset_interval=OffsetInterval(lo, hi),
            )
        ],
        new_data_path=out,
    )


def send(client: GrpcClient, op: Op) -> Op:
    t0 = time.perf_counter()
    try:
        op.resp = client.execute_transform(op.req)
    except Exception as e:  # any failure is the op's, counted and reported
        op.error = f"{type(e).__name__}: {e}"
    op.wall = time.perf_counter() - t0
    return op


class Workload:
    """Set-up, warm-up and measured loop of one workload.

    ``generate`` makes the inputs once; ``fixture`` starts a server,
    connects the clients and warms up (it runs :data:`SETUP_REPEATS`
    times, each replacing the last); ``measure`` runs the measured ops.
    Every op, warm-up included, lands in :attr:`ops` and is checked."""

    def __init__(self, spark, work: str, seed: int, n_ops: int, tracer: Tracer | None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.n_ops = n_ops
        self.tracer = tracer
        self.ops: list[Op] = []
        self.server: Server | None = None
        self.clients: list[GrpcClient] = []

    def traced(self, index: int, key: str) -> None:
        """Trace every other measured op, so one run also reads the
        tracing overhead from the ops it leaves untraced."""
        if self.tracer is not None and index % 2 == 0:
            self.tracer.traced.add(key)

    def connect(self, k: int, n_clients: int) -> None:
        self.close()
        self.server = Server(self.spark)
        self.clients = [GrpcClient(self.server.port) for _ in range(n_clients)]
        self.fixture_dir = os.path.join(self.work, f"fixture-{k}")

    def close(self) -> None:
        for c in self.clients:
            c.close()
        self.clients = []
        if self.server is not None:
            self.server.close()
            self.server = None

    def generate(self) -> None:
        pass


class Increment(Workload):
    """One client on one connection drives ``IncrementalRunner.tick`` with
    a gRPC executor. Each op appends one 2,000-row part and transforms
    exactly that unread slice."""

    WARMUP = 3

    def fixture(self, k: int) -> None:
        from kamu_engine_datafusion_spark.plans.types import SqlQueryStep
        from kamu_engine_datafusion_spark.streaming.incremental import (
            IncrementalRunner,
            LedgerInput,
        )

        self.connect(k, 1)
        client = self.clients[0]

        def executor(_spark, req):
            op = send(client, Op(req=req, measured=self.measuring))
            self.ops.append(op)
            if op.error:
                raise CallFailed(op.error)
            return op.resp

        self.runner = IncrementalRunner(
            spark=self.spark,
            transform=[SqlQueryStep(query=gen.TRANSFORM_SQL)],
            inputs=[LedgerInput("input", "input", os.path.join(self.fixture_dir, "in"))],
            output_dir=os.path.join(self.fixture_dir, "out"),
            executor=executor,
        )
        self.measuring = False
        for i in range(self.WARMUP):
            self.tick(i)

    def tick(self, i: int) -> None:
        runner = self.runner
        gen.write_part(runner.inputs[0].ledger_dir, self.seed, i, i * TICK_ROWS, TICK_ROWS)
        if self.measuring:
            self.traced(i, os.path.join(runner.output_dir, f"part-{runner.ticks:05d}.parquet"))
        t0 = time.perf_counter()
        try:
            runner.tick(SYSTEM_TIME0 + timedelta(minutes=i))
        except CallFailed:
            pass
        # The op's latency is the whole tick: listing, footers and the RPC.
        self.ops[-1].wall = time.perf_counter() - t0

    def measure(self) -> None:
        self.measuring = True
        for i in range(self.WARMUP, self.WARMUP + self.n_ops):
            self.tick(i)


class StaticLedger(Workload):
    """A workload over one ledger generated up front."""

    def generate(self) -> None:
        self.files = gen.write_ledger(
            os.path.join(self.work, "ledger"), self.seed, LEDGER_PARTS, LEDGER_PART_ROWS
        )


class Backfill(StaticLedger):
    """One client transforms the whole static ledger per op, each time
    into a fresh output dataset."""

    def op(self, name: str, i: int, measured: bool) -> Op:
        out = os.path.join(self.fixture_dir, f"{name}-{i}.parquet")
        req = transform_request(self.files, 0, LEDGER_PARTS * LEDGER_PART_ROWS - 1, 0, out, i)
        if measured:
            self.traced(i, out)
        op = send(self.clients[0], Op(req=req, measured=measured))
        self.ops.append(op)
        return op

    def fixture(self, k: int) -> None:
        self.connect(k, 1)
        self.op("warmup", 0, measured=False)

    def measure(self) -> None:
        for i in range(self.n_ops):
            self.op("op", i, measured=True)


class Concurrent(StaticLedger):
    """``nproc`` clients, each on its own connection with its own output
    dataset, each op a 2,000-row slice transform of the static ledger."""

    WARMUP = 1

    def client_loop(self, c: int, first: int, count: int, measured: bool, start: threading.Barrier) -> None:
        rng = random.Random(f"{self.seed}-{c}-{first}")
        client = self.clients[c]
        out_dir = os.path.join(self.fixture_dir, f"client-{c}")
        next_offset = self.next_offset[c]
        start.wait()
        for i in range(first, first + count):
            lo = rng.randrange(0, LEDGER_PARTS * LEDGER_PART_ROWS - TICK_ROWS + 1)
            out = os.path.join(out_dir, f"part-{i:05d}.parquet")
            if measured:
                self.traced(i, out)
            op = send(client, Op(transform_request(self.files, lo, lo + TICK_ROWS - 1, next_offset, out, i), measured))
            with self.lock:
                self.ops.append(op)
            if op.resp is not None and op.resp.new_offset_interval is not None:
                next_offset = op.resp.new_offset_interval.end + 1
        self.next_offset[c] = next_offset

    def run_clients(self, first: int, per_client: int, measured: bool) -> None:
        start = threading.Barrier(len(self.clients) + 1)
        threads = [
            threading.Thread(target=self.client_loop, args=(c, first, per_client, measured, start))
            for c in range(len(self.clients))
        ]
        for t in threads:
            t.start()
        start.wait()
        for t in threads:
            t.join()

    def fixture(self, k: int) -> None:
        self.connect(k, CORES)
        self.lock = threading.Lock()
        self.next_offset = [0] * CORES
        self.run_clients(0, self.WARMUP, measured=False)

    def measure(self) -> None:
        self.run_clients(self.WARMUP, math.ceil(self.n_ops / CORES), measured=True)


WORKLOADS = {"increment": Increment, "backfill": Backfill, "concurrent": Concurrent}


# -- checks -----------------------------------------------------------------


def expected_counts(ops: list[Op]) -> list[int]:
    """DuckDB's count of each op's input slice under the transform's
    predicate, read from the ledger files on disk."""
    con = duckdb.connect()
    try:
        out = [0] * len(ops)
        by_ledger: dict[str, list[int]] = {}
        for i, op in enumerate(ops):
            by_ledger.setdefault(os.path.dirname(op.req.inputs[0].data_paths[0]), []).append(i)
        for ledger, idx in by_ledger.items():
            iv = [ops[i].req.inputs[0].offset_interval for i in idx]
            con.register(
                "slices",
                pa.table({"id": idx, "lo": [v.start for v in iv], "hi": [v.end for v in iv]}),
            )
            rows = con.execute(
                'SELECT s.id, count(l."offset") FROM slices s '
                "LEFT JOIN read_parquet(?) l "
                f'ON l."offset" BETWEEN s.lo AND s.hi AND {gen.PREDICATE_SQL} '
                "GROUP BY s.id",
                [os.path.join(ledger, "*.parquet")],
            ).fetchall()
            con.unregister("slices")
            for i, n in rows:
                out[i] = n
        return out
    finally:
        con.close()


def check_op(op: Op, expected_rows: int) -> str | None:
    """Why ``op``'s response or output file is wrong, or None."""
    if op.error:
        return op.error
    req, oi = op.req, op.resp.new_offset_interval
    if expected_rows == 0:
        return None if oi is None else f"interval {oi} for an empty slice"
    if oi is None or (oi.start, oi.end) != (req.next_offset, req.next_offset + expected_rows - 1):
        return f"interval {oi}, expected {expected_rows} rows from {req.next_offset}"
    f = pq.ParquetFile(req.new_data_path)
    if f.metadata.num_rows != expected_rows:
        return f"footer counts {f.metadata.num_rows} rows, DuckDB {expected_rows}"
    t = f.read(columns=["offset", "op", "system_time"])
    if not np.array_equal(
        t["offset"].to_numpy(), np.arange(req.next_offset, req.next_offset + expected_rows)
    ):
        return "offsets are not dense from next_offset"
    if np.any(t["op"].to_numpy() != 0):
        return "op column is not all append"
    want_ms = int(req.system_time.timestamp() * 1000)
    if np.any(t["system_time"].cast(pa.int64()).to_numpy() != want_ms):
        return "system_time differs from the request"
    return None


# -- the run ----------------------------------------------------------------


def _seconds(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def ops_for(workload: str, seconds: int) -> int:
    return max(MIN_OPS[workload], round(seconds * OPS_PER_SECOND[workload]))


def run(workload: str, seed: int, seconds: int, trace: bool, work: str) -> dict:
    t_start = time.perf_counter()
    spark = start_spark(work, trace)
    try:
        session_s = time.perf_counter() - t_start
        tracer = install_tracing(spark) if trace else None
        wl = WORKLOADS[workload](spark, work, seed, ops_for(workload, seconds), tracer)
        try:
            gen_s = _seconds(wl.generate)
            fixture_s = [_seconds(lambda k=k: wl.fixture(k)) for k in range(SETUP_REPEATS)]
            window_s = _seconds(wl.measure)
            rss = peak_rss_mb(spark)
        finally:
            wl.close()
            if tracer is not None:
                tracer.restore()
    finally:
        stop_spark(spark)

    counts = expected_counts(wl.ops)
    errors = [check_op(op, n) for op, n in zip(wl.ops, counts)]
    failed = sum(e is not None for e in errors)
    for op, e in zip(wl.ops, errors):
        if e is not None:
            print(f"FAILED {op.req.new_data_path}: {e}", file=sys.stderr)
    measured = [op for op, e in zip(wl.ops, errors) if op.measured and e is None]
    walls = [op.wall for op in measured]
    if not walls:
        raise SystemExit("no measured op succeeded")

    if not trace:
        metrics = {
            "setup_s": session_s + gen_s + statistics.median(fixture_s),
            "op_p50_s": statistics.median(walls),
            "op_tail_s": stats.percentile(walls, stats.tail_percentile(len(walls))),
            "throughput_ops": len(measured) / window_s,
            "peak_rss_mb": rss,
        }
        units = END_TO_END_UNITS
    else:
        metrics = layer_metrics(tracer, measured, sparklog.read_event_log(os.path.join(work, "eventlog")))
        units = PER_LAYER_UNITS
    return {
        "correct": failed == 0,
        "attempted": len(wl.ops),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }


def layer_metrics(tracer: Tracer, measured: list[Op], counters: dict) -> dict[str, float]:
    """Median over the traced ops of each per-layer metric."""
    spans = tracer.by_key()
    per_op: list[dict[str, float]] = []
    untraced: list[float] = []
    for op in measured:
        key = op.req.new_data_path
        if key not in tracer.traced:
            untraced.append(op.wall)
            continue
        m = layer_times(spans.get(key, []))
        m["trace.coverage_ratio"] = sum(m.values()) / op.wall
        c = counters.get(key, dict.fromkeys(sparklog.COUNTERS, 0))
        m.update({k: c[k] for k in PER_LAYER_UNITS if k in c})
        m["spark.cores_busy_ratio"] = c["spark.executor_run_s"] / (op.wall * CORES)
        rows_out = op.resp.new_offset_interval.end - op.resp.new_offset_interval.start + 1
        m["sources.rows_scanned_per_row_out"] = c["spark.input_rows"] / rows_out
        m["wall"] = op.wall
        per_op.append(m)
    out = {k: statistics.median([m[k] for m in per_op]) for k in PER_LAYER_UNITS if k != "trace.overhead_ratio"}
    out["trace.overhead_ratio"] = statistics.median([m["wall"] for m in per_op]) / statistics.median(untraced)
    return out
