"""The workloads. Each has ``setup`` (inputs, warm-up), ``operations``
(how many timed operations a run of given seconds makes), ``op`` (one
timed operation, returning its kind), ``check`` (oracle comparisons,
run outside the timed spans, returning the number of mismatches),
``disk_mb`` (what the program wrote to disk) and ``instrumentation``
(the patches the traced run applies).
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from tracing import Tracer, dir_bytes, held_back, host_ticks

#: query_mix: scale factor of the input tables, per scale
MIX_SF = {"full": 0.01, "tiny": 0.001}
#: stream_tick: the reference's live funding traffic (BASELINE.md): about
#: 100 perpetual symbols (here 20 users x 5 event types), three funding
#: events a day, a 120-day history, and a poll every 5 minutes that lands
#: each symbol's newest point, so all but one tick in 96 re-send
#: unchanged rows. Users and days per scale:
STREAM_SIZE = {"full": (20, 120), "tiny": (2, 30)}
TICKS_PER_SLOT = 96  # 5-minute polls per 8-hour funding slot
#: seconds a warm tick and a warm pass of the mix took on the 4-core
#: machine the benchmark was tuned on; they turn ``--seconds`` into a
#: count of ticks or passes (15 s: 10 ticks, 2 passes)
TICK_S = 1.5
PASS_S = 9.0
#: untimed ordinary ticks after the history tick: while the JVM compiles
#: the tick's code, tick latency falls over the first fifteen or so, from
#: about 3 s to a flat 1.4 s on the 4-core tuning machine; by the twelfth
#: it is within a tenth of that
WARM_TICKS = 12

#: query_mix: registry query → operator family
MIX = {
    "funding_stats": "reference",
    "tpch_q1_pricing_summary": "tpch",
    "minhash_lsh_dedup": "dedup",
    "ann_cosine_topk_ivf_pq": "similarity",
    "tfidf_top_terms": "text",
    "pagerank_trading_graph": "graph",
    "multimodal_jpeg_roundtrip": "codec",
}
FAMILIES = tuple(dict.fromkeys(MIX.values()))


def same(got: pd.DataFrame, want: pd.DataFrame, what: str) -> bool:
    """Equal after the tests' canonical normalization; a mismatch is
    shown on stderr."""
    from tests.conftest import normalize

    got, want = normalize(got), normalize(want)
    if list(got.columns) == list(want.columns) and got.equals(want):
        return True
    print(f"oracle mismatch: {what}\ngot:\n{got.head(20)}\n"
          f"want:\n{want.head(20)}", file=sys.stderr)
    return False


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in datagen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def shuffle_bytes_written(spark) -> int:
    """Shuffle bytes the session's executors have written so far, from
    Spark's status store once its listener bus has drained."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    execs = sc.statusStore().executorList(False)
    return sum(execs.apply(i).totalShuffleWrite()
               for i in range(execs.size()))


class Workload:
    """A run times ``operations(seconds)`` operations: a count fixed by
    the run length, so that every run times the same ticks or passes
    whatever the machine's speed. Latency still falls over the first
    ten or so operations while the JVM compiles, so a count that grew
    on a fast machine would lower the median on its own."""

    def __init__(self, spark, data_dir: str, seed: int, scale: str) -> None:
        self.spark = spark
        self.data = data_dir
        self.seed = seed
        self.scale = scale
        self.latency = 0.0  # seconds, of the last operation
        self.held_back = 0.0  # of the machine's working time, during it

    def rng(self, *salt: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *salt])

    @contextlib.contextmanager
    def timed(self, tracer: Tracer | None, kind: str, layer: str):
        """Time the system's part of one operation. With a tracer, it is
        also the root span of the operation, with ``layer``'s span
        inside it. Also records the share of the machine's working time
        the hypervisor held back meanwhile."""
        h0 = host_ticks()
        t0 = time.perf_counter()
        if tracer is None:
            yield
        else:
            with tracer.operation(kind), tracer.span(layer):
                yield
        self.latency = time.perf_counter() - t0
        self.held_back = held_back(h0, host_ticks())


class StreamTick(Workload):
    """Each tick lands one micro-batch file, the newest point of every
    symbol, and runs the streaming funding pipeline over it with
    ``availableNow``. The seed sets the values and the clock's phase
    within the 8-hour funding slot, so some runs cross one slot
    boundary, where every symbol lands a new point."""

    name = "stream_tick"

    def setup(self) -> None:
        from funding_monitoring_spark.schemas import FIXTURE_TABLES

        self.schema = FIXTURE_TABLES["events"]
        self.chunks = os.path.join(self.data, "chunks")
        self.store = os.path.join(self.data, "store")
        self.checkpoint = os.path.join(self.data, "checkpoint")
        os.makedirs(self.chunks)
        self.n_users, days = STREAM_SIZE[self.scale]
        rng = self.rng(0)
        self.slot = days * 3 - 1  # the newest funding slot
        history = datagen.make_funding_points(rng, self.n_users, 0,
                                              self.slot + 1)
        self.next_id = history.num_rows
        self.newest = history.slice(
            history.num_rows - self.n_users * len(datagen.EVENT_TYPES))
        self.poll = int(rng.integers(0, TICKS_PER_SLOT))  # polls into the slot
        self.tick = 0
        self._land(history)  # the store's history: one untimed tick
        self._run()
        for _ in range(WARM_TICKS):
            self.op()

    def operations(self, seconds: float) -> int:
        return max(1, round(seconds / TICK_S))

    def _stage(self) -> str:
        """Write the next poll's file beside the source dir: the newest
        point per symbol, new once per funding slot."""
        self.poll += 1
        if self.poll == TICKS_PER_SLOT:
            self.poll = 0
            self.slot += 1
            self.newest = datagen.make_funding_points(
                self.rng(1, self.slot), self.n_users, self.slot, 1,
                first_id=self.next_id)
            self.next_id += self.newest.num_rows
        return self._write(self.newest)

    def _write(self, batch: pa.Table) -> str:
        ts = batch.column("ts").cast(pa.timestamp("us", tz="UTC"))
        batch = batch.set_column(1, "ts", ts)
        staged = os.path.join(self.data, f"tick-{self.tick:05d}.parquet")
        pq.write_table(batch, staged)
        self.tick += 1
        return staged

    def _land(self, batch: pa.Table) -> None:
        staged = self._write(batch)
        os.replace(staged, os.path.join(self.chunks, os.path.basename(staged)))

    def _run(self) -> None:
        from funding_monitoring_spark.streaming import pipelines

        self.paths = pipelines.streaming_funding_pipeline(
            self.spark, self.chunks, self.schema, self.store,
            self.checkpoint, available_now=True)

    def op(self, tracer: Tracer | None = None) -> str:
        staged = self._stage()
        landed = os.path.join(self.chunks, os.path.basename(staged))
        with self.timed(tracer, "tick", "streaming.pipelines"):
            os.replace(staged, landed)
            self._run()
        return "tick"

    def check(self) -> int:
        from funding_monitoring_spark import registry

        con = duckdb.connect()
        con.sql("CREATE VIEW events AS SELECT * FROM "
                f"'{self.chunks}/*.parquet'")
        want = con.sql(registry.oracle_sql()["stream_funding_pipeline"]).df()
        got = self.spark.read.parquet(self.paths["stats"]).toPandas()
        return 0 if same(got, want, "final stats store") else 1

    def disk_mb(self) -> float:
        """What the pipeline keeps on disk: store and checkpoint."""
        return (dir_bytes(self.store) + dir_bytes(self.checkpoint)) / 1e6

    def instrumentation(self, tracer: Tracer) -> list:
        from funding_monitoring_spark.streaming import pipelines, sinks

        def upsert_writer(fn):
            def inner(*args, on_batch_complete=None, **kwargs):
                if on_batch_complete is not None:
                    on_batch_complete = tracer.spanned("pipeline.stats")(
                        on_batch_complete)
                write = fn(*args, on_batch_complete=on_batch_complete,
                           **kwargs)
                return tracer.spanned("sinks.merge")(write)
            return inner

        return [
            (pipelines, "upsert_writer", upsert_writer),
            (pipelines, "atomic_overwrite", tracer.swap()),
            (sinks, "atomic_overwrite", tracer.swap()),
        ]


class QueryMix(Workload):
    """Read-only registry queries in seeded order, each forced through
    the ``noop`` sink, after one untimed warm pass that collects the
    results the oracle checks."""

    name = "query_mix"

    def setup(self) -> None:
        from funding_monitoring_spark import registry
        from funding_monitoring_spark.operators.cachescope import (
            release_scoped_caches,
        )

        self.release = release_scoped_caches
        self.queries = registry.queries()
        self.sf_dir = os.path.join(self.data, "sf")
        datagen.write_tables(
            datagen.make_tables(MIX_SF[self.scale], self.seed), self.sf_dir)
        self.order: list[str] = []
        self.passes = 0
        self.results = {}
        for name in self._pass():  # warm pass; its results feed the oracle
            self.results[name] = self._collect(name)
        self.shuffle_at_start = shuffle_bytes_written(self.spark)

    def operations(self, seconds: float) -> int:
        self.timed_passes = max(1, round(seconds / PASS_S))
        return self.timed_passes * len(MIX)

    def _pass(self) -> list[str]:
        names = list(MIX)
        self.rng(3, self.passes).shuffle(names)
        self.passes += 1
        return names

    def op(self, tracer: Tracer | None = None) -> str:
        if not self.order:
            self.order = self._pass()
        name = self.order.pop(0)
        with self.timed(tracer, name, f"ops.{MIX[name]}"):
            self._run(name)
        return name

    def _run(self, name: str) -> None:
        try:
            self.queries[name](self.spark, self.sf_dir).write.format(
                "noop").mode("overwrite").save()
        finally:
            self.release()

    def _collect(self, name: str) -> pd.DataFrame:
        try:
            return self.queries[name](self.spark, self.sf_dir).toPandas()
        finally:
            self.release()

    def check(self) -> int:
        """Each query's warm-pass result, and its result when run once
        more after the timed passes in the same session, against the
        DuckDB oracle. The oracles run in a second thread beside the
        re-runs; neither is timed."""
        from funding_monitoring_spark import registry

        oracles = registry.oracle_sql()
        con = duck_views(self.sf_dir)
        again: dict[str, pd.DataFrame | None] = {}
        with ThreadPoolExecutor(1) as pool:
            wanted = pool.submit(
                lambda: {name: con.sql(oracles[name]).df() for name in MIX})
            for name in MIX:
                try:
                    again[name] = self._collect(name)
                except Exception:  # noqa: BLE001 — counted as a mismatch
                    traceback.print_exc(file=sys.stderr)
                    again[name] = None
            wants = wanted.result()
        bad = 0
        for name, want in wants.items():
            bad += not same(self.results[name], want, f"{name}, warm pass")
            bad += again[name] is None or not same(
                again[name], want, f"{name}, after the timed passes")
        return bad

    def disk_mb(self) -> float:
        """Shuffle files the timed passes wrote, per pass: the mix's
        queries write their results to the ``noop`` sink, so these are
        all it writes to disk."""
        written = shuffle_bytes_written(self.spark) - self.shuffle_at_start
        return written / self.timed_passes / 1e6

    def instrumentation(self, tracer: Tracer) -> list:
        """``load_table`` in every module that imported it."""
        from funding_monitoring_spark.sources import tables

        return [(mod, "load_table", tracer.spanned("sources.load"))
                for mod in list(sys.modules.values())
                if getattr(mod, "load_table", None) is tables.load_table]


WORKLOADS = {w.name: w for w in (StreamTick, QueryMix)}
