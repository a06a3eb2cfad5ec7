"""The benchmark's workloads: which keys run, on which input, how the
session is set up before timing.

Every workload is a closed loop: one client in one process runs one
key at a time, ``local[nproc]``, and DuckDB gets the same thread count.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple[str, ...]
    # replication factor of the input: 1 reads the base tables, N > 1 a
    # key-shifted N-fold copy
    mult: int
    # serve tables from cached, repartitioned DataFrames with AQE off
    hot: bool
    # timed passes run until --seconds have elapsed and at least this
    # many have run: a median over two passes of a still-falling curve
    # moves with where the time limit cuts it
    min_passes: int
    # keys left out of the timed set because their result differs from
    # the DuckDB oracle; each run checks them once, untimed, and names
    # each one that still differs
    defects: tuple[str, ...] = ()


def _bench_keys() -> tuple[str, ...]:
    from bench import BENCH_SET

    return tuple(k for k in BENCH_SET.values() if k not in DEFECTS)


# bench.py keys whose result differs from the DuckDB oracle
# (correctness defects, see README.md):
# - evt_sessionize_lag compares whole seconds (ts cast to long) with
#   the 30-minute gap, so a gap in (1800 s, 1801 s) that straddles a
#   second boundary starts a session in DuckDB but not in Spark;
# - agg_groupby_q1 rounds double sums of ~3e9 to 4 decimals, and the
#   summation order moves the last digit: always on the cached layout
#   (AQE off, 8 shuffle partitions), in some runs on the x10 replica.
DEFECTS = ("evt_sessionize_lag", "agg_groupby_q1")

SCAN_KEYS = (
    "srt_topk_global",
    "join_multiway_5",
    "evt_rfm_segments",
    "agg_percentiles",
    "txt_ngram_topk",
    "dq_profile_table",
    "llm_dedup_exact",
    "agg_mode",
)

# A light subset of the write and streaming keys (see README.md): a
# partitioned file sink, a streaming foreachBatch sink, a stateful
# streaming aggregation and a pandas UDF (the Python-worker boundary)
INGEST_KEYS = (
    "snk_partitioned",
    "stm_foreachbatch_sink",
    "stm_tumbling_availablenow",
    "udf_pandas_vectorized",
)


def workloads() -> dict[str, Workload]:
    return {
        w.name: w
        for w in (
            # plan construction, Catalyst and dispatch dominate
            Workload("hot-sf0.1", _bench_keys(), mult=1, hot=True, min_passes=3, defects=DEFECTS),
            # scans, operators and shuffle dominate
            Workload("scan-x10", SCAN_KEYS, mult=10, hot=False, min_passes=1),
            # writes, micro-batches and the Python-worker boundary
            Workload("ingest-write", INGEST_KEYS, mult=1, hot=False, min_passes=3),
        )
    }


# bench.py's cached layout: each fact table hash-partitioned on the key
# its dominant bench consumer first exchanges on
CACHE_KEY = {
    "lineitem": "l_orderkey",
    "orders": "o_custkey",
    "events": "user_id",
    "documents": "text",
}
HOT_SHUFFLE_PARTITIONS = 8
SMALL_TABLE_ROWS = 8192


class HotTables:
    """A ``tables.set_table_provider`` provider serving cached,
    repartitioned tables, laid out as bench.py lays them out (bench.py
    keeps its provider inside ``main()``, so it cannot be imported)."""

    def __init__(self, spark, sf_dir: str) -> None:
        import atd_dockless_processing_spark.tables as tables

        self.tables = tables
        self.spark = spark
        self.sf_dir = sf_dir
        self.cache: dict[tuple[str, str], object] = {}
        self.load_s = 0.0
        self.n_part = min(HOT_SHUFFLE_PARTITIONS, spark.sparkContext.defaultParallelism)

    def __call__(self, spark, sf_dir: str, name: str):
        import time

        t0 = time.perf_counter()
        key = (sf_dir, name)
        if key not in self.cache:
            self.tables.set_table_provider(None)
            try:
                df = self.tables.load(spark, sf_dir, name)
                small = self.tables.parquet_nrows(sf_dir, name) < SMALL_TABLE_ROWS
                parts = min(4, self.n_part) if small else self.n_part
                cols = [CACHE_KEY[name]] if name in CACHE_KEY else []
                df = df.repartition(parts, *cols).cache()
                df.count()
                self.cache[key] = df
            finally:
                self.tables.set_table_provider(self)
        self.load_s += time.perf_counter() - t0
        return self.cache[key]

    def install(self) -> None:
        """Apply the hot session settings and fill the cache."""
        self.spark.conf.set("spark.sql.shuffle.partitions", str(HOT_SHUFFLE_PARTITIONS))
        self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        self.tables.set_table_provider(self)
        for name in self.tables.TABLES:
            self(self.spark, self.sf_dir, name)

    def uninstall(self) -> None:
        self.tables.set_table_provider(None)
        for df in self.cache.values():
            df.unpersist()
        self.cache.clear()
