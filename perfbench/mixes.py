"""The query-mix workloads: registry queries over the repository's test data.

Every query is timed from the call to the registry function
(``queries.build``, which includes any eager iterative work) to the end
of a ``noop`` write (``queries.action``). Before each call the benchmark
reads the blocks Spark still holds from the previous query, then calls
``spark.catalog.clearCache()``: pagerank leaves its persisted inputs for
the caller to clear, and a warm cache from an earlier call would
otherwise time a different, cheaper query.

The tables are a copy of the repository's 0.01-scale test data
(``data/sf0.01``, seed 42), so a run reads only inside its checkout.
They are the same for every seed; the seed sets the query order of
each pass. The untimed warm-up runs every query once and compares it
with its DuckDB oracle through ``tests/oracle_harness``; the oracles run
on one DuckDB thread beside Spark's first executions, since q97's
recursive CTE alone takes about 15 s.
"""

from __future__ import annotations

import ctypes
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

from oculus_data_pipeline_spark.queries import get_oracle_sql, get_queries
from tests.oracle_harness import compare, duckdb_conn

from .clock import OpClock
from .trace import Tracer

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

MIXES = {
    # connected components over embedding near-dup pairs (q97, one
    # convergence check per round), pagerank (q93) and Lloyd k-means over
    # PQ sub-vectors (q157): iterative operators whose cost is a fixed
    # price per stage and round
    "queries_iterative": (
        "q97_semantic_clusters",
        "q93_pagerank",
        "q157_pq_lloyd_update",
    ),
}


class QueryMix:
    def __init__(self, name: str, work: str, seed: int):
        self.queries = MIXES[name]
        self.work = work
        self.data_dir = DATA_DIR
        self.registry = get_queries()
        self.rng = random.Random(seed)
        self.leaked: list[tuple[int, int]] = []
        self.errors: list[str] = []

    def _order(self) -> list[str]:
        order = list(self.queries)
        self.rng.shuffle(order)
        return order

    def warm(self, spark, clock: OpClock) -> tuple[int, int, list[str], float]:
        """The first pass, collected and compared with the oracles;
        returns attempted and failed queries, problems, and the pass's
        seconds without the comparison."""
        conn = duckdb_conn(self.data_dir)
        conn.execute("SET enable_progress_bar = false")
        conn.execute("SET threads = 1")
        conn.execute(f"SET temp_directory = '{self.work}/duckdb'")
        oracles = get_oracle_sql()

        def run_oracles() -> None:
            cur = conn.cursor()
            try:
                for name in self.queries:
                    cur.execute(f"CREATE TABLE oracle_{name} AS {oracles[name]}")
            finally:
                cur.close()

        problems: list[str] = []
        results: dict[str, _Collected] = {}
        try:
            with ThreadPoolExecutor(1) as pool:
                oracle_done = pool.submit(run_oracles)
                t0 = time.perf_counter()
                for name in self._order():
                    spark.catalog.clearCache()
                    try:
                        results[name] = _Collected(self.registry[name](spark, self.data_dir))
                    except Exception as e:  # a failing query is a measured failure
                        problems.append(f"{name}: {type(e).__name__}: {e}")
                pass_s = time.perf_counter() - t0
            oracle_done.result()
            for name, rows in results.items():
                problems += compare(rows, conn, f"SELECT * FROM oracle_{name}", name)
        finally:
            conn.close()
            # hand DuckDB's freed heap back to the OS, so that the driver's
            # RSS in the timed passes is the program's own
            ctypes.CDLL("libc.so.6").malloc_trim(0)
        spark.catalog.clearCache()
        failed = len({p.split(":", 1)[0] for p in problems})
        return len(self.queries), failed, problems, pass_s

    def run_pass(self, spark, tracer: Tracer, clock: OpClock) -> list[tuple[str, float | None]]:
        """One pass over the mix; returns (query, seconds or None if it
        failed) per query."""
        times: list[tuple[str, float | None]] = []
        for name in self._order():

            def call(name: str = name) -> None:
                with tracer.span("queries.build"):
                    df = self.registry[name](spark, self.data_dir)
                with tracer.span("queries.action"):
                    df.write.format("noop").mode("overwrite").save()

            try:
                times.append((name, clock.measure(call)))
            except Exception as e:  # counted as a failed operation
                times.append((name, None))
                self.errors.append(f"{name}: {type(e).__name__}: {e}")
            if tracer.enabled:
                self.leaked.append(tracer.store.cached())
            spark.catalog.clearCache()
        return times

    def check_last_pass(self, spark) -> list[str]:
        return []

    def traced_extra(self, spark, tracer: Tracer) -> tuple[int, int, list[str]]:
        return 0, 0, []

    def layer_metrics(self) -> dict[str, float]:
        if not self.leaked:
            return {}
        n = len(self.leaked)
        return {
            "queries.leaked_cached_blocks": sum(b for b, _ in self.leaked) / n,
            "queries.leaked_cached_bytes": sum(s for _, s in self.leaked) / n,
        }


class _Collected:
    """A query's collected rows, in the shape ``compare`` reads."""

    def __init__(self, df):
        self.columns = df.columns
        self._rows = df.collect()

    def collect(self) -> list:
        return self._rows
