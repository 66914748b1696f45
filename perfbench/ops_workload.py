"""``operators_mix``: passes over five registered operator queries.

Each query is built by ``__spark_entry__.queries()[name]`` over
generated star-schema tables and forced with a ``noop`` write. The
seed permutes the order of every pass, and ``spark.catalog.clearCache()``
runs after every query, so no query reads another query's cached table;
the number of persisted RDDs left behind is recorded before each clear.

The first pass runs cold (JIT, codegen, Python workers) and forces each
query with ``collect()``; its rows are compared, outside the timed
region, with the query's DuckDB oracle through
``tests/oracle_check.compare``. The passes after it are the timed
loop. The median pass is each query at its median time over them, so a
slow query in one pass does not pick that whole pass.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

import gen
from run import SETUP_ROUNDS, Bench, median, tail
from spans import Tracer

# query -> the operators module that does its work (one per module)
QUERIES = {
    "fuzzy_join_parts": "fuzzyjoin",
    "bm25_search": "text",
    "hybrid_search": "similarity",  # the Arrow cosine scorer + rrf
    "dsir_select": "dsir",
    "events_ewma": "timeseries",
}
SF = 0.01
PASS_S = 11.0  # nominal wall time of one warm pass on a 4-core box


def covers(metric: str) -> bool:
    """Whether this workload reaches the metric's layer."""
    return not metric.startswith(
        ("bench.cycle_", "bench.batch_", "plans.", "sources.", "streaming.",
         "operators.diff.", "trace.")
    )


def passes(seconds: int) -> int:
    return max(1, round(seconds / PASS_S))


class Collected:
    """Rows already collected from a query, in the shape
    ``oracle_check.compare`` reads, so the oracle check does not run the
    query a second time."""

    def __init__(self, df, rows):
        self.columns = list(df.columns)
        self.dtypes = df.dtypes
        self._rows = rows

    def collect(self):
        return self._rows


def run(b: Bench) -> None:
    import duckdb

    from tests.oracle_check import compare

    spark = b.spark
    n_passes = passes(b.seconds)

    data = os.path.join(b.work, "tables")
    rounds = []
    for _ in range(SETUP_ROUNDS):
        shutil.rmtree(data, ignore_errors=True)
        t0 = time.perf_counter()
        tables = gen.operator_tables(data, np.random.default_rng([b.seed, 3]), SF)
        rounds.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    import __spark_entry__ as entry

    builders = entry.queries()
    oracles = entry.oracle_sql()
    b.setup["entry_import"] = time.perf_counter() - t0
    b.setup["inputs"] = statistics.median(rounds)
    b.setup["inputs_rounds"] = rounds
    b.values["setup_s"] = b.setup["session"] + b.setup["inputs"] + b.setup["entry_import"]
    for name, (rows, size) in tables.items():
        b.inputs[name] = {"rows": rows, "bytes": size}
    b.inputs["sf"] = SF

    tracer = b.tracer = Tracer(spark) if b.trace else None

    # -- cold pass, forced with collect(); rows kept for the oracle ----
    collected = {}

    def cold_pass():
        for q in QUERIES:
            df = builders[q](spark, data)
            collected[q] = Collected(df, df.collect())
            spark.catalog.clearCache()

    cold = b.attempt(cold_pass)
    b.samples.append(cold)

    # -- timed passes ---------------------------------------------------
    rng = np.random.default_rng([b.seed, 4])
    per_query = {q: {"build_s": [], "exec_s": [], "jobs": [], "leaked_rdds": []} for q in QUERIES}

    def one(q: str):
        t0 = time.perf_counter()
        df = builders[q](spark, data)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        per_query[q]["build_s"].append(t1 - t0)
        per_query[q]["exec_s"].append(t2 - t1)
        per_query[q]["leaked_rdds"].append(b.persistent_rdds())
        spark.catalog.clearCache()

    def traced(q: str):
        with tracer.span(f"operators.{QUERIES[q]}.{q}") as sp, tracer.job_group(sp):
            one(q)
        per_query[q]["jobs"].append(tracer.jobs_of(sp)[0])

    pass_s = []
    orders = []
    timed = {q: [] for q in QUERIES}  # per query: (wall, CPU, JIT) of each success
    for p in range(n_passes):
        order = [list(QUERIES)[i] for i in rng.permutation(len(QUERIES))]
        orders.append(order)
        times = []
        with b.op("pass", p):
            for q in order:
                times.append(b.attempt(traced if tracer else one, q))
                if times[-1] is None:
                    spark.catalog.clearCache()
                else:
                    timed[q].append((times[-1], b.cpu[-1], b.jit[-1]))
        b.samples.extend(times)
        pass_s.append(None if None in times else sum(times))

    # the median pass: each query at its median over the timed passes
    ok = [w for ws in timed.values() for w in ws]
    b.summarize(
        cold=(cold, b.cpu[0], b.jit[0]),
        p50=tuple(
            sum(median([w[k] for w in ws]) for ws in timed.values()) for k in range(3)
        ),
        loop=tuple(sum(w[k] for w in ok) for k in range(3)),
        rows=sum(rows for rows, _ in tables.values()),
    )
    ptail, ptail_pct, ptail_n = tail(pass_s)
    b.details.update(
        pass_s=pass_s,
        orders=orders,
        pass_tail={"value": ptail, "percentile": ptail_pct, "n": ptail_n},
        per_query=per_query,
    )
    b.values["bench.pass_tail_s"] = ptail
    for q, mod in QUERIES.items():
        for k, vals in per_query[q].items():
            b.values[f"operators.{mod}.{q}.{k}"] = median(vals)

    # -- oracle checks (untimed) ----------------------------------------
    con = duckdb.connect()
    try:
        for name in tables:
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{data}/{name}.parquet'")
        for q in QUERIES:
            if q not in collected:
                b.check(f"oracle.{q}", False, "cold pass failed before this query")
                continue
            b.check(f"oracle.{q}", compare(q, collected[q], oracles[q], con, verbose=False))
    finally:
        con.close()
