"""``cdc_steady``: a replicator's closed loop over the CDC engine.

Phases, one client, each operation starting when the previous returns:

1. bootstrap — ``CdcEngine.run_cycle`` into an empty store (``cold_s``);
2. epochs — ``run_cycle(player, tribe, member)`` over successive
   snapshots of 30k players / 300 tribes at the FIXTURES.md churn
   (5% updates, 1% inserts, 1% deletes, 1% member moves, one new tribe);
   the first epoch is a warm-up, the others are the timed loop;
3. stream — ``streaming.cdc_stream.run_cdc_stream`` with its
   ``availableNow`` trigger, once per parquet drop of 2k arriving
   player rows (half updates, half inserts), into the same replica
   through ``CdcEngine.apply_delta``.

After the loop, outside the timed region, the replica is checked
against the generator's expected tables (``exceptAll`` both ways), the
changelog row counts against the summed ``UpdateStats.updates`` and the
generator's exact update counts, and the last cycle's ``tribe_stats``
against the reference's incremental formula evaluated on the
generator's arrays.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np

import gen
from run import SETUP_ROUNDS, Bench, median, tail
from spans import Tracer, coverage, self_times

N_PLAYERS = 30_000
N_TRIBES = 300
CHURN = gen.Churn(update=0.05, insert=0.01, delete=0.01, move=0.01)
DROP_ROWS = 2_000
# nominal wall time of one epoch on a 4-core box; with --seconds it
# fixes the attempt count, which is the same in every run
CYCLE_S = 7.0
# epochs after the bootstrap that still carry most of the JIT and
# codegen work: they run, and are checked, but are not timed
WARM_EPOCHS = 1
# stream triggers after the epochs (per-layer figures only: a trigger
# costs as much as an epoch, and the run budget holds one)
TRIGGERS = 1
TABLES = ("player", "tribe", "member")
COVER = (
    "plans.cdc.update.cover",
    "sources.store.write.cover",
    "plans.cdc.post_update.cover",
    "trace.child_cover",
)
# post_update's default aggregate columns (plans/cdc.py post_update)
STAT_COLS = ["cheese_gathered", "first", "round_played", "shaman_cheese", "saved_mice"]
# (store method, table role) pairs timed per cycle
STORE_ROLES = [
    ("write", "delta"),
    ("write", "main"),
    ("write", "fingerprints"),
    ("write", "deleted"),
    ("write", "tribe_active"),
    ("write", "tribe_stats"),
    ("append", "changelog"),
]
OPERATOR_LAYERS = ("fuzzyjoin", "similarity", "text", "dsir", "timeseries")


def covers(metric: str) -> bool:
    """Whether this workload reaches the metric's layer."""
    return not (
        metric.startswith("bench.pass_")
        or any(metric.startswith(f"operators.{m}.") for m in OPERATOR_LAYERS)
    )


def counts(seconds: int) -> tuple[int, int]:
    """(epochs after the bootstrap, warm-up ones included; triggers)"""
    return WARM_EPOCHS + max(2, round(seconds / CYCLE_S)), TRIGGERS


def run(b: Bench) -> None:
    from updater_spark.plans.cdc import CdcEngine
    from updater_spark.schema import PLAYER
    from updater_spark.sources.store import TableStore
    from updater_spark.streaming.cdc_stream import run_cdc_stream

    spark = b.spark
    n_epochs, n_triggers = counts(b.seconds)

    # -- setup: input generation, repeated; the median round counts ----
    inputs = os.path.join(b.work, "inputs")
    rounds = []
    for _ in range(SETUP_ROUNDS):
        shutil.rmtree(inputs, ignore_errors=True)
        t0 = time.perf_counter()
        rng = np.random.default_rng([b.seed, 1])
        inp = gen.cdc_inputs(inputs, rng, N_PLAYERS, N_TRIBES, CHURN, n_epochs)
        drops = gen.stream_drops(inputs, rng, inp.final, n_triggers, DROP_ROWS)
        rounds.append(time.perf_counter() - t0)
    b.setup["inputs"] = statistics.median(rounds)
    b.setup["inputs_rounds"] = rounds
    b.values["setup_s"] = b.setup["session"] + b.setup["inputs"]
    for t in TABLES:
        b.inputs[t] = {"rows": inp.rows[0][t], "bytes": inp.bytes[t]}
    b.inputs["drops"] = {"rows": drops.rows, "bytes": drops.bytes, "files": n_triggers}

    if b.trace:
        b.tracer = Tracer(spark)
        b.tracer.install()
    tracer = b.tracer
    engine = CdcEngine(TableStore(spark, os.path.join(b.work, "store")))

    def read(paths):
        return [spark.read.parquet(paths[t]) for t in TABLES]

    stats_by_epoch: dict[int, dict] = {}

    def cycle(epoch: int):
        srcs = read(inp.epochs[epoch])
        with b.op("cycle", epoch):
            stats_by_epoch[epoch] = engine.run_cycle(*srcs)

    # -- bootstrap (cold) ---------------------------------------------
    cold = b.attempt(cycle, 0)
    b.details["cycle_leaked_rdds"] = [b.persistent_rdds()]

    # -- epochs ---------------------------------------------------------
    cycle_s = []
    for epoch in range(1, n_epochs + 1):
        cycle_s.append(b.attempt(cycle, epoch))
        b.details["cycle_leaked_rdds"].append(b.persistent_rdds())

    # -- stream triggers ------------------------------------------------
    watch = os.path.join(b.work, "watch")
    os.makedirs(watch)
    schema = spark.read.parquet(drops.drops[0]).schema
    progress: dict[int, list[dict]] = {}  # trigger -> its progress reports

    def trigger(k: int):
        with b.op("trigger", n_epochs + 1 + k):
            # the drop is the rename into the watched directory
            os.rename(drops.drops[k], os.path.join(watch, os.path.basename(drops.drops[k])))
            q = run_cdc_stream(
                spark, engine, PLAYER, watch, schema, os.path.join(b.work, "checkpoint")
            )
            q.awaitTermination()
        progress[k] = [json.loads(p.json) for p in q.recentProgress]
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    batch_s = [b.attempt(trigger, k) for k in range(n_triggers)]

    b.samples = [cold, *cycle_s, *batch_s]
    cycle_cpu = b.cpu[1 : 1 + n_epochs]
    cycle_jit = b.jit[1 : 1 + n_epochs]
    # the timed loop: the epochs after the warm-up ones
    ok = [i for i, s in enumerate(cycle_s) if s is not None and i >= WARM_EPOCHS]
    b.summarize(
        cold=(cold, b.cpu[0], b.jit[0]),
        p50=tuple(median([xs[i] for i in ok]) for xs in (cycle_s, cycle_cpu, cycle_jit)),
        loop=tuple(sum(xs[i] for i in ok) for xs in (cycle_s, cycle_cpu, cycle_jit)),
        rows=sum(inp.rows[-1].values()),
    )

    ok_cycles = [cycle_s[i] for i in ok]
    half = len(ok_cycles) // 2
    stationarity = (
        median(ok_cycles[-half:]) / median(ok_cycles[:half]) if half else 1.0
    )
    changelog_files = _count_parquet(
        engine.store.root, [f"{t}__changelog" for t in TABLES]
    )
    ctail, ctail_pct, ctail_n = tail(cycle_s[WARM_EPOCHS:])
    btail, btail_pct, btail_n = tail(batch_s)
    b.details.update(
        cycle_s=cycle_s,
        batch_s=batch_s,
        cycle_tail={"value": ctail, "percentile": ctail_pct, "n": ctail_n},
        batch_tail={"value": btail, "percentile": btail_pct, "n": btail_n},
        stream_progress=progress,
        update_stats={
            e: {t: vars(s) for t, s in st.items()} for e, st in stats_by_epoch.items()
        },
    )
    b.values.update(
        {
            "bench.cycle_tail_s": ctail,
            "bench.cycle_stationarity": stationarity,
            "bench.batch_p50_s": median([s for s in batch_s if s is not None]),
            "bench.batch_tail_s": btail,
            "plans.cdc.leaked_rdds": max(b.details["cycle_leaked_rdds"]),
            "sources.store.changelog_files": changelog_files,
        }
    )

    if tracer:
        tracer.uninstall()
        _cycle_layers(b, tracer, inp, stats_by_epoch, range(WARM_EPOCHS + 1, n_epochs + 1))
        _stream_layers(b, tracer, progress, batch_s, n_epochs)

    # -- output checks (untimed) ----------------------------------------
    _check(b, engine, inp, drops, stats_by_epoch)


def _count_parquet(root: str, dirs: list[str]) -> int:
    return sum(
        f.endswith(".parquet")
        for d in dirs
        for _, _, files in os.walk(os.path.join(root, d))
        for f in files
    )


def _cycle_layers(b, tracer, inp, stats_by_epoch, timed) -> None:
    """Per-layer metrics of the ``timed`` epochs (medians across them)."""
    spans = tracer.spans
    selfs = self_times(spans)
    by_op: dict[int, list] = {}
    for s in spans:
        by_op.setdefault(s.op, []).append(s)
    per_epoch: dict[int, dict[str, float]] = {}
    walls = []
    for epoch in timed:
        ss = by_op.get(epoch, [])
        roots = [s for s in ss if s.parent is None and s.name == "cycle"]
        if not roots or epoch not in stats_by_epoch:
            continue
        root = roots[0]
        walls.append((root.end - root.start, epoch))
        m: dict[str, float] = {}

        def total(pred):
            return sum(s.end - s.start for s in ss if pred(s))

        for t in TABLES:
            m[f"plans.cdc.update.{t}.self_s"] = sum(
                selfs[s.id] for s in ss if s.name == "plans.cdc.update" and s.label == t
            )
        m["plans.cdc.post_update.s"] = total(lambda s: s.name == "plans.cdc.post_update")
        jobs = stages = tasks = 0
        for s in ss:
            if s.name in ("plans.cdc.update", "plans.cdc.post_update"):
                j, st, tk = tracer.jobs_of(s)
                jobs, stages, tasks = jobs + j, stages + st, tasks + tk
        m["plans.cdc.jobs_per_cycle"] = jobs
        m["plans.cdc.stages_per_cycle"] = stages
        m["plans.cdc.tasks_per_cycle"] = tasks

        st = stats_by_epoch[epoch]
        rows = inp.rows[epoch]
        keys = sum(rows[t] + st[t].deletes for t in TABLES)
        changed = sum(st[t].upserts + st[t].deletes for t in TABLES)
        m["operators.diff.keys_compared"] = keys
        m["operators.diff.changed_ratio"] = changed / keys
        diff_builders = ("fingerprint_table", "snapshot_diff", "split_diff")
        upd = total(lambda s: s.name == "plans.cdc.update")
        m["operators.diff.plan_share_of_update"] = (
            total(lambda s: s.name.split(".")[-1] in diff_builders) / upd if upd else 0.0
        )

        for kind, role in STORE_ROLES:
            m[f"sources.store.{kind}.{role}.s"] = total(
                lambda s: s.name == f"sources.store.{kind}" and _role(s.label) == role
            )
        m["sources.store.read.s"] = total(lambda s: s.name == "sources.store.read")
        writes = [s for s in ss if s.name in ("sources.store.write", "sources.store.append")]
        files = sum(tracer.files.get(s.id, (0, 0))[0] for s in writes)
        nbytes = sum(tracer.files.get(s.id, (0, 0))[1] for s in writes)
        delta_bytes = sum(
            tracer.files.get(s.id, (0, 0))[1] for s in writes if _role(s.label) == "delta"
        )
        m["sources.store.files_written_per_cycle"] = files
        m["sources.store.bytes_written_per_cycle"] = nbytes
        m["sources.store.write_amplification"] = nbytes / delta_bytes if delta_bytes else 0.0

        m["plans.cdc.update.cover"] = coverage(
            root, [s for s in ss if s.name == "plans.cdc.update"]
        )
        m["sources.store.write.cover"] = coverage(root, writes)
        m["plans.cdc.post_update.cover"] = coverage(
            root, [s for s in ss if s.name == "plans.cdc.post_update"]
        )
        m["trace.child_cover"] = coverage(root, [s for s in ss if s.parent == root.id])
        per_epoch[epoch] = m

    if not per_epoch:
        return
    for name in next(iter(per_epoch.values())):
        b.values[name] = median([m[name] for m in per_epoch.values()])
    # coverage shares are stated for the median cycle, not as medians
    walls.sort()
    med_epoch = walls[(len(walls) - 1) // 2][1]
    for name in COVER:
        b.values[name] = per_epoch[med_epoch][name]
    b.details["median_cycle_epoch"] = med_epoch


def _role(table: str) -> str:
    """Store table name -> the role it plays in a cycle: ``main`` for
    the replica tables, else the ``__`` suffix or the table itself."""
    return "main" if table in TABLES else table.split("__")[-1]


def _stream_layers(b, tracer, progress, batch_s, n_epochs) -> None:
    """Per-layer metrics of the triggers (medians across triggers),
    from each query's ``recentProgress`` and the spans."""
    selfs = self_times(tracer.spans)
    per: dict[str, list[float]] = {}
    for k, wall in enumerate(batch_s):
        if wall is None:
            continue

        def ms(key):
            return sum(p["durationMs"].get(key, 0) for p in progress[k]) / 1000

        op = n_epochs + 1 + k
        for name, v in (
            ("streaming.cdc_stream.trigger_s", ms("triggerExecution")),
            ("streaming.cdc_stream.add_batch_s", ms("addBatch")),
            ("streaming.cdc_stream.query_planning_s", ms("queryPlanning")),
            ("streaming.cdc_stream.wal_commit_s", ms("walCommit")),
            ("streaming.cdc_stream.start_stop_s", wall - ms("triggerExecution")),
            ("streaming.cdc_stream.input_rows", sum(p["numInputRows"] for p in progress[k])),
            ("plans.cdc.apply_delta.self_s", sum(
                selfs[s.id] for s in tracer.spans
                if s.op == op and s.name == "plans.cdc.apply_delta"
            )),
        ):
            per.setdefault(name, []).append(v)
    for name, vals in per.items():
        b.values[name] = median(vals)


def _check(b, engine, inp, drops, stats_by_epoch) -> None:
    from pyspark.sql import functions as F

    from updater_spark.functions.scores import normalize_names

    spark = b.spark
    final = inp.epochs[-1]
    expected = {
        "player": normalize_names(spark.read.parquet(drops.expected), "name"),
        "tribe": spark.read.parquet(final["tribe"]),
        "member": spark.read.parquet(final["member"]),
    }
    for t in TABLES:
        want = expected[t]
        got = engine.store.read(t).select(*want.columns)
        diff = dict(
            want.exceptAll(got).withColumn("side", F.lit("missing"))
            .unionByName(got.exceptAll(want).withColumn("side", F.lit("extra")))
            .groupBy("side").count().collect()
        )
        b.check(f"replica.{t}", not diff, diff)

    for t in TABLES:
        reported = sum(st[t].updates for e, st in stats_by_epoch.items() if e)
        generated = sum(u[t] for u in inp.updates)
        if t == "player":
            # apply_delta reports upserts only; the drops' updates come
            # from the generator
            reported += drops.updates
            generated += drops.updates
        logged = engine.changelog(t).count() if engine.current_epoch(t) else 0
        b.check(f"changelog.{t}", logged == reported == generated,
                {"changelog_rows": logged, "updates_reported": reported,
                 "updates_generated": generated})

    # the last cycle's incremental tribe_stats against the reference
    # formula evaluated on the generator's own arrays
    got_df = engine.store.read("tribe_stats")
    cols = ["members", "active"] + STAT_COLS
    got = {r["id"]: tuple(r[c] for c in cols) for r in got_df.collect()}
    want = gen.incremental_tribe_stats(inp.final, inp.last_upserted, STAT_COLS)
    bad = [k for k in want.keys() | got.keys() if want.get(k) != got.get(k)]
    b.check("tribe_stats", bool(want) and not bad,
            {"tribes": len(want), "mismatched": len(bad), "example": bad[:3]})
