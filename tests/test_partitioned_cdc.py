"""Partition-pruned incremental writes: only buckets containing
changed keys are rewritten on disk (the 100 TB write-amplification
fix)."""

import glob
import os

import pytest
from pyspark.sql import Row

from updater_spark.plans.cdc import CdcEngine
from updater_spark.schema import TableSpec


def _mtimes(store_root: str, table: str) -> dict[str, float]:
    out = {}
    for d in glob.glob(os.path.join(store_root, table, "pdata", "_bucket=*")):
        latest = max(
            (os.path.getmtime(f) for f in glob.glob(os.path.join(d, "*.parquet"))),
            default=0,
        )
        out[os.path.basename(d)] = latest
    return out


def test_partitioned_update_rewrites_only_touched_buckets(spark, tmp_path):
    from updater_spark.sources.store import TableStore

    root = str(tmp_path / "store")
    store = TableStore(spark, root)
    engine = CdcEngine(store, partition_buckets=8)
    spec = TableSpec("items", "id")

    s0 = [Row(id=i, v=i) for i in range(1, 501)]
    st = engine.update(spec, spark.createDataFrame(s0))
    assert st.bootstrap and st.total_rows == 500
    before = _mtimes(root, "items")
    assert len(before) == 8  # all buckets materialized

    # mutate exactly one key + delete one key → ≤2 buckets affected
    s1 = [Row(id=i, v=(i + 100 if i == 7 else i)) for i in range(1, 501) if i != 13]
    st1 = engine.update(spec, spark.createDataFrame(s1))
    assert st1.upserts == 1 and st1.deletes == 1 and st1.deletes_applied
    assert st1.total_rows == 499

    after = _mtimes(root, "items")
    changed_buckets = {b for b in after if after[b] != before.get(b)}
    assert 1 <= len(changed_buckets) <= 2  # only touched buckets rewritten
    untouched = set(before) - changed_buckets
    assert untouched and all(after[b] == before[b] for b in untouched)

    # data correctness identical to the full-rewrite path
    replica = {r["id"]: r["v"] for r in store.read_partitioned("items").collect()}
    assert replica[7] == 107 and 13 not in replica and len(replica) == 499

    # delete guard in partitioned mode: huge delete set → skipped
    g_engine = CdcEngine(store, partition_buckets=8, delete_guard=10)
    st2 = g_engine.update(spec, spark.createDataFrame(s1[:100]))
    assert not st2.deletes_applied
    assert st2.total_rows == g_engine._read_main("items").count() == 499


@pytest.mark.parametrize(
    "s0, s1, buckets, dropped",
    [
        pytest.param(
            [Row(id=i, v=i * 3) for i in range(1, 301)],
            [
                Row(id=i, v=(0 if i % 7 == 0 else i * 3))
                for i in range(1, 321)
                if i % 11 != 0
            ],
            4,
            0,
            id="churn",
        ),
        # Five keys in 64 buckets: key 3 is alone in its bucket, so its
        # delete empties the bucket. Dynamic overwrite replaces only
        # buckets present in the written rows, so the merge must drop
        # the emptied one. This case fails on 07b2394 and earlier, whose
        # partitioned replica kept key 3 while reporting it deleted.
        pytest.param(
            [Row(id=i, v=i) for i in range(1, 6)],
            [Row(id=i, v=i) for i in (1, 2, 4, 5)],
            64,
            1,
            id="emptied_bucket",
        ),
        # deleting every key drops every bucket; the table must still
        # read, as empty
        pytest.param(
            [Row(id=i, v=i) for i in range(1, 6)], [], 64, 5, id="emptied_table"
        ),
    ],
)
def test_partitioned_matches_full_rewrite(spark, tmp_path, s0, s1, buckets, dropped):
    """Same scenario through both storage modes ⇒ identical replicas,
    ``total_rows`` and applied-delete feeds."""
    from updater_spark.sources.store import TableStore

    spec = TableSpec("t", "id")
    results = []
    for b in (None, buckets):
        root = str(tmp_path / f"store_{b}")
        store = TableStore(spark, root)
        eng = CdcEngine(store, partition_buckets=b)
        eng.update(spec, spark.createDataFrame(s0, "id long, v long"))
        before = _mtimes(root, "t")
        stats = eng.update(spec, spark.createDataFrame(s1, "id long, v long"))
        assert len(before) - len(_mtimes(root, "t")) == (dropped if b else 0)
        results.append(
            (
                {(r["id"], r["v"]) for r in eng._read_main("t").collect()},
                stats.total_rows,
                stats.deletes_applied,
                {r["id"] for r in store.read("t__deleted").collect()},
            )
        )
    assert results[0] == results[1]
    assert results[0][0] == {(r["id"], r["v"]) for r in s1}
    assert results[0][1] == len(s1)


def test_partitioned_and_bucketed_fingerprints_compose(spark, tmp_path):
    """The two 100 TB levers stack: partition-pruned main-table writes
    (partition_buckets) + shuffle-free diff via bucketed fingerprint
    rotation (fingerprint_buckets). Results must equal the plain
    engine's."""
    from pyspark.sql import functions as F

    from updater_spark.sources.store import TableStore

    spec = TableSpec("items", "id")
    s0 = spark.createDataFrame([Row(id=i, v=i) for i in range(1, 501)])
    s1 = spark.createDataFrame(
        [Row(id=i, v=(i + 100 if i % 50 == 0 else i)) for i in range(1, 501) if i != 13]
        + [Row(id=999, v=0)]
    )

    results = {}
    for kind, kwargs in {
        "plain": {},
        "combined": {"partition_buckets": 8, "fingerprint_buckets": 8},
    }.items():
        store = TableStore(spark, str(tmp_path / kind))
        engine = CdcEngine(store, **kwargs)
        engine.update(spec, s0)
        stats = engine.update(spec, s1)
        replica = (
            engine._read_main("items") if kwargs else store.read("items")
        )
        results[kind] = (
            stats.upserts,
            stats.updates,
            stats.deletes,
            sorted((r["id"], r["v"]) for r in replica.collect()),
        )
    assert results["plain"] == results["combined"]
    for buf in (0, 1):
        spark.sql(f"DROP TABLE IF EXISTS items__fingerprints__buf{buf}")
