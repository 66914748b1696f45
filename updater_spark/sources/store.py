"""Versioned parquet table store with atomic promotion.

The reference double-buffers its hash caches — read from
``{name}_hashes_0``, write ``{name}_hashes_1``, promote on success
(/root/reference/src/table.py:108-117, download.py:572-581) — so a
failed run never corrupts the read side. ``TableStore`` generalizes
that: every write lands in a fresh ``v{N}`` directory and a tiny
``_CURRENT`` pointer file is swapped only after the write completes.
Readers always resolve ``_CURRENT`` first, so a crashed writer leaves
the previous version intact (same crash-safety contract, any table).

Each version directory also holds ``_schema.json``: the written
frame's ``df.schema.json()``, stored after the parquet files and
before the pointer swap. ``read`` hands it to ``.schema(...)``, which
skips the one-task footer-reading job Spark otherwise runs to infer
the schema (on a 4-core VM, local[3]: about 120 ms of CPU per read
with inference, 19 ms with the file). Spark ignores files whose
names start with ``_``, and it makes a given schema nullable at every
level, so the result equals the inferred schema (tests/test_cdc_cycle.py
checks every table a CDC cycle writes). A version written without the
file (by an older writer) still reads, by inference. Hash-partitioned
tables keep the file at their root too, but read it only once every
partition has been dropped: Spark cannot infer a schema from a
directory without data files, and such a table reads as empty.

In production this store is exactly what Delta/Iceberg provide
(atomic commit log + snapshots); the engine's operators are pure
DataFrame functions, so swapping this class for ``spark.table`` /
``MERGE INTO`` changes no query logic. For the local/benchmark target
(plain parquet, no extra packages in the container) this gives the
same semantics.

Concurrency contract — SINGLE WRITER PER TABLE, enforced: the
promote-on-success scheme is crash-safe for one writer, but two
concurrent writers could interleave version-pick → write → promote
and publish a pointer to a half-written directory. Every mutating
operation (pointer swaps, hash-partitioned overwrites/drops, appends)
therefore takes a per-table lock file (``_LOCK``, created O_EXCL with
pid + timestamp + host); a second writer fails LOUDLY with
``ConcurrentWriteError`` instead of corrupting ``_CURRENT``. The lock
is re-entrant WITHIN a ``TableStore`` instance, and multi-step
maintenance sequences hold it across all their steps via the public
``locked()`` context manager. The CDC engine's hash-partitioned merge
is one: dynamic overwrite replaces only the partitions present in the
new rows, so a bucket whose last key was deleted is dropped with
``drop_partitions``, under the same lock as the overwrite (an IVF
index's overwrite+drop pair is another).

Stale locks left by crashed writers are broken only when the holder
is provably or plausibly gone:

- same host, pid dead → broken immediately;
- same host, pid ALIVE → never broken, regardless of age (a
  legitimate multi-hour Spark write keeps its lock);
- different host (or liveness otherwise unverifiable) → broken when
  the lock file's mtime is older than ``lock_stale_after``. The
  mtime, not the creation timestamp, is the expiry clock so a
  long-running cross-host holder can keep its lock alive by
  periodically touching the file (``heartbeat()``).

Breaking itself is race-safe: the breaker atomically RENAMES the
examined lock to a unique name and proceeds only if it moved the
exact file (inode) it examined — a contender that lost the rename, or
that finds a fresh lock at the path, backs off. Unlinking in place
would race: between examine and unlink another contender can break
the lock and a new writer acquire it, and the unlink would then
delete the NEW holder's live lock, admitting two writers. When the
breaker discovers it renamed aside a FRESH lock, the restore is
hard-link-based (no-replace): if a third writer O_EXCL-acquired the
vacant path first, the restore fails LOUDLY instead of silently
overwriting the new holder's lock. Lock release is ownership-checked
too: ``locked()`` re-reads the lock before unlinking and removes it
only if it still holds the exact ``pid:ts:host`` token it wrote.

Readers never lock: they resolve the pointer, which only ever moves
atomically between complete versions. Multi-writer coordination
beyond this (queues, retries, cross-table transactions) is exactly
where to escalate to Delta/Iceberg — their commit protocol is this
lock generalized (optimistic CAS on a log), see SURVEY §7.2.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import socket
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

SCHEMA_FILE = "_schema.json"


def _write_schema(path: str, df: DataFrame) -> None:
    with open(os.path.join(path, SCHEMA_FILE), "w") as f:
        f.write(df.schema.json())


class ConcurrentWriteError(RuntimeError):
    """A second writer attempted a pointer-swapping operation on a
    table while another LIVE writer holds its lock. The loser fails
    loudly; ``_CURRENT`` is never corrupted."""


class TableStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        lock_stale_after: float = 3600.0,
    ):
        self.spark = spark
        self.root = root
        self.lock_stale_after = lock_stale_after
        # re-entrancy counts for locks held by THIS instance: one
        # logical writer (one TableStore) may nest locked() sections
        # (index maintenance calls overwrite_partitions which locks
        # again); a DIFFERENT instance is a different writer and gets
        # ConcurrentWriteError — which is also how the tests simulate
        # a racing writer in-process.
        self._held: dict[str, int] = {}
        os.makedirs(root, exist_ok=True)

    # -- paths ----------------------------------------------------------
    def _dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _pointer(self, name: str) -> str:
        return os.path.join(self._dir(name), "_CURRENT")

    # -- single-writer lock ----------------------------------------------
    def _lock_path(self, name: str) -> str:
        return os.path.join(self._dir(name), "_LOCK")

    def _try_break_stale(self, path: str) -> bool:
        """Break a lock whose holder is provably (or, cross-host,
        plausibly) gone. Returns True if THIS contender broke it.

        Staleness rules (module docstring): same-host dead pid →
        stale; same-host LIVE pid → never stale, age is irrelevant (a
        legitimate long write must not lose its lock mid-flight);
        cross-host / liveness-unverifiable → stale only when the lock
        file's mtime exceeds ``lock_stale_after`` (mtime so the holder
        can ``heartbeat()``). Unreadable/garbage locks are never
        broken — fail loudly, don't guess.

        Break mechanics close the examine-then-unlink TOCTOU (ADVICE
        r4): the examined file's inode is captured from the open fd,
        the lock is atomically RENAMED to a unique name, and the
        breaker proceeds only if the renamed file IS the examined
        inode. A lock replaced between examine and rename (another
        contender broke it; a new writer acquired) either fails the
        pre-rename inode check, fails the rename (ENOENT), or is
        detected after the rename and restored — a live writer's fresh
        lock is never destroyed."""
        try:
            fd = os.open(path, os.O_RDONLY)
        except FileNotFoundError:
            return True  # holder released it between our check and now
        except OSError:
            return False
        try:
            examined = os.fstat(fd)
            content = os.read(fd, 256).decode(errors="replace").strip()
        finally:
            os.close(fd)
        try:
            parts = content.split(":")
            pid = int(parts[0])
            float(parts[1])  # ts present and numeric, or garbage lock
            # legacy two-field locks (pid:ts, pre-host upgrade) carry
            # NO host: the writer could have been anywhere, so a local
            # pid coincidence must not classify it same-host-alive
            # (ADVICE r5) — None falls through to the age path below
            host = parts[2] if len(parts) > 2 else None
        except (ValueError, IndexError):
            return False  # garbage lock: refuse to break, fail loudly
        stale = False
        if host == socket.gethostname():
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                stale = True  # same host, holder dead
            except PermissionError:
                pass  # alive under another uid: not stale
        else:
            # cross-host or host-unknown: liveness unverifiable, so
            # mtime age decides (heartbeat-able)
            stale = time.time() - examined.st_mtime > self.lock_stale_after
        if not stale:
            return False
        uniq = f"{path}.breaking.{os.getpid()}.{time.monotonic_ns()}"
        try:
            if os.stat(path).st_ino != examined.st_ino:
                return False  # already replaced by a fresh lock
            os.rename(path, uniq)
        except FileNotFoundError:
            return False  # another contender won the break
        except OSError:
            return False
        if os.stat(uniq).st_ino != examined.st_ino:
            # raced: we moved a FRESH lock created after our stat —
            # put it back exactly as the new holder wrote it. The
            # restore must be NO-REPLACE (ADVICE r5): while the path
            # was vacant a third writer may have O_EXCL-acquired it,
            # and a plain rename would silently overwrite that live
            # lock, admitting two writers. link() fails with EEXIST
            # if the path is occupied; in that case two live locks
            # exist because of OUR rename — nothing safe remains, so
            # fail loudly and leave both files as evidence.
            try:
                os.link(uniq, path)
            except FileExistsError:
                raise ConcurrentWriteError(
                    f"lock-break race on {path!r}: a fresh lock was "
                    f"renamed aside to {uniq!r} and another writer "
                    "acquired the vacant path before restore; TWO live "
                    "writers may hold this table — resolve manually "
                    "(both lock files carry pid:ts:host)"
                ) from None
            os.unlink(uniq)
            return False
        os.unlink(uniq)
        return True

    def heartbeat(self, name: str) -> None:
        """Refresh the held lock's mtime — the cross-host expiry
        clock. A holder whose single write may exceed
        ``lock_stale_after`` calls this periodically (same-host
        holders never need it: a live pid is never age-broken)."""
        with contextlib.suppress(FileNotFoundError):
            os.utime(self._lock_path(name))

    @contextlib.contextmanager
    def locked(self, name: str):
        """Per-table writer mutex (O_EXCL create of ``_LOCK`` holding
        ``pid:timestamp:host``). Serializes version-pick → write →
        promote; the loser of a race raises ``ConcurrentWriteError``
        instead of publishing over (or under) the winner.

        Re-entrant within this instance: a multi-step maintenance
        sequence (read → stats → overwrite_partitions →
        drop_partitions, e.g. ``IvfPqIndex.upsert``) wraps itself in
        ``with store.locked(table):`` and the nested per-op locks
        become no-ops — the sequence is atomic w.r.t. other writers,
        not just each step."""
        if self._held.get(name, 0) > 0:
            self._held[name] += 1
            try:
                yield
            finally:
                self._held[name] -= 1
            return
        os.makedirs(self._dir(name), exist_ok=True)
        path = self._lock_path(name)
        fd = None
        for attempt in (0, 1):
            try:
                fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                if attempt == 0 and self._try_break_stale(path):
                    continue
                raise ConcurrentWriteError(
                    f"table {name!r} is locked by another live writer "
                    f"({path}); TableStore is single-writer per table — "
                    "serialize the writers, or use Delta/Iceberg for "
                    "true multi-writer commits"
                ) from None
        try:
            token = f"{os.getpid()}:{time.time()}:{socket.gethostname()}"
            os.write(fd, token.encode())
            os.close(fd)
            self._held[name] = 1
            yield
        finally:
            self._held[name] = 0
            # unlink only OUR lock (ADVICE r5): if this hold was
            # age-broken mid-flight (cross-host rule, no heartbeat)
            # and a new writer acquired, blind cleanup would delete
            # the NEW holder's live lock and admit a third writer —
            # verify the content is still the exact token we wrote
            # (content, not inode: freed inode numbers are reused
            # immediately on many filesystems).
            try:
                with open(path) as lf:
                    mine = lf.read(256).strip() == token
                if mine:
                    os.unlink(path)
            except FileNotFoundError:
                pass

    def current_path(self, name: str) -> str | None:
        ptr = self._pointer(name)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            version = f.read().strip()
        path = os.path.join(self._dir(name), version)
        return path if os.path.exists(path) else None

    def exists(self, name: str) -> bool:
        return self.current_path(name) is not None

    # -- IO -------------------------------------------------------------
    def read(self, name: str, version: int | None = None) -> DataFrame:
        """Read the current version, or time-travel to an older kept
        version (``version=N`` reads ``v{N}``; the store keeps the last
        2 by default — the double-buffer window)."""
        if version is not None:
            path = os.path.join(self._dir(name), f"v{version}")
            if not os.path.exists(path):
                raise FileNotFoundError(f"table {name!r} has no version v{version}")
        else:
            path = self.current_path(name)
            if path is None:
                raise FileNotFoundError(f"table {name!r} has no current version")
        reader = self.spark.read
        with contextlib.suppress(FileNotFoundError):
            with open(os.path.join(path, SCHEMA_FILE)) as f:
                reader = reader.schema(StructType.fromJson(json.load(f)))
        return reader.parquet(path)

    def versions(self, name: str) -> list[int]:
        d = self._dir(name)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(v[1:]) for v in os.listdir(d) if v.startswith("v") and v[1:].isdigit()
        )

    def write(
        self,
        name: str,
        df: DataFrame,
        num_files: int | None = None,
    ) -> str:
        """Write a new version, then atomically promote the pointer
        (the reference's hash-cache rotation, download.py:572-581).
        The version's schema file lands between the two (module
        docstring).

        ``num_files`` controls output file count for small sink tables
        (avoid thousands of tiny files at local scale; at cluster
        scale leave None and let AQE coalesce).

        Holds the table's writer lock for the whole version-pick →
        write → promote sequence (single-writer contract; a racing
        writer gets ``ConcurrentWriteError``, never a corrupted
        ``_CURRENT``).
        """
        with self.locked(name):
            d = self._dir(name)
            versions = [v for v in os.listdir(d) if v.startswith("v")]
            next_v = f"v{max([int(v[1:]) for v in versions], default=-1) + 1}"
            path = os.path.join(d, next_v)
            writer = df.coalesce(num_files) if num_files else df
            writer.write.mode("overwrite").parquet(path)
            _write_schema(path, df)
            tmp = self._pointer(name) + ".tmp"
            with open(tmp, "w") as f:
                f.write(next_v)
            os.replace(tmp, self._pointer(name))  # atomic on POSIX
            self._gc(name, keep=2)
            return path

    def write_clustered(
        self,
        name: str,
        df: DataFrame,
        cluster_cols: list[str],
        num_files: int | None = None,
    ) -> str:
        """Versioned write with range clustering: rows are
        range-partitioned on ``cluster_cols`` then sorted within each
        file, so every parquet file (and row group) covers a narrow,
        nearly-disjoint min/max range of the cluster key. Parquet
        readers prune row groups whose stats exclude a pushed
        predicate, so a selective range/point filter on the cluster
        key reads a handful of files instead of all of them — the
        data-skipping lever (Delta/Iceberg OPTIMIZE ZORDER's 1-D
        case) that turns a 100 TB scan into gigabytes when queries
        filter on time or tenant. Costs one range-exchange at write
        time; evidence in tests/test_layout.py (footer stats +
        matched-file concentration)."""
        out = (
            df.repartitionByRange(num_files, *cluster_cols)
            if num_files
            else df.repartitionByRange(*cluster_cols)
        ).sortWithinPartitions(*cluster_cols)
        return self.write(name, out)

    def write_zordered(
        self,
        name: str,
        df: DataFrame,
        cluster_cols: list[str],
        bits: int = 16,
        num_files: int | None = None,
    ) -> str:
        """Versioned write with MULTI-column clustering: rows are
        range-partitioned + sorted on the Morton interleave of
        ``cluster_cols`` (operators/zorder.py), so every file covers
        a bounded hyper-rectangle of the clustered space and footer
        stats prune scans filtered on ANY of the columns — the
        Delta/Iceberg OPTIMIZE ZORDER idea. ``write_clustered`` is
        the 1-D special case (prefer it for single-key workloads: its
        per-file ranges are fully disjoint, z-order's are merely
        bounded). The ``_z`` key is dropped before writing — layout
        is an implementation detail, never schema."""
        from updater_spark.operators.zorder import Z_COL, add_zvalue

        zdf = add_zvalue(df, cluster_cols, bits)
        out = (
            zdf.repartitionByRange(num_files, Z_COL)
            if num_files
            else zdf.repartitionByRange(Z_COL)
        ).sortWithinPartitions(Z_COL)
        return self.write(name, out.drop(Z_COL))

    def _appendable_pointer(self, name: str) -> str:
        return os.path.join(self._dir(name), "_DATA")

    def _appendable_dir(self, name: str) -> str:
        ptr = self._appendable_pointer(name)
        sub = "data"
        if os.path.exists(ptr):
            with open(ptr) as f:
                sub = f.read().strip()
        return os.path.join(self._dir(name), sub)

    def append(self, name: str, df: DataFrame) -> str:
        """Append-only history table (the ``{t}_changelog`` sink,
        download.py:585-595). Parquet append into the live directory
        (resolved through the ``_DATA`` pointer so compaction can swap
        directories without disturbing appenders between runs).
        Locked: an append racing a compaction could otherwise resolve
        ``_DATA``, lose the directory swap, and write into a directory
        the compactor is about to rmtree."""
        with self.locked(name):
            path = self._appendable_dir(name)
            df.write.mode("append").parquet(path)
            return path

    def read_appendable(self, name: str) -> DataFrame:
        # mergeSchema: an append-only history may widen across a
        # schema-evolution epoch (changelog pre-images gain columns);
        # default inference would pin whichever file's footer it
        # sampled and silently hide the later columns. Footer-merge
        # cost is per-file metadata only — appendables are compacted.
        return self.spark.read.option("mergeSchema", "true").parquet(
            self._appendable_dir(name)
        )

    def exists_appendable(self, name: str) -> bool:
        return os.path.exists(self._appendable_dir(name))

    def drop_appendable(self, name: str) -> None:
        """Remove an append-only table entirely (e.g. truncating a
        tombstone log after compaction folded it in). A missing table
        reads as empty through the callers' exists-guards; writing an
        EMPTY parquet directory instead would leave a schema-less
        directory that ``spark.read.parquet`` refuses to load."""
        with self.locked(name):
            d = self._appendable_dir(name)
            shutil.rmtree(d, ignore_errors=True)
            ptr = self._appendable_pointer(name)
            if os.path.exists(ptr):
                os.remove(ptr)
            self.spark.catalog.refreshByPath(d)

    def compact_appendable(
        self,
        name: str,
        predicate=None,
        num_files: int = 1,
    ) -> str:
        """Rewrite the append-only table into ``num_files`` files,
        optionally keeping only rows matching ``predicate`` (a Column —
        retention expressed as a filter, e.g. ``F.col('_epoch') >= N``).

        Append-only history accumulates one small file per run; at
        100 TB / thousands of runs that is a classic small-file
        problem (every reader lists and opens every file). Compaction
        writes a fresh directory and atomically swaps the ``_DATA``
        pointer, so a crashed compaction leaves the old directory
        intact — same promote-on-success contract as versioned writes.
        """
        with self.locked(name):
            current = self._appendable_dir(name)
            df = self.spark.read.parquet(current)
            if predicate is not None:
                df = df.filter(predicate)
            cur_sub = os.path.basename(current)
            next_sub = (
                f"data_c{int(cur_sub[6:]) + 1}" if cur_sub.startswith("data_c") else "data_c0"
            )
            next_dir = os.path.join(self._dir(name), next_sub)
            df.coalesce(num_files).write.mode("overwrite").parquet(next_dir)
            tmp = self._appendable_pointer(name) + ".tmp"
            with open(tmp, "w") as f:
                f.write(next_sub)
            os.replace(tmp, self._appendable_pointer(name))
            shutil.rmtree(current, ignore_errors=True)
            return next_dir

    # -- hash-partitioned tables (partition-pruned incremental writes) --
    def _ppath(self, name: str) -> str:
        return os.path.join(self._dir(name), "pdata")

    def write_partitioned(
        self, name: str, df: DataFrame, partition_col: str
    ) -> str:
        """Full overwrite of a hash-partitioned table (bootstrap)."""
        with self.locked(name):
            path = self._ppath(name)
            df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
            _write_schema(path, df)
            return path

    def overwrite_partitions(
        self, name: str, df: DataFrame, partition_col: str
    ) -> str:
        """Dynamic partition overwrite: only the partitions present in
        ``df`` are replaced; every other partition's files are
        untouched. THE incremental-write lever at 100 TB — a CDC run
        touching 0.1% of keys rewrites ~0.1% of storage instead of the
        whole replica. (Production twin: Delta/Iceberg
        ``replaceWhere`` / MERGE, which adds snapshot atomicity across
        partitions; per-partition replacement here is atomic per
        directory.) Locked; maintenance sequences that pair this with
        ``drop_partitions`` hold ``locked(name)`` across both."""
        with self.locked(name):
            path = self._ppath(name)
            (
                df.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(partition_col)
                .parquet(path)
            )
            _write_schema(path, df)
            return path

    def append_partitions(
        self, name: str, df: DataFrame, partition_col: str
    ) -> str:
        """Append new files into existing partition directories
        WITHOUT touching the rows already there — the write lever for
        log-structured maintenance (append + tombstone + deferred
        compaction): a CDC epoch whose delta lands in every partition
        costs O(|delta|) new bytes instead of a full dynamic
        overwrite of every touched directory. Readers must reconcile
        (latest-wins / tombstones) — see SemanticIndex's append_log
        mode. The explicit cache refresh matters: the session's
        FileStatusCache otherwise keeps serving the pre-append file
        listing (same failure mode as ``drop_partitions``, inverted —
        silently MISSING rows instead of FILE_NOT_EXIST)."""
        with self.locked(name):
            path = self._ppath(name)
            df.write.mode("append").partitionBy(partition_col).parquet(path)
            self.spark.catalog.refreshByPath(path)
            return path

    def read_partitioned(self, name: str) -> DataFrame:
        path = self._ppath(name)
        schema_file = os.path.join(path, SCHEMA_FILE)
        if os.path.exists(schema_file) and not any(
            "=" in d for d in os.listdir(path)
        ):
            # every partition dropped (or none written): an empty
            # table in the schema of its last write (module docstring)
            with open(schema_file) as f:
                schema = StructType.fromJson(json.load(f))
            return self.spark.createDataFrame([], schema)
        return self.spark.read.parquet(path)

    def exists_partitioned(self, name: str) -> bool:
        return os.path.exists(self._ppath(name))

    def drop_partitions(self, name: str, partition_col: str, values) -> None:
        """Remove whole partitions (``col=value`` directories). Needed
        when an incremental rewrite empties a partition: dynamic
        overwrite only replaces partitions PRESENT in the new data, so
        an emptied one must be dropped explicitly."""
        with self.locked(name):
            for v in values:
                shutil.rmtree(
                    os.path.join(self._ppath(name), f"{partition_col}={v}"),
                    ignore_errors=True,
                )
            # rmtree bypasses Spark's write path, so the session's
            # FileStatusCache still lists the deleted files — the next
            # read of this path would die with FILE_NOT_EXIST (found by
            # tests/test_ann_index.py: a migrating vector emptying a
            # cell)
            self.spark.catalog.refreshByPath(self._ppath(name))

    # -- sidecar metadata ----------------------------------------------
    def write_sidecar(self, name: str, key: str, value: str) -> None:
        """Atomically write a small per-table metadata value (e.g. the
        quantizer identity an IVF-PQ cells table was encoded with).
        Sidecars live next to the data so a backup/restore that moves
        the table directory moves its metadata with it."""
        path = os.path.join(self._dir(name), f"_META_{key}")
        os.makedirs(self._dir(name), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(value)
        os.replace(tmp, path)

    def read_sidecar(self, name: str, key: str) -> str | None:
        try:
            with open(os.path.join(self._dir(name), f"_META_{key}")) as f:
                return f.read()
        except FileNotFoundError:
            return None

    # -- double-buffered bucketed tables (hash-cache rotation) ----------
    def _bucketed_pointer(self, name: str) -> str:
        return os.path.join(self._dir(name), "_CURRENT_BUCKETED")

    def _catalog_name(self, name: str, buf: int) -> str:
        safe = "".join(c if c.isalnum() else "_" for c in name)
        return f"{safe}__buf{buf}"

    def current_bucketed(self, name: str) -> str | None:
        ptr = self._bucketed_pointer(name)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            return f.read().strip()

    def write_bucketed_versioned(
        self,
        name: str,
        df: DataFrame,
        bucket_col: str,
        num_buckets: int = 16,
    ) -> DataFrame:
        """The reference's double-buffer rotation, bucketed: read buffer
        ``__buf0``, write ``__buf1``, promote on success (table.py:
        108-117, download.py:572-581). The promoted catalog table is
        bucketed+sorted by ``bucket_col``, so the NEXT run's diff join
        merge-joins it with no Exchange and no Sort on this side — the
        stable 100M-row replica side never reshuffles. A crashed writer
        leaves the read buffer untouched.
        """
        with self.locked(name):
            current = self.current_bucketed(name)
            target_buf = 1 if current == self._catalog_name(name, 0) else 0
            target = self._catalog_name(name, target_buf)
            # a previous PROCESS may have left the managed-table
            # directory behind while this session's metastore has no
            # such table — saveAsTable then fails with
            # LOCATION_ALREADY_EXISTS. Drop any registered table
            # first, then clear an orphaned location.
            self.spark.sql(f"DROP TABLE IF EXISTS {target}")
            warehouse = self.spark.conf.get(
                "spark.sql.warehouse.dir", "spark-warehouse"
            ).removeprefix("file:")
            orphan = os.path.join(warehouse, target.lower())
            if os.path.exists(orphan):
                shutil.rmtree(orphan, ignore_errors=True)
            (
                df.write.mode("overwrite")
                .format("parquet")
                .bucketBy(num_buckets, bucket_col)
                .sortBy(bucket_col)
                .saveAsTable(target)
            )
            tmp = self._bucketed_pointer(name) + ".tmp"
            with open(tmp, "w") as f:
                f.write(target)
            os.replace(tmp, self._bucketed_pointer(name))
            return self.spark.table(target)

    def read_bucketed_versioned(self, name: str) -> DataFrame:
        current = self.current_bucketed(name)
        if current is None:
            raise FileNotFoundError(f"table {name!r} has no bucketed version")
        return self.spark.table(current)

    def exists_bucketed(self, name: str) -> bool:
        return self.current_bucketed(name) is not None

    def write_bucketed(
        self,
        table_name: str,
        df: DataFrame,
        bucket_col: str,
        num_buckets: int = 16,
    ) -> DataFrame:
        """Write a catalog table bucketed (and sorted) by ``bucket_col``.

        Bucketing is THE 100 TB lever for the CDC diff: when the
        replica's fingerprint table and the incoming snapshot's
        fingerprints are both bucketed by pk with the same bucket
        count, the full-outer diff join needs NO shuffle and NO sort —
        each task merge-joins one bucket pair (verified by
        tests/test_bucketing.py asserting an Exchange-free plan).
        Requires the session catalog (``saveAsTable``); plain
        directory parquet cannot carry bucket metadata.
        """
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(num_buckets, bucket_col)
            .sortBy(bucket_col)
            .saveAsTable(table_name)
        )
        return self.spark.table(table_name)

    def _gc(self, name: str, keep: int) -> None:
        d = self._dir(name)
        current = self.current_path(name)
        versions = sorted(
            (v for v in os.listdir(d) if v.startswith("v")),
            key=lambda v: int(v[1:]),
        )
        for v in versions[:-keep]:
            path = os.path.join(d, v)
            if path != current:
                shutil.rmtree(path, ignore_errors=True)
