"""CDC orchestration: bootstrap / incremental update / post_update.

Re-expresses the reference's three entry points (SURVEY.md §3):

- ``bootstrap``  — empty-replica full sync: one scan computing data
  cols + scores + fingerprint, written straight to the main table and
  the fingerprint cache (/root/reference/src/download.py:29-42,
  376-433, 3-stage pipeline).
- ``update``     — the main path: fingerprint source, diff against the
  cached replica fingerprints (full-outer join), fetch full rows for
  changed/new keys (broadcast semi join), archive pre-images, upsert,
  apply guarded deletes, rotate fingerprints
  (download.py:50-63 + post_download 532-604).
- ``post_update`` — derived aggregates ``tribe_active``/``tribe_stats``
  (post_update.py:18-91).

Where the reference wires 5 asyncio coroutines through bounded queues,
here each step is a DataFrame in ONE lazily-built DAG; Spark pipelines
operators inside stages and the shuffle boundaries replace the queues.
State between runs (the fingerprint tables) lives in the TableStore
with atomic promotion (the double-buffer rotation, download.py:572-581).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from updater_spark.functions.fingerprints import fingerprint_table, row_fingerprint
from updater_spark.functions.scores import (
    apply_score_overall,
    apply_scores,
    normalize_names,
)
from updater_spark.operators.diff import DELETE, INSERT, UPDATE, snapshot_diff, split_diff
from updater_spark.operators.merge import (
    BROADCAST_KEY_LIMIT,
    DELETE_GUARD_DEFAULT,
    _maybe_broadcast,
    changelog_preimages,
    changelog_replay,
    merge_upsert,
    semi_join_fetch,
)
from updater_spark.operators.aggregates import tribe_active, tribe_stats
from updater_spark.schema import (
    TableSpec,
    align_to_schema,
    classify_df,
    stat_columns,
)
from updater_spark.sources.store import TableStore


@dataclass
class UpdateStats:
    table: str
    bootstrap: bool
    upserts: int = 0
    updates: int = 0
    deletes: int = 0
    deletes_applied: bool = True
    total_rows: int = 0
    extra: dict = field(default_factory=dict)


def _observe_rows(df: DataFrame, *extra) -> tuple[DataFrame, Observation]:
    """``df`` with a row counter (and any ``extra`` aggregates)
    attached: write the returned frame, then read ``obs.get["rows"]``.
    The count rides on the write's own job instead of a second scan."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows"), *extra), obs


class CdcEngine:
    """Per-run orchestrator over a TableStore.

    Naming in the store: ``{name}`` main table, ``{name}__fingerprints``
    hash cache (the ``_hashes_0/1`` pair collapses into versioned
    writes), ``{name}__changelog`` pre-image history,
    ``{name}__delta`` this run's changed rows (the ``{name}_new``
    staging table, download.py:486-506), ``{name}__deleted`` this
    run's APPLIED delete keys (empty when the guard tripped or on
    bootstrap) — together ``__delta`` + ``__deleted`` are the full
    per-epoch change feed a downstream consumer (e.g. the incremental
    dedup index, operators/dedup_index.py::apply_cdc_epoch) needs to
    mirror the table.
    """

    BUCKET_COL = "_bucket"

    def __init__(
        self,
        store: TableStore,
        fingerprint_algo: str = "crc32",
        delete_guard: int = DELETE_GUARD_DEFAULT,
        partition_buckets: int | None = None,
        fingerprint_buckets: int | None = None,
        compact_every: int | None = None,
        changelog_keep_epochs: int | None = None,
        changelog_mode: str = "updates",
        schema_change_policy: str = "full_churn",
    ):
        """``partition_buckets=N`` switches the main table to hash-
        partitioned storage (``pmod(xxhash64(pk), N)``): incremental
        runs rewrite ONLY the buckets containing changed keys (dynamic
        partition overwrite) instead of the whole replica — the write-
        amplification fix that matters at 100 TB, where a 0.1% delta
        must not cost a 100% rewrite. A bucket left empty by applied
        deletes is dropped, under the same table lock as the
        overwrite. Size N so one bucket ≈ a few GB (e.g. N=8192 for
        20 TB).

        ``fingerprint_buckets=N`` stores the fingerprint cache as a
        bucketed+sorted catalog table with double-buffer rotation
        (table.py:108-117): the replica side of the next run's diff
        join is then pre-partitioned and pre-sorted on ``id``, so the
        full-outer SMJ needs NO Exchange and NO Sort on the stable
        ~100M-row side — only the fresh source fingerprints shuffle.
        Verified plan-level in tests/test_bucketing.py.

        ``compact_every=K`` compacts each table's changelog after every
        K-th update run (optionally retaining only the last
        ``changelog_keep_epochs`` epochs) — bounds the small-file count
        at one file per K runs instead of one per run.

        ``changelog_mode``: ``"updates"`` (default) archives only the
        pre-images of updated rows — exact reference parity
        (download.py:585-595 J5). ``"full"`` additionally archives
        delete pre-images and insert markers, each entry tagged with a
        ``_change_type`` column — the extra fidelity that makes any
        historical state reconstructible via ``replay()``. Pick the
        mode when the table is created and keep it. (The changelog IS
        allowed to widen across a schema-change epoch — files before
        the boundary carry the old column set and ``read_appendable``
        merges schemas, reading the missing columns as NULL.)

        ``schema_change_policy`` governs an epoch whose source column
        set differs from the fingerprint basis of the previous run
        (the reference adapts implicitly by re-reading
        ``information_schema`` every run, table.py:66-75 — its column
        lists and CRC32 basis silently follow the DBA):

        - ``"full_churn"`` (default, reference parity): fingerprint
          over the NEW basis. Every surviving row's hash differs from
          the cache, so the whole table reclassifies as updated — the
          delta is the full source, pre-images of every old row land
          in the changelog (OLD schema), and the replica is rewritten
          in the new shape. Honest and simple; costs a bootstrap-sized
          epoch. Exactly what the reference does: its cached hashes
          were computed over the old column list, the new scan hashes
          over the new one, every row "changed".
        - ``"rebase"``: diff over the COMMON columns only (stored
          basis order), so churn stays proportional to rows whose
          surviving values actually changed. Added columns attach to
          ALL rows from a narrow (pk, added...) source projection;
          dropped columns are projected away; the fingerprint cache
          rotates to the full new basis so the next epoch runs
          normally. An add-only change reuses the existing cache
          (common == old basis — no replica scan); a drop rebases the
          replica-side hashes with one row-local replica scan, no
          shuffle. The 100-TB path: a monthly DBA column-add costs one
          narrow join + the unavoidable full-width rewrite, NOT a
          full-churn changelog + delta.

        Either way the epoch's ``UpdateStats.extra["schema_change"]``
        records added/dropped/reordered so operators can see the
        boundary, and in partitioned mode a schema-change epoch
        rewrites ALL buckets (every surviving row changes shape — no
        pruning is possible)."""
        if changelog_mode not in ("updates", "full"):
            raise ValueError(
                f"changelog_mode must be 'updates' or 'full', got "
                f"{changelog_mode!r}"
            )
        if schema_change_policy not in ("full_churn", "rebase"):
            raise ValueError(
                f"schema_change_policy must be 'full_churn' or 'rebase',"
                f" got {schema_change_policy!r}"
            )
        self.schema_change_policy = schema_change_policy
        self.changelog_mode = changelog_mode
        self.store = store
        self.algo = fingerprint_algo
        self.delete_guard = delete_guard
        self.partition_buckets = partition_buckets
        self.fingerprint_buckets = fingerprint_buckets
        self.compact_every = compact_every
        self.changelog_keep_epochs = changelog_keep_epochs

    # -- fingerprint-cache IO (double-buffered when bucketed) ----------
    def _fp_name(self, name: str) -> str:
        return f"{name}__fingerprints"

    def _write_fp(self, name: str, fp: DataFrame) -> None:
        if self.fingerprint_buckets:
            self.store.write_bucketed_versioned(
                self._fp_name(name), fp, "id", self.fingerprint_buckets
            )
        else:
            self.store.write(self._fp_name(name), fp)

    def _read_fp(self, name: str) -> DataFrame:
        if self.fingerprint_buckets:
            return self.store.read_bucketed_versioned(self._fp_name(name))
        return self.store.read(self._fp_name(name))

    def _fp_exists(self, name: str) -> bool:
        if self.fingerprint_buckets:
            return self.store.exists_bucketed(self._fp_name(name))
        return self.store.exists(self._fp_name(name))

    # -- fingerprint basis (schema-evolution detection) ----------------
    def _write_basis(
        self,
        name: str,
        data_cols: list[str],
        types: dict[str, str] | None = None,
    ) -> None:
        """Record the ordered column list the cached fingerprints were
        computed over, plus each column's Spark type string. The
        reference never needs this — it re-reads ``information_schema``
        and implicitly re-bases every run; here the basis sidecar is
        what lets ``update`` DETECT that the source's columns moved and
        pick a defined policy instead of crashing in ``unionByName`` or
        silently full-churning. Types matter too: an in-place column
        TYPE change (same names) also shifts the fingerprint rendering
        ('1' vs '1.0'), so it must be detected like an add/drop rather
        than silently reclassifying every row (ADVICE r7)."""
        import json

        self.store.write_sidecar(
            self._fp_name(name),
            "basis",
            json.dumps({"columns": data_cols, "types": types or {}}),
        )

    def _read_basis(
        self, name: str
    ) -> tuple[list[str] | None, dict[str, str] | None]:
        """``(columns, types)`` from the basis sidecar; ``(None, None)``
        when there is none. Types are None for legacy sidecars that
        predate type recording (their first post-upgrade epoch rewrites
        the sidecar with types)."""
        import json

        raw = self.store.read_sidecar(self._fp_name(name), "basis")
        if not raw:
            return None, None
        parsed = json.loads(raw)
        # legacy (pre-r8) sidecars stored a bare column list
        if not isinstance(parsed, dict):
            return parsed, None
        return parsed["columns"], parsed.get("types") or None

    @staticmethod
    def _basis_types(df: DataFrame, cols: list[str]) -> dict[str, str]:
        """Spark type strings for ``cols`` from ``df``'s schema —
        schema-only, no job."""
        by_name = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        return {c: by_name[c] for c in cols if c in by_name}

    def _append_basis_history(
        self, name: str, epoch: int, data_cols: list[str]
    ) -> None:
        """Epoch → column-set history (one tiny JSON sidecar). replay()
        needs it to answer "did this column exist at epoch e?" — a row
        untouched since the boundary has no pre-image, so without the
        history its later-added columns would leak current values into
        a pre-boundary reconstruction."""
        import json

        hist = self._read_basis_history(name) or []
        hist = [h for h in hist if h["epoch"] != epoch]
        hist.append({"epoch": epoch, "columns": data_cols})
        hist.sort(key=lambda h: h["epoch"])
        self.store.write_sidecar(
            self._fp_name(name), "basis_history", json.dumps(hist)
        )

    def _read_basis_history(self, name: str) -> list[dict] | None:
        import json

        raw = self.store.read_sidecar(self._fp_name(name), "basis_history")
        return json.loads(raw) if raw else None

    # -- changelog epochs + compaction ---------------------------------
    EPOCH_COL = "_epoch"
    CT_COL = "_change_type"

    def _epoch_file(self, name: str) -> str:
        d = os.path.join(self.store.root, f"{name}__changelog")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, "_EPOCH")

    def current_epoch(self, name: str) -> int:
        path = self._epoch_file(name)
        if not os.path.exists(path):
            return 0
        with open(path) as f:
            return int(f.read().strip())

    def _next_epoch(self, name: str) -> int:
        epoch = self.current_epoch(name) + 1
        tmp = self._epoch_file(name) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(epoch))
        os.replace(tmp, self._epoch_file(name))
        return epoch

    def _append_changelog(self, name: str, preimages: DataFrame) -> int:
        """Stamp pre-images with a monotonic run epoch (the changelog
        equivalent of the reference's per-run log date,
        download.py:585-595) so history is attributable to runs and
        retention can be expressed per-epoch."""
        epoch = self._next_epoch(name)
        self.store.append(
            f"{name}__changelog",
            preimages.withColumn(self.EPOCH_COL, F.lit(epoch)),
        )
        if self.compact_every and epoch % self.compact_every == 0:
            self.compact_changelog(
                name, keep_epochs=self.changelog_keep_epochs
            )
        return epoch

    def changelog(self, name: str) -> DataFrame:
        return self.store.read_appendable(f"{name}__changelog")

    def replay(self, spec: TableSpec, as_of_epoch: int) -> DataFrame:
        """The table's state as of the END of ``as_of_epoch`` (epoch 0
        = the bootstrap state), reconstructed from the current replica
        plus the pre-image changelog — no historical snapshots stored.

        Exact for every change class when ``changelog_mode="full"``;
        in ``"updates"`` mode (reference-parity changelog) rows
        inserted or deleted after ``as_of_epoch`` cannot be rewound —
        entries are treated as update pre-images. Retention bounds the
        horizon: with ``changelog_keep_epochs=K`` only the last K
        epochs are replayable.

        Across a schema boundary: columns added after ``as_of_epoch``
        read NULL in the replayed state — both for rows whose value
        comes from a pre-boundary pre-image (the log never had the
        column) and for rows untouched since the boundary (the basis
        history proves the column did not exist then, so the current
        replica's value is masked). A DROPPED column's values are
        replayable only for rows with a logged pre-image; rows never
        updated after the drop read NULL — the bytes are physically
        gone from the replica, exactly the retention trade stated
        above."""
        replica = self._read_main(spec.name)
        if self.current_epoch(spec.name) == 0:
            return replica  # no update has run; nothing to rewind
        log = self.changelog(spec.name)
        if self.CT_COL not in log.columns:
            log = log.withColumn(self.CT_COL, F.lit("update"))
        out = changelog_replay(
            replica,
            log,
            spec.primary_key,
            as_of_epoch,
            epoch_col=self.EPOCH_COL,
            change_type_col=self.CT_COL,
        )
        hist = self._read_basis_history(spec.name)
        if hist:
            eff = None
            for h in hist:
                if h["epoch"] <= as_of_epoch:
                    eff = h
            if eff is not None:
                from updater_spark.schema import SCORE_PREFIX

                eff_cols = set(eff["columns"])
                types = {f.name: f.dataType for f in out.schema.fields}
                out = out.select(
                    *[
                        F.lit(None).cast(types[c]).alias(c)
                        if (
                            c != spec.primary_key
                            and c not in eff_cols
                            and not (
                                spec.has_scores
                                and c.startswith(SCORE_PREFIX)
                            )
                        )
                        else F.col(c)
                        for c in out.columns
                    ]
                )
        return out

    def compact_changelog(
        self,
        name: str,
        keep_epochs: int | None = None,
        num_files: int = 1,
    ) -> None:
        """Compact the per-run small files (one parquet file per update
        at minimum) into ``num_files``, optionally dropping epochs
        older than the last ``keep_epochs`` — the retention policy the
        append-only reference never needed (its MySQL changelog table
        was one table, not one file per run)."""
        predicate = None
        if keep_epochs is not None:
            cutoff = self.current_epoch(name) - keep_epochs + 1
            predicate = F.col(self.EPOCH_COL) >= cutoff
        self.store.compact_appendable(
            f"{name}__changelog", predicate=predicate, num_files=num_files
        )

    def _bucket_expr(self, pk: str):
        return F.pmod(F.xxhash64(F.col(pk)), F.lit(self.partition_buckets))

    def _read_main(self, name: str) -> DataFrame:
        if self.partition_buckets:
            return self.store.read_partitioned(name).drop(self.BUCKET_COL)
        return self.store.read(name)

    # -- per-table transforms ------------------------------------------
    def _computed(self, spec: TableSpec, df: DataFrame) -> DataFrame:
        """Attach computed projections (scores P2/P3, name P4) — the
        fetch-time + post-load column passes fused into one stage."""
        out = df
        if spec.has_scores:
            out = apply_score_overall(apply_scores(out))
        if spec.normalize_name_col and spec.normalize_name_col in out.columns:
            out = normalize_names(out, spec.normalize_name_col)
        return out

    # -- entry point B: bootstrap (download.py:376-433) ----------------
    def bootstrap(self, spec: TableSpec, source: DataFrame) -> UpdateStats:
        cols = classify_df(spec, source) if spec.has_scores else None
        data_cols = cols.data_columns if cols else list(source.columns)
        # One scan: data columns + fingerprint + computed columns
        # (S3: SELECT CRC32(...), cols, scores FROM t).
        with_fp = source.select(
            *data_cols, row_fingerprint(data_cols, self.algo).alias("_fp")
        )
        full = self._computed(spec, with_fp)
        if self.partition_buckets:
            main, obs = _observe_rows(
                full.drop("_fp").withColumn(
                    self.BUCKET_COL, self._bucket_expr(spec.primary_key)
                )
            )
            self.store.write_partitioned(spec.name, main, self.BUCKET_COL)
        else:
            main, obs = _observe_rows(full.drop("_fp"))
            self.store.write(spec.name, main)
        self._write_fp(
            spec.name,
            full.select(
                F.col(spec.primary_key).alias("id"), F.col("_fp").alias("hashed")
            ),
        )
        self._write_basis(
            spec.name, data_cols, self._basis_types(source, data_cols)
        )
        self._append_basis_history(spec.name, 0, data_cols)
        total = obs.get["rows"]
        # Bootstrap writes straight to the main table; the delta equals
        # the full table (download.py:494 "" if table.is_empty).
        self.store.write(f"{spec.name}__delta", self._read_main(spec.name))
        self.store.write(
            f"{spec.name}__deleted", source.select(spec.primary_key).limit(0)
        )
        return UpdateStats(
            table=spec.name, bootstrap=True, upserts=total, total_rows=total
        )

    # -- entry point A: incremental update (download.py:50-63) ---------
    def update(self, spec: TableSpec, source: DataFrame) -> UpdateStats:
        if not self._fp_exists(spec.name):
            return self.bootstrap(spec, source)

        cols = classify_df(spec, source) if spec.has_scores else None
        data_cols = cols.data_columns if cols else list(source.columns)

        # Schema-evolution detection: the source's ordered data-column
        # list vs the basis the cached fingerprints were computed over.
        stored_basis, stored_types = self._read_basis(spec.name)
        if stored_basis is None:
            # tables bootstrapped before the basis sidecar existed:
            # the replica's data columns follow the last source's
            # order, so they ARE the basis (schema-only read, no job)
            stored_basis = classify_df(
                spec, self._read_main(spec.name)
            ).data_columns
            # seed the history too, or replay()'s added-column mask
            # has no pre-boundary entry to anchor on and would leak
            # current values into pre-upgrade reconstructions
            if self._read_basis_history(spec.name) is None:
                self._append_basis_history(spec.name, 0, stored_basis)
        evolution: dict | None = None
        if stored_basis is not None and stored_basis != data_cols:
            evolution = {
                "added": [c for c in data_cols if c not in stored_basis],
                "dropped": [c for c in stored_basis if c not in data_cols],
                "policy": self.schema_change_policy,
            }
            evolution["reordered"] = (
                not evolution["added"] and not evolution["dropped"]
            )

        # TYPE drift with unchanged names bypasses the name diff above
        # but shifts the fingerprint rendering just the same ('1' vs
        # '1.0') — and the cached hashes for a retyped column are
        # unusable, so rebase cannot reuse them either. Detect it from
        # the (name, type) basis sidecar and run the epoch as a loud
        # schema boundary with honest full churn (ADVICE r7). Legacy
        # sidecars predate type recording → None → skip (their first
        # post-upgrade epoch rewrites the sidecar with types).
        src_types = self._basis_types(source, data_cols)
        if stored_types is not None:
            type_changed = [
                (c, stored_types[c], src_types[c])
                for c in data_cols
                if c in stored_types and src_types.get(c) != stored_types[c]
            ]
            if type_changed:
                if evolution is None:
                    evolution = {
                        "added": [],
                        "dropped": [],
                        "reordered": False,
                        "policy": self.schema_change_policy,
                    }
                evolution["type_changed"] = type_changed
                if self.schema_change_policy == "rebase":
                    evolution["policy"] = "full_churn"
                    evolution["policy_fallback"] = (
                        "full_churn: column type change "
                        f"{type_changed} re-renders every cached "
                        "fingerprint — there is no common-column hash "
                        "to rebase onto"
                    )

        # A drop-rebase recomputes replica-side hashes from the STORED
        # rows — valid only when the replica holds the raw values the
        # cache hashed. normalize_name_col rewrites a data column at
        # write time (name || '#0000'), so those hashes would mismatch
        # every un-suffixed source row and the "churn-proportional"
        # promise would silently become a bootstrap-sized delta. Fall
        # back to honest full churn for that epoch and say so.
        rebase = (
            evolution is not None
            and self.schema_change_policy == "rebase"
            and not evolution.get("type_changed")
        )
        if (
            rebase
            and evolution["dropped"]
            and spec.normalize_name_col is not None
        ):
            rebase = False
            # record the EFFECTIVE policy, not the configured one —
            # consumers reading only evolution['policy'] must see what
            # actually ran (ADVICE r7); policy_fallback keeps the why
            evolution["policy"] = "full_churn"
            evolution["policy_fallback"] = (
                "full_churn: dropped-column rebase needs raw replica "
                f"values, but normalize_name_col="
                f"{spec.normalize_name_col!r} rewrites them at write "
                "time"
            )

        # S2: external scan → (id, hash); S1: cached replica hashes.
        if rebase:
            # diff over the COMMON columns (stored order): churn stays
            # proportional to rows whose surviving values changed
            common = [c for c in stored_basis if c in data_cols]
            src_fp = fingerprint_table(
                source, spec.primary_key, common, self.algo
            )
            if evolution["dropped"]:
                # cached hashes cover the dropped columns — rebase the
                # replica side with one row-local scan (projection
                # only, no shuffle; the replica holds the same values
                # the cache hashed — guaranteed by the normalize
                # fallback above)
                rep_fp = fingerprint_table(
                    self._read_main(spec.name),
                    spec.primary_key,
                    common,
                    self.algo,
                )
            else:
                # add-only: common == stored basis, the cache is
                # already the right hash — no replica scan at all
                rep_fp = self._read_fp(spec.name)
        else:
            src_fp = fingerprint_table(
                source, spec.primary_key, data_cols, self.algo
            )
            rep_fp = self._read_fp(spec.name)

        # J1: the diff join. It holds every key of both sides, the
        # unchanged ones too, and is persisted: the counts, the id
        # sets, the merge's touched keys and the fingerprint rotation
        # all read it instead of re-running the join.
        # At a full-churn schema boundary the cached hashes were
        # rendered over a DIFFERENT basis than src_fp — cross-basis
        # hash equality is a meaningless coincidence ('1x' from [name]
        # vs [tier]), and trusting it silently skips rows whose common
        # columns changed. assume_changed makes "everything
        # reclassifies" literal: every surviving key is an update.
        diff = snapshot_diff(
            src_fp,
            rep_fp,
            assume_changed=(evolution is not None and not rebase),
        ).persist()
        try:
            parts = split_diff(diff)

            # ONE job materializes the diff and yields the class
            # counts: upsert/update stats AND the delete guard.
            counts = {
                r["change_type"]: r["n"]
                for r in diff.groupBy("change_type")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            n_deletes = counts.get("delete", 0)
            n_upserts = counts.get("insert", 0) + counts.get("update", 0)
            # key sets beyond BROADCAST_KEY_LIMIT rows are never
            # hard-broadcast — EVERY forced broadcast below gates on
            # one of these measured counts (VERDICT r5 #4), so a
            # raised delete guard or high-churn epoch degrades to an
            # AQE shuffle join instead of a multi-GB broadcast
            hint = n_upserts < BROADCAST_KEY_LIMIT
            del_hint = n_deletes < BROADCAST_KEY_LIMIT

            # J2/S4: fetch full rows for changed/new keys, compute
            # scores + normalization on the delta only. The semi join
            # runs once, in the ``__delta`` write; the merge reads the
            # written table back.
            delta = self._computed(
                spec,
                semi_join_fetch(
                    source.select(*data_cols),
                    parts.upserts.withColumnRenamed("id", spec.primary_key),
                    spec.primary_key,
                    hint_broadcast=hint,
                ),
            )

            old = self._read_main(spec.name)
            delete_keys = parts.deletes.withColumnRenamed("id", spec.primary_key)
            apply_del = n_deletes < self.delete_guard
            # the keys whose old rows the merge replaces or drops
            touched = diff.filter(
                F.col("change_type").isin(
                    INSERT, UPDATE, *([DELETE] if apply_del else [])
                )
            ).select(F.col("id").alias(spec.primary_key))
            touched_hint = n_upserts + n_deletes < BROADCAST_KEY_LIMIT

            # J5: changelog pre-images (old versions of updated rows);
            # "full" mode adds delete pre-images + insert markers so
            # replay() can reconstruct any epoch.
            preimages = changelog_preimages(
                old,
                parts.updates.withColumnRenamed("id", spec.primary_key),
                spec.primary_key,
                hint_broadcast=hint,
            )
            if self.changelog_mode == "full":
                preimages = preimages.withColumn(self.CT_COL, F.lit("update"))
                if apply_del:
                    del_pre = old.join(
                        _maybe_broadcast(delete_keys.distinct(), del_hint),
                        spec.primary_key,
                        "semi",
                    ).withColumn(self.CT_COL, F.lit("delete"))
                    preimages = preimages.unionByName(del_pre)
                ins_marker = (
                    diff.filter(F.col("change_type") == "insert")
                    .select(F.col("id").alias(spec.primary_key))
                    .select(
                        spec.primary_key,
                        *[
                            F.lit(None).cast(f.dataType).alias(f.name)
                            for f in old.schema.fields
                            if f.name != spec.primary_key
                        ],
                    )
                    .withColumn(self.CT_COL, F.lit("insert"))
                )
                preimages = preimages.unionByName(ins_marker)
            epoch = self._append_changelog(spec.name, preimages)
            if evolution:
                self._append_basis_history(spec.name, epoch, data_cols)

            self.store.write(f"{spec.name}__delta", delta)
            delta = self.store.read(f"{spec.name}__delta")
            # the epoch's applied delete keys — empty when the guard
            # tripped, so consumers never act on skipped deletes
            self.store.write(
                f"{spec.name}__deleted",
                delete_keys if apply_del else delete_keys.limit(0),
            )
            # S5/S10 + S7: REPLACE-semantics upsert and guarded deletes
            total = self._merge_main(
                spec, delta, touched, touched_hint, evolution, source
            )

            # S9/S8: fingerprint rotation — overwrite with this run's
            # source fingerprints (write-then-promote is atomic). After
            # a rebase epoch the diff hashes covered only the common
            # columns; the cache must rotate to the FULL new basis so
            # the next epoch diffs normally. Otherwise the diff's
            # non-delete rows are every source key with its new hash:
            # the rows of src_fp, without re-scanning the source.
            if rebase:
                new_fp = fingerprint_table(
                    source, spec.primary_key, data_cols, self.algo
                )
            else:
                new_fp = diff.filter(F.col("change_type") != DELETE).select(
                    "id", F.col("new_hash").alias("hashed")
                )
            self._write_fp(spec.name, new_fp)
            self._write_basis(spec.name, data_cols, src_types)

            return UpdateStats(
                table=spec.name,
                bootstrap=False,
                upserts=n_upserts,
                updates=counts.get("update", 0),
                deletes=n_deletes,
                deletes_applied=apply_del,
                total_rows=total,
                extra={"schema_change": evolution} if evolution else {},
            )
        finally:
            diff.unpersist()

    def _merge_main(
        self,
        spec: TableSpec,
        delta: DataFrame,
        touched: DataFrame,
        hint: bool,
        evolution: dict | None = None,
        source: DataFrame | None = None,
    ) -> int:
        """The one main-table merge, the reference's ``REPLACE INTO``
        by key plus guarded ``DELETE … IN`` (download.py:489-506,
        326-366): old rows whose key is not in ``touched`` (upserted
        keys plus applied deletes) unioned with ``delta``. ``touched``
        is broadcast only when ``hint`` says its measured count is
        small (VERDICT r5 #4). Returns the table's row count.

        At a schema boundary (``evolution``) the kept rows are aligned
        to the delta's (new) schema, so the replica's shape follows
        the source (table.py:66-91). Added columns take the kept rows'
        values from a narrow ``(pk, added...)`` projection of
        ``source``, not a full-width re-fetch. That backfill matters
        under ``"rebase"``, where unchanged rows stay on the kept
        path; under ``"full_churn"`` every source row re-arrives in
        the delta, and kept holds only guard-skipped replica-only
        rows, which read NULL.

        Hash-partitioned mode rewrites only the affected buckets (those
        of ``touched``; all of them at a schema boundary) by dynamic
        partition overwrite, which replaces only buckets present in the
        written rows. An affected bucket the merge emptied is therefore
        dropped explicitly, under the same lock as the overwrite; the
        present buckets are observed on the write itself."""
        pk = spec.primary_key
        buckets = self.partition_buckets
        if not buckets:
            old = self.store.read(spec.name)
        else:
            if evolution:
                affected = list(range(buckets))
            else:
                affected = [
                    r[0]
                    for r in touched.select(self._bucket_expr(pk))
                    .distinct()
                    .collect()
                ]
            if not affected:
                return self._read_main(spec.name).count()
            old = (
                self.store.read_partitioned(spec.name)
                .filter(F.col(self.BUCKET_COL).isin(affected))
                .drop(self.BUCKET_COL)
            )
        kept = old.join(_maybe_broadcast(touched, hint), pk, "anti")
        if evolution:
            added = [c for c in evolution["added"] if c not in old.columns]
            if added:
                kept = kept.join(source.select(pk, *added), pk, "left")
            kept = align_to_schema(kept, delta.schema)
        merged = kept.unionByName(delta)
        if not buckets:
            main, obs = _observe_rows(merged)
            self.store.write(spec.name, main)
            return obs.get["rows"]
        main, obs = _observe_rows(
            merged.withColumn(self.BUCKET_COL, self._bucket_expr(pk)),
            F.collect_set(self.BUCKET_COL).alias("present"),
        )
        # dynamic, not static, overwrite: the merge scans the very
        # files being replaced, and dynamic mode swaps them at commit
        with self.store.locked(spec.name):
            self.store.overwrite_partitions(spec.name, main, self.BUCKET_COL)
            self.store.drop_partitions(
                spec.name,
                self.BUCKET_COL,
                set(affected) - set(obs.get["present"]),
            )
        if len(affected) == buckets:
            return obs.get["rows"]
        # only the affected buckets were written: count the table
        return self._read_main(spec.name).count()

    # -- concurrent per-table updates (start.py:55-59) -----------------
    def update_many(
        self, jobs: list[tuple[TableSpec, DataFrame]], max_workers: int = 3
    ) -> dict[str, UpdateStats]:
        """Run several table updates concurrently, as the reference
        runs its three extracts as concurrent asyncio tasks
        (start.py:55-59). Spark job submission is thread-safe; each
        thread drives its own DAG and the scheduler interleaves stages
        across the cluster (fair-scheduler pools would add isolation).
        """
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            futures = {
                spec.name: pool.submit(self.update, spec, src)
                for spec, src in jobs
            }
            return {name: f.result() for name, f in futures.items()}

    # -- full cycle: the reference's main (start.py:50-60) -------------
    def run_cycle(
        self,
        player_src: DataFrame,
        tribe_src: DataFrame,
        member_src: DataFrame,
        stat_cols: list[str] | None = None,
    ) -> dict[str, UpdateStats]:
        """One complete update run, exactly the reference's entry
        point: three concurrent per-table extracts (start.py:55-59)
        followed by the derived-aggregate rebuild (start.py:60). The
        post_update branch mirrors the reference's ``tribe.is_empty``
        check — bootstrap vs incremental aggregate paths
        (post_update.py:19, 44)."""
        from updater_spark.schema import MEMBER, PLAYER, TRIBE

        stats = self.update_many(
            [(PLAYER, player_src), (TRIBE, tribe_src), (MEMBER, member_src)]
        )
        self.post_update(
            TRIBE, was_bootstrap=stats["tribe"].bootstrap, stat_cols=stat_cols
        )
        return stats

    # -- streaming delta-apply (micro-batch mode) ----------------------
    def apply_delta(self, spec: TableSpec, batch: DataFrame) -> UpdateStats:
        """Apply a micro-batch containing only *arriving* rows (a delta
        feed, e.g. a Structured Streaming file source), as opposed to
        ``update`` whose input is a full snapshot.

        Semantics: upsert every arriving key whose fingerprint differs
        from the cache (unchanged re-deliveries are dropped — the same
        skip the reference's hash compare gives, download.py:189-205);
        never delete. Deletes in a delta feed must be explicit (tomb-
        stone rows), which the reference has no notion of.
        """
        if not self._fp_exists(spec.name):
            return self.bootstrap(spec, batch)

        cols = classify_df(spec, batch) if spec.has_scores else None
        data_cols = cols.data_columns if cols else list(batch.columns)

        stored_basis, _ = self._read_basis(spec.name)
        if stored_basis is not None and stored_basis != data_cols:
            # a delta feed carries only ARRIVING rows — there is no
            # full snapshot to backfill added columns or re-base
            # dropped ones from, so the boundary epoch must come
            # through update(); fail loudly instead of unionByName
            raise ValueError(
                f"schema change in delta feed for {spec.name!r} "
                f"(basis {stored_basis} -> {data_cols}); run a "
                "full-snapshot update() for the boundary epoch"
            )

        batch_fp = fingerprint_table(batch, spec.primary_key, data_cols, self.algo)
        rep_fp = self._read_fp(spec.name)
        diff = snapshot_diff(batch_fp, rep_fp)
        # replica-only keys are NOT deletes here — they simply didn't
        # arrive in this batch.
        changed = diff.filter(
            F.col("change_type").isin("insert", "update")
        ).select("id", "new_hash")

        delta = self._computed(
            spec,
            semi_join_fetch(
                batch.select(*data_cols),
                changed.withColumnRenamed("id", spec.primary_key),
                spec.primary_key,
            ),
        )
        old = self._read_main(spec.name)
        preimages = changelog_preimages(
            old,
            diff.filter(F.col("change_type") == "update").withColumnRenamed(
                "id", spec.primary_key
            ),
            spec.primary_key,
        )
        self._append_changelog(spec.name, preimages)
        # the semi join runs once, in the ``__delta`` write; the merge
        # reads the written table back
        delta, delta_obs = _observe_rows(delta)
        self.store.write(f"{spec.name}__delta", delta)
        upserts = delta_obs.get["rows"]
        delta = self.store.read(f"{spec.name}__delta")
        total = self._merge_main(
            spec,
            delta,
            delta.select(spec.primary_key),
            upserts < BROADCAST_KEY_LIMIT,
        )
        new_fp = merge_upsert(
            rep_fp, changed.withColumnRenamed("new_hash", "hashed"), "id"
        )
        self._write_fp(spec.name, new_fp)
        return UpdateStats(
            table=spec.name,
            bootstrap=False,
            upserts=upserts,
            total_rows=total,
        )

    # -- entry point C: derived aggregates (post_update.py) ------------
    def post_update(
        self,
        tribe_spec: TableSpec,
        was_bootstrap: bool,
        stat_cols: list[str] | None = None,
    ) -> None:
        tribe = self.store.read("tribe")
        member = self.store.read("member")
        player = self.store.read("player")
        player_new = self.store.read("player__delta")
        if stat_cols is None:
            # Discover from the existing sink schema if present
            # (post_update.py:9-11), else a default set.
            if self.store.exists("tribe_stats"):
                stat_cols = stat_columns(self.store.read("tribe_stats").columns)
            else:
                stat_cols = [
                    "cheese_gathered",
                    "first",
                    "round_played",
                    "shaman_cheese",
                    "saved_mice",
                ]

        if not was_bootstrap:
            self.store.write("tribe_active", tribe_active(tribe, member, player_new))
            # built on the written table, not on a re-run of its joins
            stats = tribe_stats(
                self.store.read("tribe_active"),
                member,
                player,
                stat_cols,
                bootstrap=False,
            )
        else:
            stats = tribe_stats(
                tribe, member, player, stat_cols, bootstrap=True, player_new=player_new
            )
        self.store.write("tribe_stats", stats)
