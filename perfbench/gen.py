"""Seeded input generators. The program under test sees only the
parquet these functions write.

Every function draws from the ``numpy.random.Generator`` it is given;
callers seed it from the workload seed, so one seed gives identical
inputs. The CDC scenario follows
FIXTURES.md: player/tribe/member snapshots with ~80% of players in a
tribe and ~10% of names without ``#``; each epoch updates, inserts and
deletes players, moves members between tribes and adds one tribe. The
generator also returns the exact number of rows it changed per table,
which the output checks compare against the program's changelog.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# player data columns in FIXTURES.md order (they enter the fingerprint)
PLAYER_STATS = [
    "cheese_gathered",
    "first",
    "round_played",
    "shaman_cheese",
    "saved_mice",
    "saved_mice_hard",
    "saved_mice_divine",
    "survivor_survivor_count",
    "survivor_mouse_killed",
    "survivor_shaman_count",
    "survivor_round_played",
    "racing_first",
    "racing_podium",
    "racing_round_played",
    "racing_finished_map",
    "defilante_points",
    "defilante_round_played",
    "defilante_finished_map",
]
# divisor columns: FIXTURES.md asks for zeros (MySQL NULL-on-/0 edge)
_ZERO_COLS = {
    "round_played",
    "survivor_shaman_count",
    "survivor_round_played",
    "racing_round_played",
    "racing_finished_map",
    "defilante_round_played",
    "defilante_finished_map",
}
# columns an update bumps; every update adds >= 1 to each, so the
# rendered fingerprint string always changes (values only grow)
_BUMP_COLS = ["cheese_gathered", "first", "round_played", "saved_mice"]
ROW_GROUP = 50_000


def write_parquet(table: pa.Table, path: str) -> int:
    """Write ``table`` with several row groups, so Spark splits the
    scan across cores. Returns the file size in bytes."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=ROW_GROUP)
    return os.path.getsize(path)


def _names(ids: np.ndarray, rng: np.random.Generator) -> pa.Array:
    """``p<id>#<tag>``; ~10% have no ``#`` (download.py:548-555)."""
    base = pc.binary_join_element_wise(
        "p", pc.cast(pa.array(ids), pa.string()), ""
    )
    tags = pc.cast(pa.array(rng.integers(1, 10_000, len(ids))), pa.string())
    tagged = pc.binary_join_element_wise(base, tags, "#")
    no_hash = pa.array(rng.random(len(ids)) < 0.10)
    return pc.if_else(no_hash, base, tagged)


def _player_stats(n: int, rng: np.random.Generator) -> dict[str, np.ndarray]:
    out = {}
    for c in PLAYER_STATS:
        v = rng.integers(0, 5_000, n, dtype=np.int64)
        if c in _ZERO_COLS:
            v[rng.random(n) < 0.05] = 0
        out[c] = v
    return out


@dataclass
class CdcState:
    """One source snapshot held as numpy columns (rows sorted by id)."""

    player_id: np.ndarray
    player_name: pa.Array
    stats: dict[str, np.ndarray]
    tribe_id: np.ndarray
    member_id: np.ndarray
    member_tribe: np.ndarray
    next_player: int
    next_tribe: int

    def tables(self) -> dict[str, pa.Table]:
        player = pa.table(
            {"id": self.player_id, "name": self.player_name, **self.stats}
        )
        tribe_names = pc.binary_join_element_wise(
            "tribe", pc.cast(pa.array(self.tribe_id), pa.string()), ""
        )
        tribe = pa.table({"id": self.tribe_id, "name": tribe_names})
        order = np.argsort(self.member_id, kind="stable")
        member = pa.table(
            {
                "id_member": self.member_id[order],
                "id_tribe": self.member_tribe[order],
            }
        )
        return {"player": player, "tribe": tribe, "member": member}


def cdc_base(n_players: int, n_tribes: int, rng: np.random.Generator) -> CdcState:
    ids = np.arange(1, n_players + 1, dtype=np.int64)
    tribe_ids = np.arange(1, n_tribes + 1, dtype=np.int64)
    in_tribe = rng.random(n_players) < 0.80
    return CdcState(
        player_id=ids,
        player_name=_names(ids, rng),
        stats=_player_stats(n_players, rng),
        tribe_id=tribe_ids,
        member_id=ids[in_tribe],
        member_tribe=rng.integers(1, n_tribes + 1, int(in_tribe.sum())),
        next_player=n_players + 1,
        next_tribe=n_tribes + 1,
    )


@dataclass(frozen=True)
class Churn:
    """Per-epoch change shares of the current row counts."""

    update: float
    insert: float
    delete: float
    move: float


def cdc_epoch(
    state: CdcState, churn: Churn, rng: np.random.Generator
) -> tuple[CdcState, dict[str, int], np.ndarray]:
    """The next snapshot, the exact update count per table (the rows
    whose fingerprint changes while their key survives) and the ids of
    the players it upserts (updated or inserted)."""
    n = len(state.player_id)
    n_upd = max(1, round(n * churn.update))
    n_del = max(1, round(n * churn.delete))
    n_ins = max(1, round(n * churn.insert))
    perm = rng.permutation(n)
    upd, dele = perm[:n_upd], perm[n_upd : n_upd + n_del]

    stats = {c: v.copy() for c, v in state.stats.items()}
    for c in _BUMP_COLS:
        stats[c][upd] += rng.integers(1, 20, n_upd)
    keep = np.ones(n, dtype=bool)
    keep[dele] = False
    gone = state.player_id[dele]

    new_ids = np.arange(
        state.next_player, state.next_player + n_ins, dtype=np.int64
    )
    new_stats = _player_stats(n_ins, rng)
    player_id = np.concatenate([state.player_id[keep], new_ids])
    player_name = pa.concat_arrays(
        [state.player_name.filter(pa.array(keep)), _names(new_ids, rng)]
    )
    stats = {c: np.concatenate([v[keep], new_stats[c]]) for c, v in stats.items()}

    # one new tribe per epoch
    tribe_id = np.append(state.tribe_id, np.int64(state.next_tribe))
    n_tribes = len(tribe_id)

    # members: deleted players leave, ~80% of new players join a tribe,
    # and a share of the survivors move to a different tribe
    m_keep = ~np.isin(state.member_id, gone)
    member_id = state.member_id[m_keep]
    member_tribe = state.member_tribe[m_keep].copy()
    n_move = max(1, round(len(member_id) * churn.move))
    movers = rng.choice(len(member_id), n_move, replace=False)
    # a shift in 1..n_tribes-1 never lands on the same tribe
    shift = rng.integers(1, n_tribes, n_move)
    member_tribe[movers] = (member_tribe[movers] - 1 + shift) % n_tribes + 1
    joins = new_ids[rng.random(n_ins) < 0.80]
    member_id = np.concatenate([member_id, joins])
    member_tribe = np.concatenate(
        [member_tribe, rng.integers(1, n_tribes + 1, len(joins))]
    )
    nxt = CdcState(
        player_id=player_id,
        player_name=player_name,
        stats=stats,
        tribe_id=tribe_id,
        member_id=member_id,
        member_tribe=member_tribe,
        next_player=state.next_player + n_ins,
        next_tribe=state.next_tribe + 1,
    )
    upserted = np.concatenate([state.player_id[upd], new_ids])
    return nxt, {"player": n_upd, "tribe": 0, "member": n_move}, upserted


@dataclass
class CdcInputs:
    """Paths of each epoch's snapshot (epoch 0 is the bootstrap
    source), per-epoch row counts and exact update counts, the last
    snapshot's state and the players the last epoch upserted."""

    epochs: list[dict[str, str]] = field(default_factory=list)
    rows: list[dict[str, int]] = field(default_factory=list)
    updates: list[dict[str, int]] = field(default_factory=list)
    bytes: dict[str, int] = field(default_factory=dict)
    final: CdcState | None = None
    last_upserted: np.ndarray | None = None


def cdc_inputs(
    root: str,
    rng: np.random.Generator,
    n_players: int,
    n_tribes: int,
    churn: Churn,
    n_epochs: int,
) -> CdcInputs:
    """Write ``n_epochs + 1`` full snapshots under ``root``."""
    state = cdc_base(n_players, n_tribes, rng)
    out = CdcInputs()
    for epoch in range(n_epochs + 1):
        if epoch:
            state, upd, out.last_upserted = cdc_epoch(state, churn, rng)
            out.updates.append(upd)
        paths, rows = {}, {}
        for name, table in state.tables().items():
            path = os.path.join(root, f"epoch{epoch}", f"{name}.parquet")
            size = write_parquet(table, path)
            paths[name] = path
            rows[name] = table.num_rows
            if epoch == 0:
                out.bytes[name] = size
        out.epochs.append(paths)
        out.rows.append(rows)
    out.final = state
    return out


@dataclass
class StreamDrops:
    """Parquet drops of arriving player rows, and the expected player
    snapshot once every drop is applied."""

    drops: list[str]
    expected: str
    updates: int
    rows: int
    bytes: int


def stream_drops(
    root: str,
    rng: np.random.Generator,
    state: CdcState,
    n_drops: int,
    drop_rows: int,
) -> StreamDrops:
    """Each drop holds ``drop_rows`` arriving player rows on top of
    ``state``: half are updates of existing keys (counters bumped, so
    every one changes) and half are new keys. Keys are unique within a
    drop."""
    ids, names = state.player_id, state.player_name
    stats = {c: v.copy() for c, v in state.stats.items()}
    next_id = state.next_player
    drops, n_upd_total, n_bytes = [], 0, 0
    for k in range(n_drops):
        n_upd = drop_rows // 2
        n_ins = drop_rows - n_upd
        upd = np.sort(rng.choice(len(ids), n_upd, replace=False))
        for c in _BUMP_COLS:
            stats[c][upd] += rng.integers(1, 20, n_upd)
        new_ids = np.arange(next_id, next_id + n_ins, dtype=np.int64)
        next_id += n_ins
        new_names = _names(new_ids, rng)
        new_stats = _player_stats(n_ins, rng)
        drop = pa.table(
            {
                "id": np.concatenate([ids[upd], new_ids]),
                "name": pa.concat_arrays([names.take(pa.array(upd)), new_names]),
                **{
                    c: np.concatenate([stats[c][upd], new_stats[c]])
                    for c in PLAYER_STATS
                },
            }
        )
        path = os.path.join(root, "drops", f"drop{k:04d}.parquet")
        n_bytes += write_parquet(drop, path)
        drops.append(path)
        n_upd_total += n_upd
        ids = np.concatenate([ids, new_ids])
        names = pa.concat_arrays([names, new_names])
        stats = {c: np.concatenate([stats[c], new_stats[c]]) for c in PLAYER_STATS}
    expected = os.path.join(root, "expected", "player.parquet")
    write_parquet(pa.table({"id": ids, "name": names, **stats}), expected)
    return StreamDrops(drops, expected, n_upd_total, n_drops * drop_rows, n_bytes)


# -- operators_mix tables: the schemas of the star-schema testdata
# (TESTDATA.md), sized by scale factor ------------------------

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_EVENTS = ["signup", "error", "click", "view", "purchase"]


def operator_tables(root: str, rng: np.random.Generator, sf: float) -> dict[str, tuple[int, int]]:
    """Write part, documents, embeddings and events under ``root`` as
    ``<name>.parquet``. Row counts follow the testdata: part 200k*sf,
    events 1M*sf, documents/embeddings 50k*sf (at least 500).
    Returns name -> (rows, bytes)."""
    out = {}

    n = int(200_000 * sf)
    part = pa.table(
        {
            "p_partkey": np.arange(n, dtype=np.int64),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": [_TYPES[t] for t in rng.integers(0, len(_TYPES), n)],
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2),
        }
    )

    n = max(500, int(50_000 * sf))
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(_WORDS), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(_WORDS[w] for w in words[pos : pos + ln]))
        pos += ln
    documents = pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.choice(5, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )

    # unit vectors around 10 labelled centres
    centres = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n)
    vecs = centres[labels] + rng.normal(scale=1.5, size=(n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), 64
            ).cast(pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    )

    n = int(1_000_000 * sf)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    events = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(start + offsets.astype("timedelta64[us]")),
            "user_id": rng.integers(0, max(150, n // 67), n),
            "event_type": [_EVENTS[i] for i in rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )
    for name, table in {
        "part": part,
        "documents": documents,
        "embeddings": embeddings,
        "events": events,
    }.items():
        size = write_parquet(table, os.path.join(root, f"{name}.parquet"))
        out[name] = (table.num_rows, size)
    return out


def incremental_tribe_stats(
    state: CdcState, upserted: np.ndarray, stat_cols: list[str]
) -> dict[int, tuple]:
    """The ``tribe_stats`` rows an incremental ``post_update`` must
    produce over snapshot ``state`` when ``upserted`` is the player
    delta (post_update.py:23-91): one row per tribe with a member in
    the delta; ``members`` = ``active`` = that member count; each stat
    is the sum over ALL the tribe's members divided by
    sqrt(members). Keyed by tribe id, values
    ``(members, active, *stats)``."""
    pos = np.searchsorted(state.player_id, state.member_id)
    tribes = state.member_tribe
    active = np.bincount(tribes[np.isin(state.member_id, upserted)])
    sums = [
        np.bincount(tribes, weights=state.stats[c][pos].astype(np.float64))
        for c in stat_cols
    ]
    return {
        int(t): (int(n), int(n), *[float(s[t]) / np.sqrt(float(n)) for s in sums])
        for t, n in enumerate(active)
        if n
    }
