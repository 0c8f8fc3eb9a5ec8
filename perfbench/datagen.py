"""Seeded inputs for the benchmark: the sf0.1 snapshot and CD2 change batches.

The snapshot mirrors the fixture schema the package declares in
``canvas_data_2_aws_spark/schemas.py`` (a TPC-H-like star schema, an
event stream, a text corpus and an embedding table) at the sf0.1 row
counts: about 17 MB of parquet, which fits in memory. It is generated
from a fixed seed, like a dbgen run, and cached in the work directory.

The change batches are what the workload seed drives: JSONL files in the
CD2 envelope (``{"key": ..., "value": ..., "meta": {"action", "ts"}}``)
that ``syncdb`` reads. Every table batch mixes updates, inserts of new
keys, deletes (some of keys that never existed) and keys changed two or
three times within the batch, with ``meta.ts`` ties and out-of-order
lines so that both tie-break rules (latest ``meta.ts``, then file order)
decide results.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SNAPSHOT_SEED = 20240101

ROWS = {
    "region": 5,
    "nation": 25,
    "supplier": 1_000,
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

#: Tables the replica workload syncs, with their single-column keys.
SYNC_KEYS = {"orders": "o_orderkey", "customer": "c_custkey", "part": "p_partkey"}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_ORDER_DAY0 = np.datetime64("1995-01-01", "D")
_ORDER_DAYS = 2404  # through 2001-08-01
_SHIP_DAY0 = np.datetime64("1995-01-02", "D")
_SHIP_DAYS = 2499


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _days(rng: np.random.Generator, day0, ndays: int, n: int) -> np.ndarray:
    return (day0 + rng.integers(0, ndays, n)).astype("datetime64[us]")


# Row payload generators for the three synced tables: used for the
# snapshot and for the values of upserts in change batches.


def orders_rows(rng: np.random.Generator, keys: np.ndarray) -> dict:
    n = len(keys)
    return {
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, ROWS["customer"], n).astype(np.int64),
        "o_orderstatus": _pick(rng, ORDER_STATUS, n),
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, _ORDER_DAY0, _ORDER_DAYS, n),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    }


def customer_rows(rng: np.random.Generator, keys: np.ndarray) -> dict:
    n = len(keys)
    return {
        "c_custkey": keys.astype(np.int64),
        "c_name": np.asarray([f"Customer#{k:09d}" for k in keys], dtype=object),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    }


def part_rows(rng: np.random.Generator, keys: np.ndarray) -> dict:
    n = len(keys)
    names = [f"{a} {b}" for a, b in zip(_pick(rng, COLORS, n), _pick(rng, NOUNS, n))]
    return {
        "p_partkey": keys.astype(np.int64),
        "p_name": np.asarray(names, dtype=object),
        "p_brand": np.asarray(
            [f"Brand#{b}" for b in rng.integers(1, 26, n)], dtype=object
        ),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    }


ROW_GENERATORS = {"orders": orders_rows, "customer": customer_rows, "part": part_rows}

_ARROW_TYPES = {
    np.dtype(np.int64): pa.int64(),
    np.dtype(np.int32): pa.int32(),
    np.dtype(np.float64): pa.float64(),
    np.dtype("datetime64[us]"): pa.timestamp("us"),
    np.dtype(object): pa.string(),
}


def _table(cols: dict) -> pa.Table:
    return pa.table(
        {c: pa.array(v, type=_ARROW_TYPES[np.asarray(v).dtype]) for c, v in cols.items()}
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = [
        " ".join(_pick(rng, WORDS, int(rng.integers(10, 101)))) for _ in range(n)
    ]
    # One document in twenty is a copy of another plus a marker word,
    # so the near- and exact-duplicate detectors have work to find.
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(_pick(rng, LANGS, n), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    dim = 64
    vecs = rng.standard_normal((n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * dim + 1, dim), pa.int32()), flat
            ),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    span_us = 30 * 24 * 3600 * 1_000_000
    offsets = np.sort(rng.integers(0, span_us, n))
    ts = np.datetime64("2024-01-01T00:00:00", "us") + offsets.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": pa.array(_pick(rng, EVENT_TYPES, n), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()
            ),
        }
    )


def snapshot_tables(scale: float = 1.0) -> dict:
    """All fixture tables as Arrow tables; ``scale`` shrinks the row counts
    of the scaled tables (tests use a 0.01 scale, about sf0.001)."""
    rng = np.random.default_rng(SNAPSHOT_SEED)

    def rows(t: str) -> int:
        return max(1, int(ROWS[t] * scale))

    out = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": pa.array(REGIONS, pa.string()),
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
    }
    ns = rows("supplier")
    out["supplier"] = _table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": np.asarray([f"Supplier#{k:09d}" for k in range(ns)], dtype=object),
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, ns),
        }
    )
    for t, gen in ROW_GENERATORS.items():
        out[t] = _table(gen(rng, np.arange(rows(t), dtype=np.int64)))
    n = rows("lineitem")
    out["lineitem"] = _table(
        {
            "l_orderkey": rng.integers(0, rows("orders"), n).astype(np.int64),
            "l_partkey": rng.integers(0, rows("part"), n).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, n),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, _SHIP_DAY0, _SHIP_DAYS, n),
        }
    )
    out["events"] = _events(rng, rows("events"))
    # The corpus tables keep at least 500 rows at small scales, as the
    # sf0.001 and sf0.01 fixtures do.
    out["documents"] = _documents(rng, max(rows("documents"), 500))
    out["embeddings"] = _embeddings(rng, max(rows("embeddings"), 500))
    return out


def write_snapshot(dest: str, tables: dict) -> None:
    os.makedirs(dest, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(dest, f"{name}.parquet"))


def ensure_snapshot(work_dir: str) -> str:
    """Path of the cached sf0.1 snapshot, generating it on first use.
    The cache is keyed on a hash of this file, so any change to the
    generator makes a new snapshot. The snapshot is written to a
    temporary directory and renamed into place, so an interrupted run
    never leaves a partial snapshot."""
    with open(__file__, "rb") as fh:
        key = hashlib.sha256(fh.read()).hexdigest()[:16]
    dest = os.path.join(work_dir, "data", f"sf0.1-{key}")
    if os.path.isdir(dest):
        return dest
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    write_snapshot(tmp, snapshot_tables())
    os.replace(tmp, dest)
    return dest


# --- change batches ---------------------------------------------------------

#: Batch size classes as a share of each table's live rows.
BATCH_SHARE = {"trickle": 0.001, "medium": 0.01, "bulk": 0.10}
#: One block of batches: mostly trickle, one medium, one bulk. The order
#: is fixed so that every run syncs the same mix of sizes at the same
#: points of the JVM's warm-up (a bulk batch measured 2.7 s late in a
#: block and 4.4 s early in one); the seed drives the content of every
#: batch.
BLOCK = ["trickle", "trickle", "medium", "trickle", "trickle", "bulk"]


def _json_value(v):
    if isinstance(v, np.datetime64):
        return str(v.astype("datetime64[ms]")) + "Z"
    if isinstance(v, np.generic):
        return v.item()
    return v


class ChangeStream:
    """Seeded generator of multi-table change batches.

    It tracks which keys are live (by the same latest-``meta.ts``-then-
    file-order rule the replica applies) only to choose realistic keys:
    updates and deletes hit live keys, inserts take fresh keys, and some
    deletes name keys that never existed. Row values are never tracked;
    the expected replica state is computed independently by replaying
    the files (``replay.py``).
    """

    def __init__(self, seed: int, live: dict[str, np.ndarray]):
        self.rng = np.random.default_rng([seed, 0xC0FFEE])
        self.live = {t: set(int(k) for k in keys) for t, keys in live.items()}
        self.next_key = {t: max(keys) + 1 for t, keys in self.live.items()}
        self.ts = 1_700_000_000_000
        self.batches = 0

    def write_batch(self, size: str, out_dir: str) -> dict[str, tuple[str, int]]:
        """Write one batch (one JSONL file per table) and return
        ``{table: (path, records)}``."""
        os.makedirs(out_dir, exist_ok=True)
        out = {}
        for table in SYNC_KEYS:
            lines = self._table_batch(table, BATCH_SHARE[size])
            path = os.path.join(out_dir, f"{table}.jsonl")
            with open(path, "w", encoding="utf-8") as fh:
                fh.write("\n".join(lines) + "\n")
            out[table] = (path, len(lines))
        self.batches += 1
        return out

    def _table_batch(self, table: str, share: float) -> list[str]:
        rng, live = self.rng, self.live[table]
        n = max(10, int(len(live) * share))
        n_upd, n_ins, n_del, n_multi = (int(n * f) for f in (0.5, 0.2, 0.2, 0.1))
        n_absent = max(1, n_del // 4)
        live_arr = np.fromiter(live, dtype=np.int64, count=len(live))
        live_arr.sort()
        touched = rng.choice(live_arr, n_upd + n_del - n_absent + n_multi, replace=False)
        upd = touched[:n_upd]
        dele = touched[n_upd : n_upd + n_del - n_absent]
        multi = touched[n_upd + n_del - n_absent :]
        ins = np.arange(self.next_key[table], self.next_key[table] + n_ins)
        self.next_key[table] += n_ins
        # Keys that never existed: past every key ever handed out.
        absent = self.next_key[table] + 1_000_000 + rng.integers(0, 1_000_000, n_absent)

        # (key, action, ts) records, ts drawn inside this batch's window.
        recs: list[tuple[int, str, int]] = []
        base = self.ts
        span = 10_000

        def ts() -> int:
            return base + int(rng.integers(0, span))

        recs += [(int(k), "U", ts()) for k in upd]
        recs += [(int(k), "U", ts()) for k in ins]
        recs += [(int(k), "D", ts()) for k in dele]
        recs += [(int(k), "D", ts()) for k in absent]
        for k in multi:
            times = sorted(ts() for _ in range(int(rng.integers(2, 4))))
            if rng.random() < 0.3:
                times[-1] = times[-2]  # tie on meta.ts: file order decides
            recs += [(int(k), str(rng.choice(["U", "D"])), t) for t in times]
        self.ts += span

        order = rng.permutation(len(recs))
        recs = [recs[i] for i in order]
        upserts = [i for i, r in enumerate(recs) if r[1] == "U"]
        payload = ROW_GENERATORS[table](
            rng, np.asarray([recs[i][0] for i in upserts], dtype=np.int64)
        )
        key_col = SYNC_KEYS[table]
        value_cols = [c for c in payload if c != key_col]
        values = {i: j for j, i in enumerate(upserts)}

        lines = []
        final: dict[int, tuple[int, int, str]] = {}
        for pos, (k, action, t) in enumerate(recs):
            rec = {"key": {key_col: k}, "meta": {"action": action, "ts": t}}
            if action == "U":
                j = values[pos]
                rec["value"] = {c: _json_value(payload[c][j]) for c in value_cols}
            lines.append(json.dumps(rec, separators=(",", ":")))
            if k not in final or (t, pos) > final[k][:2]:
                final[k] = (t, pos, action)
        for k, (_, _, action) in final.items():
            if action == "U":
                live.add(k)
            else:
                live.discard(k)
        return lines


def live_keys(snapshot_dir: str) -> dict[str, np.ndarray]:
    return {
        t: pq.read_table(os.path.join(snapshot_dir, f"{t}.parquet"), columns=[k])
        .column(0)
        .to_numpy()
        for t, k in SYNC_KEYS.items()
    }
