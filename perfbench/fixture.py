"""Seeded input generator: key-shifted shards of the committed base fixture.

``perfbench/base/`` holds the ten sf0.01 tables of the engine's star
schema (TPC-H-ish tables plus ``events``, ``documents``, ``embeddings``).
A fixture of factor ``f`` is ``f`` disjoint shards of that base, built
with the structure-preserving transforms of ``tools/scale_probe.py``:

- every primary and foreign key of a key family is offset by
  ``slot * stride`` (stride = max key of the family + 1), so joins match
  inside a shard and never across shards;
- shard 0 keeps slot 0 (unshifted), so hard-coded ids such as
  ``QUERY_VEC_ID`` stay valid; shards 1.. take slots drawn by the seed;
- ``documents`` tokens of a shifted shard carry a ``_<slot>`` tag, so
  shingle sets of different shards are disjoint;
- each shard's embeddings are multiplied by a seeded per-dimension
  Rademacher (+-1) sign mask, which preserves every cosine inside a
  shard;
- ``events.ts`` of a shard is moved ``slot * EVENT_SHIFT`` later, so
  the shards' event-time ranges are disjoint and follow their event ids:
  a stream that reads events in id order sees no late rows;
- ``region`` and ``nation`` are copied unchanged.

The seed also drives the row order of every replicated table. The same
seed gives byte-identical files; the engine only ever reads the
generated directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
COPIED_TABLES = ("region", "nation")

# family -> ((table, column), ...); the first pair defines the stride.
# events.user_id draws from the custkey domain (j08 joins
# o_custkey = user_id), so it shares the custkey stride.
KEY_FAMILIES: dict[str, tuple[tuple[str, str], ...]] = {
    "custkey": (("customer", "c_custkey"), ("orders", "o_custkey"), ("events", "user_id")),
    "suppkey": (("supplier", "s_suppkey"), ("lineitem", "l_suppkey")),
    "partkey": (("part", "p_partkey"), ("lineitem", "l_partkey")),
    "orderkey": (("orders", "o_orderkey"), ("lineitem", "l_orderkey")),
    "eventid": (("events", "event_id"),),
    "docid": (("documents", "doc_id"),),
    "veclabel": (("embeddings", "label"),),
    "vecid": (("embeddings", "vec_id"),),
}

# Shifted shards draw their slot from 1..MAX_SLOT, so two seeds give
# different key ranges while every key stays far below int32 overflow
# for the int-typed families (label).
MAX_SLOT = 64

# Later than the base events' 30-day span, and whole weeks, so a shifted
# shard keeps every event's weekday and time of day.
EVENT_SHIFT = pa.scalar(35 * 86_400_000_000, pa.duration("us"))

# Row groups per replicated table: lets the scan split across cores.
ROW_GROUPS = 4


def read_base(table: str) -> pa.Table:
    return pq.read_table(os.path.join(BASE_DIR, f"{table}.parquet"))


def strides() -> dict[tuple[str, str], int]:
    out: dict[tuple[str, str], int] = {}
    for cols in KEY_FAMILIES.values():
        t0, c0 = cols[0]
        stride = int(pc.max(read_base(t0)[c0]).as_py()) + 1
        for t, c in cols:
            out[(t, c)] = stride
    return out


def shard_slots(seed: int, factor: int) -> list[int]:
    """Slot of each shard: 0 for shard 0, distinct seeded slots after."""
    if not 1 <= factor <= MAX_SLOT:
        raise ValueError(f"factor must be in 1..{MAX_SLOT}, got {factor}")
    rng = np.random.default_rng([seed, 1])
    drawn = rng.choice(np.arange(1, MAX_SLOT + 1), factor - 1, replace=False)
    return [0, *sorted(int(s) for s in drawn)]


def _set(t: pa.Table, name: str, values: pa.Array) -> pa.Table:
    return t.set_column(t.schema.get_field_index(name), t.schema.field(name), values)


def _sign_mask(seed: int, slot: int, dims: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 2, slot])
    return rng.choice(np.array([-1.0, 1.0], dtype=np.float32), dims)


def _shard(t: pa.Table, table: str, seed: int, slot: int, st: dict) -> pa.Table:
    for (tt, c), stride in st.items():
        if tt == table and slot:
            col = t[c]
            t = _set(t, c, pc.add(col, pa.scalar(slot * stride, col.type)))
    if table == "events" and slot:
        t = _set(t, "ts", pc.add(t["ts"], pc.multiply(EVENT_SHIFT, slot)))
    if table == "documents" and slot:
        tokens = pc.split_pattern(t["text"].combine_chunks(), " ")
        tagged = pc.binary_join_element_wise(tokens.flatten(), f"_{slot}", "")
        text = pc.binary_join(pa.ListArray.from_arrays(tokens.offsets, tagged), " ")
        t = _set(t, "text", text)
        t = _set(t, "n_chars", pc.cast(pc.utf8_length(text), pa.int64()))
    if table == "embeddings":
        emb = t["embedding"].combine_chunks()
        dims = len(emb[0])
        vals = emb.flatten().to_numpy(zero_copy_only=False).reshape(-1, dims)
        masked = (vals * _sign_mask(seed, slot, dims)).astype(np.float32)
        t = _set(t, "embedding", pa.ListArray.from_arrays(emb.offsets, pa.array(masked.ravel())))
    return t


def build_table(table: str, seed: int, factor: int, st: dict) -> pa.Table:
    base = read_base(table)
    if table in COPIED_TABLES:
        return base
    shards = [_shard(base, table, seed, slot, st) for slot in shard_slots(seed, factor)]
    full = pa.concat_tables(shards)
    order = np.random.default_rng([seed, 3, TABLES.index(table)]).permutation(full.num_rows)
    return full.take(pa.array(order)).replace_schema_metadata(base.schema.metadata)


def build(out_dir: str, seed: int, factor: int) -> dict:
    """Write the fixture into ``out_dir``; return its rows and bytes per table."""
    os.makedirs(out_dir, exist_ok=True)
    st = strides()
    tables = {}
    for table in TABLES:
        t = build_table(table, seed, factor, st)
        path = os.path.join(out_dir, f"{table}.parquet")
        rg = max(1, -(-t.num_rows // ROW_GROUPS)) if table not in COPIED_TABLES else None
        pq.write_table(t, path, row_group_size=rg)
        tables[table] = {"rows": t.num_rows, "bytes": os.path.getsize(path)}
    return {"seed": seed, "factor": factor, "slots": shard_slots(seed, factor), "tables": tables}
