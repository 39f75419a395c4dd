"""Self-tests of the benchmark (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

import fixture
import layers
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (child table, column) -> (parent table, column)
FOREIGN_KEYS = {
    ("orders", "o_custkey"): ("customer", "c_custkey"),
    ("lineitem", "l_orderkey"): ("orders", "o_orderkey"),
    ("lineitem", "l_partkey"): ("part", "p_partkey"),
    ("lineitem", "l_suppkey"): ("supplier", "s_suppkey"),
    ("events", "user_id"): ("customer", "c_custkey"),
    ("customer", "c_nationkey"): ("nation", "n_nationkey"),
    ("supplier", "s_nationkey"): ("nation", "n_nationkey"),
}


def _digest(data_dir: str) -> str:
    h = hashlib.sha256()
    for table in fixture.TABLES:
        with open(os.path.join(data_dir, f"{table}.parquet"), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _orphans(data_dir: str, child: str, col: str, parent: str, pcol: str) -> int:
    return duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{data_dir}/{child}.parquet') c "
        f"WHERE c.{col} NOT IN (SELECT {pcol} FROM read_parquet('{data_dir}/{parent}.parquet'))"
    ).fetchone()[0]


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    out = {}
    for name, seed in (("a", 7), ("a2", 7), ("b", 8)):
        d = str(tmp_path_factory.mktemp(name))
        fixture.build(d, seed, 3)
        out[name] = d
    return out


def test_same_seed_gives_byte_identical_inputs(built):
    assert _digest(built["a"]) == _digest(built["a2"])


def test_other_seed_gives_other_rows_with_same_schema(built):
    assert _digest(built["a"]) != _digest(built["b"])
    for table in fixture.TABLES:
        a, b = (pq.read_table(os.path.join(built[k], f"{table}.parquet")) for k in ("a", "b"))
        assert a.schema == b.schema
        assert a.num_rows == b.num_rows
        if table not in fixture.COPIED_TABLES:
            # every replicated table's first column is a shifted key
            assert set(a.column(0).to_pylist()) != set(b.column(0).to_pylist())


@pytest.mark.parametrize("fk", sorted(FOREIGN_KEYS))
def test_foreign_keys_stay_intact(built, fk):
    (child, col), (parent, pcol) = fk, FOREIGN_KEYS[fk]
    base = _orphans(fixture.BASE_DIR, child, col, parent, pcol)
    assert _orphans(built["b"], child, col, parent, pcol) == 3 * base


def test_shard_zero_keeps_hard_coded_ids(built):
    ids = pq.read_table(os.path.join(built["b"], "embeddings.parquet")).column("vec_id").to_pylist()
    assert 0 in ids  # operators.similarity.QUERY_VEC_ID


def test_sign_masks_preserve_cosines(built):
    import numpy as np

    def unit_vectors(d):
        t = pq.read_table(os.path.join(d, "embeddings.parquet")).sort_by("vec_id").slice(0, 50)
        v = np.array(t.column("embedding").to_pylist(), dtype=np.float64)
        return v / np.linalg.norm(v, axis=1, keepdims=True)

    base = unit_vectors(fixture.BASE_DIR)
    masked = unit_vectors(built["b"])
    assert not np.allclose(base, masked)
    np.testing.assert_allclose(base @ base.T, masked @ masked.T, atol=1e-6)


def test_shard_event_times_follow_event_ids(built):
    """cli.run_stream_mode reads events in event-id order; disjoint, rising
    shard time ranges mean its second micro-batch holds no late rows."""
    stride = fixture.strides()[("events", "event_id")]
    ranges = duckdb.sql(
        f"SELECT event_id // {stride} AS slot, MIN(ts) AS lo, MAX(ts) AS hi "
        f"FROM read_parquet('{built['b']}/events.parquet') GROUP BY slot ORDER BY slot"
    ).fetchall()
    assert [r[0] for r in ranges] == fixture.shard_slots(8, 3)
    for (_, _, hi), (_, lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo


def test_stream_values_are_per_batch_medians_and_per_pass_counts():
    from types import SimpleNamespace as NS

    def batch(trigger_ms, rows, state_rows, dropped):
        op = NS(numRowsTotal=state_rows, memoryUsedBytes=10 * state_rows,
                numRowsDroppedByWatermark=dropped)
        return NS(durationMs={"triggerExecution": trigger_ms, "addBatch": trigger_ms // 2},
                  numInputRows=rows, stateOperators=[op])

    got = layers.stream_values(
        [batch(100, 10, 5, 0), batch(300, 0, 7, 0), batch(200, 10, 6, 2)], passes=1
    )
    assert got["stream.trigger_ms"] == 200
    assert got["stream.add_batch_ms"] == 100
    assert got["stream.get_batch_ms"] == 0
    assert got["stream.batches"] == 3
    assert got["stream.input_rows"] == 20
    assert got["stream.state_rows"] == 7
    assert got["stream.state_bytes"] == 70
    assert got["stream.watermark_dropped_rows"] == 2


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_the_rule_and_the_report():
    spec = _benchmark_json()
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == layers.END_TO_END_UNITS
    assert per_layer == layers.per_layer_units()
    for name in (*e2e, *per_layer):
        assert stats.check_metric_name(name) == name
    with pytest.raises(ValueError):
        stats.check_metric_name("query p90")


def test_fails_without_printing_a_result_outside_a_checkout(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""
