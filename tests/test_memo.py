"""The engine's one memo mechanism: BoundedMemo, plan_key, and the
streaming schema memo's file-identity key."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from pkg2_spark.session import BoundedMemo, plan_key
from pkg2_spark.streaming.harness import _events_schema


def _never():
    raise AssertionError("a hit must not rebuild")


def test_lru_keeps_most_recent_and_evicts_only_the_oldest():
    memo = BoundedMemo(3)
    for k in "abc":
        assert memo.get(k, lambda k=k: k.upper()) == k.upper()
    assert memo.get("a", _never) == "A"  # hit refreshes "a"
    memo.get("d", lambda: "D")  # over the bound: evicts "b" only
    assert list(memo) == ["c", "a", "d"]
    assert memo.get("c", _never) == "C"
    assert memo.get("b", lambda: "B2") == "B2"  # evicted entries rebuild
    assert list(memo) == ["d", "c", "b"]


def test_iteration_is_a_key_snapshot_and_clear_empties():
    memo = BoundedMemo(4)
    memo.get(("s", 1), lambda: 1)
    memo.get(("s", 2), lambda: 2)
    for key in memo:  # mutating while iterating is safe
        memo.get((key, "x"), lambda: 0)
    assert set(memo) == {("s", 1), ("s", 2), (("s", 1), "x"), (("s", 2), "x")}
    memo.clear()
    assert list(memo) == []


def test_plan_key_is_none_for_in_memory_frames(spark, sf_dir):
    a = spark.createDataFrame([(1, "x")], "id INT, t STRING")
    b = spark.createDataFrame([(2, "y"), (3, "z")], "id INT, t STRING")
    # Neither plan string embeds its rows, so both must stay out of any
    # plan-keyed memo rather than share one entry.
    assert plan_key(a) is None and plan_key(b) is None
    path = os.path.join(sf_dir, "region.parquet")
    key = plan_key(spark.read.parquet(path))
    assert key is not None and key == plan_key(spark.read.parquet(path))


def test_events_schema_rereads_on_sub_float_mtime_change(spark, tmp_path):
    src = str(tmp_path / "events.parquet")
    t_ns = 1_700_000_000_000_000_000

    def write(column: str, mtime_ns: int) -> os.stat_result:
        pq.write_table(pa.table({column: pa.array([1, 2, 3], pa.int64())}), src)
        os.utime(src, ns=(mtime_ns, mtime_ns))
        return os.stat(src)

    before = write("a", t_ns)
    assert _events_schema(spark, src).fieldNames() == ["a"]
    after = write("b", t_ns + 1)
    # Same size and the same float mtime: only the ns field tells them apart.
    assert after.st_size == before.st_size
    assert after.st_mtime == before.st_mtime
    assert after.st_mtime_ns != before.st_mtime_ns
    assert _events_schema(spark, src).fieldNames() == ["b"]
