"""MERGE emulation: inserts, updates, and untouched rows in one pass;
repeatable (idempotent for identical updates)."""

from __future__ import annotations

from rust_etl_spark.operators.upsert import upsert_parquet


def _read(spark, path):
    return {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}


def test_upsert_insert_update_keep(spark, tmp_path):
    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    upsert_parquet(spark, path, base, ["k"])  # initial load path
    assert _read(spark, path) == {1: "a", 2: "b", 3: "c"}

    updates = spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string")
    upsert_parquet(spark, path, updates, ["k"])
    assert _read(spark, path) == {1: "a", 2: "B", 3: "c", 4: "d"}

    # idempotent for the same updates
    upsert_parquet(spark, path, updates, ["k"])
    assert _read(spark, path) == {1: "a", 2: "B", 3: "c", 4: "d"}


def test_upsert_recovers_from_crash_between_renames(spark, tmp_path):
    """A crash between the swap's two renames leaves target missing and
    ``._upsert_old`` holding the only full copy; the next call must
    restore it, not rebuild the table from the new updates alone."""
    import os

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    upsert_parquet(spark, path, base, ["k"])

    # Simulate the crash window: target was moved aside, new dir never landed.
    os.rename(path, path + "._upsert_old")
    assert not os.path.exists(path)

    updates = spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string")
    upsert_parquet(spark, path, updates, ["k"])
    # History (keys 1 and 3) survives; the aside copy is gone.
    assert _read(spark, path) == {1: "a", 2: "B", 3: "c", 4: "d"}
    assert not os.path.exists(path + "._upsert_old")


def test_upsert_cleans_stale_old_when_target_intact(spark, tmp_path):
    """A crash after the new table landed but before cleanup leaves a
    stale aside copy next to an intact target; the next call drops the
    stale copy and merges against the (newer) target."""
    import os
    import shutil

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    upsert_parquet(spark, path, base, ["k"])
    shutil.copytree(path, path + "._upsert_old")  # stale copy, target intact

    updates = spark.createDataFrame([(2, "B")], "k long, v string")
    upsert_parquet(spark, path, updates, ["k"])
    assert _read(spark, path) == {1: "a", 2: "B"}
    assert not os.path.exists(path + "._upsert_old")


# ------------------------------------------------------ bucketed upsert


def _bucket_dirs(path):
    import os

    return {
        d: sorted(os.listdir(os.path.join(path, d)))
        for d in os.listdir(path)
        if d.startswith("__bucket=")
    }


def test_bucketed_upsert_insert_update_keep(spark, tmp_path, monkeypatch):
    from rust_etl_spark.operators import upsert
    from rust_etl_spark.operators.upsert import upsert_parquet_bucketed

    monkeypatch.setattr(upsert, "N_BUCKETS", 8)

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "k long, v string")
    upsert_parquet_bucketed(spark, path, base, ["k"])
    assert _read(spark, path) == {i: f"v{i}" for i in range(100)}

    updates = spark.createDataFrame([(7, "NEW"), (200, "ins")], "k long, v string")
    upsert_parquet_bucketed(spark, path, updates, ["k"])
    want = {i: f"v{i}" for i in range(100)} | {7: "NEW", 200: "ins"}
    assert _read(spark, path) == want

    # idempotent: re-running the same merge converges to the same table
    upsert_parquet_bucketed(spark, path, updates, ["k"])
    assert _read(spark, path) == want


def test_bucketed_upsert_rewrites_only_touched_buckets(spark, tmp_path, monkeypatch):
    """The point of the layout: bucket directories whose keys are not in
    the update batch must keep their exact files (no rewrite)."""
    from rust_etl_spark.operators import upsert
    from rust_etl_spark.operators.upsert import upsert_parquet_bucketed

    monkeypatch.setattr(upsert, "N_BUCKETS", 8)

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "k long, v string")
    upsert_parquet_bucketed(spark, path, base, ["k"])
    before = _bucket_dirs(path)
    assert len(before) == 8  # 100 keys cover all 8 buckets

    updates = spark.createDataFrame([(7, "NEW")], "k long, v string")
    upsert_parquet_bucketed(spark, path, updates, ["k"])
    after = _bucket_dirs(path)

    changed = [d for d in before if before[d] != after[d]]
    assert len(changed) == 1  # exactly key 7's bucket
    assert _read(spark, path)[7] == "NEW"


def test_bucketed_upsert_recovers_mid_swap_crash(spark, tmp_path, monkeypatch):
    """A crash between a bucket's two renames leaves that bucket only in
    its aside dir; the next call restores it before merging."""
    import os

    from rust_etl_spark.operators import upsert
    from rust_etl_spark.operators.upsert import upsert_parquet_bucketed

    monkeypatch.setattr(upsert, "N_BUCKETS", 8)

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([(i, f"v{i}") for i in range(100)], "k long, v string")
    upsert_parquet_bucketed(spark, path, base, ["k"])

    victim = next(d for d in os.listdir(path) if d.startswith("__bucket="))
    os.rename(os.path.join(path, victim), os.path.join(path, ".aside_" + victim))

    updates = spark.createDataFrame([(7, "NEW")], "k long, v string")
    upsert_parquet_bucketed(spark, path, updates, ["k"])
    assert _read(spark, path) == {i: f"v{i}" for i in range(100)} | {7: "NEW"}
    assert not any(d.startswith(".aside_") for d in os.listdir(path))


def test_bucketed_upsert_matches_dict_model(spark, monkeypatch):
    """Property: any sequence of update batches applied via the
    bucketed upsert equals the same sequence applied to a plain dict
    (last write per key wins, all other keys untouched)."""
    import shutil
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from rust_etl_spark.operators import upsert
    from rust_etl_spark.operators.upsert import upsert_parquet_bucketed

    monkeypatch.setattr(upsert, "N_BUCKETS", 4)

    @given(
        st.lists(
            st.dictionaries(
                st.integers(min_value=0, max_value=30),
                st.integers(min_value=0, max_value=99),
                min_size=1,
                max_size=6,
            ),
            min_size=1,
            max_size=3,
        )
    )
    @settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
    def run(batches):
        root = tempfile.mkdtemp(prefix="bucketed_upsert_prop_")
        try:
            path = f"{root}/tbl"
            model: dict[int, int] = {}
            for batch in batches:
                df = spark.createDataFrame(list(batch.items()), "k long, v long")
                upsert_parquet_bucketed(spark, path, df, ["k"])
                model.update(batch)
            got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
            assert got == model
        finally:
            shutil.rmtree(root, ignore_errors=True)

    run()


def test_bucketed_upsert_bucket_count_mismatch_raises(spark, tmp_path, monkeypatch):
    import pytest

    from rust_etl_spark.operators import upsert
    from rust_etl_spark.operators.upsert import upsert_parquet_bucketed

    monkeypatch.setattr(upsert, "N_BUCKETS", 8)

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "a")], "k long, v string")
    upsert_parquet_bucketed(spark, path, base, ["k"])
    monkeypatch.setattr(upsert, "N_BUCKETS", 16)
    with pytest.raises(ValueError, match="bucketed 8-way"):
        upsert_parquet_bucketed(spark, path, base, ["k"])
