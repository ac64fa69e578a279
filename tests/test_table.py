"""MERGE/upsert over plain parquet (operators/table.py)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from config_driven_pyspark_spark import Pipeline
from config_driven_pyspark_spark.operators.table import merge_upsert


def _snapshot(spark, path, rows):
    spark.createDataFrame(
        rows, "id bigint, val string, qty bigint"
    ).write.mode("overwrite").parquet(path)


def test_merge_upsert_update_insert_delete(spark, tmp_path):
    target = str(tmp_path / "t")
    _snapshot(spark, target, [(1, "a", 10), (2, "b", 20), (3, "c", 30)])
    batch = spark.createDataFrame(
        [
            (2, "B2", 21, False),   # matched -> update
            (4, "d", 40, False),    # unmatched -> insert
            (3, "c", 0, True),      # matched + delete flag -> delete
            (9, "zz", 0, True),     # unmatched delete -> ignored
        ],
        "id bigint, val string, qty bigint, gone boolean",
    )
    stats = merge_upsert(batch, target, ["id"], delete_col="gone")
    assert stats == {"n_before": 3, "n_matched": 2, "n_updated": 1,
                     "n_inserted": 1, "n_deleted": 1, "n_after": 3,
                     "rewrite": "full"}
    got = {
        r["id"]: (r["val"], r["qty"])
        for r in spark.read.parquet(target).collect()
    }
    assert got == {1: ("a", 10), 2: ("B2", 21), 4: ("d", 40)}
    # no staging/backup debris after a clean merge
    assert not os.path.exists(target + "__staging")
    assert not os.path.exists(target + "__premerge")


def test_merge_upsert_bootstraps_missing_target(spark, tmp_path):
    target = str(tmp_path / "t0")
    batch = spark.createDataFrame(
        [(1, "a", 1, False), (2, "b", 2, True)],
        "id bigint, val string, qty bigint, gone boolean",
    )
    stats = merge_upsert(batch, target, ["id"], delete_col="gone")
    assert stats["n_before"] == 0 and stats["n_after"] == 1
    assert [r["id"] for r in spark.read.parquet(target).collect()] == [1]


def test_merge_upsert_rejects_ambiguous_batch(spark, tmp_path):
    target = str(tmp_path / "t1")
    _snapshot(spark, target, [(1, "a", 10)])
    dup = spark.createDataFrame(
        [(1, "x", 1), (1, "y", 2)], "id bigint, val string, qty bigint"
    )
    with pytest.raises(ValueError, match="duplicate key"):
        merge_upsert(dup, target, ["id"])
    # target untouched by the rejected merge
    assert spark.read.parquet(target).count() == 1


def test_merge_upsert_requires_full_schema(spark, tmp_path):
    target = str(tmp_path / "t2")
    _snapshot(spark, target, [(1, "a", 10)])
    narrow = spark.createDataFrame([(1, "x")], "id bigint, val string")
    with pytest.raises(ValueError, match="missing target columns"):
        merge_upsert(narrow, target, ["id"])


def test_merge_upsert_clears_crash_debris(spark, tmp_path):
    target = str(tmp_path / "t3")
    _snapshot(spark, target, [(1, "a", 10)])
    os.makedirs(target + "__staging")  # a crashed earlier merge left this
    batch = spark.createDataFrame(
        [(2, "b", 20)], "id bigint, val string, qty bigint"
    )
    stats = merge_upsert(batch, target, ["id"])
    assert stats["n_after"] == 2
    assert not os.path.exists(target + "__staging")


def test_merge_stage_returns_post_merge_snapshot(spark, tmp_path):
    target = str(tmp_path / "t4")
    _snapshot(spark, target, [(1, "a", 10), (2, "b", 20)])
    batch = spark.createDataFrame(
        [(2, "B", 21), (5, "e", 50)], "id bigint, val string, qty bigint"
    )
    batch.createOrReplaceTempView("merge_batch")
    out = Pipeline.from_config([
        {"stage": "sql", "query": "SELECT * FROM merge_batch"},
        {"stage": "merge", "path": target, "keys": ["id"]},
        {"stage": "aggregate", "group_by": [],
         "aggs": {"n": "count(*)", "total_qty": "sum(qty)"}},
    ]).run(spark)
    row = out.collect()[0]
    assert (row["n"], row["total_qty"]) == (3, 10 + 21 + 50)


def _scd2_snapshot(spark, rows):
    return spark.createDataFrame(
        rows, "id bigint, val string, qty bigint, eff string"
    ).selectExpr("id", "val", "qty", "CAST(eff AS DATE) AS effective_ts")


def test_scd2_merge_versions_changes(spark, tmp_path):
    import datetime as dt

    from config_driven_pyspark_spark.operators.table import scd2_merge

    target = str(tmp_path / "dim")
    day1 = _scd2_snapshot(spark, [
        (1, "a", 10, "2024-01-01"), (2, "b", 20, "2024-01-01"),
        (3, "c", 30, "2024-01-01"),
    ])
    stats = scd2_merge(day1, target, ["id"])
    assert stats == {"n_closed": 0, "n_new_versions": 3, "n_unchanged": 0,
                     "n_deleted": 0, "n_after": 3, "rewrite": "full"}

    day2 = spark.createDataFrame(
        [
            (2, "B2", 21, "2024-02-01", False),  # changed -> close + new
            (3, "c", 30, "2024-02-01", False),   # identical -> no-op
            (4, "d", 40, "2024-02-01", False),   # new key -> insert
            (1, "a", 10, "2024-02-01", True),    # delete -> close only
        ],
        "id bigint, val string, qty bigint, eff string, gone boolean",
    ).selectExpr("id", "val", "qty", "CAST(eff AS DATE) AS effective_ts",
                 "gone")
    stats = scd2_merge(day2, target, ["id"], delete_col="gone")
    # 5 rows: 1 closed-by-delete, 2 closed + 2's new version, 3 kept,
    # 4 inserted
    assert stats == {"n_closed": 2, "n_new_versions": 2, "n_unchanged": 1,
                     "n_deleted": 1, "n_after": 5, "rewrite": "full"}

    rows = spark.read.parquet(target).collect()
    cur = {r["id"]: r for r in rows if r["is_current"]}
    hist = sorted(
        ((r["id"], r["val"], str(r["valid_to"])) for r in rows
         if not r["is_current"])
    )
    # current: 2's new version, 3 untouched, 4 inserted; 1 deleted
    assert set(cur) == {2, 3, 4}
    assert (cur[2]["val"], cur[2]["qty"],
            str(cur[2]["valid_from"])) == ("B2", 21, "2024-02-01")
    assert str(cur[3]["valid_from"]) == "2024-01-01"  # no-op kept v1
    assert cur[2]["valid_to"] is None
    # history: 1 closed by delete, 2 closed by change
    assert hist == [(1, "a", "2024-02-01"), (2, "b", "2024-02-01")]
    assert isinstance(rows[0]["valid_from"], dt.date)


def test_scd2_rejects_metadata_collision_and_dup_keys(spark, tmp_path):
    import pytest as _pytest

    from config_driven_pyspark_spark.operators.table import scd2_merge

    target = str(tmp_path / "dim2")
    bad = spark.createDataFrame(
        [(1, "a", True)], "id bigint, val string, is_current boolean"
    ).selectExpr("id", "val", "is_current",
                 "CAST('2024-01-01' AS DATE) AS effective_ts")
    with _pytest.raises(ValueError, match="metadata columns"):
        scd2_merge(bad, target, ["id"])
    dup = _scd2_snapshot(spark, [
        (1, "a", 1, "2024-01-01"), (1, "b", 2, "2024-01-01"),
    ])
    with _pytest.raises(ValueError, match="duplicate key"):
        scd2_merge(dup, target, ["id"])


def test_scd2_stage_through_pipeline(spark, tmp_path):
    from config_driven_pyspark_spark.operators.table import scd2_merge

    target = str(tmp_path / "dim3")
    scd2_merge(
        _scd2_snapshot(spark, [(1, "a", 10, "2024-01-01")]),
        target, ["id"],
    )
    spark.createDataFrame(
        [(1, "A", 11, "2024-03-01")],
        "id bigint, val string, qty bigint, eff string",
    ).selectExpr(
        "id", "val", "qty", "CAST(eff AS DATE) AS effective_ts"
    ).createOrReplaceTempView("scd2_batch")
    out = Pipeline.from_config([
        {"stage": "sql", "query": "SELECT * FROM scd2_batch"},
        {"stage": "scd2", "path": target, "keys": ["id"]},
        {"stage": "filter", "predicate": "is_current"},
    ]).run(spark)
    row = out.collect()[0]
    assert (row["val"], row["qty"], str(row["valid_from"])) == (
        "A", 11, "2024-03-01")


def test_merge_upsert_randomized_soak_vs_model(spark, tmp_path):
    """Five randomized CDC batches (fixed seed) applied to one snapshot;
    after every batch the parquet table equals a plain dict-based
    reference model of MERGE semantics, and the reported stats add up."""
    import random

    rng = random.Random(20240815)
    target = str(tmp_path / "soak")
    model = {}
    first = True
    for step in range(5):
        ids = rng.sample(range(1, 30), rng.randint(3, 8))
        rows = [
            (i, f"v{step}_{i}", rng.randint(0, 99),
             rng.random() < 0.25)  # ~25% deletes
            for i in ids
        ]
        batch = spark.createDataFrame(
            rows, "id bigint, val string, qty bigint, gone boolean"
        )
        stats = merge_upsert(batch, target, ["id"], delete_col="gone")
        for i, v, q, gone in rows:
            if gone:
                model.pop(i, None)
            else:
                model[i] = (v, q)
        got = {
            r["id"]: (r["val"], r["qty"])
            for r in spark.read.parquet(target).collect()
        }
        assert got == model, f"step {step}"
        assert stats["n_after"] == len(model)
        if first:
            assert stats["n_before"] == 0
            first = False
        # conservation: after = before - deleted + inserted
        assert stats["n_after"] == (
            stats["n_before"] - stats["n_deleted"] + stats["n_inserted"]
        )


def test_scd2_randomized_soak_vs_model(spark, tmp_path):
    """Three randomized daily batches into an SCD2 dimension; the
    current view equals the flat reference model and closed versions
    only ever grow."""
    import random

    from config_driven_pyspark_spark.operators.table import scd2_merge

    rng = random.Random(99)
    target = str(tmp_path / "dim_soak")
    model = {}
    n_hist = 0
    for day in range(1, 4):
        ids = rng.sample(range(1, 15), rng.randint(3, 6))
        rows = []
        for i in ids:
            if i in model and rng.random() < 0.3:
                val, qty = model[i]  # re-deliver identical -> no-op
            else:
                val, qty = f"d{day}_{i}", rng.randint(0, 9)
            rows.append((i, val, qty, f"2024-01-{day:02d}",
                         rng.random() < 0.2))
        batch = spark.createDataFrame(
            rows, "id bigint, val string, qty bigint, eff string, "
                  "gone boolean",
        ).selectExpr("id", "val", "qty",
                     "CAST(eff AS DATE) AS effective_ts", "gone")
        stats = scd2_merge(batch, target, ["id"], delete_col="gone")
        for i, v, q, _e, gone in rows:
            if gone:
                if i in model:
                    model.pop(i)
            else:
                model[i] = (v, q)
        snap = spark.read.parquet(target).collect()
        cur = {r["id"]: (r["val"], r["qty"]) for r in snap
               if r["is_current"]}
        assert cur == model, f"day {day}"
        closed = sum(1 for r in snap if not r["is_current"])
        assert closed >= n_hist  # history is append-only
        n_hist = closed
        assert all(r["valid_to"] is not None for r in snap
                   if not r["is_current"])
        assert stats["n_after"] == len(snap)


def test_incremental_agg_folds_batches(spark, tmp_path):
    from config_driven_pyspark_spark.operators.table import incremental_agg

    target = str(tmp_path / "mv")
    aggs = {"n": "count(*)", "total": "sum(qty)", "lo": "min(qty)",
            "hi": "max(qty)"}
    b1 = spark.createDataFrame(
        [("a", 10), ("a", 20), ("b", 5)], "grp string, qty bigint"
    )
    b2 = spark.createDataFrame(
        [("a", 1), ("c", 7)], "grp string, qty bigint"
    )
    incremental_agg(b1, target, ["grp"], aggs)
    out = incremental_agg(b2, target, ["grp"], aggs)
    got = {r["grp"]: (r["n"], r["total"], r["lo"], r["hi"])
           for r in out.collect()}
    # folded result == one aggregation over the union
    assert got == {"a": (3, 31, 1, 20), "b": (1, 5, 5, 5),
                   "c": (1, 7, 7, 7)}


def test_incremental_agg_rejects_non_monoid(spark, tmp_path):
    from config_driven_pyspark_spark.operators.table import incremental_agg

    b = spark.createDataFrame([("a", 1)], "grp string, qty bigint")
    with pytest.raises(ValueError, match="monoid"):
        incremental_agg(b, str(tmp_path / "x"), ["grp"],
                        {"m": "avg(qty)"})


def test_incremental_agg_stage_and_soak_vs_full_recompute(spark, tmp_path):
    import random

    from config_driven_pyspark_spark.operators.table import incremental_agg

    rng = random.Random(7)
    target = str(tmp_path / "mv2")
    aggs = {"n": "count(*)", "total": "sum(v)", "hi": "max(v)"}
    seen = []
    for _ in range(4):
        rows = [(rng.choice("xyz"), rng.randint(-50, 50))
                for _ in range(rng.randint(2, 9))]
        seen += rows
        batch = spark.createDataFrame(rows, "grp string, v bigint")
        out = incremental_agg(batch, target, ["grp"], aggs)
    import collections
    model = collections.defaultdict(list)
    for g, v in seen:
        model[g].append(v)
    got = {r["grp"]: (r["n"], r["total"], r["hi"]) for r in out.collect()}
    assert got == {g: (len(vs), sum(vs), max(vs)) for g, vs in model.items()}


def test_incremental_agg_null_group_key_folds(spark, tmp_path):
    """NULL grouping keys fold into one group across batches (the
    eqNullSafe join contract) instead of forking a new NULL row per
    fold."""
    from config_driven_pyspark_spark.operators.table import incremental_agg

    target = str(tmp_path / "mv_null")
    aggs = {"n": "count(*)", "total": "sum(v)"}
    b1 = spark.createDataFrame([(None, 1), ("a", 2)], "grp string, v bigint")
    b2 = spark.createDataFrame([(None, 10)], "grp string, v bigint")
    incremental_agg(b1, target, ["grp"], aggs)
    out = incremental_agg(b2, target, ["grp"], aggs)
    got = {r["grp"]: (r["n"], r["total"]) for r in out.collect()}
    assert got == {None: (2, 11), "a": (1, 2)}


# ---------------------------------------------------------------------------
# round 11: partition-scoped rewrite, crash recovery, null keys, as-of reads
# ---------------------------------------------------------------------------


def _tree_fingerprint(root):
    """relative path -> (size, mtime_ns) for every file under root —
    byte-identity proxy for 'this partition was never rewritten'."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def _psnapshot(spark, path, rows):
    spark.createDataFrame(
        rows, "id bigint, part string, qty bigint"
    ).write.mode("overwrite").partitionBy("part").parquet(path)


def test_merge_partition_scoped_leaves_untouched_partitions(spark, tmp_path):
    """The round-11 headline contract: a CDC batch touching one
    partition rewrites ONLY that partition directory — every file of the
    untouched partitions is bit-for-bit the same inode (size+mtime), not
    a rewritten copy."""
    target = str(tmp_path / "pt")
    _psnapshot(spark, target, [
        (1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "b", 40),
        (5, "c", 50),
    ])
    before_b = _tree_fingerprint(os.path.join(target, "part=b"))
    before_c = _tree_fingerprint(os.path.join(target, "part=c"))
    assert before_b and before_c
    batch = spark.createDataFrame(
        [(2, "a", 21, False), (6, "a", 60, False), (1, "a", 0, True)],
        "id bigint, part string, qty bigint, gone boolean",
    )
    stats = merge_upsert(batch, target, ["id"], delete_col="gone",
                         partition_by=["part"])
    assert stats == {"n_before": 5, "n_matched": 2, "n_updated": 1,
                     "n_inserted": 1, "n_deleted": 1, "n_after": 5,
                     "rewrite": "partition"}
    assert _tree_fingerprint(os.path.join(target, "part=b")) == before_b
    assert _tree_fingerprint(os.path.join(target, "part=c")) == before_c
    got = {r["id"]: (r["part"], r["qty"])
           for r in spark.read.parquet(target).collect()}
    assert got == {2: ("a", 21), 6: ("a", 60), 3: ("b", 30),
                   4: ("b", 40), 5: ("c", 50)}
    assert not os.path.exists(target + "__staging")
    assert not os.path.exists(target + "__premerge")


def test_merge_partition_scoped_value_change_moves_row(spark, tmp_path):
    """When the partition column is NOT part of the match keys, an
    update can MOVE a row across partitions; the old partition must be
    rewritten too (semi-join discovery) or the old copy would survive."""
    target = str(tmp_path / "pt2")
    _psnapshot(spark, target, [(1, "a", 10), (2, "b", 20), (3, "c", 30)])
    before_c = _tree_fingerprint(os.path.join(target, "part=c"))
    batch = spark.createDataFrame(
        [(1, "b", 11)], "id bigint, part string, qty bigint"
    )
    stats = merge_upsert(batch, target, ["id"], partition_by=["part"])
    assert stats["rewrite"] == "partition"
    got = {r["id"]: (r["part"], r["qty"])
           for r in spark.read.parquet(target).collect()}
    assert got == {1: ("b", 11), 2: ("b", 20), 3: ("c", 30)}
    # c was in neither the batch's values nor the matched rows' homes
    assert _tree_fingerprint(os.path.join(target, "part=c")) == before_c


def test_merge_partition_scoped_full_partition_delete(spark, tmp_path):
    """Deleting every row of a partition removes its directory outright
    (no empty husk that would change the table's partition listing)."""
    target = str(tmp_path / "pt3")
    _psnapshot(spark, target, [(1, "a", 10), (2, "b", 20), (3, "b", 30)])
    batch = spark.createDataFrame(
        [(2, "b", 0, True), (3, "b", 0, True)],
        "id bigint, part string, qty bigint, gone boolean",
    )
    stats = merge_upsert(batch, target, ["id"], delete_col="gone",
                         partition_by=["part"])
    assert stats["n_deleted"] == 2 and stats["n_after"] == 1
    assert not os.path.exists(os.path.join(target, "part=b"))
    assert [r["id"] for r in spark.read.parquet(target).collect()] == [1]


def test_merge_partition_scoped_hive_escaped_values(spark, tmp_path):
    """Partition values needing Hive path-escaping (':' '/' '=') and a
    NULL partition value all round-trip through the scoped swap — the
    computed directory names must match what Spark itself writes."""
    target = str(tmp_path / "pt4")
    rows = [(1, "a:b", 10), (2, "c/d", 20), (3, None, 30), (4, "e=f", 40)]
    _psnapshot(spark, target, rows)
    batch = spark.createDataFrame(
        [(1, "a:b", 11), (3, None, 31), (5, "e=f", 50)],
        "id bigint, part string, qty bigint",
    )
    stats = merge_upsert(batch, target, ["id"], partition_by=["part"])
    assert stats["rewrite"] == "partition"
    got = {r["id"]: (r["part"], r["qty"])
           for r in spark.read.parquet(target).collect()}
    assert got == {1: ("a:b", 11), 2: ("c/d", 20), 3: (None, 31),
                   4: ("e=f", 40), 5: ("e=f", 50)}


def test_merge_partition_scoped_multilevel(spark, tmp_path):
    """Two-level partitioning swaps nested leaf directories."""
    target = str(tmp_path / "pt5")
    spark.createDataFrame(
        [(1, "x", 1, 10), (2, "x", 2, 20), (3, "y", 1, 30)],
        "id bigint, p1 string, p2 bigint, qty bigint",
    ).write.mode("overwrite").partitionBy("p1", "p2").parquet(target)
    before = _tree_fingerprint(os.path.join(target, "p1=x", "p2=2"))
    batch = spark.createDataFrame(
        [(1, "x", 1, 11), (4, "y", 2, 40)],
        "id bigint, p1 string, p2 bigint, qty bigint",
    )
    stats = merge_upsert(batch, target, ["id"], partition_by=["p1", "p2"])
    assert stats["rewrite"] == "partition"
    assert _tree_fingerprint(os.path.join(target, "p1=x", "p2=2")) == before
    got = {r["id"]: (r["p1"], r["p2"], r["qty"])
           for r in spark.read.parquet(target).collect()}
    assert got == {1: ("x", 1, 11), 2: ("x", 2, 20), 3: ("y", 1, 30),
                   4: ("y", 2, 40)}


def test_merge_recovers_backup_when_target_missing(spark, tmp_path):
    """ADVICE r10 (high): a crash between the two swap renames leaves
    the snapshot ONLY in __premerge. The next merge must restore it —
    never delete it as debris and silently bootstrap from the batch."""
    target = str(tmp_path / "crash1")
    _snapshot(spark, target, [(1, "a", 10), (2, "b", 20)])
    os.rename(target, target + "__premerge")  # simulated mid-swap crash
    os.makedirs(target + "__staging")         # staged dir also left over
    batch = spark.createDataFrame(
        [(2, "B", 21)], "id bigint, val string, qty bigint"
    )
    stats = merge_upsert(batch, target, ["id"])
    # n_before=2 proves the old snapshot was recovered, not bootstrapped
    assert stats["n_before"] == 2 and stats["n_after"] == 2
    got = {r["id"]: r["val"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a", 2: "B"}
    assert not os.path.exists(target + "__premerge")


def test_merge_restores_partition_backup_children(spark, tmp_path):
    """Partition-mode crash during phase A: some partitions moved aside,
    target still present. Recovery moves the missing partitions back."""
    target = str(tmp_path / "crash2")
    _psnapshot(spark, target, [(1, "a", 10), (2, "b", 20)])
    os.makedirs(target + "__premerge")
    os.rename(os.path.join(target, "part=b"),
              os.path.join(target + "__premerge", "part=b"))
    batch = spark.createDataFrame(
        [(3, "a", 30)], "id bigint, part string, qty bigint"
    )
    stats = merge_upsert(batch, target, ["id"], partition_by=["part"])
    got = {r["id"]: (r["part"], r["qty"])
           for r in spark.read.parquet(target).collect()}
    assert got == {1: ("a", 10), 2: ("b", 20), 3: ("a", 30)}
    assert stats["n_before"] == 2


def test_merge_refuses_staging_only_state(spark, tmp_path):
    """No target, no backup, but a staging dir: an unrecognizable state
    this code never produces — refuse rather than bootstrap over it."""
    target = str(tmp_path / "crash3")
    os.makedirs(target + "__staging")
    batch = spark.createDataFrame(
        [(1, "a", 1)], "id bigint, val string, qty bigint"
    )
    with pytest.raises(IOError, match="refusing"):
        merge_upsert(batch, target, ["id"])


def test_merge_null_key_row_updates_not_aborts(spark, tmp_path):
    """ADVICE r10 (medium): a NULL-key source row must null-safely
    REPLACE the NULL-key target row — previously the stats probe counted
    it matched but the name-equality anti-join kept the target row, so
    the row-count verify aborted the whole merge."""
    target = str(tmp_path / "nullk")
    spark.createDataFrame(
        [(None, "old", 1), (1, "a", 10)], "id bigint, val string, qty bigint"
    ).write.mode("overwrite").parquet(target)
    batch = spark.createDataFrame(
        [(None, "new", 2)], "id bigint, val string, qty bigint"
    )
    stats = merge_upsert(batch, target, ["id"])
    assert stats["n_matched"] == 1 and stats["n_updated"] == 1
    got = {r["id"]: (r["val"], r["qty"])
           for r in spark.read.parquet(target).collect()}
    assert got == {None: ("new", 2), 1: ("a", 10)}


def test_incremental_agg_rejects_distinct(spark, tmp_path):
    """ADVICE r10 (medium): count(DISTINCT x) passes the function-name
    allowlist but is NOT a monoid under + — it must be rejected, not
    silently double-counted across batches."""
    from config_driven_pyspark_spark.operators.table import incremental_agg

    b = spark.createDataFrame([("a", 1)], "grp string, qty bigint")
    for spec in ("count(distinct qty)", "sum(DISTINCT qty)"):
        with pytest.raises(ValueError, match="DISTINCT"):
            incremental_agg(b, str(tmp_path / "xd"), ["grp"], {"m": spec})


def test_incremental_agg_partition_scoped_fold(spark, tmp_path):
    from config_driven_pyspark_spark.operators.table import incremental_agg

    target = str(tmp_path / "mvp")
    aggs = {"n": "count(*)", "total": "sum(v)"}
    b1 = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 5)], "grp string, v bigint"
    )
    incremental_agg(b1, target, ["grp"], aggs, partition_by=["grp"])
    before_b = _tree_fingerprint(os.path.join(target, "grp=b"))
    b2 = spark.createDataFrame([("a", 10), ("c", 7)], "grp string, v bigint")
    out = incremental_agg(b2, target, ["grp"], aggs, partition_by=["grp"])
    got = {r["grp"]: (r["n"], r["total"]) for r in out.collect()}
    assert got == {"a": (3, 13), "b": (1, 5), "c": (1, 7)}
    # group b was not in batch 2 -> its partition files never rewritten
    assert _tree_fingerprint(os.path.join(target, "grp=b")) == before_b


def test_incremental_agg_partition_by_must_be_keys(spark, tmp_path):
    from config_driven_pyspark_spark.operators.table import incremental_agg

    b = spark.createDataFrame([("a", 1)], "grp string, v bigint")
    with pytest.raises(ValueError, match="partition_by must name key"):
        incremental_agg(b, str(tmp_path / "xp"), ["grp"],
                        {"total": "sum(v)"}, partition_by=["total"])


def _region_scd2(spark, rows):
    return spark.createDataFrame(
        rows, "id bigint, region string, val string, eff string"
    ).selectExpr("id", "region", "val",
                 "CAST(eff AS DATE) AS effective_ts")


def test_scd2_partition_scoped_keeps_other_regions(spark, tmp_path):
    """SCD2 partitioned by a stable business column: merging a batch
    that only changes EU rows leaves every US partition file (current
    AND history) bit-identical."""
    from config_driven_pyspark_spark.operators.table import scd2_merge

    target = str(tmp_path / "dimp")
    scd2_merge(_region_scd2(spark, [
        (1, "eu", "a", "2024-01-01"), (2, "us", "b", "2024-01-01"),
        (3, "us", "c", "2024-01-01"),
    ]), target, ["id"], partition_by=["region"])
    # age the US partition with one change so it holds history too
    scd2_merge(_region_scd2(spark, [(2, "us", "b2", "2024-01-15")]),
               target, ["id"], partition_by=["region"])
    before_us = _tree_fingerprint(os.path.join(target, "region=us"))
    stats = scd2_merge(_region_scd2(spark, [
        (1, "eu", "a2", "2024-02-01"),   # change -> close + new version
        (4, "eu", "d", "2024-02-01"),    # new key
    ]), target, ["id"], partition_by=["region"])
    assert stats["rewrite"] == "partition"
    assert stats["n_closed"] == 1 and stats["n_new_versions"] == 2
    assert _tree_fingerprint(os.path.join(target, "region=us")) == before_us
    snap = spark.read.parquet(target).collect()
    cur = {r["id"]: (r["region"], r["val"]) for r in snap if r["is_current"]}
    assert cur == {1: ("eu", "a2"), 2: ("us", "b2"), 3: ("us", "c"),
                   4: ("eu", "d")}
    assert stats["n_after"] == len(snap) == 6


def test_scd2_metadata_partitioning_falls_back_to_full(spark, tmp_path):
    """partition_by=["is_current"] still works — rows cross those
    partitions every merge, so it takes the full-rewrite path."""
    from config_driven_pyspark_spark.operators.table import scd2_merge

    target = str(tmp_path / "dimc")
    scd2_merge(_scd2_snapshot(spark, [(1, "a", 1, "2024-01-01")]),
               target, ["id"], partition_by=["is_current"])
    stats = scd2_merge(
        _scd2_snapshot(spark, [(1, "a2", 2, "2024-02-01")]),
        target, ["id"], partition_by=["is_current"],
    )
    assert stats["rewrite"] == "full"
    # boolean partition values read back as strings (Spark partition
    # inference has no boolean case) — readers cast; the merge does too
    snap = spark.read.parquet(target).selectExpr(
        "val", "CAST(is_current AS BOOLEAN) AS is_current"
    ).collect()
    assert {(r["val"], r["is_current"]) for r in snap} == {
        ("a", False), ("a2", True)}
    assert os.path.isdir(os.path.join(target, "is_current=true"))


def test_scd2_read_asof_points_in_time(spark, tmp_path):
    """As-of reads reconstruct the table at any instant: half-open
    intervals mean the closing instant already belongs to the
    successor version."""
    from config_driven_pyspark_spark.operators.table import (
        scd2_merge, scd2_read_asof,
    )

    target = str(tmp_path / "dimt")
    scd2_merge(_scd2_snapshot(spark, [
        (1, "v1", 10, "2024-01-01"), (2, "b", 20, "2024-01-01"),
    ]), target, ["id"])
    scd2_merge(_scd2_snapshot(spark, [(1, "v2", 11, "2024-02-01")]),
               target, ["id"])
    day2 = spark.createDataFrame(
        [(2, "b", 20, "2024-03-01", True)],
        "id bigint, val string, qty bigint, eff string, gone boolean",
    ).selectExpr("id", "val", "qty", "CAST(eff AS DATE) AS effective_ts",
                 "gone")
    scd2_merge(day2, target, ["id"], delete_col="gone")
    snap = spark.read.parquet(target)

    def view(ts):
        return {r["id"]: r["val"]
                for r in scd2_read_asof(snap, ts).collect()}

    assert view("2023-12-31") == {}                      # before history
    assert view("2024-01-01") == {1: "v1", 2: "b"}
    assert view("2024-01-31") == {1: "v1", 2: "b"}
    assert view("2024-02-01") == {1: "v2", 2: "b"}       # closing instant
    assert view("2024-06-01") == {1: "v2"}               # 2 deleted
    import datetime as dt
    assert view(dt.date(2024, 1, 15)) == {1: "v1", 2: "b"}


def test_scd2_asof_stage_through_pipeline(spark, tmp_path):
    from config_driven_pyspark_spark.operators.table import scd2_merge

    target = str(tmp_path / "dimt2")
    scd2_merge(_scd2_snapshot(spark, [(1, "a", 10, "2024-01-01")]),
               target, ["id"])
    scd2_merge(_scd2_snapshot(spark, [(1, "A", 11, "2024-02-01")]),
               target, ["id"])
    out = Pipeline.from_config([
        {"stage": "scd2_asof", "path": target, "ts": "2024-01-20"},
        {"stage": "select", "columns": ["id", "val", "qty"]},
    ]).run(spark)
    assert [tuple(r) for r in out.collect()] == [(1, "a", 10)]


def test_scd2_asof_rejects_non_scd2_input(spark):
    from config_driven_pyspark_spark.operators.table import scd2_read_asof

    plain = spark.createDataFrame([(1,)], "id bigint")
    with pytest.raises(ValueError, match="not an SCD2"):
        scd2_read_asof(plain, "2024-01-01")


def test_merge_partition_by_on_unpartitioned_target_relays_out(
    spark, tmp_path
):
    """Asking for partition_by against a target laid out flat (or by
    other columns) must NOT scope the swap — old root files would
    survive next to the promoted partition dirs as duplicates. It falls
    back to a full rewrite that re-lays the table out."""
    target = str(tmp_path / "flat")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20)], "id bigint, part string, qty bigint"
    ).write.mode("overwrite").parquet(target)  # NOT partitioned
    batch = spark.createDataFrame(
        [(2, "b", 21)], "id bigint, part string, qty bigint"
    )
    stats = merge_upsert(batch, target, ["id"], partition_by=["part"])
    assert stats["rewrite"] == "full"
    got = {r["id"]: (r["part"], r["qty"])
           for r in spark.read.parquet(target).collect()}
    assert got == {1: ("a", 10), 2: ("b", 21)}
    # the fallback rewrite re-laid the snapshot out partitioned
    assert os.path.isdir(os.path.join(target, "part=a"))


def test_incremental_agg_batch_id_skips_retried_delivery(spark, tmp_path):
    """Exactly-once fold under retries (r11): a batch_id <= the stored
    marker is a retried delivery and must SKIP — re-folding the same
    monoid partials double-counts. New ids fold normally."""
    from config_driven_pyspark_spark.operators.table import incremental_agg

    target = str(tmp_path / "mv_eo")
    aggs = {"n": "count(*)", "total": "sum(v)"}
    b1 = spark.createDataFrame([("a", 1), ("b", 2)], "grp string, v bigint")
    b2 = spark.createDataFrame([("a", 10)], "grp string, v bigint")
    incremental_agg(b1, target, ["grp"], aggs, batch_id=0)
    incremental_agg(b2, target, ["grp"], aggs, batch_id=1)
    # retried deliveries: same id, and an OLDER id
    incremental_agg(b2, target, ["grp"], aggs, batch_id=1)
    incremental_agg(b1, target, ["grp"], aggs, batch_id=0)
    got = {r["grp"]: (r["n"], r["total"])
           for r in spark.read.parquet(target).collect()}
    assert got == {"a": (2, 11), "b": (1, 2)}
    # a genuinely new id folds
    out = incremental_agg(b2, target, ["grp"], aggs, batch_id=2)
    got = {r["grp"]: (r["n"], r["total"]) for r in out.collect()}
    assert got == {"a": (3, 21), "b": (1, 2)}


def test_incremental_agg_batch_id_partition_scoped(spark, tmp_path):
    """The marker also dedups retried folds in partition-scoped mode
    (written right after the partition promote)."""
    from config_driven_pyspark_spark.operators.table import incremental_agg

    target = str(tmp_path / "mv_eop")
    aggs = {"total": "sum(v)"}
    b1 = spark.createDataFrame([("a", 1), ("b", 2)], "grp string, v bigint")
    b2 = spark.createDataFrame([("a", 5)], "grp string, v bigint")
    incremental_agg(b1, target, ["grp"], aggs, partition_by=["grp"],
                    batch_id=0)
    incremental_agg(b2, target, ["grp"], aggs, partition_by=["grp"],
                    batch_id=1)
    incremental_agg(b2, target, ["grp"], aggs, partition_by=["grp"],
                    batch_id=1)  # retry: skip
    got = {r["grp"]: r["total"]
           for r in spark.read.parquet(target).collect()}
    assert got == {"a": 6, "b": 2}


def test_compact_table_partitioned(spark, tmp_path):
    """Compaction merges a partition's accumulated small files into one
    while leaving already-compact partitions byte-identical — and the
    content is unchanged by construction."""
    from config_driven_pyspark_spark.operators.table import compact_table

    target = str(tmp_path / "frag")
    # partition a: 4 files (fragmented); partition b: 1 file (compact)
    for i in range(4):
        spark.createDataFrame(
            [(10 * i + j, "a", j) for j in range(3)],
            "id bigint, part string, qty bigint",
        ).coalesce(1).write.mode("append").partitionBy("part").parquet(
            target
        )
    spark.createDataFrame(
        [(100, "b", 9)], "id bigint, part string, qty bigint"
    ).coalesce(1).write.mode("append").partitionBy("part").parquet(target)
    before = {r["id"]: (r["part"], r["qty"])
              for r in spark.read.parquet(target).collect()}
    before_b = _tree_fingerprint(os.path.join(target, "part=b"))
    stats = compact_table(spark, target, partition_by=["part"],
                          min_files=2)
    assert stats["rewrite"] == "partition"
    assert stats["n_partitions_compacted"] == 1
    assert stats["files_after"] < stats["files_before"]
    a_files = [f for f in os.listdir(os.path.join(target, "part=a"))
               if f.endswith(".parquet")]
    assert len(a_files) == 1
    assert _tree_fingerprint(os.path.join(target, "part=b")) == before_b
    after = {r["id"]: (r["part"], r["qty"])
             for r in spark.read.parquet(target).collect()}
    assert after == before  # content-preserving
    # second pass is a no-op
    stats2 = compact_table(spark, target, partition_by=["part"],
                           min_files=2)
    assert stats2["rewrite"] == "none"
    assert stats2["n_partitions_compacted"] == 0


def test_compact_table_unpartitioned_and_guards(spark, tmp_path):
    from config_driven_pyspark_spark.operators.table import compact_table

    target = str(tmp_path / "frag2")
    for i in range(3):
        spark.createDataFrame(
            [(i, "x", i)], "id bigint, val string, qty bigint"
        ).coalesce(1).write.mode("append").parquet(target)
    before = {r["id"] for r in spark.read.parquet(target).collect()}
    stats = compact_table(spark, target)
    assert stats["files_before"] == 3 and stats["files_after"] == 1
    assert {r["id"] for r in spark.read.parquet(target).collect()} == before
    with pytest.raises(ValueError, match="min_files"):
        compact_table(spark, target, min_files=1)
    with pytest.raises(ValueError, match="no snapshot"):
        compact_table(spark, str(tmp_path / "nope"))
    with pytest.raises(ValueError, match="not laid out"):
        compact_table(spark, target, partition_by=["val"])


def test_compact_stage_after_merges(spark, tmp_path):
    """The config-driven lifecycle: CDC merges fragment a partitioned
    snapshot; a compact stage restores one file per partition without
    changing a single row."""
    target = str(tmp_path / "lifecycle")
    _psnapshot(spark, target, [(1, "a", 10), (2, "b", 20)])
    for step in range(3):
        batch = spark.createDataFrame(
            [(10 + step, "a", step)], "id bigint, part string, qty bigint"
        )
        merge_upsert(batch, target, ["id"], partition_by=["part"])
    before = {r["id"]: (r["part"], r["qty"])
              for r in spark.read.parquet(target).collect()}
    spark.createDataFrame([(0,)], "x bigint").createOrReplaceTempView(
        "dummy_compact"
    )
    out = Pipeline.from_config([
        {"stage": "sql", "query": "SELECT * FROM dummy_compact"},
        {"stage": "compact", "path": target, "partition_by": ["part"],
         "min_files": 2},
    ]).run(spark)
    after = {r["id"]: (r["part"], r["qty"]) for r in out.collect()}
    assert after == before


def test_merge_schema_evolution_appends_new_columns(spark, tmp_path):
    """allow_new_columns=True is the Delta mergeSchema counterpart:
    extra batch columns APPEND to the snapshot (survivors NULL); the
    default still projects them off. Plain parquet can't add columns by
    metadata, so an evolving merge forces a full rewrite even with
    partition_by — and scopes again on the next batch."""
    target = str(tmp_path / "evo")
    _psnapshot(spark, target, [(1, "a", 10), (2, "b", 20)])
    batch = spark.createDataFrame(
        [(2, "b", 21, "eu")],
        "id bigint, part string, qty bigint, region string",
    )
    # default: extra column dropped, snapshot schema unchanged
    merge_upsert(batch, target, ["id"], partition_by=["part"])
    assert "region" not in spark.read.parquet(target).columns
    # evolving merge: full rewrite, survivors NULL in the new column
    stats = merge_upsert(batch, target, ["id"], partition_by=["part"],
                         allow_new_columns=True)
    assert stats["rewrite"] == "full"
    got = {r["id"]: (r["qty"], r["region"])
           for r in spark.read.parquet(target).collect()}
    assert got == {1: (10, None), 2: (21, "eu")}
    # post-evolution batches carry the full schema and scope again
    b2 = spark.createDataFrame(
        [(1, "a", 11, "us")],
        "id bigint, part string, qty bigint, region string",
    )
    stats2 = merge_upsert(b2, target, ["id"], partition_by=["part"])
    assert stats2["rewrite"] == "partition"
    got = {r["id"]: (r["qty"], r["region"])
           for r in spark.read.parquet(target).collect()}
    assert got == {1: (11, "us"), 2: (21, "eu")}


def test_compact_with_reclustering(spark, tmp_path):
    """Compaction can recluster: sort_within orders rows inside the
    rewritten file (parquet row-group stats then prune on that column)
    while staying content-preserving; z_order_by composes the sink's
    Morton helper the same way; the two are exclusive."""
    from config_driven_pyspark_spark.operators.table import compact_table

    target = str(tmp_path / "rc")
    rows = [(i, "a", (i * 37) % 100) for i in range(50)]
    for lo, hi in [(0, 17), (17, 34), (34, 50)]:
        spark.createDataFrame(
            rows[lo:hi], "id bigint, part string, qty bigint"
        ).coalesce(1).write.mode("append").partitionBy("part").parquet(
            target
        )
    before = {(r["id"], r["qty"])
              for r in spark.read.parquet(target).collect()}
    stats = compact_table(spark, target, partition_by=["part"],
                          min_files=2, sort_within=["qty"])
    assert stats["n_partitions_compacted"] == 1
    after_df = spark.read.parquet(os.path.join(target, "part=a"))
    assert {(r["id"], r["qty"]) for r in after_df.collect()} == before
    # rows inside the single rewritten file are qty-ordered
    qtys = [r["qty"] for r in after_df.collect()]
    assert qtys == sorted(qtys)
    with pytest.raises(ValueError, match="exclusive"):
        compact_table(spark, target, partition_by=["part"],
                      sort_within=["qty"], z_order_by=["id", "qty"])


def test_compact_z_order(spark, tmp_path):
    from config_driven_pyspark_spark.operators.table import compact_table

    target = str(tmp_path / "rz")
    rows = [(i, float(i % 7), float((i * 13) % 11)) for i in range(60)]
    for lo in (0, 30):
        spark.createDataFrame(
            rows[lo:lo + 30], "id bigint, x double, y double"
        ).coalesce(1).write.mode("append").parquet(target)
    before = {tuple(r) for r in spark.read.parquet(target).collect()}
    stats = compact_table(spark, target, z_order_by=["x", "y"])
    assert stats["files_after"] == 1
    after = spark.read.parquet(target)
    assert {tuple(r) for r in after.collect()} == before
    assert "__z" not in after.columns  # helper column projected off


# ---------------------------------------------------------------------------
# r12 ADVICE fixes: crash recovery must never blend pre-merge files into a
# live snapshot, and ''/NULL partition values are one equivalence class
# ---------------------------------------------------------------------------


def test_recovery_deletes_completed_full_swap_backup(spark, tmp_path):
    """ADVICE r11 (high): a crash between a COMPLETED full swap and the
    backup delete leaves both the new target and the whole pre-merge
    snapshot in __premerge. Recovery must treat the backup as pure
    debris — the old behavior renamed its (job-unique-named) part files
    into the live table and doubled every pre-merge row."""
    import shutil

    target = str(tmp_path / "blend1")
    _snapshot(spark, target, [(1, "a", 10), (2, "b", 20)])
    # first merge rewrites the snapshot; then simulate the crash state:
    # pre-merge copy in __premerge (with the full-swap marker the swap
    # writes into the root pre-rename) next to the live post-merge table
    batch1 = spark.createDataFrame(
        [(2, "B", 21)], "id bigint, val string, qty bigint"
    )
    merge_upsert(batch1, target, ["id"])
    shutil.copytree(target, target + "__premerge")
    # rename the backup's part files so none collide (job-unique names)
    bdir = target + "__premerge"
    for i, f in enumerate(sorted(os.listdir(bdir))):
        if f.startswith("part-"):
            os.rename(os.path.join(bdir, f),
                      os.path.join(bdir, f"part-old{i}.parquet"))
    open(os.path.join(bdir, "_premerge_full"), "w").close()
    batch2 = spark.createDataFrame(
        [(3, "c", 30)], "id bigint, val string, qty bigint"
    )
    stats = merge_upsert(batch2, target, ["id"])
    # n_before=2 proves no pre-merge rows were blended back in
    assert stats["n_before"] == 2 and stats["n_after"] == 3
    got = {r["id"]: r["val"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    assert not os.path.exists(target + "__premerge")


def test_recovery_never_blends_promoted_partition(spark, tmp_path):
    """ADVICE r11 (high), scoped variant: a crash between the partition
    promote and the backup delete leaves the PRE-merge copy of a
    promoted partition in __premerge. Recovery must not rename its
    files into the (already post-merge) live partition directory."""
    import shutil

    target = str(tmp_path / "blend2")
    _psnapshot(spark, target, [(1, "a", 10), (2, "a", 20), (3, "b", 30)])
    # keep a pre-merge copy of part=a aside, then merge (rewrites a)
    shutil.copytree(os.path.join(target, "part=a"), str(tmp_path / "prea"))
    batch = spark.createDataFrame(
        [(1, "a", 11)], "id bigint, part string, qty bigint"
    )
    merge_upsert(batch, target, ["id"], partition_by=["part"])
    # simulate the crash: pre-merge part=a sits in the backup with
    # job-unique file names that don't exist in the promoted directory
    os.makedirs(target + "__premerge")
    shutil.copytree(str(tmp_path / "prea"),
                    os.path.join(target + "__premerge", "part=a"))
    adir = os.path.join(target + "__premerge", "part=a")
    for i, f in enumerate(sorted(os.listdir(adir))):
        if f.startswith("part-"):
            os.rename(os.path.join(adir, f),
                      os.path.join(adir, f"part-old{i}.parquet"))
    batch2 = spark.createDataFrame(
        [(4, "b", 40)], "id bigint, part string, qty bigint"
    )
    stats = merge_upsert(batch2, target, ["id"], partition_by=["part"])
    assert stats["n_before"] == 3  # not 5: part=a was NOT doubled
    got = {r["id"]: (r["part"], r["qty"])
           for r in spark.read.parquet(target).collect()}
    assert got == {1: ("a", 11), 2: ("a", 20), 3: ("b", 30),
                   4: ("b", 40)}
    assert not os.path.exists(target + "__premerge")


def test_merge_empty_string_partition_value_keeps_survivors(spark, tmp_path):
    """ADVICE r11 (medium): '' and NULL partition values share
    __HIVE_DEFAULT_PARTITION__ and rows already there read back as
    NULL. A batch touching the '' partition must still scope those
    NULL-read survivors into the rewrite — the old == '' predicate
    excluded them and the swap silently dropped every unmatched row in
    that directory."""
    target = str(tmp_path / "emptypart")
    _psnapshot(spark, target, [(1, "", 10), (2, "", 20), (3, "z", 30)])
    assert os.path.isdir(
        os.path.join(target, "part=__HIVE_DEFAULT_PARTITION__")
    )
    before_z = _tree_fingerprint(os.path.join(target, "part=z"))
    batch = spark.createDataFrame(
        [(1, "", 11)], "id bigint, part string, qty bigint"
    )
    stats = merge_upsert(batch, target, ["id"], partition_by=["part"])
    assert stats["rewrite"] == "partition"
    got = {r["id"]: (r["part"], r["qty"])
           for r in spark.read.parquet(target).collect()}
    # survivors 2 and 3 kept; 1 updated ('' reads back as NULL)
    assert got == {1: (None, 11), 2: (None, 20), 3: ("z", 30)}
    assert _tree_fingerprint(os.path.join(target, "part=z")) == before_z


def test_scd2_empty_string_partition_value(spark, tmp_path):
    """Same ''/NULL equivalence through the scd2 scoped path."""
    from config_driven_pyspark_spark.operators.table import scd2_merge

    target = str(tmp_path / "scd2empty")
    b1 = spark.createDataFrame(
        [(1, "", "x", "2024-01-01"), (2, "", "y", "2024-01-01")],
        "id bigint, region string, val string, effective_ts string",
    )
    scd2_merge(b1, target, ["id"], partition_by=["region"])
    b2 = spark.createDataFrame(
        [(1, "", "x2", "2024-02-01")],
        "id bigint, region string, val string, effective_ts string",
    )
    stats = scd2_merge(b2, target, ["id"], partition_by=["region"])
    assert stats["n_closed"] == 1 and stats["n_new_versions"] == 1
    snap = spark.read.parquet(target)
    cur = {r["id"]: r["val"]
           for r in snap.filter("is_current").collect()}
    assert cur == {1: "x2", 2: "y"}
    assert snap.count() == 3


def test_incremental_agg_partial_promote_retry_exact_once(spark, tmp_path):
    """ADVICE r11 (low): per-partition batch markers ride the partition
    renames, so a retry after a crash that promoted SOME partitions
    folds only the un-promoted ones — never double-counting a promoted
    partition, with no post-promote marker window."""
    import shutil

    from config_driven_pyspark_spark.operators.table import (
        _read_batch_marker, _write_batch_marker, incremental_agg,
    )

    target = str(tmp_path / "exactly_once")
    b1 = spark.createDataFrame(
        [("a", 10), ("b", 20)], "part string, v bigint"
    )
    incremental_agg(b1, target, ["part"], {"total": "sum(v)"},
                    partition_by=["part"], batch_id=1)
    pre_b = str(tmp_path / "pre_b")
    shutil.copytree(os.path.join(target, "part=b"), pre_b)
    b2 = spark.createDataFrame(
        [("a", 1), ("b", 2)], "part string, v bigint"
    )
    incremental_agg(b2, target, ["part"], {"total": "sum(v)"},
                    partition_by=["part"], batch_id=2)
    # per-partition markers promoted with the data
    assert _read_batch_marker(spark, os.path.join(target, "part=a")) == 2
    # simulate the crash: partition b rolled back pre-fold (recovery
    # restored it), root marker still at the previous batch
    shutil.rmtree(os.path.join(target, "part=b"))
    shutil.copytree(pre_b, os.path.join(target, "part=b"))
    _write_batch_marker(spark, target, 1)
    # retry of batch 2: partition a (marker 2) must be skipped,
    # partition b re-folded
    incremental_agg(b2, target, ["part"], {"total": "sum(v)"},
                    partition_by=["part"], batch_id=2)
    got = {r["part"]: r["total"]
           for r in spark.read.parquet(target).collect()}
    assert got == {"a": 11, "b": 22}  # not a=12 (double fold)
    # fully-promoted retry: only the root hint was lost
    _write_batch_marker(spark, target, 1)
    incremental_agg(b2, target, ["part"], {"total": "sum(v)"},
                    partition_by=["part"], batch_id=2)
    got = {r["part"]: r["total"]
           for r in spark.read.parquet(target).collect()}
    assert got == {"a": 11, "b": 22}
    assert _read_batch_marker(spark, target) == 2


def test_compact_preserves_batch_markers(spark, tmp_path):
    """Compaction is content-preserving INCLUDING the retry-dedup
    markers: per-partition markers (scoped) and the root marker
    (unpartitioned full swap) survive the rewrite."""
    from config_driven_pyspark_spark.operators.table import (
        _read_batch_marker, compact_table, incremental_agg,
    )

    target = str(tmp_path / "markers_kept")
    b1 = spark.createDataFrame(
        [("a", 10), ("a", 5), ("b", 20)], "part string, v bigint"
    )
    incremental_agg(b1, target, ["part"], {"total": "sum(v)"},
                    partition_by=["part"], batch_id=6)
    # second fold: the scoped swap stamps per-partition markers
    incremental_agg(
        spark.createDataFrame([("a", 1)], "part string, v bigint"),
        target, ["part"], {"total": "sum(v)"},
        partition_by=["part"], batch_id=7,
    )
    # force a second file into part=a so it is over the threshold
    spark.createDataFrame([(99,)], "total bigint").coalesce(1).write.mode(
        "append"
    ).parquet(os.path.join(target, "part=a"))
    stats = compact_table(spark, target, partition_by=["part"],
                          min_files=2)
    assert stats["n_partitions_compacted"] == 1
    assert _read_batch_marker(spark, os.path.join(target, "part=a")) == 7
    # unpartitioned: root marker rides the full swap
    flat = str(tmp_path / "flat_markers")
    incremental_agg(
        spark.createDataFrame([("a", 1)], "k string, v bigint"),
        flat, ["k"], {"total": "sum(v)"}, batch_id=3,
    )
    spark.createDataFrame([("b", 2, 2)], "k string, v bigint, total bigint"
                          ).select("k", "total").coalesce(1).write.mode(
        "append").parquet(flat)
    compact_table(spark, flat, min_files=2)
    assert _read_batch_marker(spark, flat) == 3


# ---------------------------------------------------------------------------
# r12: conditional / column-level MERGE (VERDICT r11 ask #3)
# ---------------------------------------------------------------------------


def test_merge_update_set_subset_and_condition(spark, tmp_path):
    """WHEN MATCHED AND cond THEN UPDATE SET col = expr: listed columns
    update from the expression (source+target mix), unlisted columns
    keep target values, and a matched row failing the condition stays
    value-identical."""
    target = str(tmp_path / "cond1")
    _snapshot(spark, target, [(1, "a", 10), (2, "b", 20), (3, "c", 30)])
    batch = spark.createDataFrame(
        [(1, "A", 100), (2, "B", 200), (4, "d", 40)],
        "id bigint, val string, qty bigint",
    )
    stats = merge_upsert(
        batch, target, ["id"],
        update_set={"qty": "source.qty + target.qty"},
        match_condition="target.qty < 15",
    )
    assert stats["n_matched"] == 2
    assert stats["n_updated"] == 1     # only id=1 passes target.qty < 15
    assert stats["n_inserted"] == 1
    got = {r["id"]: (r["val"], r["qty"])
           for r in spark.read.parquet(target).collect()}
    # id=1: qty updated (100+10), val NOT in update_set -> keeps 'a'
    # id=2: condition false -> fully unchanged
    # id=4: unmatched -> inserted as-is
    assert got == {1: ("a", 110), 2: ("b", 20), 3: ("c", 30),
                   4: ("d", 40)}


def test_merge_insert_only_and_update_only_modes(spark, tmp_path):
    """when_matched='none' ignores matches (insert-only merge);
    when_not_matched='none' drops unmatched source rows (update-only).
    Deletes stay a separate, unconditional clause."""
    t1 = str(tmp_path / "insonly")
    _snapshot(spark, t1, [(1, "a", 10)])
    batch = spark.createDataFrame(
        [(1, "X", 99, False), (2, "b", 20, False), (3, "c", 30, True)],
        "id bigint, val string, qty bigint, gone boolean",
    )
    stats = merge_upsert(batch, t1, ["id"], delete_col="gone",
                         when_matched="none")
    assert stats["n_updated"] == 0 and stats["n_inserted"] == 1
    got = {r["id"]: r["val"] for r in spark.read.parquet(t1).collect()}
    assert got == {1: "a", 2: "b"}  # 1 untouched, 3's delete unmatched

    t2 = str(tmp_path / "updonly")
    _snapshot(spark, t2, [(1, "a", 10), (2, "b", 20)])
    batch2 = spark.createDataFrame(
        [(1, 100), (9, 900)], "id bigint, qty bigint"
    )
    # update-only batches may carry a PARTIAL schema (keys + referenced)
    stats = merge_upsert(batch2, t2, ["id"],
                         update_set={"qty": "source.qty"},
                         when_not_matched="none")
    assert stats["n_updated"] == 1 and stats["n_inserted"] == 0
    got = {r["id"]: (r["val"], r["qty"])
           for r in spark.read.parquet(t2).collect()}
    assert got == {1: ("a", 100), 2: ("b", 20)}  # 9 dropped


def test_merge_conditional_scoped_leaves_untouched_partitions(
    spark, tmp_path
):
    """The conditional branch rides the same partition-scoped swap:
    untouched partition files stay bit-identical, and a condition-false
    row inside a touched partition keeps its values."""
    target = str(tmp_path / "condp")
    _psnapshot(spark, target, [
        (1, "a", 10), (2, "a", 99), (3, "b", 30), (4, "c", 40),
    ])
    before_b = _tree_fingerprint(os.path.join(target, "part=b"))
    before_c = _tree_fingerprint(os.path.join(target, "part=c"))
    batch = spark.createDataFrame(
        [(1, "a", 5), (2, "a", 5)], "id bigint, part string, qty bigint"
    )
    stats = merge_upsert(
        batch, target, ["id"], partition_by=["part"],
        update_set={"qty": "target.qty + source.qty"},
        match_condition="target.qty < 50",
    )
    assert stats["rewrite"] == "partition"
    assert stats["n_updated"] == 1
    got = {r["id"]: r["qty"] for r in spark.read.parquet(target).collect()}
    assert got == {1: 15, 2: 99, 3: 30, 4: 40}
    assert _tree_fingerprint(os.path.join(target, "part=b")) == before_b
    assert _tree_fingerprint(os.path.join(target, "part=c")) == before_c


def test_merge_update_set_guards(spark, tmp_path):
    """Key updates are rejected; updating a partition column falls back
    to a full rewrite (the touched set is unknowable pre-evaluation);
    bad combos raise."""
    target = str(tmp_path / "condg")
    _psnapshot(spark, target, [(1, "a", 10), (2, "b", 20)])
    batch = spark.createDataFrame(
        [(1, "a", 5)], "id bigint, part string, qty bigint"
    )
    with pytest.raises(ValueError, match="match keys"):
        merge_upsert(batch, target, ["id"],
                     update_set={"id": "source.id + 1"})
    with pytest.raises(ValueError, match="when_matched"):
        merge_upsert(batch, target, ["id"], when_matched="none",
                     update_set={"qty": "source.qty"})
    with pytest.raises(ValueError, match="not in the snapshot"):
        merge_upsert(batch, target, ["id"],
                     update_set={"nope": "source.qty"})
    stats = merge_upsert(
        batch, target, ["id"], partition_by=["part"],
        update_set={"part": "concat(target.part, '2')"},
    )
    assert stats["rewrite"] == "full"
    got = {r["id"]: r["part"] for r in spark.read.parquet(target).collect()}
    assert got == {1: "a2", 2: "b"}
    with pytest.raises(ValueError, match="nothing to bootstrap"):
        merge_upsert(batch, str(tmp_path / "nope"), ["id"],
                     when_not_matched="none")


def test_compact_one_pass_listing_and_cap(spark, tmp_path, monkeypatch):
    """r12: the partitioned compact counts files with ONE recursive
    listFiles walk, and a touched set over the cap compacts worst-first
    deferring the rest (bounded rename loop)."""
    import config_driven_pyspark_spark.operators.table as T

    target = str(tmp_path / "capped")
    # part=a: 3 files, part=b: 2 files, part=c: 1 file
    rows = {"a": 3, "b": 2, "c": 1}
    for part, nf in rows.items():
        for i in range(nf):
            spark.createDataFrame(
                [(ord(part) * 10 + i, part, i)],
                "id bigint, part string, qty bigint",
            ).coalesce(1).write.mode("append").partitionBy(
                "part"
            ).parquet(target)
    before = {tuple(r) for r in spark.read.parquet(target).collect()}
    monkeypatch.setattr(T, "_MAX_SCOPED_PARTITIONS", 1)
    stats = T.compact_table(spark, target, partition_by=["part"],
                            min_files=2)
    # worst-first: only part=a (3 files) compacts; part=b defers
    assert stats["n_partitions_compacted"] == 1
    assert stats["n_partitions_deferred"] == 1
    a_files = [f for f in os.listdir(os.path.join(target, "part=a"))
               if f.endswith(".parquet")]
    assert len(a_files) == 1
    stats2 = T.compact_table(spark, target, partition_by=["part"],
                             min_files=2)
    assert stats2["n_partitions_compacted"] == 1  # deferred b, next call
    assert stats2["n_partitions_deferred"] == 0
    assert {tuple(r) for r in spark.read.parquet(target).collect()} \
        == before


# ---------------------------------------------------------------------------
# r12: _key_stats sidecar — Delta-style data skipping for the merge probe
# when the partition column is NOT a match key (VERDICT r11 ask #4)
# ---------------------------------------------------------------------------


def _key_sorted_snapshot(spark, path):
    # key-sorted across partitions: a..c hold disjoint key ranges;
    # seeded through the merge's own day-zero bootstrap so the sidecar
    # starts with exact full coverage
    from config_driven_pyspark_spark.operators.table import merge_upsert

    rows = [(i, "a", i) for i in range(1, 11)] + \
           [(i, "b", i) for i in range(101, 111)] + \
           [(i, "c", i) for i in range(201, 211)]
    merge_upsert(
        spark.createDataFrame(rows, "id bigint, part string, qty bigint"),
        path, ["id"], partition_by=["part"],
    )


def test_sidecar_written_and_prunes_probe(spark, tmp_path):
    """A scoped merge on a partition-not-in-keys table writes per-
    partition key ranges; the next batch's probe candidates are only
    the partitions whose ranges intersect the batch's keys."""
    import json

    from config_driven_pyspark_spark.operators.table import (
        _read_key_stats, _sidecar_candidates, merge_upsert,
    )

    target = str(tmp_path / "sc1")
    _key_sorted_snapshot(spark, target)
    b1 = spark.createDataFrame(
        [(105, "b", 1050)], "id bigint, part string, qty bigint"
    )
    stats = merge_upsert(b1, target, ["id"], partition_by=["part"])
    assert stats["rewrite"] == "partition" and stats["n_updated"] == 1
    doc = _read_key_stats(spark, target)
    assert doc is not None and doc["keys"] == ["id"]
    # bootstrap seeded full coverage; the scoped merge widened part=b
    assert {"part=a", "part=b", "part=c"} <= set(doc["partitions"])
    e = doc["partitions"]["part=b"]["id"]
    assert e["min"] <= 105 <= e["max"] and e["has_null"] is False
    # candidates for a batch whose keys live only in b's range
    cand = _sidecar_candidates(
        doc, ["part=a", "part=b", "part=c"], ["id"],
        {"id": (103, 108, False)},
    )
    assert cand == ["part=b"]
    # a dir the sidecar has never seen is always probed
    cand2 = _sidecar_candidates(
        doc, ["part=a", "part=b", "part=zz"], ["id"],
        {"id": (103, 108, False)},
    )
    assert cand2 == ["part=b", "part=zz"]
    # second merge, pruned probe: results still exact
    b2 = spark.createDataFrame(
        [(103, "b", 1030), (104, "b", 1040)],
        "id bigint, part string, qty bigint",
    )
    stats2 = merge_upsert(b2, target, ["id"], partition_by=["part"])
    assert stats2["n_matched"] == 2 and stats2["n_updated"] == 2
    got = {r["id"]: r["qty"] for r in spark.read.parquet(target)
           .filter("id IN (103,104,105)").collect()}
    assert got == {103: 1030, 104: 1040, 105: 1050}
    # json on disk is the tmp-rename discipline's final name
    assert json.load(open(os.path.join(target, "_key_stats",
                                       "stats.json")))["version"] == 1


def test_sidecar_missing_falls_back_to_full_probe(spark, tmp_path):
    """VERDICT r11 ask #4 Done-criterion: stats-missing -> full-scan
    fallback with exact results (and the merge re-seeds entries for the
    partitions it touches)."""
    import shutil

    from config_driven_pyspark_spark.operators.table import (
        _read_key_stats, merge_upsert,
    )

    target = str(tmp_path / "sc2")
    _key_sorted_snapshot(spark, target)
    merge_upsert(
        spark.createDataFrame([(105, "b", 9)],
                              "id bigint, part string, qty bigint"),
        target, ["id"], partition_by=["part"],
    )
    shutil.rmtree(os.path.join(target, "_key_stats"))
    b = spark.createDataFrame(
        [(1, "a", 11), (300, "c", 300)],
        "id bigint, part string, qty bigint",
    )
    stats = merge_upsert(b, target, ["id"], partition_by=["part"])
    assert stats["n_matched"] == 1 and stats["n_inserted"] == 1
    got = {r["id"]: r["qty"] for r in spark.read.parquet(target)
           .filter("id IN (1, 300)").collect()}
    assert got == {1: 11, 300: 300}
    doc = _read_key_stats(spark, target)
    assert doc is not None  # re-seeded for the touched partitions
    assert {"part=a", "part=c"} <= set(doc["partitions"])


def test_sidecar_zero_candidates_skips_probe(spark, tmp_path):
    """A batch whose key range intersects NO partition provably has no
    matches: the probe is skipped outright and the rows insert."""
    from config_driven_pyspark_spark.operators.table import merge_upsert

    target = str(tmp_path / "sc3")
    _key_sorted_snapshot(spark, target)
    merge_upsert(
        spark.createDataFrame([(105, "b", 9)],
                              "id bigint, part string, qty bigint"),
        target, ["id"], partition_by=["part"],
    )  # bootstrap gave full coverage; this widened part=b
    b = spark.createDataFrame(
        [(9999, "b", 1)], "id bigint, part string, qty bigint"
    )
    stats = merge_upsert(b, target, ["id"], partition_by=["part"])
    assert stats["n_matched"] == 0 and stats["n_inserted"] == 1
    assert spark.read.parquet(target).filter("id = 9999").count() == 1


def test_sidecar_stale_guards(spark, tmp_path):
    """Different-key merges and scd2/incremental_agg swaps DELETE the
    sidecar (a stale one would go narrow — the unsafe direction); a
    whole-partition delete keeps its old, wide entry."""
    from config_driven_pyspark_spark.operators.table import (
        _read_key_stats, incremental_agg, merge_upsert,
    )

    target = str(tmp_path / "sc4")
    _key_sorted_snapshot(spark, target)
    merge_upsert(
        spark.createDataFrame([(105, "b", 9)],
                              "id bigint, part string, qty bigint"),
        target, ["id"], partition_by=["part"],
    )
    assert _read_key_stats(spark, target) is not None
    # different keys -> the old doc must not survive (it is keyed by id)
    merge_upsert(
        spark.createDataFrame([(105, "b", 9)],
                              "id bigint, part string, qty bigint"),
        target, ["id", "qty"], partition_by=["part"],
    )
    doc = _read_key_stats(spark, target)
    assert doc is None or doc["keys"] == ["id", "qty"]
    # whole-partition delete keeps the (now wide) entry
    merge_upsert(
        spark.createDataFrame([(105, "b", 9)],
                              "id bigint, part string, qty bigint"),
        target, ["id"], partition_by=["part"],
    )
    delb = spark.createDataFrame(
        [(i, "b", 0, True) for i in range(101, 111)] + [(105, "b", 0, True)],
        "id bigint, part string, qty bigint, gone boolean",
    ).dropDuplicates(["id"])
    merge_upsert(delb, target, ["id"], delete_col="gone",
                 partition_by=["part"])
    assert not os.path.exists(os.path.join(target, "part=b"))
    doc = _read_key_stats(spark, target)
    assert "part=b" in doc["partitions"]  # wide-safe leftover
    # an incremental_agg swap on the same table drops the sidecar
    incremental_agg(
        spark.createDataFrame([("a", 5)], "part string, v bigint"),
        str(tmp_path / "sc4_mv"), ["part"], {"t": "sum(v)"},
    )  # different table: no effect on target's sidecar
    from config_driven_pyspark_spark.operators.table import scd2_merge
    # scd2 on a fresh table never creates one; emulate via delete check:
    # run scd2-style delete guard directly on target's path
    from config_driven_pyspark_spark.operators.table import (
        _delete_key_stats,
    )
    _delete_key_stats(spark, target)
    assert _read_key_stats(spark, target) is None


def test_scd2_sidecar_prunes_discovery_and_stays_exact(spark, tmp_path):
    """r12: scd2 on a business-column-partitioned dimension maintains
    the _key_stats sidecar (bootstrap exact, scoped widen) and prunes
    the discovery semi-join to key-range candidates — results identical
    to the unpruned path, including closes in a partition the batch's
    NEW values never name (a region move)."""
    import shutil

    from config_driven_pyspark_spark.operators.table import (
        _read_key_stats, _sidecar_candidates, scd2_merge,
    )

    target = str(tmp_path / "scd2sc")
    rows = [(i, "r1", f"v{i}", "2024-01-01") for i in range(1, 6)] + \
           [(i, "r2", f"v{i}", "2024-01-01") for i in range(101, 106)]
    mk = lambda rs: spark.createDataFrame(  # noqa: E731
        rs, "id bigint, region string, val string, eff string"
    ).selectExpr("id", "region", "val",
                 "CAST(eff AS DATE) AS effective_ts")
    scd2_merge(mk(rows), target, ["id"], partition_by=["region"])
    doc = _read_key_stats(spark, target)
    assert doc is not None and doc["keys"] == ["id"]
    assert {"region=r1", "region=r2"} <= set(doc["partitions"])
    # a batch whose keys live only in r2's range prunes discovery to r2
    cand = _sidecar_candidates(
        doc, ["region=r1", "region=r2"], ["id"], {"id": (101, 103, False)}
    )
    assert cand == ["region=r2"]
    # key 101 MOVES region r2 -> r1: the close must land in r2 (found
    # via the pruned semi-join), the new version in r1
    b2 = mk([(101, "r1", "v101b", "2024-02-01")])
    stats = scd2_merge(b2, target, ["id"], partition_by=["region"])
    assert stats["rewrite"] == "partition"
    assert stats["n_closed"] == 1 and stats["n_new_versions"] == 1
    snap = spark.read.parquet(target)
    r = {(x["id"], x["is_current"]): x["region"] for x in
         snap.filter("id = 101").collect()}
    assert r == {(101, False): "r2", (101, True): "r1"}
    # widened entry now spans both partitions for key 101
    doc2 = _read_key_stats(spark, target)
    e = doc2["partitions"]["region=r1"]["id"]
    assert e["min"] <= 1 and e["max"] >= 101
    # stats-missing -> unpruned fallback stays exact
    shutil.rmtree(os.path.join(target, "_key_stats"))
    b3 = mk([(2, "r1", "v2b", "2024-03-01")])
    stats = scd2_merge(b3, target, ["id"], partition_by=["region"])
    assert stats["n_closed"] == 1 and stats["n_new_versions"] == 1
    cur = {x["id"]: x["val"]
           for x in spark.read.parquet(target)
           .filter("is_current").collect()}
    assert cur[2] == "v2b" and cur[101] == "v101b"


def test_merge_not_matched_by_source_delete_and_update(spark, tmp_path):
    """r12: Delta's third clause. A full-sync batch deletes stale
    target rows (optionally condition-gated) or stamps them via
    by_source_set; both force a full rewrite."""
    target = str(tmp_path / "bs1")
    _snapshot(spark, target, [(1, "a", 10), (2, "b", 20), (3, "c", 30)])
    batch = spark.createDataFrame(
        [(1, "A", 11), (4, "d", 40)], "id bigint, val string, qty bigint"
    )
    stats = merge_upsert(
        batch, target, ["id"],
        when_not_matched_by_source="delete",
        by_source_condition="target.qty < 25",
    )
    # 2 deleted (stale, qty<25); 3 kept (condition false); 1 updated;
    # 4 inserted
    assert stats["n_deleted"] == 1 and stats["n_inserted"] == 1
    assert stats["rewrite"] == "full"
    got = {r["id"]: (r["val"], r["qty"])
           for r in spark.read.parquet(target).collect()}
    assert got == {1: ("A", 11), 3: ("c", 30), 4: ("d", 40)}

    t2 = str(tmp_path / "bs2")
    _snapshot(spark, t2, [(1, "a", 10), (2, "b", 20)])
    stats = merge_upsert(
        spark.createDataFrame([(1, "A", 11)],
                              "id bigint, val string, qty bigint"),
        t2, ["id"],
        when_not_matched_by_source="update",
        by_source_set={"val": "concat('stale-', target.val)"},
    )
    assert stats["n_updated"] == 2  # 1 matched-updated + 1 by-source
    got = {r["id"]: r["val"] for r in spark.read.parquet(t2).collect()}
    assert got == {1: "A", 2: "stale-b"}
    with pytest.raises(ValueError, match="needs by_source_set"):
        merge_upsert(batch, t2, ["id"],
                     when_not_matched_by_source="update")


def test_merge_by_source_forces_full_on_partitioned(spark, tmp_path):
    """The by-source clause touches every partition, so scoping is off
    even on a partitioned layout (same physics as Delta)."""
    target = str(tmp_path / "bs3")
    _psnapshot(spark, target, [(1, "a", 10), (2, "b", 20)])
    batch = spark.createDataFrame(
        [(1, "a", 11)], "id bigint, part string, qty bigint"
    )
    stats = merge_upsert(
        batch, target, ["id"], partition_by=["part"],
        when_not_matched_by_source="delete",
    )
    assert stats["rewrite"] == "full"
    got = {r["id"]: r["qty"] for r in spark.read.parquet(target).collect()}
    assert got == {1: 11}  # 2 was stale -> deleted


# ---------------------------------------------------------------------------
# r12: standalone DELETE FROM / UPDATE WHERE over plain parquet
# ---------------------------------------------------------------------------


def test_delete_where_partition_scoped(spark, tmp_path):
    from config_driven_pyspark_spark.operators.table import delete_where

    target = str(tmp_path / "dw")
    _psnapshot(spark, target, [
        (1, "a", 10), (2, "a", 99), (3, "b", 30), (4, "c", 40),
    ])
    before_c = _tree_fingerprint(os.path.join(target, "part=c"))
    stats = delete_where(spark, target, "qty < 35 AND part <> 'c'",
                         partition_by=["part"])
    assert stats == {"n_before": 4, "n_matched": 2, "n_after": 2,
                     "rewrite": "partition"}
    got = {r["id"] for r in spark.read.parquet(target).collect()}
    assert got == {2, 4}
    # partition c matched nothing -> byte-identical
    assert _tree_fingerprint(os.path.join(target, "part=c")) == before_c
    # zero-match condition touches nothing
    stats = delete_where(spark, target, "qty > 1000",
                         partition_by=["part"])
    assert stats["rewrite"] == "none" and stats["n_after"] == 2


def test_update_where_and_guards(spark, tmp_path):
    from config_driven_pyspark_spark.operators.table import (
        delete_where, update_where,
    )

    target = str(tmp_path / "uw")
    _psnapshot(spark, target, [(1, "a", 10), (2, "a", 20), (3, "b", 30)])
    before_b = _tree_fingerprint(os.path.join(target, "part=b"))
    stats = update_where(
        spark, target, {"qty": "qty * 10"}, "part = 'a' AND qty <= 10",
        partition_by=["part"],
    )
    assert stats["n_matched"] == 1 and stats["rewrite"] == "partition"
    got = {r["id"]: r["qty"] for r in spark.read.parquet(target).collect()}
    assert got == {1: 100, 2: 20, 3: 30}
    assert _tree_fingerprint(os.path.join(target, "part=b")) == before_b
    # updating the partition column forces a full rewrite (rows move)
    stats = update_where(
        spark, target, {"part": "'z'"}, "id = 3", partition_by=["part"]
    )
    assert stats["rewrite"] == "full"
    assert {r["part"] for r in spark.read.parquet(target)
            .filter("id = 3").collect()} == {"z"}
    with pytest.raises(ValueError, match="WHERE condition is required"):
        delete_where(spark, target, "", partition_by=["part"])
    with pytest.raises(ValueError, match="not in the snapshot"):
        update_where(spark, target, {"nope": "1"}, "id = 1")


def test_table_delete_update_stages(spark, tmp_path):
    target = str(tmp_path / "stg")
    _snapshot(spark, target, [(1, "a", 10), (2, "b", 20), (3, "c", 30)])
    spark.createDataFrame([(0,)], "x bigint").createOrReplaceTempView(
        "dummy_mut"
    )
    out = Pipeline.from_config([
        {"stage": "sql", "query": "SELECT * FROM dummy_mut"},
        {"stage": "table_update", "path": target,
         "set": {"val": "upper(val)"}, "where": "qty >= 20"},
        {"stage": "table_delete", "path": target, "where": "qty = 30"},
    ]).run(spark)
    got = {r["id"]: r["val"] for r in out.collect()}
    assert got == {1: "a", 2: "B"}


def test_mutations_preserve_markers_and_sidecar_rules(spark, tmp_path):
    """delete keeps batch markers and (wide-safe) sidecar entries;
    an update touching a sidecar key column drops the sidecar."""
    from config_driven_pyspark_spark.operators.table import (
        _read_batch_marker, _read_key_stats, delete_where,
        incremental_agg, merge_upsert, update_where,
    )

    mv = str(tmp_path / "mv")
    incremental_agg(
        spark.createDataFrame([("a", 1), ("b", 2)],
                              "part string, v bigint"),
        mv, ["part"], {"t": "sum(v)"}, partition_by=["part"], batch_id=1,
    )
    incremental_agg(
        spark.createDataFrame([("a", 3)], "part string, v bigint"),
        mv, ["part"], {"t": "sum(v)"}, partition_by=["part"], batch_id=2,
    )
    assert _read_batch_marker(spark, os.path.join(mv, "part=a")) == 2
    delete_where(spark, mv, "t > 100", partition_by=["part"])  # no-op
    update_where(spark, mv, {"t": "t"}, "part = 'a'",
                 partition_by=["part"])
    assert _read_batch_marker(spark, os.path.join(mv, "part=a")) == 2

    tab = str(tmp_path / "sc")
    merge_upsert(
        spark.createDataFrame([(1, "a", 10), (101, "b", 20)],
                              "id bigint, part string, qty bigint"),
        tab, ["id"], partition_by=["part"],
    )
    assert _read_key_stats(spark, tab) is not None
    delete_where(spark, tab, "qty = 10", partition_by=["part"])
    assert _read_key_stats(spark, tab) is not None  # wide-safe, kept
    update_where(spark, tab, {"id": "id + 1000"}, "qty = 20",
                 partition_by=["part"])
    assert _read_key_stats(spark, tab) is None  # key column -> dropped


def test_alter_table_add_rename_drop(spark, tmp_path):
    from config_driven_pyspark_spark.operators.table import alter_table

    target = str(tmp_path / "t")
    _snapshot(spark, target, [(1, "a", 10), (2, "b", 20)])
    out = alter_table(
        spark, target,
        add={"qty2": "qty * 2", "tag": "'x'"},
        rename={"val": "label"},
        drop=["qty"],
    )
    assert out == {"n_rows": 2, "added": ["qty2", "tag"],
                   "renamed": {"val": "label"}, "dropped": ["qty"],
                   "rewrite": "full"}
    got = spark.read.parquet(target)
    assert got.columns == ["id", "label", "qty2", "tag"]
    rows = sorted((r.id, r.label, r.qty2, r.tag) for r in got.collect())
    assert rows == [(1, "a", 20, "x"), (2, "b", 40, "x")]


def test_alter_table_guards(spark, tmp_path):
    import pytest as _pytest

    from config_driven_pyspark_spark.operators.table import alter_table

    target = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "P", 1.0)], "k int, status string, val double"
    ).write.partitionBy("status").parquet(target)
    with _pytest.raises(ValueError, match="partition column"):
        alter_table(spark, target, drop=["status"],
                    partition_by=["status"])
    with _pytest.raises(ValueError, match="partition column"):
        alter_table(spark, target, rename={"status": "s"},
                    partition_by=["status"])
    with _pytest.raises(ValueError, match="already a column"):
        alter_table(spark, target, add={"val": "1"},
                    partition_by=["status"])
    with _pytest.raises(ValueError, match="collides"):
        alter_table(spark, target, rename={"val": "k"},
                    partition_by=["status"])
    with _pytest.raises(ValueError, match="needs add"):
        alter_table(spark, target, partition_by=["status"])


def test_alter_table_versioned_and_partitioned(spark, tmp_path):
    from config_driven_pyspark_spark.operators import history as H
    from config_driven_pyspark_spark.operators.table import alter_table

    target = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "P", 1.0), (2, "O", 2.0)], "k int, status string, val double"
    ).write.partitionBy("status").parquet(target)
    H.enable_table_history(spark, target, ["status"])
    alter_table(
        spark, target, add={"v2": "val * 10"},
        partition_by=["status"],
    )
    assert H.read_table_version(spark, target, 0).columns == [
        "k", "val", "status"
    ]
    live = spark.read.parquet(target)
    assert "v2" in live.columns
    assert {r.op for r in H.table_history(spark, target).collect()} == {
        "alter"
    }


def test_scoped_lock_disjoint_concurrency_semantics(spark, tmp_path):
    """r13 (VERDICT r12 ask #4): disjoint scopes coexist; overlapping
    scopes, global-vs-scoped, and scoped-vs-global all fail loudly."""
    import pytest as _pytest

    from config_driven_pyspark_spark.operators.table import _WriterLock

    base = str(tmp_path / "t")
    a = _WriterLock(spark, base, scope=["bucket=0"])
    a.__enter__()
    try:
        # disjoint scoped writer proceeds
        with _WriterLock(spark, base, scope=["bucket=1"]):
            pass
        # overlapping scope conflicts
        with _pytest.raises(IOError, match="intersecting scope"):
            with _WriterLock(spark, base, scope=["bucket=0",
                                                 "bucket=2"]):
                pass
        # a global writer conflicts with any live scoped entry
        with _pytest.raises(IOError, match="intersecting scope"):
            with _WriterLock(spark, base):
                pass
    finally:
        a.__exit__(None, None, None)
    # and a scoped writer conflicts with a live global entry
    g = _WriterLock(spark, base)
    g.__enter__()
    try:
        with _pytest.raises(IOError, match="intersecting scope"):
            with _WriterLock(spark, base, scope=["bucket=7"]):
                pass
    finally:
        g.__exit__(None, None, None)
    # all entries released
    import os as _os

    assert not [
        f for f in _os.listdir(f"{base}__lock.d")
        if f.endswith(".json")
    ]


def test_concurrent_disjoint_merges_both_commit(spark, tmp_path):
    """Two scoped merges on DISJOINT partitions run from two threads
    both commit; the table ends with both updates and exact sidecars
    (the mutex serializes the doc read-modify-writes)."""
    import threading

    from config_driven_pyspark_spark.operators.table import (
        _read_file_stats, _read_key_stats, merge_upsert,
    )

    target = str(tmp_path / "t")
    df = spark.range(2000).selectExpr(
        "id AS k",
        "cast(id div 500 as int) AS bucket",
        "cast(id as double) AS val",
    )
    merge_upsert(df, target, ["k"], partition_by=["bucket"])
    errs: list = []

    def run(lo, n):
        try:
            batch = spark.createDataFrame(
                [(lo + i, lo // 500, -1.0) for i in range(n)],
                "k bigint, bucket int, val double",
            )
            st = merge_upsert(
                batch, target, ["k"], partition_by=["bucket"],
            )
            assert st["rewrite"] == "partition", st
            assert st["n_updated"] == n, st
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    t1 = threading.Thread(target=run, args=(100, 40))
    t2 = threading.Thread(target=run, args=(1600, 40))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    live = spark.read.parquet(target)
    assert live.count() == 2000
    assert live.filter("val = -1.0").count() == 80
    # sidecars survived both writers (mutex-serialized RMW): the two
    # touched buckets' partition entries still cover their data
    doc = _read_key_stats(spark, target)
    assert doc is not None
    for b, lo in (("bucket=0", 0), ("bucket=3", 1500)):
        e = doc["partitions"][b]["k"]
        assert e["min"] <= lo and e["max"] >= lo + 499
    fdoc = _read_file_stats(spark, target)
    assert fdoc is not None
    assert {rel.split("/")[0] for rel in fdoc["files"]} == {
        "bucket=0", "bucket=1", "bucket=2", "bucket=3"
    }
    # no leftover suffixed staging/backup or lock entries
    import glob as _glob
    import os as _os

    assert not _glob.glob(f"{target}__staging*")
    assert not _glob.glob(f"{target}__premerge*")
    assert not [
        f for f in _os.listdir(f"{target}__lock.d")
        if f.endswith(".json")
    ]


def test_concurrent_disjoint_lock_acquires_never_conflict(spark, tmp_path):
    """Disjoint scoped acquires racing in lockstep never see each other
    as a conflict: an entry is published whole (temp name, then rename)
    and one released between the scan's listing and its read is skipped.
    Nothing is left in the lock directory afterwards."""
    import os as _os
    import threading

    from config_driven_pyspark_spark.operators.table import _WriterLock

    base = str(tmp_path / "t")
    threads, rounds = 4, 25
    barrier = threading.Barrier(threads, timeout=120)
    errs: list = []

    def run(i):
        for _ in range(rounds):
            try:
                barrier.wait()
                with _WriterLock(spark, base, scope=[f"bucket={i}"]):
                    pass
            except Exception as e:  # noqa: BLE001
                errs.append(e)

    workers = [threading.Thread(target=run, args=(i,)) for i in range(threads)]
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    assert not errs, errs[:3]
    assert not [
        f for f in _os.listdir(f"{base}__lock.d") if not f.startswith(".")
    ]


def test_torn_live_lock_entry_still_conflicts(spark, tmp_path):
    """An entry that exists but cannot be parsed is treated as a live
    conflict (the safe direction), whatever scope the acquirer asks for."""
    import os as _os

    import pytest as _pytest

    from config_driven_pyspark_spark.operators.table import _WriterLock

    base = str(tmp_path / "t")
    _os.makedirs(f"{base}__lock.d")
    with open(f"{base}__lock.d/torn.json", "w") as fh:
        fh.write('{"owner": ')
    with _pytest.raises(IOError, match="intersecting scope"):
        with _WriterLock(spark, base, scope=["bucket=5"]):
            pass
    assert sorted(_os.listdir(f"{base}__lock.d")) == ["torn.json"]


def test_versioned_tables_join_scoped_concurrency(spark, tmp_path):
    """History-enabled tables participate in scoped concurrency (r13:
    version allocation is CAS on the pending marker's atomic create):
    a disjoint scoped entry coexists with a versioned merge, an
    overlapping one still fails loudly, and a full rewrite (global
    scope) conflicts with any live entry."""
    import pytest as _pytest

    from config_driven_pyspark_spark.operators import history as H
    from config_driven_pyspark_spark.operators.table import (
        _WriterLock, merge_upsert,
    )

    target = str(tmp_path / "t")
    df = spark.range(1000).selectExpr(
        "id AS k",
        "cast(id div 500 as int) AS bucket",
        "cast(id as double) AS val",
    )
    merge_upsert(df, target, ["k"], partition_by=["bucket"])
    H.enable_table_history(spark, target, ["bucket"])
    other = _WriterLock(spark, target, scope=["bucket=1"])
    other.__enter__()
    try:
        # versioned + disjoint: proceeds, takes its own version
        st = merge_upsert(
            spark.createDataFrame(
                [(10, 0, -1.0)], "k bigint, bucket int, val double"
            ),
            target, ["k"], partition_by=["bucket"],
        )
        assert st["rewrite"] == "partition"
        assert H.table_current_version(spark, target) == 1
        # versioned + overlapping: fails loudly
        with _pytest.raises(IOError, match="intersecting scope"):
            merge_upsert(
                spark.createDataFrame(
                    [(600, 1, -2.0)], "k bigint, bucket int, val double"
                ),
                target, ["k"], partition_by=["bucket"],
            )
        # full rewrite conflicts with any live entry
        with _pytest.raises(IOError, match="intersecting scope"):
            merge_upsert(
                spark.createDataFrame(
                    [(11, 0, -3.0)], "k bigint, bucket int, val double"
                ),
                target, ["k"],  # no partition_by -> full rewrite
            )
    finally:
        other.__exit__(None, None, None)
        H.disable_table_history(spark, target)


def test_dead_scoped_writer_debris_healed(spark, tmp_path):
    """A dead scoped writer's suffixed backup/staging heal at the next
    op start (moved-aside dirs restored, staging dropped); a LIVE
    writer's suffixed dirs are never touched."""
    import os as _os
    import shutil

    from config_driven_pyspark_spark.operators.table import (
        _WriterLock, _recover_crashed_swap, merge_upsert,
    )

    target = str(tmp_path / "t")
    df = spark.range(1000).selectExpr(
        "id AS k",
        "cast(id div 500 as int) AS bucket",
        "cast(id as double) AS val",
    )
    merge_upsert(df, target, ["k"], partition_by=["bucket"])
    # simulate a dead scoped writer that crashed mid-promote: its
    # backup holds bucket=0 moved aside, the target misses the dir
    _os.makedirs(f"{target}__premerge-deadbeef")
    shutil.move(f"{target}/bucket=0",
                f"{target}__premerge-deadbeef/bucket=0")
    _os.makedirs(f"{target}__staging-deadbeef/bucket=0")
    _recover_crashed_swap(spark, target)
    assert _os.path.isdir(f"{target}/bucket=0")
    assert not _os.path.exists(f"{target}__premerge-deadbeef")
    assert not _os.path.exists(f"{target}__staging-deadbeef")
    assert spark.read.parquet(target).count() == 1000
    # a LIVE writer's suffixed staging survives recovery untouched
    lk = _WriterLock(spark, target, scope=["bucket=1"])
    lk.__enter__()
    try:
        _os.makedirs(f"{target}__staging-{lk.owner}/bucket=1")
        _recover_crashed_swap(spark, target)
        assert _os.path.isdir(f"{target}__staging-{lk.owner}")
    finally:
        lk.__exit__(None, None, None)
        shutil.rmtree(f"{target}__staging-{lk.owner}",
                      ignore_errors=True)


def test_file_stats_scan_prunes_inside_partition(spark, tmp_path):
    """r13 (VERDICT r12 ask #1): compaction with a cluster spec writes
    ~n_files range-disjoint files per partition plus exact per-file key
    ranges (_file_stats); scan_table then opens ONLY the intersecting
    file(s) inside the hot partition — Delta data skipping below
    directory granularity. Results always equal a plain filtered
    read."""
    import glob as _glob

    from config_driven_pyspark_spark.operators.table import (
        _file_skip_paths, _read_file_stats, compact_table,
        merge_upsert, scan_table,
    )

    target = str(tmp_path / "fs1")
    df = spark.range(4000).selectExpr(
        "id AS k",
        "cast(id div 2000 as int) AS bucket",
        "cast(id as double) AS val",
    )
    merge_upsert(df, target, ["k"], partition_by=["bucket"])
    # a second merge stacks more files into bucket=0
    merge_upsert(
        spark.createDataFrame(
            [(7, 0, 7.5), (1500, 0, 15.5)],
            "k bigint, bucket int, val double",
        ),
        target, ["k"], partition_by=["bucket"],
    )
    out = compact_table(
        spark, target, ["bucket"], min_files=2, n_files=4,
        sort_within=["k"],
    )
    assert out["rewrite"] == "partition"
    doc = _read_file_stats(spark, target)
    assert doc is not None and doc["keys"] == ["k"]
    disk0 = [
        f for f in _glob.glob(f"{target}/bucket=0/*.parquet")
        if not os.path.basename(f).startswith(("_", "."))
    ]
    assert len(disk0) >= 3  # range clustering actually split the files
    # every compacted file has an exact entry, ranges disjoint within
    # the partition (sorted by k, range-partitioned)
    ents = sorted(
        (e["k"]["min"], e["k"]["max"])
        for rel, e in doc["files"].items()
        if rel.startswith("bucket=0/")
    )
    assert len(ents) == len(disk0)
    for (lo1, hi1), (lo2, hi2) in zip(ents, ents[1:]):
        assert hi1 < lo2  # disjoint, ordered
    got = scan_table(
        spark, target, ["bucket"], key_between={"k": (100, 300)}
    )
    exp = spark.read.parquet(target).filter("k BETWEEN 100 AND 300")
    assert sorted(r.k for r in got.collect()) == sorted(
        r.k for r in exp.collect()
    )
    read0 = [f for f in got.inputFiles() if "bucket=0" in f]
    assert 1 <= len(read0) < len(disk0)  # file skipping inside the dir
    assert not [f for f in got.inputFiles() if "bucket=1" in f]
    # the probe-side primitive prunes the same way
    paths = _file_skip_paths(
        spark, target, ["bucket=0"], 1, ["k"],
        {"k": (100, 300, False)},
    )
    assert paths is not None and 1 <= len(paths) < len(disk0)
    assert all("bucket=0" in p for p in paths)
    # unknown files are always read: drop the sidecar -> dir-granular
    import shutil

    shutil.rmtree(f"{target}/_file_stats")
    got2 = scan_table(
        spark, target, ["bucket"], key_between={"k": (100, 300)}
    )
    assert sorted(r.k for r in got2.collect()) == sorted(
        r.k for r in exp.collect()
    )
    assert len([f for f in got2.inputFiles()
                if "bucket=0" in f]) == len(disk0)


def test_file_stats_maintained_by_merges(spark, tmp_path):
    """Scoped merges replace the touched directories' file entries and
    keep the rest; a probe whose range misses every file's range skips
    the scan; results stay exact throughout."""
    from config_driven_pyspark_spark.operators.table import (
        _read_file_stats, compact_table, merge_upsert,
    )

    target = str(tmp_path / "fs2")
    df = spark.range(4000).selectExpr(
        "id AS k",
        "cast(id div 2000 as int) AS bucket",
        "cast(id as double) AS val",
    )
    merge_upsert(df, target, ["k"], partition_by=["bucket"])
    compact_table(
        spark, target, ["bucket"], min_files=2, n_files=4,
        sort_within=["k"],
    )
    before = _read_file_stats(spark, target)
    b0_before = {
        rel for rel in before["files"] if rel.startswith("bucket=0/")
    }
    b1_before = {
        rel for rel in before["files"] if rel.startswith("bucket=1/")
    }
    # a narrow-range update: probe prunes to one file, swap replaces
    # bucket=0's entries, bucket=1's entries survive untouched
    stats = merge_upsert(
        spark.createDataFrame(
            [(150, 0, -1.0)], "k bigint, bucket int, val double"
        ),
        target, ["k"], partition_by=["bucket"],
    )
    assert stats["n_matched"] == 1 and stats["rewrite"] == "partition"
    after = _read_file_stats(spark, target)
    assert {
        rel for rel in after["files"] if rel.startswith("bucket=1/")
    } == b1_before
    assert not (
        {rel for rel in after["files"] if rel.startswith("bucket=0/")}
        & b0_before
    )
    assert spark.read.parquet(target).filter("k = 150").collect()[
        0
    ].val == -1.0
    # provably-no-match batch: every file range misses -> insert only
    stats2 = merge_upsert(
        spark.createDataFrame(
            [(99999, 1, 1.0)], "k bigint, bucket int, val double"
        ),
        target, ["k"], partition_by=["bucket"],
    )
    assert stats2["n_matched"] == 0 and stats2["n_inserted"] == 1
    assert spark.read.parquet(target).count() == 4001


def test_file_stats_bootstrap_for_sink_written_tables(spark, tmp_path):
    """file_stats_keys (re)builds the per-file sidecar over the whole
    table — the opt-in for snapshots the merge family never touched;
    junk keys refuse."""
    import pytest as _pytest

    from config_driven_pyspark_spark.operators.table import (
        _read_file_stats, compact_table, scan_table,
    )

    target = str(tmp_path / "fs3")
    spark.range(2000).selectExpr(
        "id AS k",
        "cast(id div 1000 as int) AS bucket",
    ).repartition(4).write.partitionBy("bucket").parquet(target)
    compact_table(
        spark, target, ["bucket"], min_files=2, n_files=3,
        sort_within=["k"], file_stats_keys=["k"],
    )
    doc = _read_file_stats(spark, target)
    assert doc is not None and doc["keys"] == ["k"]
    got = scan_table(spark, target, ["bucket"], key_eq={"k": 42})
    assert [r.k for r in got.collect()] == [42]
    assert len(got.inputFiles()) == 1  # one file, one partition
    with _pytest.raises(ValueError, match="not in the table"):
        compact_table(
            spark, target, ["bucket"], min_files=2,
            file_stats_keys=["nope"],
        )


def test_bloom_positions_cross_engine(spark):
    """The pure-Python bloom probe must mirror the Column-math bits
    bit-for-bit — string, int, and date serializations."""
    import datetime

    from pyspark.sql import functions as F

    from config_driven_pyspark_spark.operators.table import (
        _BLOOM_WORDS, _bloom_positions_py, _bloom_prepare, _ser_stat,
    )

    samples = [
        ("s", "hello world", "string"),
        ("s", "", "string"),
        ("k", 1234567890123, "bigint"),
        ("k", -42, "bigint"),
        ("d", datetime.date(2024, 2, 29), "date"),
    ]
    for col, val, typ in samples:
        df = spark.createDataFrame([(val,)], f"{col} {typ}")
        pdf, aggs = _bloom_prepare(df, [col])
        row = pdf.agg(*aggs).collect()[0]
        got = set()
        for w in range(_BLOOM_WORDS):
            word = int(row[f"__bw_{col}_{w}"] or 0)
            for b in range(64):
                if (word >> b) & 1:
                    got.add(w * 64 + b)
        want = set(_bloom_positions_py(str(_ser_stat(val))))
        assert got == want, (val, sorted(got), sorted(want))


def test_bloom_prunes_unsorted_point_lookups(spark, tmp_path):
    """The bloom's reason to exist: UNSORTED files whose min/max span
    the whole key space (every merge batch's natural layout) still
    prune on point lookups; range queries can't and open them all.
    Results always equal the plain filtered read; a type-coerced
    lookup (float on a bigint key) falls back to ranges, never a
    false-negative skip."""
    from config_driven_pyspark_spark.operators.table import (
        _file_skip_paths, _read_file_stats, merge_upsert, scan_table,
    )

    target = str(tmp_path / "b1")
    # sparse EVEN keys so an in-range ABSENT key exists; ~62 rows per
    # file keeps the 1024-bit blooms far from saturation
    df = spark.range(1000).selectExpr(
        "id * 2 AS k",
        "cast(id % 2 as int) AS bucket",  # keys interleave buckets
        "cast(id as double) AS val",
    )
    # hash-scattered bootstrap: every file's key range spans ~everything
    merge_upsert(
        df.repartition(8), target, ["k"], partition_by=["bucket"],
    )
    doc = _read_file_stats(spark, target)
    b0 = [r for r in doc["files"] if r.startswith("bucket=0/")]
    assert len(b0) >= 4
    assert all("bloom" in doc["files"][r] for r in b0)
    # ranges are useless here: every file's span covers the probe key
    spans = [
        (doc["files"][r]["k"]["min"], doc["files"][r]["k"]["max"])
        for r in b0
    ]
    assert all(lo <= 1000 <= hi for lo, hi in spans)
    got = scan_table(spark, target, ["bucket"], key_eq={"k": 1000})
    assert [r.val for r in got.collect()] == [500.0]
    opened = [f for f in got.inputFiles() if "bucket=0" in f]
    # bloom membership pruned most files (tiny FP rate can admit 1-2)
    assert 1 <= len(opened) <= 2 < len(b0)
    # an IN-RANGE absent key (odd): every range admits, blooms reject
    miss = scan_table(spark, target, ["bucket"], key_eq={"k": 1001})
    assert miss.count() == 0 and len(miss.inputFiles()) <= 2
    # a range query on unsorted files opens them all (ranges overlap)
    rng = scan_table(
        spark, target, ["bucket"], key_between={"k": (1000, 1004)}
    )
    assert sorted(r.k for r in rng.collect()) == [1000, 1002, 1004]
    assert len([f for f in rng.inputFiles()
                if "bucket=0" in f]) == len(b0)
    # type-coerced lookup: float against bigint — bloom skipped, rows
    # still correct (Spark's comparison coerces)
    co = scan_table(spark, target, ["bucket"], key_eq={"k": 1000.0})
    assert [r.val for r in co.collect()] == [500.0]
    assert len([f for f in co.inputFiles()
                if "bucket=0" in f]) == len(b0)
    # the probe-side primitive: exact batch values prune files too
    paths = _file_skip_paths(
        spark, target, ["bucket=0"], 1, ["k"],
        {"k": (1000, 1000, False)}, {"k": [1000]},
    )
    assert paths is not None and 1 <= len(paths) <= 2
    # and an end-to-end small-batch merge stays exact through it
    st = merge_upsert(
        spark.createDataFrame(
            [(1000, 0, -5.0)], "k bigint, bucket int, val double"
        ),
        target, ["k"], partition_by=["bucket"],
    )
    assert st["n_matched"] == 1 and st["n_updated"] == 1
    assert spark.read.parquet(target).filter("k = 1000").collect()[
        0
    ].val == -5.0


def test_bloom_dropped_past_cap_and_absent_is_safe(spark, tmp_path,
                                                   monkeypatch):
    """Past _MAX_BLOOM_FILES a SHARD keeps ranges but sheds blooms
    (read-more, never read-less) — r14: the cap is per partition
    directory (the sharded sidecar's RMW unit), so only the shard the
    scoped commit rewrites past the cap degrades; untouched shards
    keep their membership bits. Entries without blooms behave like
    r13-early range-only skipping."""
    import config_driven_pyspark_spark.operators.table as T

    target = str(tmp_path / "b2")
    df = spark.range(1000).selectExpr(
        "id AS k", "cast(id % 2 as int) AS bucket",
        "cast(id as double) AS val",
    )
    T.merge_upsert(
        df.repartition(4), target, ["k"], partition_by=["bucket"],
    )
    monkeypatch.setattr(T, "_MAX_BLOOM_FILES", 1)
    st = T.merge_upsert(
        spark.createDataFrame(
            [(10, 0, -1.0)], "k bigint, bucket int, val double"
        ),
        target, ["k"], partition_by=["bucket"],
    )
    assert st["n_matched"] == 1
    doc = T._read_file_stats(spark, target)
    assert doc is not None
    by_dir = {}
    for rel, e in doc["files"].items():
        by_dir.setdefault(rel.rsplit("/", 1)[0], []).append(e)
    # the cap applies AT SHARD WRITE TIME: the bucket this merge
    # rewrote staged > cap files, so ITS shard shed blooms; the
    # untouched bucket's shard (written under the default cap at
    # bootstrap) legitimately keeps them
    assert len(by_dir["bucket=0"]) > 1
    assert all("bloom" not in e for e in by_dir["bucket=0"])
    assert any("bloom" in e for e in by_dir["bucket=1"])
    got = T.scan_table(spark, target, ["bucket"], key_eq={"k": 10})
    assert [r.val for r in got.collect()] == [-1.0]


def test_writer_lock_blocks_and_reclaims(spark, tmp_path):
    """A live lock makes a second writer fail loudly; a stale lock
    (crashed writer past its lease) is reclaimed automatically; an
    in-process failure always releases."""
    import os as _os
    import time as _time

    import pytest as _pytest

    from config_driven_pyspark_spark.operators.table import merge_upsert

    target = str(tmp_path / "t")
    _snapshot(spark, target, [(1, "a", 10)])
    batch = spark.createDataFrame([(2, "b", 20)],
                                  "id bigint, val string, qty bigint")
    # live lock -> loud failure, snapshot untouched
    open(f"{target}__lock", "w").close()
    with _pytest.raises(IOError, match="another process"):
        merge_upsert(batch, target, ["id"])
    assert spark.read.parquet(target).count() == 1
    # stale lock (mtime past the lease) -> reclaimed, merge proceeds
    old = _time.time() - 3600
    _os.utime(f"{target}__lock", (old, old))
    stats = merge_upsert(batch, target, ["id"])
    assert stats["n_after"] == 2
    assert not _os.path.exists(f"{target}__lock")
    # an in-process abort releases: a short staged count can't happen
    # here, so use a second live lock round-trip to prove release
    stats = merge_upsert(
        spark.createDataFrame([(3, "c", 30)],
                              "id bigint, val string, qty bigint"),
        target, ["id"],
    )
    assert stats["n_after"] == 3


def test_writer_lock_heartbeat_outlives_lease(spark, tmp_path):
    """A legitimate writer slower than the lease must NOT lose its lock:
    the heartbeat renews the mtime, so a second writer still fails
    loudly after the nominal lease has elapsed (ADVICE r12)."""
    import time as _time

    import pytest as _pytest

    from config_driven_pyspark_spark.operators.table import _WriterLock

    base = str(tmp_path / "t")
    with _WriterLock(spark, base, lease_seconds=2):
        _time.sleep(3.0)  # past the lease; heartbeat has renewed
        with _pytest.raises(IOError, match="another process"):
            with _WriterLock(spark, base, lease_seconds=2):
                pass
    # released cleanly afterwards
    with _WriterLock(spark, base, lease_seconds=2):
        pass


def test_writer_lock_detects_theft_and_deletion(spark, tmp_path):
    """__exit__ verifies ownership: it never deletes an entry another
    writer now owns, and raises on the success path when the entry was
    replaced or deleted mid-operation (ADVICE r12)."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from config_driven_pyspark_spark.operators.table import _WriterLock

    base = str(tmp_path / "t")

    def entry(lk):
        return f"{base}__lock.d/{lk.owner}.json"

    def drop_crc(path):
        crc = (f"{_os.path.dirname(path)}/."
               f"{_os.path.basename(path)}.crc")
        if _os.path.exists(crc):
            _os.remove(crc)

    # replaced: another owner's doc lands in our entry while held
    lk = _WriterLock(spark, base)
    lk.__enter__()
    with open(entry(lk), "w") as fh:
        _json.dump({"owner": "someone-else", "scope": None,
                    "created": 0}, fh)
    drop_crc(entry(lk))
    with _pytest.raises(IOError, match="was replaced"):
        lk.__exit__(None, None, None)
    # the thief's entry survives — we never delete what we lost
    assert _os.path.exists(entry(lk))
    _os.remove(entry(lk))
    drop_crc(entry(lk))
    # deleted out from under us: raise too (ownership unverifiable)
    lk = _WriterLock(spark, base)
    lk.__enter__()
    _os.remove(entry(lk))
    drop_crc(entry(lk))
    with _pytest.raises(IOError, match="was deleted"):
        lk.__exit__(None, None, None)
    # an exception path does NOT mask the original error with the
    # theft IOError — __exit__ returns falsy and raises nothing
    lk = _WriterLock(spark, base)
    lk.__enter__()
    _os.remove(entry(lk))
    drop_crc(entry(lk))
    assert lk.__exit__(ValueError, ValueError("boom"), None) is False


def test_scan_table_prunes_with_sidecar(spark, tmp_path):
    """Read-side data skipping: a key-range scan reads only the
    partition directories whose sidecar range intersects; results
    equal the plain filtered read; no sidecar degrades gracefully."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from config_driven_pyspark_spark.operators.table import (
        merge_upsert, scan_table,
    )

    target = str(tmp_path / "t")
    # key k is RANGE-correlated with the bucket partition, so sidecar
    # ranges are selective: bucket b holds k in [1000*b, 1000*b+999]
    df = spark.range(8000).selectExpr(
        "id AS k",
        "cast(id div 1000 as int) AS bucket",
        "cast(id as double) AS val",
    )
    # merge-bootstrap the snapshot: day-zero stats cover EVERY
    # partition (a plain write tracks nothing; later merges only widen
    # the partitions they touch)
    merge_upsert(df, target, ["k"], partition_by=["bucket"])
    merge_upsert(
        spark.createDataFrame([(5, 0, 5.5)],
                              "k bigint, bucket int, val double"),
        target, ["k"], partition_by=["bucket"],
    )
    assert os.path.exists(f"{target}/_key_stats/stats.json")

    got = scan_table(
        spark, target, ["bucket"], key_between={"k": (2500, 3200)}
    )
    exp = spark.read.parquet(target).filter("k BETWEEN 2500 AND 3200")
    assert sorted(r.k for r in got.collect()) == sorted(
        r.k for r in exp.collect()
    )
    touched = {f.split("bucket=")[1].split("/")[0]
               for f in got.inputFiles()}
    assert touched == {"2", "3"}  # 6 of 8 directories skipped

    eq = scan_table(spark, target, ["bucket"], key_eq={"k": 5})
    assert [r.val for r in eq.collect()] == [5.5]
    assert len({f for f in eq.inputFiles()}) >= 1
    eq_dirs = {f.split("bucket=")[1].split("/")[0]
               for f in eq.inputFiles()}
    assert eq_dirs == {"0"}

    # untracked column or missing sidecar -> plain filtered read
    all_dirs = scan_table(
        spark, target, ["bucket"], key_eq={"val": 5.5}
    )
    assert all_dirs.count() == 1
    with _pytest.raises(ValueError, match="needs key_eq"):
        scan_table(spark, target, ["bucket"])
    _ = F


# --- MERGE schema evolution (r14 — VERDICT r13 ask #4) -----------------


def _evo_seed(spark, path, partitioned=True):
    df = spark.createDataFrame(
        [(i, ["A", "B"][i % 2], float(i)) for i in range(20)],
        "k long, p string, v double",
    )
    w = df.write.mode("overwrite")
    if partitioned:
        w = w.partitionBy("p")
    w.parquet(path)


def test_merge_schema_evolution_update_all(spark, tmp_path):
    path = str(tmp_path / "t")
    _evo_seed(spark, path)
    batch = spark.createDataFrame(
        [(1, "B", 100.0, "web"), (40, "A", 400.0, "app")],
        "k long, p string, v double, channel string",
    )
    stats = merge_upsert(
        batch, path, ["k"], partition_by=["p"], schema_evolution=True,
    )
    assert stats["rewrite"] == "full"  # evolving merges can't scope
    got = {r["k"]: r["channel"]
           for r in spark.read.parquet(path).collect()}
    assert got[1] == "web" and got[40] == "app"
    assert got[0] is None  # survivors backfill NULL


def test_merge_schema_evolution_conditional_via_alter(spark, tmp_path):
    from config_driven_pyspark_spark.operators.history import (
        enable_table_history, table_history,
    )

    path = str(tmp_path / "t")
    _evo_seed(spark, path)
    enable_table_history(spark, path, ["p"])
    batch = spark.createDataFrame(
        [(2, "A", 2.5), (3, "B", 3.5)], "k long, p string, score double"
    )
    stats = merge_upsert(
        batch, path, ["k"], partition_by=["p"],
        schema_evolution=True,
        update_set={"score": "source.score",
                    "v": "target.v + source.score"},
        when_not_matched="none",
    )
    # the alter evolved the snapshot (full swap, its own version), the
    # conditional merge then scoped normally
    assert stats["rewrite"] == "partition", stats
    ops = [(r.op, r.mode) for r in table_history(spark, path)
           .orderBy("version").collect()]
    assert ops == [("alter", "full"), ("merge", "partition")], ops
    got = {r["k"]: (r["score"], r["v"])
           for r in spark.read.parquet(path).collect()}
    assert got[2] == (2.5, 4.5) and got[3] == (3.5, 6.5)
    assert got[0] == (None, 0.0)
    # a second conditional evolving merge with NO new columns stays a
    # plain scoped merge (no spurious alter version)
    batch2 = spark.createDataFrame([(4, "A", 9.0)],
                                   "k long, p string, score double")
    merge_upsert(
        batch2, path, ["k"], partition_by=["p"], schema_evolution=True,
        update_set={"score": "source.score"}, when_not_matched="none",
    )
    ops2 = [r.op for r in table_history(spark, path)
            .orderBy("version").collect()]
    assert ops2 == ["alter", "merge", "merge"], ops2


def test_merge_schema_evolution_type_conflict_refuses(spark, tmp_path):
    path = str(tmp_path / "t")
    _evo_seed(spark, path)
    batch = spark.createDataFrame(
        [(1, "B", 7)], "k long, p string, v int"  # v is double on disk
    )
    with pytest.raises(ValueError, match="conflicting types"):
        merge_upsert(batch, path, ["k"], partition_by=["p"],
                     schema_evolution=True)


def test_merge_schema_evolution_void_column_refuses(spark, tmp_path):
    path = str(tmp_path / "t")
    _evo_seed(spark, path)
    from pyspark.sql import functions as SF

    batch = spark.createDataFrame(
        [(1, "B", 1.0)], "k long, p string, v double"
    ).withColumn("mystery", SF.lit(None))
    with pytest.raises(ValueError, match="untyped"):
        merge_upsert(batch, path, ["k"], partition_by=["p"],
                     schema_evolution=True,
                     update_set={"mystery": "source.mystery"},
                     when_not_matched="none")


def test_lock_wait_queues_overlapping_writers(spark, tmp_path):
    """r14 (VERDICT r13 ask #8): with the opt-in lock wait, a second
    writer on an OVERLAPPING scope queues behind the live lease
    instead of erroring — both merges commit, versions stay distinct.
    The default (wait 0) keeps the loud-failure contract."""
    import threading

    from config_driven_pyspark_spark.operators.history import (
        enable_table_history, table_history,
    )

    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, "A", float(i)) for i in range(10)],
        "k long, p string, v double",
    ).write.partitionBy("p").parquet(path)
    enable_table_history(spark, path, ["p"])
    spark.conf.set("spark.cdp.lock.wait_seconds", "120")
    errs, done = [], []

    def run(lo):
        try:
            batch = spark.createDataFrame(
                [(lo, "A", -1.0)], "k long, p string, v double"
            )
            done.append(merge_upsert(batch, path, ["k"],
                                     partition_by=["p"]))
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    try:
        t1 = threading.Thread(target=run, args=(3,))
        t2 = threading.Thread(target=run, args=(7,))
        t1.start(); t2.start(); t1.join(); t2.join()
    finally:
        spark.conf.set("spark.cdp.lock.wait_seconds", "0")
    assert not errs, errs
    assert len(done) == 2
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got[3] == -1.0 and got[7] == -1.0 and len(got) == 10
    versions = [r.version for r in table_history(spark, path).collect()]
    assert sorted(versions) == [1, 2]  # distinct, both committed


def test_swap_verify_readback_conf(spark, tmp_path):
    """r15: the staged-count verification defaults to an Observation on
    the staging write's own execution; spark.cdp.verify.readback=true
    restores the second-pass read-back. Both must verify and commit the
    same merge."""
    from config_driven_pyspark_spark.operators.table import merge_upsert

    for i, conf in enumerate(("true", "false")):
        target = str(tmp_path / f"t{i}")
        _snapshot(spark, target, [(1, "a", 10), (2, "b", 20)])
        spark.conf.set("spark.cdp.verify.readback", conf)
        try:
            batch = spark.createDataFrame(
                [(2, "b2", 21), (3, "c", 30)],
                "id bigint, val string, qty bigint",
            )
            stats = merge_upsert(batch, target, ["id"])
        finally:
            spark.conf.unset("spark.cdp.verify.readback")
        assert stats["n_after"] == 3 and stats["n_updated"] == 1
        got = sorted(
            (r["id"], r["val"]) for r in spark.read.parquet(target).collect()
        )
        assert got == [(1, "a"), (2, "b2"), (3, "c")]
