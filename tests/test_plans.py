"""Checkpoint/lineage + hot-key skew-join behavior."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import final_plan, spark_confs


def test_checkpoint_stage_and_resume(spark, tmp_path):
    from azure_workflow_for_kml_satellite_spark.plans.checkpoint import CheckpointManager

    cm = CheckpointManager(spark, str(tmp_path), run_id="r1")
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out1 = cm.stage("s1", df)
    assert out1.count() == 100
    assert cm.stage_completed("s1")
    # resume: a poisoned input proves the checkpoint is read, not recomputed
    poison = spark.range(1).withColumn("v", F.lit(None).cast("long"))
    out2 = cm.stage("s1", poison)
    assert out2.count() == 100
    # ledger carries per-partition lineage rows + the __ALL__ row
    m = cm.metrics().collect()
    assert any(r["partition"] == "__ALL__" and r["rows"] == 100 for r in m)
    assert sum(1 for r in m if r["partition"] != "__ALL__") >= 1


def test_checkpoint_partitioned_resume(spark, tmp_path):
    from azure_workflow_for_kml_satellite_spark.plans.checkpoint import CheckpointManager

    cm = CheckpointManager(spark, str(tmp_path), run_id="r2")
    df1 = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], ["id", "part"])
    out1 = cm.partitioned_stage("st", df1, "part")
    assert out1.count() == 3
    assert cm.completed_partitions("st") == {"a", "b"}
    # second run adds partition c; a and b rows must NOT be recomputed/duplicated
    df2 = spark.createDataFrame(
        [(9, "a"), (4, "c")], ["id", "part"]  # the id=9 'a' row must be skipped
    )
    out2 = cm.partitioned_stage("st", df2, "part")
    rows = {(r["id"], r["part"]) for r in out2.collect()}
    assert rows == {(1, "a"), (2, "a"), (3, "b"), (4, "c")}


def test_partitioned_stage_escaped_leftover_wipe(spark, tmp_path):
    """Crash-window leftovers must be found through Spark's %XX partition
    directory escaping: a value containing ':' lands in 'part=x%3Ay', which
    a naive f'{col}={val}' wipe path misses — resume would then append a
    second copy of that partition's rows."""
    from azure_workflow_for_kml_satellite_spark.plans.checkpoint import CheckpointManager

    cm = CheckpointManager(spark, str(tmp_path), run_id="esc")
    df = spark.createDataFrame(
        [(1, "a b"), (2, "x:y"), (3, "x:y")], ["id", "part"]
    )
    # simulate the crash window: the x:y partition's parquet landed but its
    # ledger row did not
    out = tmp_path / "esc" / "st"
    df.filter(F.col("part") == "x:y").write.partitionBy("part").parquet(str(out))
    assert not (out / "part=x:y").exists()  # Spark escaped the ':'
    assert any("%3A" in p.name for p in out.iterdir())
    res = cm.partitioned_stage("st", df, "part")
    rows = sorted((r["id"], r["part"]) for r in res.collect())
    assert rows == [(1, "a b"), (2, "x:y"), (3, "x:y")]  # no doubled x:y rows
    assert cm.completed_partitions("st") == {"a b", "x:y"}


def test_partitioned_stage_commit_grain_resume(spark, tmp_path):
    """commit_grain > 1: values commit in groups; a crash after the first
    group's ledger append leaves that group durable, and the resume
    recomputes only the remaining values with per-value ledger rows."""
    from azure_workflow_for_kml_satellite_spark.plans.checkpoint import CheckpointManager

    cm = CheckpointManager(spark, str(tmp_path), run_id="grain")
    df = spark.range(40).withColumn("grp", (F.col("id") % 4).cast("string"))
    orig = cm._append_ledger
    calls = {"n": 0}

    def dying(rows):
        orig(rows)
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash after first commit group")

    cm._append_ledger = dying
    with pytest.raises(RuntimeError, match="simulated crash"):
        cm.partitioned_stage("st", df, "grp", commit_grain=2)
    assert cm.completed_partitions("st") == {"0", "1"}  # first group durable
    cm2 = CheckpointManager(spark, str(tmp_path), run_id="grain")
    out = cm2.partitioned_stage("st", df, "grp", commit_grain=2)
    assert out.count() == 40
    ledger = [r for r in cm2.ledger_rows() if r["stage"] == "st"]
    assert {r["partition"] for r in ledger} == {"0", "1", "2", "3"}
    assert all(r["rows"] == 10 for r in ledger)  # per-value verified counts


def test_salting_spreads_hot_cell(spark):
    """A hot join key (2900 of 3000 rows in cell 7) with broadcast off: AQE's
    skew join splits the hot shuffle partition, and the join loses and
    duplicates no row."""
    big = spark.range(0, 3000).select(
        F.when(F.col("id") < 2900, F.lit(7)).otherwise(F.lit(8)).alias("cell"),
        F.col("id").alias("k"),
    )
    small = spark.createDataFrame([(7, "x"), (8, "y")], ["cell", "payload"])
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    with spark_confs(spark, confs):
        joined = big.join(small, "cell")
        rows = joined.collect()
    assert len(rows) == 3000  # no rows lost or duplicated
    assert sum(r["cell"] == 8 and r["payload"] == "y" for r in rows) == 100
    assert "SortMergeJoin(skew=true)" in final_plan(joined)


def test_mid_stage_kill_then_resume_completes(spark, tmp_path):
    """Simulate a job dying mid-partitioned-stage: only some partitions are
    committed to the table ledger; a NEW manager on the same run_id resumes,
    recomputes only the missing partitions, and the final table is complete."""
    from pyspark.sql import functions as F

    from azure_workflow_for_kml_satellite_spark.plans.checkpoint import (
        CheckpointManager,
    )

    df = spark.range(100).withColumn("grp", (F.col("id") % 5).cast("string"))

    cm1 = CheckpointManager(spark, str(tmp_path), run_id="run1")
    # first attempt "dies" after finishing groups 0 and 1 only
    cm1.partitioned_stage("st", df.filter(F.col("grp").isin("0", "1")), "grp")
    assert cm1.completed_partitions("st") == {"0", "1"}

    cm2 = CheckpointManager(spark, str(tmp_path), run_id="run1")  # fresh process
    out = cm2.partitioned_stage("st", df, "grp")
    assert out.count() == 100
    assert cm2.completed_partitions("st") == {"0", "1", "2", "3", "4"}
    # the resume attempt must have computed ONLY the 3 missing partitions
    resumed_rows = [
        r for r in cm2.ledger_rows() if r["stage"] == "st" and r["partition"] in ("2", "3", "4")
    ]
    assert len(resumed_rows) == 3
    led = cm2.ledger()
    assert led.filter(F.col("stage") == "st").count() == 5


def test_legacy_json_ledger_migrates(spark, tmp_path):
    """A pre-table JSON ledger must migrate into the parquet ledger on read —
    not be silently ignored (which would re-run completed stages and
    double-append completed partitions)."""
    import json

    from pyspark.sql import functions as F

    from azure_workflow_for_kml_satellite_spark.plans.checkpoint import CheckpointManager

    run_dir = tmp_path / "legacy"
    ledger_dir = run_dir / "_ledger"
    ledger_dir.mkdir(parents=True)
    (ledger_dir / "st.json").write_text(
        json.dumps(
            [
                {"run_id": "legacy", "stage": "st", "partition": "0",
                 "rows": 10, "duration_s": 1.0, "status": "completed",
                 "ts": "2026-01-01T00:00:00"},
                {"run_id": "legacy", "stage": "st", "partition": "1",
                 "rows": 10, "duration_s": 1.0, "status": "completed",
                 "ts": "2026-01-01T00:00:00"},
            ]
        )
    )
    cm = CheckpointManager(spark, str(tmp_path), run_id="legacy")
    assert cm.completed_partitions("st") == {"0", "1"}
    # migration is one-shot: json renamed, parquet rows persist
    assert not [p for p in ledger_dir.glob("*.json") if not p.name.startswith("_migrated_")]
    assert list(ledger_dir.glob("_migrated_*.json"))
    assert cm.completed_partitions("st") == {"0", "1"}
    # resume computes only the missing partitions
    df = spark.range(40).withColumn("grp", (F.col("id") % 4).cast("string"))
    cm.partitioned_stage("st", df, "grp")
    assert cm.completed_partitions("st") == {"0", "1", "2", "3"}


def test_legacy_json_ledger_bad_format_raises(spark, tmp_path):
    import pytest

    from azure_workflow_for_kml_satellite_spark.plans.checkpoint import CheckpointManager

    ledger_dir = tmp_path / "bad" / "_ledger"
    ledger_dir.mkdir(parents=True)
    (ledger_dir / "x.json").write_text("{not json")
    cm = CheckpointManager(spark, str(tmp_path), run_id="bad")
    with pytest.raises(RuntimeError, match="incompatible ledger format"):
        cm.ledger()


def test_ledger_two_writer_race_serializes(spark, tmp_path):
    """Concurrent-writer fence: two threads appending to the SAME run's
    ledger must serialize through the exclusive snapshot link — every row
    survives, snapshot ids are consecutive, and each manifest's file list
    extends its parent's."""
    import threading

    from azure_workflow_for_kml_satellite_spark.plans.checkpoint import CheckpointManager

    cm = CheckpointManager(spark, str(tmp_path), run_id="race")
    errs = []

    def write(worker: int) -> None:
        try:
            w = CheckpointManager(spark, str(tmp_path), run_id="race")
            for i in range(3):
                w._append_ledger(
                    [
                        {
                            "run_id": "race",
                            "stage": f"s{worker}",
                            "partition": str(i),
                            "rows": 1,
                            "duration_s": 0.0,
                            "status": "completed",
                            "ts": "2026-01-01T00:00:00",
                        }
                    ]
                )
        except Exception as exc:  # pragma: no cover - surfaced via errs
            errs.append(exc)

    threads = [threading.Thread(target=write, args=(k,)) for k in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    rows = cm.ledger_rows()
    assert len(rows) == 12  # 4 writers x 3 appends, none lost
    assert {(r["stage"], r["partition"]) for r in rows} == {
        (f"s{k}", str(i)) for k in range(4) for i in range(3)
    }
    sids = cm.snapshots()
    assert sids == list(range(1, 13))  # one snapshot per append, consecutive
    prev: list = []
    for sid in sids:
        files = cm._read_manifest(sid)["files"]
        assert set(prev).issubset(files) and len(files) == len(prev) + 1
        prev = files


def test_ledger_time_travel_and_read_at_snapshot_resume(spark, tmp_path):
    """Snapshot isolation: a manager pinned to snapshot_id=N sees the
    ledger as of N — so a resume at that snapshot re-runs exactly the
    partitions committed after it."""
    from azure_workflow_for_kml_satellite_spark.plans.checkpoint import CheckpointManager

    cm = CheckpointManager(spark, str(tmp_path), run_id="tt")
    df = spark.range(40).withColumn("grp", (F.col("id") % 4).cast("string"))
    cm.partitioned_stage("st", df.filter(F.col("grp").isin("0", "1")), "grp")
    s1 = cm.current_snapshot_id()
    cm.partitioned_stage("st", df, "grp")  # completes grp 2 and 3
    s2 = cm.current_snapshot_id()
    assert s2 > s1
    # head sees everything
    assert cm.completed_partitions("st") == {"0", "1", "2", "3"}
    # pinned reader sees the world as of s1
    pinned = CheckpointManager(spark, str(tmp_path), run_id="tt", snapshot_id=s1)
    assert pinned.completed_partitions("st") == {"0", "1"}
    # resume at s1: the left-anti skip list is the pinned snapshot's — the
    # post-s1 partitions would recompute
    todo = df.join(
        spark.createDataFrame([(v,) for v in pinned.completed_partitions("st")], ["grp"]),
        "grp",
        "left_anti",
    )
    assert {r["grp"] for r in todo.select("grp").distinct().collect()} == {"2", "3"}
    # unknown snapshot is an explicit error
    import pytest

    bad = CheckpointManager(spark, str(tmp_path), run_id="tt", snapshot_id=999)
    with pytest.raises(ValueError, match="unknown ledger snapshot"):
        bad.ledger_rows()


def test_ledger_expire_snapshots_and_remove_orphans(spark, tmp_path):
    """expire_snapshots drops old manifests (time travel to them then
    errors; the head keeps working); remove_orphans deletes commit files
    no surviving manifest references — including a crashed writer's
    staged-but-uncommitted file — and never a referenced one."""
    import pytest

    from azure_workflow_for_kml_satellite_spark.plans.checkpoint import CheckpointManager

    cm = CheckpointManager(spark, str(tmp_path), run_id="gc")
    row = {
        "run_id": "gc", "stage": "s", "partition": "0", "rows": 1,
        "duration_s": 0.0, "status": "completed", "ts": "2026-01-01T00:00:00",
    }
    for i in range(4):
        cm._append_ledger([{**row, "partition": str(i)}])
    assert cm.snapshots() == [1, 2, 3, 4]
    # a crashed writer's orphan: staged data file, no manifest
    (cm.ledger_dir / "commit-deadbeef.parquet").write_bytes(b"not-a-real-commit")
    assert len(cm.ledger_rows()) == 4  # invisible to readers

    expired = cm.expire_snapshots(keep_last=2)
    assert expired == [1, 2] and cm.snapshots() == [3, 4]
    with pytest.raises(ValueError, match="unknown ledger snapshot"):
        CheckpointManager(spark, str(tmp_path), run_id="gc", snapshot_id=1).ledger_rows()
    # head still reads all four rows (snapshot 4 references every file)
    assert len(cm.ledger_rows()) == 4

    # grace period (round-5 ADVICE): a just-staged file could be an
    # in-flight append whose manifest hasn't linked yet — default GC skips it
    assert cm.remove_orphans() == []
    removed = cm.remove_orphans(older_than_s=0)
    assert removed == ["commit-deadbeef.parquet"]
    assert len(cm.ledger_rows()) == 4  # referenced files untouched
    # expire to head-only then orphan-collect: files only in snapshots 1-3
    # are all still in 4's list (append-only), so nothing else is removed
    cm.expire_snapshots(keep_last=1)
    assert cm.remove_orphans(older_than_s=0) == []
    assert len(cm.ledger_rows()) == 4


def test_ledger_rollback_commit_branches_history(spark, tmp_path):
    """Committing through a snapshot-pinned manager branches history at
    the pinned snapshot (Iceberg rollback): the abandoned tail's rows
    disappear from the new head, the pin clears so the manager then works
    at its own head, and the orphaned tail files become collectable once
    their manifests expire."""
    from azure_workflow_for_kml_satellite_spark.plans.checkpoint import CheckpointManager

    cm = CheckpointManager(spark, str(tmp_path), run_id="rb")
    row = {
        "run_id": "rb", "stage": "s", "partition": "0", "rows": 1,
        "duration_s": 0.0, "status": "completed", "ts": "2026-01-01T00:00:00",
    }
    for i in range(4):
        cm._append_ledger([{**row, "partition": str(i)}])  # snapshots 1..4
    pinned = CheckpointManager(spark, str(tmp_path), run_id="rb", snapshot_id=2)
    assert {r["partition"] for r in pinned.ledger_rows()} == {"0", "1"}
    pinned._append_ledger([{**row, "partition": "redo-2"}])
    # new head (snapshot 5) = snapshot 2's files + the new commit
    assert pinned.snapshot_id is None  # pin cleared after branching
    assert {r["partition"] for r in pinned.ledger_rows()} == {"0", "1", "redo-2"}
    head = CheckpointManager(spark, str(tmp_path), run_id="rb")
    assert {r["partition"] for r in head.ledger_rows()} == {"0", "1", "redo-2"}
    assert head._read_manifest(head.current_snapshot_id())["parent"] == 2
    # abandoned tail (snapshots 3-4) still time-travelable until expired...
    old = CheckpointManager(spark, str(tmp_path), run_id="rb", snapshot_id=4)
    assert {r["partition"] for r in old.ledger_rows()} == {"0", "1", "2", "3"}
    # ...then its files orphan and collect
    head.expire_snapshots(keep_last=1)
    removed = head.remove_orphans(older_than_s=0)
    assert len(removed) == 2  # the files that only snapshots 3/4 referenced
    assert {r["partition"] for r in head.ledger_rows()} == {"0", "1", "redo-2"}


def test_ledger_pinned_commit_on_expired_snapshot_raises_value_error(spark, tmp_path):
    """A manager pinned to an expired/unknown snapshot must fail its first
    commit with the same documented ValueError the read path raises, not a
    raw FileNotFoundError (round-5 ADVICE fix)."""
    import pytest

    from azure_workflow_for_kml_satellite_spark.plans.checkpoint import CheckpointManager

    cm = CheckpointManager(spark, str(tmp_path), run_id="px")
    row = {
        "run_id": "px", "stage": "s", "partition": "0", "rows": 1,
        "duration_s": 0.0, "status": "completed", "ts": "2026-01-01T00:00:00",
    }
    for i in range(3):
        cm._append_ledger([{**row, "partition": str(i)}])
    cm.expire_snapshots(keep_last=1)
    stale = CheckpointManager(spark, str(tmp_path), run_id="px", snapshot_id=1)
    with pytest.raises(ValueError, match="unknown ledger snapshot 1"):
        stale._append_ledger([{**row, "partition": "redo"}])
    never = CheckpointManager(spark, str(tmp_path), run_id="px", snapshot_id=77)
    with pytest.raises(ValueError, match="unknown ledger snapshot 77"):
        never._append_ledger([{**row, "partition": "redo"}])
