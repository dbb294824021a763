"""LakeTable's snapshot manifests on the parquet path: time travel,
compaction, expiry, epoch commits and CAS concurrency — the Iceberg
contract without a catalog."""

from __future__ import annotations

import datetime as dt

import pytest

from matano_spark.lake import LakeTable


def _table(spark, path, ts_col="ts"):
    return LakeTable(spark, "snap_t", str(path), ts_col=ts_col, use_iceberg=False)


def _rows(spark, ids, hour):
    return spark.createDataFrame(
        [(i, dt.datetime(2024, 5, 1, hour, 0, 0)) for i in ids],
        "id long, ts timestamp",
    )


def test_append_time_travel_and_read(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    s0 = t.append(_rows(spark, [1, 2], 10))
    s1 = t.append(_rows(spark, [3], 11))
    assert (s0, s1) == (0, 1)
    assert {r["id"] for r in t.read().collect()} == {1, 2, 3}
    assert {r["id"] for r in t.read(at_snapshot=0).collect()} == {1, 2}
    # hour partition column landed
    assert t.read().select("ts_hour").distinct().count() == 2


def test_overwrite_keeps_history_until_expiry(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    t.append(_rows(spark, [1, 2], 10))
    old_files = t.snapshot()["files"]
    t.overwrite(_rows(spark, [9], 12))
    assert {r["id"] for r in t.read().collect()} == {9}
    # history still readable
    assert {r["id"] for r in t.read(at_snapshot=0).collect()} == {1, 2}

    res = t.expire_snapshots(keep_last=1)
    assert res["expired_snapshots"] == [0]
    assert res["removed_files"] == old_files  # orphaned by the overwrite
    # current read unaffected; time travel to 0 now refuses
    assert {r["id"] for r in t.read().collect()} == {9}
    with pytest.raises(KeyError):
        t.read(at_snapshot=0)
    # the latest snapshot always stays, whatever keep_last asks
    assert t.expire_snapshots(keep_last=0)["retained"] == [1]
    assert {r["id"] for r in t.read().collect()} == {9}


def test_expiry_spares_a_commit_in_flight(spark, tmp_path):
    """An append whose files are under the root but whose manifest is
    not yet published keeps its files through an expiry; such files and
    a dead writer's staging directory go once they are old."""
    import os

    t = _table(spark, tmp_path / "t")
    t.append(_rows(spark, [1], 10))
    t.overwrite(_rows(spark, [2], 10))
    in_flight = t._land(_rows(spark, [3], 11))["files"]
    staging = tmp_path / "t" / "_staging" / "dead"
    staging.mkdir(parents=True)
    res = t.expire_snapshots(keep_last=1)
    assert res["expired_snapshots"] == [0]
    assert not set(in_flight) & set(res["removed_files"])
    assert all((tmp_path / "t" / f).exists() for f in in_flight)
    assert staging.exists()

    old = 1_000_000_000  # 2001
    for path in [tmp_path / "t" / f for f in in_flight] + [staging]:
        os.utime(path, (old, old))
    res = t.expire_snapshots(keep_last=1)
    assert res["removed_files"] == sorted(in_flight)
    assert not staging.exists()
    assert {r["id"] for r in t.read().collect()} == {2}


def test_compact_rewrites_to_one_dir_same_rows(spark, tmp_path):
    """Three appends to one hour leave three files; compaction rewrites
    them into one file of the same rows."""
    t = _table(spark, tmp_path / "t")
    for batch in ([1], [2], [3]):
        t.append(_rows(spark, batch, 10))
    appended = t.snapshot()["files"]
    assert len(appended) == 3
    before = {r["id"] for r in t.read().collect()}
    sid = t.compact()
    m = t.snapshot(sid)
    assert m["op"] == "compact"
    assert len(m["files"]) == 1
    assert {r["id"] for r in t.read().collect()} == before == {1, 2, 3}
    # expiry after compaction frees the three small append files
    res = t.expire_snapshots(keep_last=1)
    assert res["removed_files"] == appended
    assert {r["id"] for r in t.read().collect()} == before


def test_merge_by_key_upserts_with_history(spark, tmp_path):
    t = _table(spark, tmp_path / "t")
    base = spark.createDataFrame(
        [(1, "a", dt.datetime(2024, 5, 1, 10)), (2, "b", dt.datetime(2024, 5, 1, 10))],
        "id long, v string, ts timestamp",
    )
    t.append(base)
    upd = spark.createDataFrame(
        [(2, "B2", dt.datetime(2024, 5, 1, 11)), (3, "c", dt.datetime(2024, 5, 1, 11))],
        "id long, v string, ts timestamp",
    )
    sid = t.merge_by_key(upd, ["id"])
    now = {r["id"]: r["v"] for r in t.read().collect()}
    assert now == {1: "a", 2: "B2", 3: "c"}
    # the pre-merge state is still a snapshot away
    before = {r["id"]: r["v"] for r in t.read(at_snapshot=sid - 1).collect()}
    assert before == {1: "a", 2: "b"}


def test_snapshot_ingest_epoch_commits_and_replay(spark, tmp_path):
    """run_ingest commits one snapshot per micro-batch; each batch is
    readable as of its own snapshot."""
    import json as _json

    from pyspark.sql import types as T

    from matano_spark.streaming.ingest import run_ingest

    src = tmp_path / "src"
    src.mkdir()
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("ts", T.TimestampType())]
    )

    def deliver(name, ids):
        with open(src / name, "w") as f:
            for i in ids:
                f.write(
                    _json.dumps({"id": i, "ts": "2024-05-01T10:00:00Z"}) + "\n"
                )

    def ingest():
        run_ingest(
            spark, str(src), schema, lambda df: df,
            str(tmp_path / "lake"), str(tmp_path / "ckpt"), str(tmp_path / "q"),
        ).awaitTermination(120)

    deliver("b0.jsonl", [1, 2])
    ingest()
    deliver("b1.jsonl", [3])
    ingest()

    t = _table(spark, tmp_path / "lake")
    assert t.snapshot_ids() == [0, 1]
    assert {r["id"] for r in t.read().collect()} == {1, 2, 3}
    assert {r["id"] for r in t.read(at_snapshot=0).collect()} == {1, 2}
    assert list(t.snapshot()["epochs"].values()) == [1]


def test_compact_between_epochs_survives_next_commit(spark, tmp_path):
    """A compact() between micro-batches shares the snapshot id space
    with epoch commits: the next epoch keeps the compacted rows, and a
    replayed epoch still lands nothing."""
    t = _table(spark, tmp_path / "t")
    t.append(_rows(spark, [1, 2], 10), epoch=("s", 0))
    t.append(_rows(spark, [3], 10), epoch=("s", 1))
    epoch_files = t.snapshot()["files"]
    cid = t.compact()
    t.append(_rows(spark, [4], 11), epoch=("s", 2))
    # all rows — including the compacted ones — are in the latest view
    assert {r["id"] for r in t.read().collect()} == {1, 2, 3, 4}
    assert t.snapshot_ids() == [0, 1, 2, 3]
    assert t.snapshot(2)["op"] == "compact" and cid == 2
    # epoch replay is idempotent: re-commit of epoch 2 adds no
    # manifest and no rows
    assert t.append(_rows(spark, [4], 11), epoch=("s", 2)) is None
    assert t.snapshot_ids() == [0, 1, 2, 3]
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2, 3, 4]
    # another stream's epoch 2 is its own batch
    t.append(_rows(spark, [5], 11), epoch=("other", 2))
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2, 3, 4, 5]
    # expiry sweeps the epoch files once compaction supersedes them
    t.compact()
    res = t.expire_snapshots(keep_last=1)
    assert set(epoch_files) <= set(res["removed_files"])
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2, 3, 4, 5]


def test_merge_by_key_deterministic_on_duplicate_incoming(spark, tmp_path):
    """Duplicate keys WITHIN one incoming batch resolve to the same
    keeper on every run (stable-hash tiebreaker)."""
    t = _table(spark, tmp_path / "t", ts_col="nope")
    base = spark.createDataFrame([(1, "x")], "id long, v string")
    t.overwrite(base)
    dup = spark.createDataFrame(
        [(1, "a"), (1, "b"), (2, "c")], "id long, v string"
    )
    picks = set()
    for _ in range(3):
        t2 = _table(spark, tmp_path / "t", ts_col="nope")
        t2.merge_by_key(dup.repartition(7), ["id"])
        picks.add(tuple(sorted((r["id"], r["v"]) for r in t2.read().collect())))
    assert len(picks) == 1
    assert dict(next(iter(picks)))[2] == "c"


def test_cas_commit_refuses_taken_id(spark, tmp_path):
    """The CAS primitive: a manifest id can be published exactly once."""
    t = _table(spark, tmp_path / "t")
    t.append(_rows(spark, [1], 10))
    stale = {"id": 0, "parent": None, "op": "append", "files": ["x.parquet"],
             "schema": t.snapshot()["schema"], "epochs": {}}
    assert t._try_commit(stale) is False
    # and the real manifest is untouched
    assert {r["id"] for r in t.read().collect()} == {1}


def test_concurrent_appenders_no_lost_update(spark, tmp_path):
    """Two writers interleaving appends on the same table: every row
    lands, the snapshot chain is linear, and no commit is overwritten."""
    import threading

    path = tmp_path / "t"
    errs: list[Exception] = []

    def writer(offset):
        try:
            w = _table(spark, path)
            for i in range(4):
                w.append(_rows(spark, [offset + i], 10))
        except Exception as e:  # surface in the main thread
            errs.append(e)

    t1 = threading.Thread(target=writer, args=(100,))
    t2 = threading.Thread(target=writer, args=(200,))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs
    t = _table(spark, path)
    # linear chain: ids 0..7, each parent = predecessor
    assert t.snapshot_ids() == list(range(8))
    assert [t.snapshot(i)["parent"] for i in range(8)] == [None] + list(range(7))
    # union of both writers' rows — nothing lost
    got = sorted(r["id"] for r in t.read().collect())
    assert got == [100, 101, 102, 103, 200, 201, 202, 203]


def test_merge_lost_update_protection(spark, tmp_path):
    """A merge computed against a stale basis must not publish: simulate
    by committing an append between the merge's basis read and its CAS
    (the retry recomputes and keeps the interleaved row)."""
    path = tmp_path / "t"
    t = _table(spark, path, ts_col="nope")
    t.overwrite(spark.createDataFrame([(1, "x")], "id long, v string"))

    racer = _table(spark, path, ts_col="nope")
    orig_try = t._try_commit
    fired = {}

    def interleave(manifest):
        if not fired:
            fired["yes"] = True
            racer.append(spark.createDataFrame([(7, "z")], "id long, v string"))
        return orig_try(manifest)

    t._try_commit = interleave  # type: ignore[method-assign]
    t.merge_by_key(
        spark.createDataFrame([(1, "y")], "id long, v string"), ["id"]
    )
    rows = {r["id"]: r["v"] for r in t.read().collect()}
    assert rows == {1: "y", 7: "z"}  # merged AND the racer's row kept
