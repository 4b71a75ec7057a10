"""Table maintenance on the snapshot seam (r06): compact /
expire_snapshots / remove_orphans — the Iceberg maintenance actions
(rewrite_data_files, expire_snapshots, remove_orphan_files) a standing
landing zone needs once streaming ingest commits one snapshot per
micro-batch (SURVEY.md §2.1 S2; io/snapshots.py docstrings map each
method 1:1)."""

from __future__ import annotations

import glob
import json
import os
import re

import pytest
from pyspark.sql import functions as F

from pie_spark.io.snapshots import CommitConflictError, SnapshotTable


def _files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def _rows(df) -> set[tuple]:
    return {tuple(r) for r in df.collect()}


def test_compact_rewrites_files_preserves_content(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(1000).select(
        F.col("id").cast("string").alias("doc_id"), (F.col("id") % 7).alias("x")
    )
    t.commit({"d": df.repartition(64), "other": spark.range(5).toDF("id")})
    before = _rows(t.scan(spark, "d"))
    assert len(_files(t.snapshots()[-1].datasets["d"])) >= 32

    sid = t.compact(spark, "d", target_files=4)
    assert t.current_snapshot() == sid
    snap = t.snapshots()[-1]
    assert len(_files(snap.datasets["d"])) <= 4
    assert _rows(t.scan(spark, "d")) == before
    assert snap.meta["operation"] == "compact"


def test_compact_carries_other_datasets_by_reference(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit({"d": spark.range(100).toDF("id"), "other": spark.range(9).toDF("id")})
    s1 = t.snapshots()[-1]
    t.compact(spark, "d", target_files=2)
    s2 = t.snapshots()[-1]
    # unchanged dataset: same dir, no rewrite (Iceberg shares manifests)
    assert s2.datasets["other"] == s1.datasets["other"]
    assert s2.datasets["d"] != s1.datasets["d"]
    # time travel to the pre-compaction snapshot still works
    assert _rows(t.scan(spark, "d", snapshot_id=s1.id)) == _rows(
        t.scan(spark, "d", snapshot_id=s2.id)
    )


def test_compact_preserves_directory_partitioning(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(200).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("bucket")
    )
    t.commit_partitioned({"d": (df.repartition(16), ["bucket"])})
    before = _rows(t.scan(spark, "d"))
    t.compact(spark, "d", target_files=1)
    snap = t.snapshots()[-1]
    # partition dirs survive the rewrite → pruning still possible
    assert glob.glob(os.path.join(snap.datasets["d"], "bucket=*"))
    assert _rows(t.scan(spark, "d")) == before
    assert snap.partitions["d"] == ["bucket"]


def test_compact_validates_concurrent_replacement(spark, tmp_path):
    """A writer replacing the dataset between the rewrite-read and the
    publish must abort the compaction (Iceberg rewrite validation) —
    a blind commit would silently drop the writer's data."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit({"d": spark.range(10).toDF("id")})
    base = t.current_snapshot()
    # the concurrent writer wins first
    t.commit({"d": spark.range(99).toDF("id")})
    with pytest.raises(CommitConflictError, match="replaced concurrently"):
        t.compact(spark, "d", expected_snapshot_id=base)
    # the winner's data is intact and current
    assert _rows(t.scan(spark, "d")) == {(i,) for i in range(99)}
    # the aborted rewrite dir was cleaned up: nothing orphaned
    assert t.remove_orphans(older_than_sec=0.0) == []


def test_expire_snapshots_prunes_metadata_then_files(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    for n in (10, 20, 30):
        t.commit({"d": spark.range(n).toDF("id")})
    dirs = [s.datasets["d"] for s in t.snapshots()]
    expired = t.expire_snapshots(keep_last=1)
    assert expired == [1, 2]
    assert [s.id for s in t.snapshots()] == [3]
    # expired data dirs gone, current intact
    assert not os.path.exists(dirs[0]) and not os.path.exists(dirs[1])
    assert _rows(t.scan(spark, "d")) == {(i,) for i in range(30)}
    # time travel past the horizon raises, like Iceberg
    with pytest.raises(ValueError, match="not found"):
        t.scan(spark, "d", snapshot_id=1)


def test_expire_keeps_dirs_shared_with_retained_snapshots(spark, tmp_path):
    """Compaction snapshots carry unchanged datasets forward by
    reference; expiring the pre-compaction snapshot must NOT delete a
    dir the retained snapshot still points at."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit({"d": spark.range(50).toDF("id"), "other": spark.range(7).toDF("id")})
    t.compact(spark, "d", target_files=1)
    shared_other = t.snapshots()[-1].datasets["other"]
    old_d = t.snapshots()[0].datasets["d"]
    assert t.expire_snapshots(keep_last=1) == [1]
    assert os.path.exists(shared_other)  # shared → retained
    assert not os.path.exists(old_d)  # only the old rewrite dies
    assert _rows(t.scan(spark, "other")) == {(i,) for i in range(7)}


def test_remove_orphans_age_guarded(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit({"d": spark.range(5).toDF("id")})
    # a crashed commit: data written, CAS never reached
    orphan = os.path.join(t.root, "d", "snap-deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-0.parquet"), "wb") as f:
        f.write(b"x")
    # fresh dirs are protected (an in-flight writer looks exactly like
    # this) …
    assert t.remove_orphans(older_than_sec=3600.0) == []
    assert os.path.exists(orphan)
    # … old ones are collected; referenced dirs never touched
    assert t.remove_orphans(older_than_sec=0.0) == [orphan]
    assert not os.path.exists(orphan)
    assert _rows(t.scan(spark, "d")) == {(i,) for i in range(5)}


def test_append_accumulates_then_compacts(spark, tmp_path):
    """Fast-append (Iceberg): each append publishes a snapshot
    referencing the previous dirs PLUS one new dir — no rewrite.
    Compaction folds the grown list back to one dir; time travel to the
    pre-compaction snapshot still reads the union."""
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit({"d": spark.range(0, 100).toDF("id")})
    t.append({"d": spark.range(100, 200).toDF("id")})
    t.append({"d": spark.range(200, 300).toDF("id")})
    assert len(t.snapshots()[-1].datasets["d"]) == 3  # list of dirs
    full = {(i,) for i in range(300)}
    assert _rows(t.scan(spark, "d")) == full

    pre = t.current_snapshot()
    t.compact(spark, "d", target_files=2)
    assert isinstance(t.snapshots()[-1].datasets["d"], str)  # folded
    assert _rows(t.scan(spark, "d")) == full
    assert _rows(t.scan(spark, "d", snapshot_id=pre)) == full


def test_add_files_idempotent_by_path_and_key(spark, tmp_path):
    """The foreachBatch bridge: registering an already-written dir is
    zero-copy; a retried epoch is a no-op by path, and by KEY even after
    compaction folded the path away (the case path-idempotence misses)."""
    t = SnapshotTable(str(tmp_path / "t"))
    ext = str(tmp_path / "batch-000001")
    spark.range(50).toDF("id").write.parquet(ext)

    s1 = t.add_files("d", ext, key="epoch-1")
    assert t.add_files("d", ext, key="epoch-1") == s1  # path + key no-op
    assert t.add_files("d", ext) == s1  # path no-op
    assert _rows(t.scan(spark, "d")) == {(i,) for i in range(50)}

    t.compact(spark, "d", target_files=1)  # folds ext out of the list
    cur = t.current_snapshot()
    # retried epoch after the fold: path is gone from metadata, but the
    # applied key survives → still a no-op, no duplicate rows
    assert t.add_files("d", ext, key="epoch-1") == cur
    assert _rows(t.scan(spark, "d")) == {(i,) for i in range(50)}

    # add_files_many: the same two idempotencies, over several datasets
    # published in one snapshot
    ext2, ext3 = str(tmp_path / "batch-000002"), str(tmp_path / "batch-000003")
    spark.range(50, 60).toDF("id").write.parquet(ext2)
    spark.range(7).toDF("id").write.parquet(ext3)
    many = {"d": ext2, "e": ext3}
    s2 = t.add_files_many(many, key="epoch-2")
    assert s2 == cur + 1
    assert t.add_files_many(many, key="epoch-2") == s2  # key no-op
    assert t.add_files_many(many) == s2  # path no-op
    assert _rows(t.scan(spark, "d")) == {(i,) for i in range(60)}
    assert _rows(t.scan(spark, "e")) == {(i,) for i in range(7)}

    t.compact(spark, "d", target_files=1)  # folds ext2 out of the list
    cur = t.current_snapshot()
    assert t.add_files_many(many, key="epoch-2") == cur
    assert _rows(t.scan(spark, "d")) == {(i,) for i in range(60)}
    assert _rows(t.scan(spark, "e")) == {(i,) for i in range(7)}


def test_writer_snapshot_records(spark, tmp_path):
    """Pins the metadata JSON each writer publishes: one new version per
    write, the record keys, the ``operation`` tag, the parent link, and
    the datasets/partitions carried forward from the parent."""
    t = SnapshotTable(str(tmp_path / "t"))
    ext1, ext2, ext3 = (str(tmp_path / f"batch-{i}") for i in (1, 2, 3))
    for p in (ext1, ext2, ext3):
        spark.range(4).toDF("id").write.parquet(p)
    pdf = spark.range(6).select("id", (F.col("id") % 2).alias("b"))
    t.commit_partitioned(
        {"d": (spark.range(3).toDF("id"), []), "p": (pdf, ["b"])}, meta={"k": 1}
    )
    t.append({"d": spark.range(3, 5).toDF("id")}, meta={"a": 1})
    t.add_files("d", ext1, meta={"e": 1}, key="k1")
    t.add_files_many({"d": ext2, "q": ext3}, meta={"e": 2}, key="k2")
    t.replace_dataset("d", spark.range(2).toDF("id"), meta={"r": 1})
    t.compact(spark, "p", target_files=1)

    versions = sorted(glob.glob(os.path.join(t.root, "_meta-*.json")))
    assert [os.path.basename(v) for v in versions] == [
        f"_meta-{i:06d}.json" for i in range(1, 7)
    ]
    with open(versions[-1]) as f:
        m = json.load(f)
    assert list(m) == ["current", "snapshots", "applied_keys"]
    assert m["current"] == 6 and m["applied_keys"] == ["d:k1", "d:k2", "q:k2"]
    recs = m["snapshots"]
    assert [r["id"] for r in recs] == [1, 2, 3, 4, 5, 6]
    assert [r["parent"] for r in recs] == [None, 1, 2, 3, 4, 5]
    for r in recs:
        assert list(r) == [
            "id", "datasets", "committed_at", "parent", "meta", "partitions"
        ]
        assert re.fullmatch(r"\d{4}-\d\d-\d\dT\d\d:\d\d:\d\dZ", r["committed_at"])
        assert r["partitions"] == {"p": ["b"]}

    c, a, f1, fm, rd, cp = recs
    d0, p0 = c["datasets"]["d"], c["datasets"]["p"]
    assert c["meta"] == {"k": 1}
    assert isinstance(d0, str) and isinstance(p0, str) and set(c["datasets"]) == {"d", "p"}
    d1 = a["datasets"]["d"][1]
    assert a["meta"] == {"operation": "append", "a": 1}
    assert a["datasets"] == {"d": [d0, d1], "p": p0}
    assert f1["meta"] == {"operation": "add_files", "path": ext1, "e": 1}
    assert f1["datasets"] == {"d": [d0, d1, ext1], "p": p0}
    assert fm["meta"] == {
        "operation": "add_files", "paths": {"d": ext2, "q": ext3}, "e": 2
    }
    assert fm["datasets"] == {"d": [d0, d1, ext1, ext2], "p": p0, "q": [ext3]}
    d2 = rd["datasets"]["d"]
    assert rd["meta"] == {"operation": "replace_dataset", "r": 1}
    assert isinstance(d2, str) and rd["datasets"] == {"d": d2, "p": p0, "q": [ext3]}
    p1 = cp["datasets"]["p"]
    assert cp["meta"] == {
        "operation": "compact", "dataset": "p", "source": p0,
        "target_files": 1, "sort_by": [],
    }
    assert p1 != p0 and cp["datasets"] == {"d": d2, "p": p1, "q": [ext3]}


def test_compact_sort_by_clusters_key_ranges(spark, tmp_path):
    """sort_by compaction (Iceberg sort-strategy rewrite): output files
    cover disjoint key ranges, so parquet min/max stats prune scans on
    the sort key."""
    t = SnapshotTable(str(tmp_path / "t"))
    df = spark.range(1000).select(
        (F.col("id") * 7919 % 1000).alias("k"), F.col("id").alias("v")
    )
    t.commit({"d": df.repartition(16)})
    before = _rows(t.scan(spark, "d"))
    t.compact(spark, "d", target_files=4, sort_by=["k"])
    assert _rows(t.scan(spark, "d")) == before
    assert t.snapshots()[-1].meta["sort_by"] == ["k"]

    files = _files(t.snapshots()[-1].datasets["d"])
    assert 2 <= len(files) <= 4
    ranges = sorted(
        tuple(
            spark.read.parquet(f).agg(F.min("k"), F.max("k")).collect()[0]
        )
        for f in files
    )
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo  # pairwise disjoint → min/max pruning works


def test_maintain_policy_compacts_expires_sweeps(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "t"))
    t.commit({"d": spark.range(0, 10).toDF("id").repartition(4)})
    for b in range(1, 5):
        t.append({"d": spark.range(b * 10, b * 10 + 10).toDF("id").repartition(4)})
    full = {(i,) for i in range(50)}

    # below threshold: no compaction, expiry still applies
    r = t.maintain(spark, "d", max_files=100, keep_last=10)
    assert r["compacted_snapshot"] is None and r["expired"] == []

    r = t.maintain(spark, "d", max_files=8, target_files=2, keep_last=1)
    assert isinstance(r["compacted_snapshot"], int)
    assert r["files_before"] >= 16 and t.data_file_count("d") <= 2
    assert len(r["expired"]) >= 4  # history collapsed to keep_last
    assert _rows(t.scan(spark, "d")) == full
    # all expired append dirs physically reclaimed
    assert t.remove_orphans(older_than_sec=0.0) == []


def test_stream_ingest_publishes_and_maintains_snapshots(spark, tmp_path):
    """End-to-end landing-zone loop: foreachBatch extraction appends
    each micro-batch to the snapshot table (zero-copy add_files), the
    in-sink maintenance pass folds small files, and the table scan stays
    ≡ the batch extraction over the same docs — including across a
    restart with nothing new."""
    from pie_spark.config import PipelineConfig
    from pie_spark.fixtures.gen import entity_dict_df, interleaved_docs
    from pie_spark.pipeline import extract_stage
    from pie_spark.streaming.ingest import stream_extract_mentions

    from .conftest import SF_DIR

    cols = ["doc_id", "span_idx", "start", "end", "mention_type", "surface", "detector"]
    cfg = PipelineConfig()
    d = entity_dict_df(spark)
    docs = interleaved_docs(spark, SF_DIR).localCheckpoint(eager=True)

    in_dir, out_dir, ckpt = (
        str(tmp_path / "landing"), str(tmp_path / "mentions"), str(tmp_path / "ckpt")
    )
    t = SnapshotTable(str(tmp_path / "table"))
    docs.repartition(6).write.mode("append").parquet(in_dir)  # 6 files → 3 batches
    n = stream_extract_mentions(
        spark, cfg, in_dir, d, out_dir, ckpt,
        max_files_per_trigger=2,  # force several micro-batches
        snapshot_table=t, maintain_every=2, maintain_max_files=4,
    )
    assert n >= 2
    want = {tuple(r) for r in extract_stage(spark, cfg, docs, d).select(*cols).collect()}
    got = {tuple(r) for r in t.scan(spark, "mentions").select(*cols).collect()}
    assert got == want and len(want) > 0
    # maintenance actually folded: far fewer files than batches × parts
    assert t.data_file_count("mentions") < 8 * n

    # restart with nothing new: no reprocessing, no re-registration
    cur = t.current_snapshot()
    stream_extract_mentions(
        spark, cfg, in_dir, d, out_dir, ckpt, snapshot_table=t,
    )
    assert t.current_snapshot() == cur
    assert {tuple(r) for r in t.scan(spark, "mentions").select(*cols).collect()} == want
