"""Catalog.merge — Iceberg-style MERGE INTO with partition-level CoW."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gotrackmaster_spark.plans.checkpoint import Catalog


def _base_rows():
    return [
        Row(user_id=str(u), event_id=10 * u + i, value=float(100 * u + i))
        for u in range(6)
        for i in range(4)
    ]


def _committed(spark, tmp_path, stats=False):
    cat = Catalog(str(tmp_path / "cat"))
    df = spark.createDataFrame(_base_rows())
    cat.commit(
        df,
        "t",
        partition_col="user_id",
        stats_cols=["event_id"] if stats else None,
    )
    return cat


def test_merge_upsert_updates_inserts_and_reuses(spark, tmp_path):
    cat = _committed(spark, tmp_path)
    src = spark.createDataFrame(
        [
            Row(user_id="1", event_id=11, value=-1.0),   # update existing
            Row(user_id="1", event_id=99, value=-2.0),   # insert into existing
            Row(user_id="9", event_id=90, value=-3.0),   # brand-new partition
        ]
    )
    m = cat.merge(spark, "t", src, key_cols=["user_id", "event_id"])
    assert m["metrics"]["merge_mode"] == "update"
    assert m["metrics"]["partitions_rewritten"] == 2  # "1" and "9"
    assert m["metrics"]["partitions_reused"] == 5     # "0","2".."5"

    got = {
        (r.user_id, r.event_id): r.value for r in cat.load(spark, "t").collect()
    }
    expect = {(str(u), 10 * u + i): float(100 * u + i) for u in range(6) for i in range(4)}
    expect[("1", 11)] = -1.0
    expect[("1", 99)] = -2.0
    expect[("9", 90)] = -3.0
    assert got == expect

    # untouched partitions reference the PARENT snapshot's files on disk
    parent = cat.manifest("t", m["parent_id"])
    assert set(m["reused_partitions"].values()) == {parent["data_dir"]}
    # and the new snapshot dir contains ONLY the rewritten partitions
    written = {
        d.split("=", 1)[1]
        for d in os.listdir(m["data_dir"])
        if d.startswith("user_id=")
    }
    assert written == {"1", "9"}


def test_merge_delete_mode(spark, tmp_path):
    cat = _committed(spark, tmp_path)
    src = spark.createDataFrame(
        [Row(user_id="2", event_id=21, value=0.0), Row(user_id="2", event_id=23, value=0.0)]
    )
    m = cat.merge(spark, "t", src, key_cols=["user_id", "event_id"], when_matched="delete")
    assert m["partitions"]["2"] == 2  # 4 - 2 deleted
    got = sorted(
        r.event_id for r in cat.load(spark, "t").filter("user_id = '2'").collect()
    )
    assert got == [20, 22]
    # delete mode never inserts
    assert cat.load(spark, "t").count() == 6 * 4 - 2


def test_merge_unpartitioned_full_rewrite(spark, tmp_path):
    cat = Catalog(str(tmp_path / "cat"))
    df = spark.createDataFrame([Row(k=i, v=i * 1.0) for i in range(10)])
    cat.commit(df, "u")
    src = spark.createDataFrame([Row(k=3, v=-3.0), Row(k=42, v=-42.0)])
    cat.merge(spark, "u", src, key_cols=["k"])
    got = {r.k: r.v for r in cat.load(spark, "u").collect()}
    assert got[3] == -3.0 and got[42] == -42.0 and got[7] == 7.0
    assert len(got) == 11


def test_merge_chain_resolves_through_intermediate_snapshots(spark, tmp_path):
    """Partition ownership must resolve transitively: after merging 'A'
    then 'B', partition 'A' lives in snap2, 'B' in snap3, the rest in
    snap1 — and a third merge must read each from its true owner."""
    cat = _committed(spark, tmp_path)
    cat.merge(
        spark,
        "t",
        spark.createDataFrame([Row(user_id="0", event_id=1, value=-1.0)]),
        key_cols=["user_id", "event_id"],
    )
    m3 = cat.merge(
        spark,
        "t",
        spark.createDataFrame([Row(user_id="3", event_id=31, value=-31.0)]),
        key_cols=["user_id", "event_id"],
    )
    dirs = set(m3["reused_partitions"].values())
    assert len(dirs) == 2  # snap1 (bulk) + snap2 (partition "0")
    got = {(r.user_id, r.event_id): r.value for r in cat.load(spark, "t").collect()}
    assert got[("0", 1)] == -1.0
    assert got[("3", 31)] == -31.0
    assert got[("5", 52)] == 502.0
    assert len(got) == 6 * 4  # both merges update existing keys

    # expire down to the latest snapshot: every dir it references survives
    cat.expire_snapshots("t", keep_last=1)
    still = {(r.user_id, r.event_id): r.value for r in cat.load(spark, "t").collect()}
    assert still == got


def test_merge_keeps_file_stats_for_pruning(spark, tmp_path):
    cat = _committed(spark, tmp_path, stats=True)
    cat.merge(
        spark,
        "t",
        spark.createDataFrame([Row(user_id="4", event_id=41, value=0.5)]),
        key_cols=["user_id", "event_id"],
        stats_cols=["event_id"],
    )
    m = cat.manifest("t")
    # reused entries carried their stats + owning dir
    reused_entries = [fs for fs in m["file_stats"] if "dir" in fs]
    assert reused_entries and all("stats" in fs for fs in reused_entries)
    pruned = cat.load_pruned(spark, "t", "event_id", 20, 23)
    assert sorted(r.event_id for r in pruned.collect()) == [20, 21, 22, 23]
    # only partition-2 files are opened
    opened = pruned.inputFiles()
    assert opened and all("user_id=2" in f for f in opened)


def test_merge_rejects_bad_mode_and_missing_cols(spark, tmp_path):
    cat = _committed(spark, tmp_path)
    src = spark.createDataFrame([Row(user_id="1", event_id=11, value=0.0)])
    with pytest.raises(ValueError):
        cat.merge(spark, "t", src, key_cols=["user_id", "event_id"], when_matched="upsert")
    with pytest.raises(ValueError):
        cat.merge(
            spark,
            "t",
            src.drop("value"),
            key_cols=["user_id", "event_id"],
        )


def test_merge_rows_null_key_source_row(spark):
    """Source presence is detected via a lit(1) marker, not key_cols[0]:
    a source row with a NULL first key but non-null remaining keys must
    keep ITS values instead of being silently nulled by the target side."""
    tgt = spark.createDataFrame(
        [Row(k1="a", k2=1, value=10.0), Row(k1="b", k2=2, value=20.0)]
    )
    src = spark.createDataFrame(
        [Row(k1=None, k2=3, value=99.0), Row(k1="a", k2=1, value=11.0)]
    )
    out = Catalog._merge_rows(tgt, src, ["k1", "k2"], "upsert", ["k1", "k2", "value"])
    got = {(r.k1, r.k2): r.value for r in out.collect()}
    assert got == {("a", 1): 11.0, ("b", 2): 20.0, (None, 3): 99.0}


def test_load_changes_incremental_scan(spark, tmp_path):
    cat = _committed(spark, tmp_path)
    s1 = cat.manifest("t")["snapshot_id"]

    src = spark.createDataFrame(
        [
            Row(user_id="1", event_id=11, value=-1.0),  # rewrite partition 1
            Row(user_id="9", event_id=90, value=-3.0),  # new partition 9
        ]
    )
    cat.merge(spark, "t", src, key_cols=["user_id", "event_id"])
    s2 = cat.manifest("t")["snapshot_id"]

    # (s1, s2]: exactly the rewritten + inserted partitions, in full
    delta = cat.load_changes(spark, "t", s1).collect()
    assert {r["user_id"] for r in delta} == {"1", "9"}
    assert len(delta) == 4 + 1  # partition 1 rewritten whole + partition 9 insert
    assert {r["event_id"] for r in delta if r["user_id"] == "1"} == {10, 11, 12, 13}

    # from == to -> empty, schema preserved
    empty = cat.load_changes(spark, "t", s2, s2)
    assert empty.count() == 0
    assert empty.columns == cat.load(spark, "t").columns

    # second merge touching partition 1 again: (s1, s3] sees only the
    # FINAL files of partition 1 (files-became-live scan, not a changelog)
    src2 = spark.createDataFrame([Row(user_id="1", event_id=11, value=-7.0)])
    cat.merge(spark, "t", src2, key_cols=["user_id", "event_id"])
    s3 = cat.manifest("t")["snapshot_id"]
    d13 = cat.load_changes(spark, "t", s1, s3).collect()
    assert {r["user_id"] for r in d13} == {"1", "9"}
    vals = {r["event_id"]: r["value"] for r in d13 if r["user_id"] == "1"}
    assert vals[11] == -7.0
    # (s2, s3] is only the re-rewritten partition
    d23 = cat.load_changes(spark, "t", s2, s3).collect()
    assert {r["user_id"] for r in d23} == {"1"}

    # pure-manifest file arithmetic agrees with the frame
    by_dir = cat.changed_files("t", s2, s3)
    n_files = sum(len(v) for v in by_dir.values())
    assert n_files >= 1
    assert all(rel.endswith(".parquet") for v in by_dir.values() for rel in v)


def test_snapshot_changelog_all_change_types(spark, tmp_path):
    """insert / update / delete / unchanged must all classify correctly,
    including a replace that REMOVES keys (merge cannot delete)."""
    from pyspark.sql import functions as F

    from gotrackmaster_spark.plans.checkpoint import Catalog, snapshot_changelog

    cat = Catalog(str(tmp_path / "cat"))
    base = spark.createDataFrame(
        [("p0", 1, 10.0), ("p0", 2, 20.0), ("p1", 3, 30.0), ("p1", 4, None)],
        "part string, k long, v double",
    )
    cat.commit(base, "t", partition_col="part")
    after = spark.createDataFrame(
        [
            ("p0", 1, 10.0),   # unchanged
            ("p0", 2, 99.0),   # update
            ("p1", 4, None),   # unchanged (null-safe equality)
            ("p1", 5, 50.0),   # insert; key 3 deleted
        ],
        "part string, k long, v double",
    )
    cat.commit(after, "t", partition_col="part")
    s = cat.snapshots("t")
    log = {
        (r["part"], r["k"]): r["change_type"]
        for r in snapshot_changelog(cat, spark, "t", s[0], s[-1], ["part", "k"]).collect()
    }
    assert log == {
        ("p0", 1): "unchanged",
        ("p0", 2): "update",
        ("p1", 3): "delete",
        ("p1", 4): "unchanged",
        ("p1", 5): "insert",
    }
    # identical snapshots -> everything unchanged
    log2 = snapshot_changelog(cat, spark, "t", s[-1], s[-1], ["part", "k"])
    assert {r["change_type"] for r in log2.collect()} == {"unchanged"}


def test_empty_commit_roundtrip(spark, tmp_path):
    """A 0-row commit writes NO parquet data files, so load() can't infer
    a schema from the dir — it must rebuild the typed empty frame from
    the manifest (K=0 degenerate sweep).  Covers both the partitioned and
    unpartitioned layouts, and merge into the empty target."""
    cat = Catalog(str(tmp_path / "cat"))
    empty = spark.createDataFrame([], "user_id string, event_id long, value double")
    cat.commit(empty, "t", partition_col="user_id")
    got = cat.load(spark, "t")
    assert got.columns == ["user_id", "event_id", "value"]
    assert got.count() == 0

    cat.commit(empty, "u")  # unpartitioned
    got_u = cat.load(spark, "u")
    assert got_u.columns == ["user_id", "event_id", "value"]
    assert got_u.count() == 0

    # merging a populated source into the empty target = pure insert
    src = spark.createDataFrame(_base_rows())
    cat.merge(spark, "t", src, key_cols=["user_id", "event_id"])
    assert cat.load(spark, "t").count() == len(_base_rows())


def _zero_padded(spark, tmp_path):
    """String partition values that hive inference would read as ints."""
    cat = Catalog(str(tmp_path / "cat"))
    rows = [
        Row(part=p, event_id=10 * i + j, value=float(j))
        for i, p in enumerate(["00", "01", "02"])
        for j in range(3)
    ]
    cat.commit(
        spark.createDataFrame(rows), "t", partition_col="part", stats_cols=["event_id"]
    )
    return cat


def test_string_partition_values_survive_every_reader(spark, tmp_path):
    cat = _zero_padded(spark, tmp_path)
    parts = ["00", "01", "02"]
    assert sorted({r.part for r in cat.load(spark, "t").collect()}) == parts

    src = spark.createDataFrame([Row(part="01", event_id=10, value=-1.0)])
    m = cat.merge(spark, "t", src, key_cols=["part", "event_id"], stats_cols=["event_id"])
    assert sorted(m["partitions"]) == parts
    assert m["partitions"]["01"] == 3

    pruned = cat.load_pruned(spark, "t", "event_id", 0, 100)
    got = {(r.part, r.event_id): r.value for r in pruned.collect()}
    assert sorted({p for p, _ in got}) == parts
    assert len(got) == 9
    assert got[("01", 10)] == -1.0


def test_load_pruned_matches_load_schema(spark, tmp_path):
    cat = _zero_padded(spark, tmp_path)

    def check():
        pruned = cat.load_pruned(spark, "t", "event_id", 0, 100)
        assert pruned.dtypes == cat.load(spark, "t").dtypes
        # the committed column order: partition column first, as written
        assert pruned.dtypes[0] == ("part", "string")

    check()  # fresh partitioned commit
    src = spark.createDataFrame([Row(part="02", event_id=99, value=9.0)])
    cat.merge(spark, "t", src, key_cols=["part", "event_id"], stats_cols=["event_id"])
    check()  # merged snapshot, partitions spread over two dirs


def test_spark_read_only_inside_read_files():
    """Every Catalog read goes through ``_read_files``, which reads in the
    manifest's schema; a second ``spark.read`` would bring back hive
    partition-type inference and drift from the other readers."""
    import inspect

    from gotrackmaster_spark.plans import checkpoint

    src, start = inspect.getsourcelines(Catalog._read_files)
    allowed = range(start, start + len(src))
    lines = inspect.getsource(checkpoint).splitlines()
    hits = [i for i, line in enumerate(lines, 1) if "spark.read" in line and i not in allowed]
    assert hits == []
    assert any("spark.read" in line for line in src)
