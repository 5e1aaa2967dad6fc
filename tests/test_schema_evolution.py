"""Catalog.merge(evolve_schema=True) — Iceberg-style ADD COLUMN through
the merge path: rewritten partitions materialize the new column, reused
partitions read back as typed NULLs, old snapshots keep the old schema."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from gotrackmaster_spark.plans.checkpoint import Catalog


def _base(spark, tmp_path):
    cat = Catalog(str(tmp_path / "cat"))
    rows = [
        Row(part=str(u), event_id=10 * u + i, value=float(u + i))
        for u in range(4)
        for i in range(3)
    ]
    cat.commit(spark.createDataFrame(rows), "t", partition_col="part")
    return cat


def test_unknown_source_columns_raise_without_flag(spark, tmp_path):
    cat = _base(spark, tmp_path)
    src = spark.createDataFrame(
        [Row(part="1", event_id=10, value=-1.0, lang="en")]
    )
    with pytest.raises(ValueError, match="evolve_schema"):
        cat.merge(spark, "t", src, key_cols=["part", "event_id"])


def test_evolve_adds_column_with_null_backfill(spark, tmp_path):
    cat = _base(spark, tmp_path)
    src = spark.createDataFrame(
        [
            Row(part="1", event_id=10, value=-1.0, lang="en"),
            Row(part="1", event_id=99, value=9.0, lang="fr"),
        ]
    )
    m = cat.merge(
        spark, "t", src, key_cols=["part", "event_id"], evolve_schema=True
    )
    assert "lang" in m["schema_cols"]
    assert m["schema_types"]["lang"] == "string"

    df = cat.load(spark, "t")
    assert df.columns[-1] == "lang" or "lang" in df.columns
    got = {
        (r.part, r.event_id): (r.value, r.lang) for r in df.collect()
    }
    assert got[("1", 10)] == (-1.0, "en")       # updated + evolved
    assert got[("1", 99)] == (9.0, "fr")        # inserted with new col
    assert got[("1", 11)] == (2.0, None)        # same partition, untouched row
    assert got[("0", 0)] == (0.0, None)         # reused partition -> typed NULL
    assert len(got) == 13
    # the NULL back-fill is typed, usable in expressions
    assert df.filter(F.col("lang").isNull()).count() == 11

    # time travel: snapshot 1 still has the old schema
    old = cat.load(spark, "t", snapshot_id=1)
    assert "lang" not in old.columns


def test_evolved_table_survives_further_merge_and_compaction(spark, tmp_path):
    cat = _base(spark, tmp_path)
    src = spark.createDataFrame([Row(part="1", event_id=10, value=-1.0, lang="en")])
    cat.merge(spark, "t", src, key_cols=["part", "event_id"], evolve_schema=True)
    # plain merge on another partition: source must now carry the evolved
    # schema (lang), matching Iceberg's post-evolution write contract
    src2 = spark.createDataFrame(
        [("2", 21, -21.0, None)],
        "part string, event_id bigint, value double, lang string",
    )
    cat.merge(spark, "t", src2, key_cols=["part", "event_id"])
    df = cat.load(spark, "t")
    got = {(r.part, r.event_id): (r.value, r.lang) for r in df.collect()}
    assert got[("2", 21)] == (-21.0, None)
    assert got[("1", 10)] == (-1.0, "en")

    # compaction reads mixed-schema fragments and must not choke on the
    # NULL-typed back-fill (writes typed columns)
    m = cat.compact_partitions(spark, "t", min_files=1)
    df2 = cat.load(spark, "t")
    got2 = {(r.part, r.event_id): (r.value, r.lang) for r in df2.collect()}
    assert got2 == got
    assert "lang" in m["schema_cols"]


def test_delete_mode_ignores_extra_source_columns(spark, tmp_path):
    cat = _base(spark, tmp_path)
    src = spark.createDataFrame(
        [Row(part="0", event_id=0, value=0.0, extra="x")]
    )
    cat.merge(spark, "t", src, key_cols=["part", "event_id"], when_matched="delete")
    assert cat.load(spark, "t").count() == 11
    assert "extra" not in cat.load(spark, "t").columns


def test_load_pruned_after_evolving_merge(spark, tmp_path):
    cat = _base(spark, tmp_path)
    src = spark.createDataFrame([Row(part="1", event_id=10, value=-1.0, lang="en")])
    cat.merge(spark, "t", src, key_cols=["part", "event_id"], evolve_schema=True)

    pruned = cat.load_pruned(spark, "t", "event_id", 0, 100)
    assert pruned.dtypes == cat.load(spark, "t").dtypes
    got = {(r.part, r.event_id): (r.value, r.lang) for r in pruned.collect()}
    assert len(got) == 12
    assert got[("1", 10)] == (-1.0, "en")
    assert all(lang is None for (p, _), (_, lang) in got.items() if p != "1")
