"""E6 — Iceberg-style snapshot log over Parquet: checkpointing, resume,
per-partition lineage + metrics.

No Iceberg jar ships in the sandbox, so snapshot semantics are provided by
a JSON manifest log behind a narrow ``Catalog`` interface (SURVEY.md §7.5):

    root/
      <table>/
        snap-00000001/part=.../*.parquet      (immutable data files)
        _log/00000001.json                    (manifest: files, lineage,
                                               per-partition metrics,
                                               parent snapshot id)

* ``commit`` writes a new immutable snapshot directory + manifest; readers
  always resolve the latest manifest — writers never mutate published data
  (snapshot isolation, Iceberg's core contract).
* ``resume_pending`` = the checkpoint restart path: given the full
  partition-key list, anti-join against the partitions recorded in the
  latest manifest → only unprocessed partitions are recomputed.
* per-partition metrics (row counts; extensible) are recorded in the
  manifest at commit time — the lineage answer to "which input partition
  produced which file, with how many rows".

One writer, one reader.  ``commit``, ``merge``, ``replace_partitions``
and ``compact_partitions`` all write through ``_write_snapshot`` (write
the data, read the footers, carry untouched partitions of a base
snapshot by reference) and publish with ``_publish``.  ``load``,
``load_pruned``, ``load_changes`` and the partition reads of ``merge``/
``compact_partitions``/``incremental_refresh`` only choose files from
the manifest's ``file_stats`` and hand them to ``_read_files``, which
reads them in the manifest's own schema (``schema_cols`` +
``schema_types``): partition values keep their committed text and type
(no hive inference — a string ``"00"`` stays ``"00"``), columns added by
an evolving merge read as NULL from older files, and every reader
returns the committed column order.

On a real cluster the same layout lands on object storage and commit is a
rename of the manifest (single-writer); here the filesystem stands in.
"""

from __future__ import annotations

import collections
import functools
import json
import os
import shutil
import time
from collections.abc import Callable, Collection

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gotrackmaster_spark.session import local_frame


def _scan_snapshot_files(
    snap_dir: str, partition_col: str | None, stats_cols: list[str] | None
):
    """Walk a written snapshot dir and harvest lineage from parquet FOOTERS
    only (no Spark job): per-file rows + optional per-column min/max, plus
    per-partition row counts.  Returns (files, file_stats, counts)."""
    import urllib.parse

    import pyarrow.parquet as pq

    files: list[str] = []
    file_stats: list[dict] = []
    counts: dict[str, int] = {}
    for dirpath, _dirs, fnames in os.walk(snap_dir):
        for f in fnames:
            if not f.endswith(".parquet"):
                continue
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, snap_dir)
            md = pq.ParquetFile(full).metadata
            rows = md.num_rows
            files.append(rel)
            if partition_col:
                # hive layout: <partition_col>=<url-encoded value>/...
                pdir = rel.split(os.sep)[0]
                pval = urllib.parse.unquote(pdir.split("=", 1)[1])
            else:
                pval = "__all__"
            entry = {"path": rel, "rows": rows, "partition": pval}
            if stats_cols:
                col_stats: dict[str, dict] = {}
                for rg in range(md.num_row_groups):
                    for ci in range(md.num_columns):
                        cmd = md.row_group(rg).column(ci)
                        name = cmd.path_in_schema
                        if name not in stats_cols:
                            continue
                        st = cmd.statistics
                        if st is None or not st.has_min_max:
                            continue
                        prev = col_stats.get(name)
                        mn, mx = st.min, st.max
                        if prev is None:
                            col_stats[name] = {"min": mn, "max": mx}
                        else:
                            prev["min"] = min(prev["min"], mn)
                            prev["max"] = max(prev["max"], mx)
                entry["stats"] = col_stats
            file_stats.append(entry)
            counts[pval] = counts.get(pval, 0) + rows
    return files, file_stats, counts


def _schema_types(df: DataFrame) -> dict[str, str]:
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


class Catalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------- paths ---
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _log_dir(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "_log")

    def snapshots(self, table: str) -> list[int]:
        log = self._log_dir(table)
        if not os.path.isdir(log):
            return []
        return sorted(
            int(f.split(".")[0]) for f in os.listdir(log) if f.endswith(".json")
        )

    def manifest(self, table: str, snapshot_id: int | None = None) -> dict:
        snaps = self.snapshots(table)
        if not snaps:
            raise FileNotFoundError(f"no snapshots for table {table!r}")
        sid = snapshot_id if snapshot_id is not None else snaps[-1]
        with open(os.path.join(self._log_dir(table), f"{sid:08d}.json")) as f:
            return json.load(f)

    def _next_snapshot_dir(self, table: str) -> tuple[int, str]:
        """Allocate the next snapshot id and its data dir, clearing
        crashed-attempt debris.

        A writer that died between the data write and the atomic manifest
        publish leaves ``snap-<next>`` on disk with NO manifest pointing
        at it — invisible to every reader (``load``/``resume_pending``
        resolve manifests only), but a naive retry would recompute the
        same id and fail on ``errorifexists``.  Since no manifest can
        reference an id above the latest published one, such a directory
        is provably orphaned: remove it so crash recovery is simply
        re-running the job (single writer per table, as on object-store
        Iceberg without a catalog lock — see module docstring)."""
        snaps = self.snapshots(table)
        sid = (snaps[-1] + 1) if snaps else 1
        snap_dir = os.path.join(self._table_dir(table), f"snap-{sid:08d}")
        if os.path.exists(snap_dir):
            shutil.rmtree(snap_dir)
        return sid, snap_dir

    # ------------------------------------------------------------ commit ---
    def commit(
        self,
        df: DataFrame,
        table: str,
        partition_col: str | None = None,
        extra_metrics: dict | None = None,
        attempted_partitions: list[str] | None = None,
        stats_cols: list[str] | None = None,
    ) -> dict:
        """Write df as the next snapshot of ``table``; returns the manifest.

        Lineage: per-partition row counts are read from the written
        files' parquet footers and recorded under ``partitions`` in the
        manifest.

        ``stats_cols``: numeric columns whose per-file min/max are read
        from the parquet footers into the manifest (Iceberg's file-level
        column stats) — :meth:`load_pruned` uses them to skip whole files
        on range predicates without opening them.
        """
        manifest = self._write_snapshot(
            table,
            df,
            partition_col,
            stats_cols,
            extra_metrics or {},
            schema_cols=df.columns,
            schema_types=_schema_types(df),
            done=attempted_partitions or (),
        )
        return self._publish(table, manifest)

    def _write_snapshot(
        self,
        table: str,
        df: DataFrame,
        partition_col: str | None,
        stats_cols: list[str] | None,
        metrics: dict,
        schema_cols: list[str],
        schema_types: dict[str, str],
        base: dict | None = None,
        replaced: Collection[str] = (),
        done: Collection[str] = (),
    ) -> dict:
        """The one write path: write ``df`` as the next snapshot of
        ``table`` and return its manifest, unpublished.

        ``done`` partitions are recorded even when they produced no rows
        (an attempted partition with zero rows is still DONE, so resume
        converges instead of rescanning it forever).  With a ``base``
        manifest, every partition of it not in ``replaced`` rides along
        BY REFERENCE (``reused_partitions``: partition → owning snapshot
        data dir), file stats intact — zero data movement."""
        sid, snap_dir = self._next_snapshot_dir(table)
        writer = df.write.mode("errorifexists")
        if partition_col:
            writer = writer.partitionBy(partition_col)
        writer.parquet(snap_dir)

        # Lineage WITHOUT recomputation: row counts come from the written
        # files' parquet footers (pure metadata, no second Spark job — a
        # groupBy().count().collect() would re-run the entire upstream
        # lineage after the write, doubling every checkpointed stage at
        # scale).  On a real cluster these are the file-level stats an
        # Iceberg writer records in its manifests at commit.
        files, file_stats, counts = _scan_snapshot_files(
            snap_dir, partition_col, stats_cols
        )
        if not partition_col:
            counts.setdefault("__all__", 0)
        for p in done:
            counts.setdefault(str(p), 0)
        if base is not None:
            owners = base.get("reused_partitions") or {}
            reused = {
                p: owners.get(p, base["data_dir"])
                for p in base["partitions"]
                if p not in replaced
            }
            counts.update({p: base["partitions"][p] for p in reused})
            file_stats += [
                dict(fs, dir=reused[fs["partition"]])
                for fs in base["file_stats"]
                if fs["partition"] in reused
            ]
            metrics = dict(metrics, partitions_reused=len(reused))

        manifest = {
            "table": table,
            "snapshot_id": sid,
            "parent_id": sid - 1 if sid > 1 else None,
            "created_unix": time.time(),
            "data_dir": snap_dir,
            "files": sorted(files),
            "file_stats": sorted(file_stats, key=lambda s: s["path"]),
            "partition_col": partition_col,
            "partition_type": schema_types[partition_col] if partition_col else None,
            "schema_cols": schema_cols,
            "schema_types": schema_types,
            "partitions": counts,
        }
        if base is not None:
            manifest["reused_partitions"] = reused
        manifest["total_rows"] = sum(counts.values())
        manifest["metrics"] = metrics
        return manifest

    def _publish(self, table: str, manifest: dict) -> dict:
        log = self._log_dir(table)
        os.makedirs(log, exist_ok=True)
        sid = manifest["snapshot_id"]
        tmp = os.path.join(log, f".{sid:08d}.json.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.rename(tmp, os.path.join(log, f"{sid:08d}.json"))  # atomic publish
        return manifest

    # ------------------------------------------------------------- merge ---
    def merge(
        self,
        spark: SparkSession,
        table: str,
        source: DataFrame,
        key_cols: list[str],
        when_matched: str = "update",
        stats_cols: list[str] | None = None,
        extra_metrics: dict | None = None,
        evolve_schema: bool = False,
    ) -> dict:
        """Iceberg-style MERGE INTO with partition-level copy-on-write.

        ``when_matched='update'``: upsert — matched target rows are replaced
        by their source row, unmatched source rows are inserted.
        ``when_matched='delete'``: matched target rows are deleted (source
        rows are never inserted in this mode).

        Scale contract: only partitions PRESENT IN THE SOURCE are rewritten;
        every untouched partition of the current snapshot is carried into
        the new manifest BY REFERENCE (``reused_partitions``: partition →
        owning snapshot data dir) — zero data movement, exactly Iceberg's
        copy-on-write granularity (theirs is per-file; ours is per
        hive-partition).  The merge join shuffles only the affected
        partitions plus the source batch, so a 100-partition touch on a
        100 000-partition table costs 0.1 % of a full rewrite.  Requires
        the table to have been committed with a ``partition_col``;
        unpartitioned tables fall back to a documented full rewrite.

        Constraint (same shape as Iceberg copy-on-write with a partition
        spec): key matching happens within the affected-partition slice, so
        an update that MOVES a row to a different partition must include
        the row's old partition in the source batch (otherwise the old row
        survives untouched alongside the insert).

        ``evolve_schema=True`` (update mode): columns present in the
        source but not the target are ADDED (Iceberg schema evolution) —
        rewritten partitions materialize them, untouched partitions keep
        their old files and read back as typed NULLs; time travel to
        older snapshots sees the old schema.  Without the flag, unknown
        source columns raise.
        """
        if when_matched not in ("update", "delete"):
            raise ValueError("when_matched must be 'update' or 'delete'")
        m = self.manifest(table)
        partition_col = m["partition_col"]
        tgt_cols = m["schema_cols"]
        missing = [c for c in tgt_cols if c not in source.columns]
        if missing:
            raise ValueError(f"source is missing target columns: {missing}")
        new_cols = [c for c in source.columns if c not in tgt_cols]
        if new_cols and evolve_schema and when_matched == "update":
            # Iceberg-style ADD COLUMN via merge: rewritten partitions
            # materialize the new columns; untouched partitions keep their
            # old files and read back as NULL (see _read_files); older
            # snapshots are unaffected (time travel sees the old schema).
            # The evolved column list is recorded in the manifest so
            # readers get a deterministic column order.
            all_cols = tgt_cols + new_cols
            _null_patch = {
                c: F.lit(None).cast(source.schema[c].dataType) for c in new_cols
            }
        else:
            if new_cols and when_matched == "update":
                raise ValueError(
                    f"source has columns not in the target: {new_cols}; "
                    "pass evolve_schema=True to add them (old partitions "
                    "will read as NULL) or drop them from the source"
                )
            # delete mode only consumes keys — extra source columns inert
            all_cols = tgt_cols
            _null_patch = {}
        source = source.select(*all_cols)

        if not partition_col:
            tgt = self.load(spark, table)
            for c, nc in _null_patch.items():
                tgt = tgt.withColumn(c, nc)
            merged = self._merge_rows(tgt, source, key_cols, when_matched, all_cols)
            return self.commit(
                merged,
                table,
                stats_cols=stats_cols,
                extra_metrics=dict(extra_metrics or {}, merge_mode=when_matched),
            )

        # partition-level CoW: which partitions does the source touch?
        affected = sorted(
            str(r[0])
            for r in source.select(F.col(partition_col).cast("string")).distinct().collect()
        )
        tgt = self._read_partitions(spark, m, affected)
        for c, nc in _null_patch.items():
            tgt = tgt.withColumn(c, nc)
        src_mask = F.col(partition_col).cast("string").isin(affected)
        merged = self._merge_rows(
            tgt, source.filter(src_mask), key_cols, when_matched, all_cols
        )
        # an affected partition whose rows were all deleted is still DONE
        manifest = self._write_snapshot(
            table,
            merged,
            partition_col,
            stats_cols,
            dict(
                extra_metrics or {},
                merge_mode=when_matched,
                partitions_rewritten=len(affected),
            ),
            schema_cols=all_cols,
            schema_types=_schema_types(merged),
            base=m,
            replaced=affected,
            done=affected,
        )
        return self._publish(table, manifest)

    @staticmethod
    def _merge_rows(
        tgt: DataFrame,
        src: DataFrame,
        key_cols: list[str],
        when_matched: str,
        cols: list[str],
    ) -> DataFrame:
        if when_matched == "delete":
            return tgt.join(
                src.select(*key_cols).distinct(), key_cols, "left_anti"
            ).select(*cols)
        # upsert: full outer on keys, source wins where present.  The
        # list-form join coalesces key columns (USING semantics), so keys
        # come straight off the joined frame; non-keys via the t/s aliases.
        # Source presence is detected via a dedicated lit(1) marker, NOT a
        # key column: a source row with a NULL first key but non-null
        # remaining keys would otherwise be treated as absent and its
        # values silently replaced by target-side NULLs.
        t = tgt.alias("t")
        s = src.withColumn("__src_marker", F.lit(1)).alias("s")
        joined = t.join(s, key_cols, "full_outer")
        s_present = F.col("s.__src_marker").isNotNull()
        out = [F.col(k) for k in key_cols]
        for c in cols:
            if c in key_cols:
                continue
            out.append(
                F.when(s_present, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            )
        return joined.select(*out).select(*cols)

    def _read_partitions(
        self, spark: SparkSession, m: dict, pvals: list[str]
    ) -> DataFrame:
        """Read exactly the given partitions of a snapshot, each from its
        owning dir (post-merge snapshots spread partitions across snapshot
        dirs).  Empty selection → empty frame with full schema."""
        want = set(pvals)
        return self._read_files(
            spark, m, self._live_files(m, lambda fs: fs["partition"] in want)
        )

    @staticmethod
    def _read_files(
        spark: SparkSession, m: dict, files: Collection[tuple[str, str]]
    ) -> DataFrame:
        """The one read path: the given ``(owning dir, relative path)``
        files of snapshot ``m``, read in the manifest's own schema.

        Handing the reader the schema means hive partition values keep
        their committed text and type (inference would read the string
        ``"00"`` as the int 0), files written before an evolving merge
        read the added columns as NULL (Iceberg add-column semantics),
        and no footer is opened to infer anything.  One read per owning
        dir (each is its own hive ``basePath``), unioned.  No files →
        typed empty frame: a 0-row commit writes no parquet data files at
        all, and an empty batch is VALID input to a checkpointed pipeline
        (degenerate-input sweep, K=0)."""
        cols = m["schema_cols"]
        ddl = ", ".join(f"`{c}` {m['schema_types'][c]}" for c in cols)
        by_dir: dict[str, list[str]] = {}
        for d, rel in sorted(files):
            by_dir.setdefault(d, []).append(os.path.join(d, rel))
        if not by_dir:
            return local_frame(spark, [], ddl)
        pieces = [
            spark.read.schema(ddl).option("basePath", d).parquet(*paths)
            for d, paths in by_dir.items()
        ]
        return functools.reduce(DataFrame.unionByName, pieces).select(*cols)

    # -------------------------------------------------------------- read ---
    def load(self, spark: SparkSession, table: str, snapshot_id: int | None = None) -> DataFrame:
        m = self.manifest(table, snapshot_id)
        return self._read_files(spark, m, self._live_files(m))

    def load_pruned(
        self,
        spark: SparkSession,
        table: str,
        col: str,
        lo,
        hi,
        snapshot_id: int | None = None,
    ) -> DataFrame:
        """Read only the snapshot files whose manifest [min, max] range for
        ``col`` overlaps ``[lo, hi]``, then apply the exact predicate —
        semantically identical to ``load().filter(col BETWEEN lo AND hi)``
        but non-overlapping files are never opened (Iceberg manifest-level
        file pruning; combine with
        ``operators.skew.repartition_by_cell_range`` at write time so cell
        ranges land disjoint).  Files committed without stats for ``col``
        are conservatively read."""

        def overlaps(fs: dict) -> bool:
            st = (fs.get("stats") or {}).get(col)
            return st is None or (st["max"] >= lo and st["min"] <= hi)

        m = self.manifest(table, snapshot_id)
        df = self._read_files(spark, m, self._live_files(m, overlaps))
        return df.filter((F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi)))

    @staticmethod
    def _live_files(m: dict, keep: Callable[[dict], bool] = lambda fs: True) -> set:
        """Effective (owning dir, relative path) file set of a snapshot —
        own files plus partitions carried by reference from older
        snapshots after a merge/compact — restricted to the file stats
        entries ``keep`` accepts."""
        return {
            (fs.get("dir") or m["data_dir"], fs["path"])
            for fs in m["file_stats"]
            if keep(fs)
        }

    def changed_files(
        self, table: str, from_snapshot: int, to_snapshot: int | None = None
    ) -> dict[str, list[str]]:
        """Files live in ``to_snapshot`` that were NOT live in
        ``from_snapshot`` (owning dir -> relative paths) — pure manifest
        arithmetic, no data access."""
        to_m = self.manifest(table, to_snapshot)
        from_m = self.manifest(table, from_snapshot)
        new = self._live_files(to_m) - self._live_files(from_m)
        by_dir: dict[str, list[str]] = {}
        for d, rel in sorted(new):
            by_dir.setdefault(d, []).append(rel)
        return by_dir

    def load_changes(
        self,
        spark: SparkSession,
        table: str,
        from_snapshot: int,
        to_snapshot: int | None = None,
    ) -> DataFrame:
        """Incremental scan (Iceberg's incremental read): rows of every
        file that became live between ``from_snapshot`` (exclusive) and
        ``to_snapshot`` (inclusive, default latest).

        Granularity follows the writer's copy-on-write unit: a plain
        ``commit`` makes everything new; a ``merge`` makes only the
        rewritten/inserted partitions' files new (reused partitions carry
        over by reference and are excluded) — so a downstream consumer
        re-processes exactly the partitions a merge touched.  This is a
        files-became-live scan, not a row-level changelog: a partition
        rewritten twice in the range contributes only its final files,
        and deletes are reflected by absence, not tombstones.
        """
        by_dir = self.changed_files(table, from_snapshot, to_snapshot)
        files = {(d, rel) for d, rels in by_dir.items() for rel in rels}
        return self._read_files(spark, self.manifest(table, to_snapshot), files)

    def changed_partitions(
        self, table: str, from_snapshot: int, to_snapshot: int | None = None
    ) -> list[str]:
        """Partition values whose live FILE SET differs between the two
        snapshots — pure manifest arithmetic.  Catches rewrites, inserts,
        and fully-emptied partitions (which :meth:`load_changes` cannot:
        a partition whose every row was deleted leaves no new file).  A
        compaction rewrites files without changing rows, so it reports
        its partitions too — spurious for a consumer but never unsound."""
        fm = self.manifest(table, from_snapshot)
        tm = self.manifest(table, to_snapshot)

        def by_part(m: dict) -> dict:
            d: dict[str, set] = {}
            for p in m["partitions"]:
                d.setdefault(p, set())
            for fs in m["file_stats"]:
                d.setdefault(fs["partition"], set()).add(
                    (fs.get("dir") or m["data_dir"], fs["path"])
                )
            return d

        a, b = by_part(fm), by_part(tm)
        return sorted(p for p in set(a) | set(b) if a.get(p) != b.get(p))

    def replace_partitions(
        self,
        spark: SparkSession,
        table: str,
        df: DataFrame,
        partition_vals: list[str],
        stats_cols: list[str] | None = None,
        extra_metrics: dict | None = None,
    ) -> dict:
        """Dynamic partition overwrite (Iceberg's ``INSERT OVERWRITE``
        with a partition spec / ``replacePartitions``): every partition
        named in ``partition_vals`` is replaced WHOLESALE by ``df``'s
        rows for it — including being DROPPED if ``df`` has none (the
        delete case merge-upsert cannot express); all other partitions
        carry into the new snapshot by reference, zero data movement.
        Rows of ``df`` outside the named partitions are ignored (the
        overwrite contract is exactly the named set)."""
        m = self.manifest(table)
        partition_col = m["partition_col"]
        if not partition_col:
            raise ValueError("replace_partitions requires a partitioned table")
        vals = sorted(str(v) for v in partition_vals)
        piece = df.filter(F.col(partition_col).cast("string").isin(vals))
        # named partitions with no rows in df are dropped: not done, not
        # reused, gone from the new snapshot
        manifest = self._write_snapshot(
            table,
            piece,
            partition_col,
            stats_cols,
            dict(extra_metrics or {}, partitions_replaced=len(vals)),
            schema_cols=m["schema_cols"],
            schema_types=m["schema_types"],
            base=m,
            replaced=vals,
        )
        return self._publish(table, manifest)

    def load_as_of(self, spark: SparkSession, table: str, as_of_unix: float) -> DataFrame:
        """Time travel: read the latest snapshot committed at or before
        ``as_of_unix`` (Iceberg's ``TIMESTAMP AS OF``)."""
        best = None
        for sid in self.snapshots(table):
            m = self.manifest(table, sid)
            if m["created_unix"] <= as_of_unix:
                best = sid
        if best is None:
            raise FileNotFoundError(
                f"no snapshot of {table!r} at or before {as_of_unix}"
            )
        return self.load(spark, table, best)

    def compact(
        self,
        spark: SparkSession,
        table: str,
        num_files: int,
        sort_col: str | None = None,
        stats_cols: list[str] | None = None,
    ) -> dict:
        """Small-file compaction: rewrite the latest snapshot's data into
        ``num_files`` files as a NEW snapshot (readers on older snapshots
        are untouched; ``expire_snapshots`` reclaims the old files later —
        Iceberg's rewrite_data_files action).  ``sort_col`` range-partitions
        + sorts the rewrite (e.g. the cell ID) so the compacted files carry
        tight min/max ranges for :meth:`load_pruned`."""
        df = self.load(spark, table)
        if sort_col:
            df = df.repartitionByRange(num_files, df[sort_col]).sortWithinPartitions(
                sort_col
            )
        else:
            df = df.coalesce(num_files)
        prev = self.manifest(table)
        return self.commit(
            df,
            table,
            extra_metrics={"compacted_from": prev["snapshot_id"]},
            stats_cols=stats_cols,
        )

    def compact_partitions(
        self,
        spark: SparkSession,
        table: str,
        min_files: int = 2,
        sort_col: str | None = None,
        stats_cols: list[str] | None = None,
    ) -> dict:
        """Partition-level small-file compaction (Iceberg's
        ``rewrite_data_files`` at the granularity :meth:`merge` already
        uses for copy-on-write): rewrite ONLY partitions fragmented into
        ``>= min_files`` data files — each collapses to one file — and
        carry every other partition into the new manifest BY REFERENCE
        (zero data movement).

        This is the 100 TB-affordable maintenance pass: a streaming/merge
        workload fragments a handful of hot partitions per cycle, and
        :meth:`compact`'s full-table rewrite would move the whole table to
        fix them.  Here the rewrite job reads and shuffles only the
        fragmented slice, so cost tracks fragmentation, not table size.

        ``sort_col`` sorts rows within each rewritten partition (e.g. the
        cell ID) so compacted files regain tight min/max footer ranges for
        :meth:`load_pruned`.  Unpartitioned tables raise — use
        :meth:`compact`.  Older snapshots stay readable (time travel);
        ``expire_snapshots`` reclaims superseded files later.
        """
        m = self.manifest(table)
        partition_col = m["partition_col"]
        if not partition_col:
            raise ValueError(
                "table is unpartitioned: use compact() for a full rewrite"
            )

        files_per_part = collections.Counter(fs["partition"] for fs in m["file_stats"])
        fragmented = sorted(
            p for p, n in files_per_part.items() if n >= min_files
        )
        if not fragmented:
            # TRUE no-op: report without publishing.  A scheduled
            # compaction loop must not grow the snapshot log when there
            # is nothing to do, and the previous snapshot's unrelated
            # metrics (e.g. a merge's rows_updated / src_snapshot_id)
            # must not be re-stamped as this pass's — so the returned
            # view carries FRESH compaction metrics over the CURRENT
            # (unchanged) snapshot.
            return dict(
                m,
                metrics={
                    "compacted_from": m["snapshot_id"],
                    "partitions_compacted": 0,
                    "partitions_reused": len(m["partitions"]),
                },
            )

        df = self._read_partitions(spark, m, fragmented)
        # one task (→ one file) per rewritten hive partition; sorting
        # within the task restores footer min/max locality for pruning
        df = df.repartition(len(fragmented), partition_col)
        sort_cols = [partition_col] + ([sort_col] if sort_col else [])
        df = df.sortWithinPartitions(*sort_cols)

        manifest = self._write_snapshot(
            table,
            df,
            partition_col,
            stats_cols,
            dict(
                compacted_from=m["snapshot_id"],
                partitions_compacted=len(fragmented),
                files_before=sum(files_per_part[p] for p in fragmented),
            ),
            schema_cols=m["schema_cols"],
            schema_types=m["schema_types"],
            base=m,
            replaced=fragmented,
        )
        manifest["metrics"]["files_after"] = len(manifest["files"])
        return self._publish(table, manifest)

    def rollback(self, table: str, snapshot_id: int) -> dict:
        """Publish a NEW manifest that points at an old snapshot's data —
        readers of 'latest' see the old state, history is preserved, no
        data files move (Iceberg's rollback semantics)."""
        old = self.manifest(table, snapshot_id)
        snaps = self.snapshots(table)
        sid = snaps[-1] + 1
        manifest = dict(
            old,
            snapshot_id=sid,
            parent_id=snaps[-1],
            created_unix=time.time(),
            metrics=dict(old.get("metrics") or {}, rolled_back_from=snapshot_id),
        )
        return self._publish(table, manifest)

    def expire_snapshots(self, table: str, keep_last: int = 2) -> list[int]:
        """Retention: drop all but the newest ``keep_last`` manifests and
        delete data directories no kept manifest references (a rolled-back
        snapshot's data survives while any live manifest points at it).
        Returns the expired snapshot ids."""
        snaps = self.snapshots(table)
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        expired = snaps[:-keep_last] if len(snaps) > keep_last else []
        kept = [s for s in snaps if s not in expired]
        live_dirs = set()
        for s in kept:
            km = self.manifest(table, s)
            live_dirs.add(km["data_dir"])
            # merge snapshots reference older dirs partition-by-partition;
            # any referenced dir stays alive in full (conservative)
            live_dirs.update((km.get("reused_partitions") or {}).values())
        for sid in expired:
            m = self.manifest(table, sid)
            os.remove(os.path.join(self._log_dir(table), f"{sid:08d}.json"))
            if m["data_dir"] not in live_dirs and os.path.isdir(m["data_dir"]):
                shutil.rmtree(m["data_dir"])
        return expired

    def processed_partitions(self, table: str) -> set[str]:
        """Union over the full snapshot chain — a later incremental commit
        must not reset earlier snapshots' progress."""
        done: set[str] = set()
        for sid in self.snapshots(table):
            done |= set(self.manifest(table, sid)["partitions"])
        return done

    def resume_pending(
        self, spark: SparkSession, all_partitions: DataFrame, table: str, partition_col: str
    ) -> DataFrame:
        """Partitions of ``all_partitions`` NOT yet in the latest snapshot —
        the restart work-list (anti-join against manifest lineage)."""
        done = sorted(self.processed_partitions(table))
        if not done:
            return all_partitions
        done_df = local_frame(spark, [(d,) for d in done], f"{partition_col}_done string")
        return all_partitions.join(
            F.broadcast(done_df),
            all_partitions[partition_col].cast("string")
            == done_df[f"{partition_col}_done"],
            "left_anti",
        )


def snapshot_changelog(
    cat: "Catalog",
    spark: SparkSession,
    table: str,
    from_snapshot: int,
    to_snapshot: int | None,
    key_cols: list[str],
) -> DataFrame:
    """Row-level CDC between two snapshots — the row-granular complement
    of :meth:`Catalog.load_changes` (which is file-granular: a rewritten
    partition reports ALL its rows).  Full outer join of the two
    time-travel reads on ``key_cols``; every key is classified:

      insert     — key only in ``to``
      delete     — key only in ``from``
      update     — key in both, any non-key column differs (null-safe)
      unchanged  — key in both, all columns equal

    Plan at scale: ONE co-partitioned full outer join on the key
    (both sides shuffle once on the same key — AQE handles skew); the
    column comparison is codegen.  For merge-style writers, pair this
    with :meth:`Catalog.changed_partitions` to prune both reads to the
    touched partitions before the join.

    Output: key columns + ``change_type`` string.
    """
    a = cat.load(spark, table, from_snapshot)
    b = cat.load(spark, table, to_snapshot)
    val_cols = [c for c in b.columns if c not in key_cols]
    a_t = a.select(
        *[F.col(c).alias(f"__a_{c}") for c in val_cols],
        *key_cols,
        F.lit(1).alias("__in_a"),
    )
    b_t = b.select(
        *[F.col(c).alias(f"__b_{c}") for c in val_cols],
        *key_cols,
        F.lit(1).alias("__in_b"),
    )
    j = a_t.join(b_t, key_cols, "full_outer")
    same = F.lit(True)
    for c in val_cols:
        same = same & F.col(f"__a_{c}").eqNullSafe(F.col(f"__b_{c}"))
    change = (
        F.when(F.col("__in_a").isNull(), F.lit("insert"))
        .when(F.col("__in_b").isNull(), F.lit("delete"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("update"))
    )
    return j.select(*key_cols, change.alias("change_type"))
