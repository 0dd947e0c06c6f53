"""Commit-logged versioned parquet table (a minimal lakehouse table format).

Why not plain ``spark.write.mode("append")``: object-store listings are
eventually consistent and give no atomicity, no versions, and no time
travel. A JSON commit log (the Delta/Iceberg core idea, reimplemented
minimally on public primitives since neither package ships in this
environment) gives us:

- atomic commits: data files land first, then one rename publishes the
  commit file — readers never see partial writes;
- snapshot reads + time travel: a read pins the set of committed files;
- append-only history: every ingest is a new version (the reference's
  offline-store semantic, /root/reference/core/feature_store_manager.py:96-102,
  where "every put is a new version row").

Scale notes: data files are written by executors (full parallelism); only
the tiny commit JSON is driver-side. Reads hand Spark a list of parquet
files, so partition pruning / predicate pushdown work unchanged. A real
deployment would swap this class for Delta/Iceberg with zero API change —
documented equivalence, same plans.

Delta/Iceberg adapter seam (the swap path when the packages are
available — neither ships in this environment). Every public API here
maps 1:1 onto a Delta Lake call (Iceberg names in parens); an adapter
implementing this class's surface over ``delta.tables.DeltaTable`` is
mechanical:

==========================  ===================================================
this class                  Delta Lake (Iceberg)
==========================  ===================================================
``append(df)``              ``df.write.format("delta").mode("append")``
                            (``df.writeTo(t).append()``)
``read(as_of_version=v)``   ``spark.read.format("delta").option("versionAsOf",
                            v)`` (``VERSION AS OF`` snapshot-id read)
``read(where=...)``         same — file skipping via Delta stats / Iceberg
                            manifest min-max, identical semantics to
                            ``_candidate_files``
``history()``               ``DeltaTable.history()`` (``table.snapshots``)
``changes(v0, v1)``         CDF: ``.option("readChangeFeed", "true")
                            .option("startingVersion", ...)`` (incremental
                            read between snapshot ids)
``compact(zorder_by=c)``    ``OPTIMIZE t ZORDER BY (c)`` (``rewrite_data_files``
                            with sort order)
``delete(cond)``            ``DeltaTable.delete(cond)`` (``DELETE FROM``)
``restore(v)``              ``RESTORE TABLE t TO VERSION AS OF v``
``vacuum()``                ``VACUUM t`` (``expire_snapshots``)
``merge`` (feature_group)   ``DeltaTable.merge().whenMatched...`` (``MERGE
                            INTO``)
``ConcurrentCommitError``   ``ConcurrentModificationException`` — raised
                            when another writer took the version first
==========================  ===================================================

The exclusive-create commit publish below follows Delta's log layout
(versioned JSON actions published atomically over parquet data files), so
time travel and CDF match Delta, and so do concurrent BLIND appends: a
loser re-publishes its files under the next version. Read-modify-write
commits do NOT match Delta yet. ``FeatureGroup.upsert``/``merge`` and
``InferencePipeline.process_batch`` read the online view at version V and
publish rows computed from it; a commit another writer made after V goes
unnoticed, and its update to the same key is silently lost. Delta's
optimistic concurrency check (record the read version, check the commits
published since for overlapping keys) is ROADMAP direction 3.
``tests/test_store.py`` pins the semantics above, so an adapter passes
the same suite.
"""

from __future__ import annotations

import datetime as _dt
import functools
import json
import os
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOG_DIR = "_commits"
_DATA_DIR = "data"


class ConcurrentCommitError(RuntimeError):
    """Another writer published this version first.

    First-writer-wins on the commit FILE: commit files are created
    EXCLUSIVELY (os.link raises EEXIST where os.rename would silently
    replace the winner's commit). Blind appends commute, so ``append``
    retries under the next version automatically; snapshot rewrites
    (``compact``/``delete``/``restore``) abort because their snapshot is
    stale — re-run against the new latest version. This is not a conflict
    check on data: a read-modify-write (``upsert``/``merge``) that lost
    nothing at the file level can still overwrite a newer commit's update
    to the same key (see the module docstring).
    """

# types whose per-file min/max are meaningful and JSON-serializable —
# arrays/maps/binary are excluded (no total order worth skipping on)
_STAT_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.StringType, T.BooleanType,
    T.DateType, T.TimestampType,
)


def _stat_value(v):
    """JSON-safe stat encoding; isoformat keeps timestamp/date ordering
    lexicographic so pruning compares strings, never parses."""
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return v


def _may_match(stats: dict, col: str, op: str, value) -> bool:
    """Can any row of a file with these stats satisfy ``col op value``?
    Conservative: missing stats → True (never prune without evidence);
    all-null column (min is None) → False (comparisons are never true on
    NULL, so the file cannot contribute)."""
    s = stats.get(col)
    if s is None:
        return True
    mn, mx = s.get("min"), s.get("max")
    if mn is None or mx is None:
        return False
    v = _stat_value(value)
    if op == "=":
        return mn <= v <= mx
    if op == "<":
        return mn < v
    if op == "<=":
        return mn <= v
    if op == ">":
        return mx > v
    if op == ">=":
        return mx >= v
    raise ValueError(f"unsupported skip predicate op: {op!r}")


class VersionedParquetTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        partition_cols: list[str] | None = None,
    ):
        """``partition_cols`` (must be schema columns) become hive-style
        directory partitions inside every commit — readers filtering on
        them get partition pruning (directories skipped before any IO),
        the storage-layout half of the 100 TB story. Use low-cardinality
        derived columns (event DATE, not timestamp)."""
        self.spark = spark
        self.path = path
        self.schema = schema
        self.partition_cols = partition_cols or []
        missing = set(self.partition_cols) - set(schema.fieldNames())
        if missing:
            raise ValueError(f"partition columns not in schema: {sorted(missing)}")

    # -- commit log ---------------------------------------------------------
    @property
    def _log_path(self) -> str:
        return os.path.join(self.path, _LOG_DIR)

    def _commit_file(self, version: int) -> str:
        return os.path.join(self._log_path, f"{version:010d}.json")

    def versions(self) -> list[int]:
        if not os.path.isdir(self._log_path):
            return []
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(self._log_path)
            if f.endswith(".json")
        )

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _read_log(self, since: int = 0, until: int | None = None) -> list[dict]:
        """The parsed commits with ``since < version <= until``, in version
        order — the only reader of commit files."""
        out = []
        for v in self.versions():
            if v > since and (until is None or v <= until):
                with open(self._commit_file(v)) as f:
                    out.append(json.load(f))
        return out

    def commits(self) -> list[dict]:
        """Raw commit-log entries (the machine-readable log; ``history()``
        is the DESCRIBE HISTORY DataFrame view of the same)."""
        return self._read_log()

    def _stage(self, commit: dict) -> str:
        """Write ``commit`` to a temp file in the log dir; returns its path."""
        fd, tmp = tempfile.mkstemp(dir=self._log_path, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(commit, f)
        return tmp

    def _publish_new_commit(self, tmp: str, version: int) -> None:
        """Exclusively publish a NEW commit file. ``os.link`` is atomic on
        POSIX and raises if the target exists — unlike ``os.rename``,
        which would silently overwrite a concurrent winner's commit."""
        target = self._commit_file(version)
        try:
            os.link(tmp, target)
        except FileExistsError:
            os.unlink(tmp)
            raise ConcurrentCommitError(
                f"version {version} of {self.path} was committed by another writer"
            ) from None
        os.unlink(tmp)

    def _rewrite_commit(self, c: dict) -> None:
        """Atomically replace a commit file (tempfile + rename)."""
        os.rename(self._stage(c), self._commit_file(c["version"]))

    def _commit(self, df: DataFrame, version: int, **fields) -> int:
        """Write ``df`` to a fresh data dir, then publish it as ``version``;
        returns the published version.

        Files land first and one exclusive link publishes the commit, so a
        reader enumerating the log sees the whole commit or none of it. An
        append (no ``type`` field) is blind: on a lost publish race the
        SAME files are re-committed under the next free version (bounded
        retries), their unpublished data dir renamed first, because
        ``_scan`` reads each row's ``_commit_version`` from that name. A
        compact commit is pinned to its ``base_version``, so a lost race
        means its snapshot is stale and it aborts.
        """
        is_append = "type" not in fields
        os.makedirs(self._log_path, exist_ok=True)
        suffix = uuid.uuid4().hex[:8]
        data_dir = os.path.join(self.path, _DATA_DIR, f"v{version:010d}-{suffix}")
        writer = df.write.mode("errorifexists")
        if self.partition_cols:
            writer = writer.partitionBy(*self.partition_cols)
        writer.parquet(data_dir)
        body = {
            "data_dir": data_dir,
            "schema": df.schema.jsonValue(),
            "partition_cols": self.partition_cols,
            "files": self._collect_file_stats(
                data_dir, self.schema if is_append else self._versioned_schema
            ),
            **fields,
        }
        for _ in range(16):
            tmp = self._stage({"version": version, "ts_unix": time.time(), **body})
            try:
                self._publish_new_commit(tmp, version)
                return version
            except ConcurrentCommitError:
                if not is_append:
                    raise
            old = os.path.basename(body["data_dir"])
            version = (self.latest_version() or 0) + 1
            new = f"v{version:010d}-{suffix}"
            new_dir = os.path.join(self.path, _DATA_DIR, new)
            os.rename(body["data_dir"], new_dir)
            body["data_dir"] = new_dir
            for f in body["files"]:
                f["path"] = f["path"].replace(f"/{old}/", f"/{new}/", 1)
        raise ConcurrentCommitError(
            f"append to {self.path} lost 16 publish races in a row"
        )

    # -- file statistics -----------------------------------------------------
    def _collect_file_stats(self, data_dir: str, schema: T.StructType) -> list[dict]:
        """Per-file row count + min/max per eligible column, in ONE scan
        grouped by ``_metadata.file_path`` (the write-time stats Delta
        keeps in its log; Iceberg in manifests). At 100 TB these are what
        turn a point read into an O(files-touched) operation instead of a
        full scan — the log stays tiny (stats rows, not data rows) and the
        scan is executor-parallel over freshly written, page-cached files.
        """
        stat_cols = [
            f.name for f in schema.fields if isinstance(f.dataType, _STAT_TYPES)
        ]
        df = self.spark.read.schema(schema).parquet(data_dir)
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in stat_cols:
            aggs.append(F.min(c).alias(f"__mn_{c}"))
            aggs.append(F.max(c).alias(f"__mx_{c}"))
        rows = (
            df.groupBy(F.col("_metadata.file_path").alias("__path"))
            .agg(*aggs)
            .collect()
        )
        out = []
        for r in rows:
            d = r.asDict()
            out.append(
                {
                    "path": d["__path"].removeprefix("file://"),
                    "rows": d["__rows"],
                    "stats": {
                        c: {
                            "min": _stat_value(d[f"__mn_{c}"]),
                            "max": _stat_value(d[f"__mx_{c}"]),
                        }
                        for c in stat_cols
                    },
                }
            )
        return out

    # -- schema evolution ----------------------------------------------------
    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "VersionedParquetTable":
        """Reopen an existing table from its commit log alone — the schema
        (including any evolution) and partition layout come from the LATEST
        commit, exactly how Delta/Iceberg readers resolve table metadata.
        No schema argument means no drift between writer and reader."""
        probe = cls(spark, path, T.StructType([]))
        latest = probe.latest_version()
        if latest is None:
            raise ValueError(f"no commits at {path}")
        (commit,) = probe._read_log(since=latest - 1)
        schema = T.StructType.fromJson(commit["schema"])
        fields = [f for f in schema.fields if f.name != "_commit_version"]
        return cls(
            spark,
            path,
            T.StructType(fields),
            partition_cols=commit.get("partition_cols") or [],
        )

    def _evolve_schema(self, incoming: T.StructType) -> None:
        """Widen self.schema with columns new in ``incoming`` (appended at
        the end, Delta mergeSchema semantics). Existing columns must keep
        their types — type *changes* are rejected, only additions evolve."""
        existing = {f.name: f.dataType for f in self.schema.fields}
        for f in incoming.fields:
            have = existing.get(f.name)
            if have is not None and have != f.dataType:
                raise ValueError(
                    f"column {f.name!r} type change {have} -> {f.dataType} "
                    "is not schema evolution; only new columns are mergeable"
                )
        new = [f for f in incoming.fields if f.name not in existing]
        if new:
            self.schema = T.StructType([*self.schema.fields, *new])

    @property
    def _versioned_schema(self) -> T.StructType:
        """The table's columns plus ``_commit_version`` — the schema of
        every read, and of compacted files, which materialize it."""
        return T.StructType(
            [*self.schema.fields, T.StructField("_commit_version", T.IntegerType())]
        )

    # -- write --------------------------------------------------------------
    def append(self, df: DataFrame, merge_schema: bool = False) -> int:
        """Append a new immutable version; returns the committed version id.

        ``merge_schema=True`` (Delta's mergeSchema): new columns in ``df``
        widen the table schema; columns the table has but ``df`` lacks are
        filled with NULL. Earlier commits' files simply lack the new
        columns — the parquet reader yields NULL for them, so old
        snapshots and the live table stay readable with one schema.
        """
        if merge_schema:
            self._evolve_schema(df.schema)
            missing = [
                f for f in self.schema.fields if f.name not in df.schema.fieldNames()
            ]
            for f in missing:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
            df = df.select(*self.schema.fieldNames())
        if [f.name for f in df.schema.fields] != [f.name for f in self.schema.fields]:
            raise ValueError(
                f"schema mismatch: expected {self.schema.fieldNames()}, "
                f"got {df.schema.fieldNames()}"
            )
        return self._commit(df, (self.latest_version() or 0) + 1)

    # -- maintenance --------------------------------------------------------
    def compact(
        self,
        cluster_by: list[str] | None = None,
        n_files: int | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Rewrite the current snapshot as one commit (OPTIMIZE analog).

        Small-file mitigation: N append commits become a single data dir;
        subsequent reads scan compacted files + any later appends. The
        per-row ``_commit_version`` is MATERIALIZED into the compacted
        files, so arrival-order semantics (parity online view, §2.13 Q5)
        survive compaction bit-for-bit. Old dirs are kept for time travel
        (a vacuum policy would garbage-collect them after a retention
        window, exactly like Delta).

        ``cluster_by``: range-cluster the rewrite on these columns
        (repartitionByRange + sortWithinPartitions — the OPTIMIZE ZORDER /
        liquid-clustering analog). Files then hold disjoint key ranges, so
        the per-file min/max stats become *tight* and a point read prunes
        to ~1 file instead of all of them. Cluster on the serving key; at
        100 TB this is the difference between a point read touching one
        row group and touching every file in the table.

        ``zorder_by``: Morton-interleave the columns' bits and range-cluster
        on the resulting z-value (OPTIMIZE ZORDER BY proper — see
        operators/zorder.py). Unlike ``cluster_by`` (lexicographic: only
        the leading column's stats get tight), every z-ordered dimension
        gets tight per-file min/max boxes, so predicates on ANY of them
        prune files. Use for multi-column point/range read patterns.

        ``n_files``: explicit output file count (the OPTIMIZE target-file-
        size knob, expressed as a count). Without it AQE sizes the shuffle
        — right at scale, but at toy scale it coalesces everything into
        one file and there is nothing left to skip.
        """
        if cluster_by and zorder_by:
            raise ValueError("cluster_by and zorder_by are mutually exclusive")
        base = self.latest_version()
        if base is None:
            raise ValueError("nothing to compact: table has no commits")
        missing = set(cluster_by or zorder_by or []) - set(self.schema.fieldNames())
        if missing:
            raise ValueError(f"cluster columns not in schema: {sorted(missing)}")
        snapshot = self.read()  # includes _commit_version
        if zorder_by:
            from feature_store_test_spark.operators.zorder import zorder_key

            z = zorder_key(snapshot, list(zorder_by))
            range_args = ([n_files] if n_files else []) + ["__z"]
            snapshot = (
                snapshot.withColumn("__z", z)
                .repartitionByRange(*range_args)
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif cluster_by:
            range_args = ([n_files] if n_files else []) + list(cluster_by)
            snapshot = snapshot.repartitionByRange(*range_args).sortWithinPartitions(
                *cluster_by
            )
        elif n_files:
            snapshot = snapshot.repartition(n_files)
        return self._rewrite_snapshot(
            snapshot, base, cluster_by=cluster_by or [], zorder_by=zorder_by or []
        )

    def _rewrite_snapshot(self, snapshot: DataFrame, base: int, **extra) -> int:
        """Publish ``snapshot`` (with its ``_commit_version`` column) as a
        compact-type commit replacing everything up to ``base``. Shared by
        compact / delete / restore — every full-snapshot rewrite op."""
        return self._commit(
            snapshot, base + 1, type="compact", base_version=base, **extra
        )

    def delete(self, condition) -> tuple[int, int]:
        """DELETE FROM analog: rewrite the snapshot without matching rows.

        ``condition``: a Column or SQL string. Returns (new_version,
        n_deleted). Copy-on-write like Delta's DELETE — time travel to
        any pre-delete version still sees the rows (vacuum is the
        retention boundary, same as always). At scale the rewrite cost is
        the snapshot scan; partition-aligned predicates could rewrite
        only affected partitions (documented trade — not implemented)."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        base = self.latest_version()
        if base is None:
            raise ValueError("nothing to delete from: table has no commits")
        snapshot = self.read().cache()
        try:
            n_deleted = snapshot.where(cond).count()
            kept = snapshot.where(~cond | cond.isNull())
            version = self._rewrite_snapshot(
                kept, base, op="delete", predicate=str(condition)
            )
        finally:
            snapshot.unpersist()
        return version, n_deleted

    def restore(self, to_version: int) -> int:
        """RESTORE analog: re-publish the snapshot as of ``to_version`` as
        the new latest version (history is preserved — the restore is
        itself a commit, exactly like Delta RESTORE)."""
        if to_version not in self.versions():
            raise ValueError(f"unknown version {to_version}")
        base = self.latest_version()
        snapshot = self.read(as_of_version=to_version)
        return self._rewrite_snapshot(
            snapshot, base, op="restore", restored_from=to_version
        )

    def history(self) -> DataFrame:
        """DESCRIBE HISTORY analog: one row per commit — version, type,
        operation, timestamp, file/row counts — straight from the log."""
        rows = []
        for c in self._read_log():
            files = c.get("files") or []
            rows.append(
                (
                    c["version"],
                    c.get("type", "append"),
                    c.get("op", c.get("type", "append")),
                    float(c["ts_unix"]),
                    len(files),
                    sum(f.get("rows") or 0 for f in files),
                    c.get("base_version"),
                    c.get("restored_from"),
                )
            )
        return self.spark.createDataFrame(
            rows,
            "version int, type string, op string, ts_unix double, "
            "n_files int, n_rows long, base_version int, restored_from int",
        )

    def vacuum(self) -> list[int]:
        """Garbage-collect data made unreachable by the LATEST compaction:
        commits at or below its base_version. Their commit files are kept
        (tombstoned with the data_dir nulled) so the version history stays
        enumerable; time travel below the compaction base stops working —
        the documented retention trade, same as Delta VACUUM.

        Returns the version ids whose data deletion COMPLETED in this
        call (a version whose rmtree fails non-fatally is reported by
        the later call whose retry leg finishes it — exactly once).
        """
        import shutil

        commits = self._read_log()
        compacts = [c for c in commits if c.get("type") == "compact"]
        if not compacts:
            return []
        base = max(compacts, key=lambda c: c["version"])["base_version"]
        removed = []
        for c in commits:
            if not c.get("vacuumed"):
                if c["version"] > base or not c.get("data_dir"):
                    continue
                # tombstone BEFORE deleting: a crash then leaks the
                # directory (the retained vacuum_dir lets the next call
                # finish it) instead of leaving a commit that points at
                # deleted data
                c["vacuum_dir"] = c["data_dir"]
                c["data_dir"] = None
                c["vacuumed"] = True
                self._rewrite_commit(c)
            elif not c.get("vacuum_dir"):
                continue
            shutil.rmtree(c["vacuum_dir"], ignore_errors=True)
            # reported by the one call whose rmtree finished: a failure
            # swallowed by ignore_errors keeps vacuum_dir for a later retry
            if not os.path.exists(c["vacuum_dir"]):
                c.pop("vacuum_dir")
                self._rewrite_commit(c)
                removed.append(c["version"])
        return removed

    # -- read ---------------------------------------------------------------
    def _visible_commits(self, as_of_version: int | None) -> list[dict]:
        """The commits a snapshot reads: the latest visible compaction (if
        any) first, then the append commits above its base_version — a
        compaction replaces every commit at or below its base (older dirs
        remain only for deeper time travel)."""
        commits = self._read_log(until=as_of_version)
        compact = max(
            (c for c in commits if c.get("type") == "compact"),
            key=lambda c: c["version"],
            default=None,
        )
        snapshot = ([compact] if compact else []) + [
            c
            for c in commits
            if c.get("type", "append") == "append"
            and (compact is None or c["version"] > compact["base_version"])
        ]
        gone = [c["version"] for c in snapshot if not c.get("data_dir")]
        if gone:
            raise ValueError(
                f"versions {gone} were vacuumed; time travel below the "
                "compaction base is no longer available"
            )
        return snapshot

    @staticmethod
    def _candidate_files(commit: dict, where: list[tuple]) -> list[str] | None:
        """File paths of this commit that may hold matching rows, or None
        when the commit predates stats (→ scan its whole dir)."""
        files = commit.get("files")
        if files is None:
            return None
        return [
            f["path"]
            for f in files
            if all(_may_match(f["stats"], c, op, v) for (c, op, v) in where)
        ]

    def _scan(self, commits: list[dict], where: list[tuple] | None = None) -> DataFrame:
        """Rows of ``commits`` with ``_commit_version``; the empty frame
        when there are none.

        Append commits are read in ONE multi-path scan (a union per commit
        grows the plan with history and chokes the optimizer); each row's
        version is recovered from its data-dir name via
        ``_metadata.file_path`` (input_file_name() is non-deterministic
        and would block pushdown). Three cases read per commit, with the
        data dir as basePath, and union: compacted files, which carry
        ``_commit_version`` as a column; hive-partitioned dirs, which
        Spark's partition discovery refuses to mix in one scan
        (CONFLICTING_DIRECTORY_STRUCTURES); and a stats-pruned ``where``
        read, which lists each commit's candidate files and skips commits
        with none.
        """
        scans = []  # (paths, basePath, compacted)
        shared = []
        for c in commits:
            compacted = c.get("type") == "compact"
            paths = self._candidate_files(c, where) if where else None
            if paths == []:
                continue
            if compacted or where or self.partition_cols:
                scans.append((paths or [c["data_dir"]], c["data_dir"], compacted))
            else:
                shared.append(c["data_dir"])
        if shared:
            scans.append((shared, None, False))
        cols = [*self.schema.fieldNames(), "_commit_version"]
        parts = []
        for paths, base, compacted in scans:
            reader = self.spark.read.schema(
                self._versioned_schema if compacted else self.schema
            )
            if base is not None:
                reader = reader.option("basePath", base)
            df = reader.parquet(*paths)
            if not compacted:
                df = df.withColumn(
                    "_commit_version",
                    F.regexp_extract(
                        F.col("_metadata.file_path"), r"/v(\d{10})-[0-9a-f]{8}/", 1
                    ).cast("int"),
                )
            parts.append(df.select(*cols))
        if not parts:
            return self.spark.createDataFrame([], self._versioned_schema)
        return functools.reduce(DataFrame.unionByName, parts)

    def read(
        self,
        as_of_version: int | None = None,
        where: list[tuple] | None = None,
    ) -> DataFrame:
        """Snapshot read of all rows, optionally time-traveled.

        Adds ``_commit_version`` (the ingest sequence number) — the
        arrival-order axis used by parity-mode "latest" semantics
        (SURVEY.md §2.13 Q5).

        ``where``: list of ``(col, op, value)`` with op in {=,<,<=,>,>=},
        ANDed. Used twice: files whose min/max stats cannot satisfy the
        conjunction are SKIPPED before Spark ever lists them (data
        skipping, the Delta/Iceberg stats-pruning idea), and the exact
        predicate is applied to the surviving rows — so the result equals
        ``read().where(...)`` while a clustered point read touches ~1 file.
        """
        result = self._scan(self._visible_commits(as_of_version), where)
        for c, op, v in where or []:
            col = F.col(c)
            cond = {
                "=": col == v, "<": col < v, "<=": col <= v,
                ">": col > v, ">=": col >= v,
            }[op]
            result = result.where(cond)
        return result

    def changes(
        self, since_version: int, until_version: int | None = None
    ) -> DataFrame:
        """Change data feed: rows committed in versions (since, until] —
        the Delta CDF / Iceberg incremental-read idea. Insert-only view:
        on an append-only history every change is an insert at its commit
        version; key-level insert-vs-update classification lives one
        layer up (FeatureGroup.changes), where the key is known. If the
        range contains a ``delete()``/``restore()``, removed rows are NOT
        reported here — use ``diff()`` for delete-aware consumption.

        Incremental consumers (downstream training jobs, online-view
        refreshers) read ONLY the new commits' directories — O(new data),
        not O(table) — because the version filter selects whole data dirs
        before any file IO.
        """
        until = until_version if until_version is not None else self.latest_version()
        window = self._read_log(since_version, until)
        if any(c.get("type") == "compact" for c in window):
            # a compaction in range rewrote history; its dir mixes old and
            # new rows, so fall back to snapshot + _commit_version filter
            # (still correct — the version column is materialized)
            out = self.read(as_of_version=until)
            return out.where(F.col("_commit_version") > since_version)
        if not all(c.get("data_dir") for c in window):
            raise ValueError("requested change range includes vacuumed commits")
        return self._scan(window)

    def diff(
        self,
        since_version: int,
        until_version: int | None = None,
        key_cols: list[str] | None = None,
    ) -> DataFrame:
        """Delete-aware change feed: snapshot difference between two
        versions, each row tagged ``_change_type``.

        Without ``key_cols``: multiset row diff (``exceptAll`` both ways)
        → 'insert' / 'delete' rows only. With ``key_cols``: keys present
        on one side only are 'insert'/'delete'; keys on both sides whose
        non-key columns changed emit an 'update_pre' (old values) and
        'update_post' (new values) pair — the Delta CDF row vocabulary.

        Scale: two snapshot reads + one shuffle each on the diff keys; at
        100 TB, consume the insert-only ``changes()`` incrementally where
        possible and reserve ``diff`` for ranges containing rewrites —
        exactly how Delta consumers treat versions with deletes.
        """
        until = until_version if until_version is not None else self.latest_version()
        cols = self.schema.fieldNames()
        before = self.read(as_of_version=since_version or 0).select(*cols)
        after = self.read(as_of_version=until).select(*cols)
        tag = lambda df, t: df.withColumn("_change_type", F.lit(t))  # noqa: E731
        if not key_cols:
            return tag(after.exceptAll(before), "insert").unionByName(
                tag(before.exceptAll(after), "delete")
            )
        val_cols = [c for c in cols if c not in key_cols]
        b, a = before.alias("b"), after.alias("a")
        inserted = a.join(b, key_cols, "left_anti")
        deleted = b.join(a, key_cols, "left_anti")
        both = a.join(b, key_cols)
        changed = both.where(
            ~F.struct(*[F.col(f"a.{c}") for c in val_cols]).eqNullSafe(
                F.struct(*[F.col(f"b.{c}") for c in val_cols])
            )
        )
        pre = changed.select(
            *key_cols, *[F.col(f"b.{c}").alias(c) for c in val_cols]
        )
        post = changed.select(
            *key_cols, *[F.col(f"a.{c}").alias(c) for c in val_cols]
        )
        ordered = [*key_cols, *val_cols]
        return (
            tag(inserted.select(*ordered), "insert")
            .unionByName(tag(deleted.select(*ordered), "delete"))
            .unionByName(tag(pre.select(*ordered), "update_pre"))
            .unionByName(tag(post.select(*ordered), "update_post"))
        )

    def skipping_report(
        self, where: list[tuple], as_of_version: int | None = None
    ) -> dict:
        """Log-only pruning preview (no data IO): how many files/rows the
        snapshot holds vs how many survive stats pruning for ``where``.
        The observability hook tests and capacity planning use to check a
        clustering layout actually earns its rewrite."""
        total_f = cand_f = total_r = cand_r = 0
        no_stats = 0
        for c in self._visible_commits(as_of_version):
            files = c.get("files")
            if files is None:
                no_stats += 1
                continue
            cand = set(self._candidate_files(c, where))
            for f in files:
                total_f += 1
                total_r += f["rows"]
                if f["path"] in cand:
                    cand_f += 1
                    cand_r += f["rows"]
        return {
            "total_files": total_f,
            "candidate_files": cand_f,
            "total_rows": total_r,
            "candidate_rows": cand_r,
            "commits_without_stats": no_stats,
        }
