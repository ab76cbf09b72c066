"""Minimal ACID table format: snapshot-isolated parquet with a
Delta-style commit log (SURVEY.md §2.1 S12; reference upsert semantics
``data_alpaca/bars.py:196-198,424-428`` ON CONFLICT DO NOTHING, Iceberg
CTAS/overwrite ``processing/Procesamiento_fase_1.ipynb`` cells 9/20).

Delta/Iceberg aren't installable in this container, so this module
implements the part of their design the engine actually needs — atomic
commits, snapshot isolation, optimistic concurrency, time travel — as a
file-system commit protocol over plain parquet:

Layout::

    table_root/
      _commits/00000000.json     # one manifest per version
      _commits/00000001.json
      data/w-<uuid>/part-*.parquet   # immutable; one dir per write job

* A manifest lists the RELATIVE paths of every live data file at that
  version plus op metadata. Readers resolve the highest committed
  version and read exactly those files — data written by in-flight or
  crashed jobs is invisible (snapshot isolation; a crash mid-write
  leaves only an unreferenced ``data/w-*`` dir).
* Publishing a commit is atomic create-if-absent: the manifest is fully
  written + fsynced to a temp name, then ``os.link``-ed to
  ``_commits/N.json`` — hardlink creation fails if N already exists, so
  exactly one writer wins each version (the rename-based equivalent of
  Delta's LogStore ``putIfAbsent``; on an object store this maps to a
  conditional PUT).
* Losers of the race retry OPTIMISTICALLY: re-read the new snapshot,
  recompute their change, attempt version N+1. Orphaned data dirs from
  lost races stay unreferenced until ``vacuum()``.
* DML is COPY-ON-WRITE at file granularity (``delete_where`` /
  ``update_where``): only files containing matching rows are rewritten;
  everything else carries into the new manifest by reference — the
  Delta/Iceberg rewrite-minimality contract.

Only table METADATA passes through the driver (file lists; O(files) like
every table format) — data itself moves executor-side via ordinary
parquet jobs, so the protocol adds no data-path driver work at 100 TB.
The file-list read (``spark.read.parquet(*files)``) keeps predicate
pushdown and column pruning intact; at real scale the manifest would
also carry per-file min/max stats for file skipping (noted, not needed
at test SF).
"""

from __future__ import annotations

import json
import os
import urllib.parse
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_COMMITS = "_commits"
_DATA = "data"


def _stat_value(v):
    """Manifest-JSON-safe stat value: numbers/strings/None pass through;
    timestamps/dates serialize as ISO strings (which order
    lexicographically == chronologically for a uniform format, so
    pruning comparisons stay correct)."""
    if v is None or isinstance(v, (int, float, bool, str)):
        return v
    iso = getattr(v, "isoformat", None)
    return iso() if iso else str(v)


class CommitConflict(RuntimeError):
    """Another writer committed the target version first."""


class ExpectationViolation(ValueError):
    """A CHECK-constraint expectation failed; the batch was rejected."""


class AcidTable:
    """Snapshot-isolated parquet table with an atomic commit log."""

    # Cap on the driver-side distinct partition-tuple collect in
    # overwrite_partitions — generous for any real date/symbol layout,
    # far below driver-OOM territory. Class attribute so a deployment
    # with a genuinely wider layout can raise it deliberately.
    MAX_OVERWRITE_PARTITIONS = 100_000

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, _COMMITS), exist_ok=True)
        os.makedirs(os.path.join(root, _DATA), exist_ok=True)

    # ------------------------------------------------------------- log --
    def _commit_path(self, version: int) -> str:
        return os.path.join(self.root, _COMMITS, f"{version:08d}.json")

    def latest_version(self) -> int | None:
        """Highest committed version, or None for an empty log. Torn or
        foreign files (temp names from crashed publishers) are ignored —
        only fully-linked ``NNNNNNNN.json`` names count as committed."""
        versions = [
            int(f[:8])
            for f in os.listdir(os.path.join(self.root, _COMMITS))
            if len(f) == 13 and f.endswith(".json") and f[:8].isdigit()
        ]
        return max(versions) if versions else None

    def _manifest(self, version: int) -> dict:
        with open(self._commit_path(version)) as fh:
            return json.load(fh)

    def history(self) -> list[dict]:
        """All committed manifests, oldest first (op metadata audit)."""
        latest = self.latest_version()
        if latest is None:
            return []
        return [self._manifest(v) for v in range(latest + 1)]

    def _try_commit(
        self,
        version: int,
        op: str,
        files: list[str],
        schema_ddl: str,
        spec: list[str] | None = None,
        stats: dict | None = None,
    ) -> None:
        """Atomically publish ``version``; raise CommitConflict if lost."""
        manifest = {
            "version": version,
            "op": op,
            "files": sorted(files),
            "schema": schema_ddl,
            "parent": version - 1 if version else None,
        }
        if spec is not None:
            manifest["spec"] = spec
        if stats is not None:
            manifest["stats"] = stats
        tmp = self._commit_path(version) + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            # Hardlink = atomic create-if-absent: exactly one writer can
            # publish each version (POSIX link(2) fails on existing dst).
            os.link(tmp, self._commit_path(version))
        except FileExistsError as ex:
            raise CommitConflict(f"version {version} already committed") from ex
        finally:
            os.unlink(tmp)

    # ------------------------------------------------------------ data --
    def _write_data(self, df: DataFrame) -> list[str]:
        """Write a job's files to a fresh immutable dir; return the
        relative part-file paths (invisible until a commit lists them)."""
        rel_dir = os.path.join(_DATA, f"w-{uuid.uuid4().hex[:12]}")
        out = os.path.join(self.root, rel_dir)
        df.write.option("compression", "snappy").mode("overwrite").parquet(out)
        return [
            os.path.join(rel_dir, f)
            for f in os.listdir(out)
            if f.endswith(".parquet")
        ]

    def _file_stats(
        self, rel_files: list[str], stats_cols: list[str]
    ) -> dict:
        """Per-file min/max for ``stats_cols`` — the manifest-level
        statistics every table format carries for FILE SKIPPING (the
        extension point the module docstring promises). One grouped
        aggregate over the new files (executor-side; only the stat
        columns are read), keyed back to relative paths."""
        paths = [os.path.join(self.root, f) for f in rel_files]
        rows = (
            self.spark.read.parquet(*paths)
            .select(F.input_file_name().alias("_f"), *stats_cols)
            .groupBy("_f")
            .agg(
                *[F.min(c).alias(f"_min_{c}") for c in stats_cols],
                *[F.max(c).alias(f"_max_{c}") for c in stats_cols],
            )
            .collect()
        )
        by_rel: dict = {}
        for r in rows:
            fname = urllib.parse.unquote(r["_f"])
            rel = next(
                (f for f in rel_files if fname.endswith(f)), None
            )
            if rel is None:
                continue
            by_rel[rel] = {
                c: [
                    _stat_value(r[f"_min_{c}"]),
                    _stat_value(r[f"_max_{c}"]),
                ]
                for c in stats_cols
            }
        return by_rel

    # ------------------------------------------------------------ read --
    def prune_files(
        self, col: str, lo, hi, version: int | None = None
    ) -> tuple[list[str], int]:
        """Manifest-stats file skipping: the files whose [min, max] on
        ``col`` INTERSECTS [lo, hi], plus every file lacking stats (a
        file without stats can never be skipped — correctness first).
        Pure METADATA — no data file is opened, which is the entire
        point at 100 TB: a z-ordered table answers a band probe from
        the manifest in O(files) driver work, zero I/O. Returns
        (surviving files, total files)."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        manifest = self._manifest(latest if version is None else version)
        stats = manifest.get("stats", {})
        lo_c, hi_c = _stat_value(lo), _stat_value(hi)
        keep = []
        for f in manifest["files"]:
            s = stats.get(f, {}).get(col)
            if (
                s is None
                or s[0] is None
                or s[1] is None
                or type(s[0]) is not type(lo_c) and not (
                    isinstance(s[0], (int, float))
                    and isinstance(lo_c, (int, float))
                )
            ):
                keep.append(f)  # no/ mismatched stats -> cannot skip
            elif not (s[1] < lo_c or s[0] > hi_c):
                keep.append(f)
        return keep, len(manifest["files"])

    def read_range(
        self, col: str, lo, hi, version: int | None = None
    ) -> DataFrame:
        """Band-probe read: manifest-stats pruning picks the candidate
        files, then the ordinary filtered scan applies the RESIDUAL
        predicate (stats prune at file granularity; rows inside a
        surviving file still filter). Identical results to a full-scan
        filter by construction — the skipped files provably contain no
        matching row."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        v = latest if version is None else version
        keep, _total = self.prune_files(col, lo, hi, v)
        schema = T._parse_datatype_string(self._manifest(v)["schema"])
        if not keep:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.root, f) for f in keep]
        return (
            self.spark.read.schema(schema)
            .parquet(*paths)
            .filter((F.col(col) >= lo) & (F.col(col) <= hi))
        )

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read (time travel via ``version``). Only files listed
        in that version's manifest are scanned."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        if version is None:
            version = latest
        manifest = self._manifest(version)
        schema = T._parse_datatype_string(manifest["schema"])
        if not manifest["files"]:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.root, f) for f in manifest["files"]]
        # Explicit schema: skips footer-merging inference over N files.
        return self.spark.read.schema(schema).parquet(*paths)

    def changes(self, v_from: int, v_to: int) -> DataFrame:
        """Row-level change feed between two committed snapshots (the
        Delta-CDF / incremental-consumption analogue, the read side of
        the reference's incremental sync planner — data_alpaca/
        bars.py:74-137 plans "what changed since the cursor").

        Scans ONLY the manifests' file-set symmetric difference: rows in
        files carried over between versions never leave the executors'
        scan pruning, so the cost is proportional to the CHANGE, not the
        table (a MERGE touching 1 of 10k files reads 1 file plus its
        rewrite, not 100 TB). Within the touched files, unchanged rows
        of copy-on-write rewrites cancel via multiset difference:

        * insert  -> row appears in (added minus removed)
        * delete  -> row appears in (removed minus added)
        * update  -> old image as delete + new image as insert

        Returns ``v_to``'s schema plus ``_change_type``
        ('insert' | 'delete'). Compaction (same rows, new files) yields
        an empty feed.
        """
        mf_from, mf_to = self._manifest(v_from), self._manifest(v_to)
        added = sorted(set(mf_to["files"]) - set(mf_from["files"]))
        removed = sorted(set(mf_from["files"]) - set(mf_to["files"]))
        schema = T._parse_datatype_string(mf_to["schema"])

        def _scan(files: list[str]) -> DataFrame:
            if not files:
                return self.spark.createDataFrame([], schema)
            return self.spark.read.schema(schema).parquet(
                *[os.path.join(self.root, f) for f in files]
            )

        added_df, removed_df = _scan(added), _scan(removed)
        inserts = added_df.exceptAll(removed_df).withColumn(
            "_change_type", F.lit("insert")
        )
        deletes = removed_df.exceptAll(added_df).withColumn(
            "_change_type", F.lit("delete")
        )
        return inserts.unionByName(deletes)

    # ---------------------------------------------------------- writes --
    def overwrite(self, df: DataFrame) -> int:
        """CTAS / full replace as one atomic commit."""
        return self._commit_loop("overwrite", df, lambda snap_files: [])

    def append(
        self,
        df: DataFrame,
        expectations: dict[str, Column] | None = None,
    ) -> int:
        """Atomic append (blind insert; never conflicts logically, only
        on version numbers — retried). New columns in ``df`` evolve the
        table schema additively (see ``_evolved_schema_ddl``).

        ``expectations`` are CHECK constraints (the Delta constraints
        analogue): named boolean Columns every batch row must satisfy.
        Violations REJECT the whole batch before any file is written —
        the table never holds a partially-validated commit — and the
        error reports per-expectation violation counts plus a sample
        row. One aggregate pass computes every expectation at once
        (count_if per constraint); at 100 TB that is one map-side-
        combined scan of the batch, not one scan per constraint.

        The batch is PINNED (``localCheckpoint``) before validation so
        the validated rows are exactly the written rows — without the
        pin, a non-deterministic or concurrently-changing source (a
        directory gaining files between actions, executor-side state in
        a mapInPandas) could pass the validation aggregate yet commit
        rows that violate the constraints."""
        if expectations:
            df = df.localCheckpoint(eager=True)
            counts = df.agg(
                *[
                    F.count_if(~F.coalesce(cond, F.lit(False))).alias(name)
                    for name, cond in expectations.items()
                ]
            ).first()
            violated = {k: counts[k] for k in expectations if counts[k] > 0}
            if violated:
                bad = df.filter(
                    ~F.coalesce(
                        expectations[next(iter(violated))], F.lit(False)
                    )
                ).first()
                raise ExpectationViolation(
                    f"append rejected: expectations violated {violated} "
                    f"(sample failing row for {next(iter(violated))!r}: {bad})"
                )
        return self._commit_loop(
            "append", df, lambda snap_files: snap_files, evolve=True
        )

    def _evolved_schema_ddl(self, df: DataFrame, latest: int | None) -> str:
        """ADD-COLUMN schema evolution: the committed schema is the
        current snapshot's fields followed by the batch's new fields.
        Earlier files simply lack the new columns — the explicit-schema
        snapshot read fills them with NULL, so no rewrite ever happens
        (the Delta/Iceberg mergeSchema contract). Changing an EXISTING
        column's type is refused loudly — evolution only widens."""
        if latest is None:
            return df.schema.simpleString()[7:-1]  # strip struct<...>
        old = T._parse_datatype_string(self._manifest(latest)["schema"])
        by_name = {f.name: f for f in old.fields}
        for f in df.schema.fields:
            have = by_name.get(f.name)
            if have is not None and have.dataType != f.dataType:
                raise ValueError(
                    f"schema evolution cannot change {f.name}: "
                    f"{have.dataType.simpleString()} -> "
                    f"{f.dataType.simpleString()}"
                )
        merged = T.StructType(
            list(old.fields)
            + [f for f in df.schema.fields if f.name not in by_name]
        )
        return merged.simpleString()[7:-1]

    def _commit_loop(
        self, op, df, keep_fn, max_retries: int = 10, evolve: bool = False
    ) -> int:
        files = self._write_data(df)
        for _ in range(max_retries):
            latest = self.latest_version()
            base = [] if latest is None else self._manifest(latest)["files"]
            version = 0 if latest is None else latest + 1
            schema_ddl = (
                self._evolved_schema_ddl(df, latest)
                if evolve
                else df.schema.simpleString()[7:-1]
            )
            try:
                self._try_commit(version, op, keep_fn(base) + files, schema_ddl)
                return version
            except CommitConflict:
                continue  # data files are reusable; only the log moved
        raise CommitConflict(f"lost {max_retries} commit races on {self.root}")

    def append_with_recompute(self, build_df, max_retries: int = 10) -> int:
        """Atomic append whose BATCH is derived from the current
        snapshot (a per-name version counter, a dedup decision, ...):
        ``build_df(snapshot_df_or_None)`` is re-evaluated against the
        WINNER's snapshot after every lost commit race, so
        snapshot-derived values stay serializable — a batch built once
        before the loop would hand two concurrent writers the same
        counter. The losing attempt's data files are unlinked before
        the retry, so no orphan parquet accumulates under data/.

        The public API for the model-registry pattern (ml_prep
        .save_model) and anything else that must read-then-append in
        one serializable step; keeps callers off the private
        _write_data/_manifest/_try_commit internals."""
        for _ in range(max_retries):
            latest = self.latest_version()
            if latest is None:
                snap, base, schema = None, [], None
            else:
                manifest = self._manifest(latest)
                snap = self.read(latest)
                base, schema = manifest["files"], manifest["schema"]
            df = build_df(snap)
            if schema is None:
                schema = df.schema.simpleString()[7:-1]
            files = self._write_data(df)
            try:
                self._try_commit(
                    0 if latest is None else latest + 1,
                    "append", base + files, schema,
                )
                return 0 if latest is None else latest + 1
            except CommitConflict:
                self._unlink_files(files)
                continue  # rebuild against the winner's snapshot
        raise CommitConflict(
            f"lost {max_retries} commit races on {self.root}"
        )

    def _unlink_files(self, rel_files: list[str]) -> None:
        """Best-effort removal of data files a losing commit attempt
        wrote (they are invisible — no manifest references them)."""
        for rel in rel_files:
            try:
                os.unlink(os.path.join(self.root, rel))
            except OSError:
                pass

    def merge_insert_only(
        self, updates: DataFrame, keys: list[str], max_retries: int = 5
    ) -> int:
        """Transactional MERGE ... WHEN NOT MATCHED THEN INSERT (the
        SQLAlchemy ON CONFLICT DO NOTHING of bars.py:196-198, made
        atomic): rows whose key exists in the CURRENT snapshot are
        dropped, survivors become new files, and the commit publishes
        old+new atomically. On a lost race the anti-join re-runs against
        the WINNER's snapshot — the recheck that makes concurrent
        insert-only merges serializable (no duplicate keys, ever)."""
        for _ in range(max_retries):
            latest = self.latest_version()
            if latest is None:
                try:
                    return self._commit_loop("merge", updates, lambda b: b, 1)
                except CommitConflict:
                    continue
            snapshot = self._manifest(latest)
            existing_keys = self.read(latest).select(*keys)
            # Column-pruned existing side; anti-join broadcasts the small
            # side under AQE — same shape as the non-ACID upsert path.
            new_rows = updates.join(existing_keys, keys, "left_anti")
            files = self._write_data(new_rows)
            try:
                self._try_commit(
                    latest + 1,
                    "merge",
                    snapshot["files"] + files,
                    snapshot["schema"],
                )
                return latest + 1
            except CommitConflict:
                # recompute against the new snapshot; drop the loser's
                # files (the anti-join result is snapshot-dependent)
                self._unlink_files(files)
                continue
        raise CommitConflict(f"lost {max_retries} merge races on {self.root}")

    def merge_upsert(
        self, updates: DataFrame, keys: list[str], max_retries: int = 5
    ) -> int:
        """Two-branch transactional MERGE (UPDATE matched / INSERT
        unmatched). See ``merge_full`` for the three-branch form with a
        WHEN MATCHED ... DELETE clause."""
        return self.merge_full(
            updates, keys, delete_condition=None, max_retries=max_retries,
            _op="merge_upsert",
        )

    def merge_full(
        self,
        updates: DataFrame,
        keys: list[str],
        delete_condition: Column | None = None,
        tombstone_col: str | None = None,
        max_retries: int = 5,
        _op: str = "merge",
    ) -> int:
        """Full transactional MERGE (the Delta ``WHEN MATCHED THEN
        UPDATE SET * / WHEN NOT MATCHED THEN INSERT *`` upsert — the op
        ``merge_insert_only``'s DO-NOTHING semantics stop short of),
        optionally with the THIRD Delta branch: ``WHEN MATCHED AND
        <delete_condition> THEN DELETE``. ``delete_condition`` is a
        Column over the SOURCE row: matched targets whose source image
        satisfies it are removed instead of updated; UNMATCHED source
        rows satisfying it match no clause and are ignored (Delta's
        documented semantics). Implementation: the copy-on-write probe/
        rewrite removes ALL matched keys' old images; the landing batch
        is the source MINUS its delete-flagged rows — update keys land
        their new image, delete keys land nothing (= deleted), inserts
        land fresh.

        Copy-on-write: a keys-only semi-join probe finds the files
        holding matched rows (column-pruned scan + the small key set;
        untouched files carry over by reference), those files are
        rewritten WITHOUT their matched rows, and the whole source batch
        lands as new files — matched keys get their new image, unmatched
        keys insert. One commit publishes all three file sets
        atomically; ``changes()`` shows each matched key as
        delete(old image) + insert(new image), inserts as insert.

        Delta semantics on ambiguity: multiple source rows per key is an
        ERROR (the update image would be nondeterministic), checked with
        one aggregate over the (small) source batch. On a lost commit
        race the probe re-runs against the winner's snapshot. The source
        must match the table schema (no implicit evolution — use
        ``append`` for schema-widening loads).

        ``tombstone_col`` is the CDC-feed form of the delete branch: the
        source carries a boolean flag column that is NOT part of the
        table schema (Debezium's op='d', Delta CDF's _change_type).
        Flagged rows delete their matched targets; the flag column is
        dropped before the landing write and excluded from the schema
        check. Mutually exclusive with ``delete_condition``."""
        if tombstone_col is not None:
            if delete_condition is not None:
                raise ValueError(
                    "pass either delete_condition or tombstone_col, not both"
                )
            delete_condition = F.col(tombstone_col).cast("boolean")
        # Delta semantics: a NULL clause condition means the row does NOT
        # match the delete clause and falls through to UPDATE — coalesce
        # to false so NULL-flag rows stay in the landing batch instead of
        # being silently deleted (their matched old image is removed by
        # the probe either way, so dropping them here would delete them).
        if delete_condition is not None:
            delete_condition = F.coalesce(delete_condition, F.lit(False))
        landing = (
            updates.filter(~delete_condition)
            if delete_condition is not None
            else updates
        )
        if tombstone_col is not None:
            landing = landing.drop(tombstone_col)
            schema_src = updates.drop(tombstone_col)
        else:
            schema_src = updates
        # ONE keys-only pass over the source batch (round 15, guide
        # §2.1): the key aggregate is pinned executor-side so the dup
        # gate, the copy-on-write file probe, and the survivor
        # anti-join all consume the SAME materialized key set instead
        # of each re-scanning the source. Runs BEFORE any data file is
        # written — the fail-before-any-file-lands contract holds.
        key_counts = (
            updates.select(*keys)
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_n"))
            .localCheckpoint(eager=True)
        )
        dup = key_counts.filter(F.col("_n") > 1).limit(1).collect()
        if dup:
            raise ValueError(
                f"merge_upsert source has multiple rows for key "
                f"{dict(zip(keys, [dup[0][k] for k in keys]))} — the "
                "matched-row update image would be nondeterministic"
            )
        key_df = key_counts.drop("_n")
        for _ in range(max_retries):
            latest = self.latest_version()
            if latest is None:
                try:
                    return self._commit_loop(_op, landing, lambda b: b, 1)
                except CommitConflict:
                    continue
            manifest = self._manifest(latest)
            schema = T._parse_datatype_string(manifest["schema"])
            table_fields = {f.name: f.dataType for f in schema.fields}
            batch_fields = {
                f.name: f.dataType for f in schema_src.schema.fields
            }
            if batch_fields != table_fields:
                missing = sorted(set(table_fields) - set(batch_fields))
                extra = sorted(set(batch_fields) - set(table_fields))
                retyped = sorted(
                    n
                    for n in set(table_fields) & set(batch_fields)
                    if table_fields[n] != batch_fields[n]
                )
                raise ValueError(
                    "merge_upsert source schema does not match the table "
                    f"schema (missing={missing}, extra={extra}, "
                    f"retyped={retyped}) — merge does no implicit "
                    "evolution; use append for schema-widening loads"
                )
            affected: set[str] = set()
            if manifest["files"]:
                paths = [os.path.join(self.root, f) for f in manifest["files"]]
                hit = (
                    self.spark.read.schema(schema)
                    .parquet(*paths)
                    .select(*keys, F.input_file_name().alias("f"))
                    .join(key_df, keys, "left_semi")
                    .select("f")
                    .distinct()
                    .collect()
                )
                affected = self._resolve_hits(manifest, hit)
            kept = [f for f in manifest["files"] if f not in affected]
            new_files: list[str] = []
            if affected:
                apaths = [os.path.join(self.root, f) for f in sorted(affected)]
                survivors = (
                    self.spark.read.schema(schema)
                    .parquet(*apaths)
                    .join(key_df, keys, "left_anti")
                )
                # The survivor rewrite and the landing write are
                # INDEPENDENT jobs into separate immutable dirs —
                # submit both so the second back-fills the first's
                # straggler tail (guide §2.6); the commit below still
                # waits for both, so atomicity is unchanged and a
                # failure of either aborts before any manifest lands.
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=2) as pool:
                    fut_s = pool.submit(self._write_data, survivors)
                    fut_l = pool.submit(self._write_data, landing)
                    new_files += fut_s.result()
                    new_files += fut_l.result()
            else:
                new_files += self._write_data(landing)
            try:
                self._try_commit(
                    latest + 1,
                    _op,
                    kept + new_files,
                    manifest["schema"],
                )
                return latest + 1
            except CommitConflict:
                continue  # recompute the affected set against the winner
        raise CommitConflict(f"lost {max_retries} {_op} races on {self.root}")

    # ----------------------------------------------- copy-on-write DML --
    def _probe(self, manifest: dict, condition: Column) -> DataFrame:
        """The affected-file probe plan: filter pushed to the parquet scan,
        projection pruned to the predicate columns + file name (verified
        by tests/test_acid.py — at 100 TB this reads one column with
        row-group skipping, not the table)."""
        schema = T._parse_datatype_string(manifest["schema"])
        paths = [os.path.join(self.root, f) for f in manifest["files"]]
        return (
            self.spark.read.schema(schema)
            .parquet(*paths)
            .filter(condition)
            .select(F.input_file_name().alias("f"))
            .distinct()
        )

    def _resolve_hits(self, manifest: dict, hit_rows) -> set[str]:
        """Map ``input_file_name`` hits back to MANIFEST ENTRIES by
        absolute path — works for both table-relative entries and the
        absolute external references a shallow ``clone`` starts with.
        Every hit must resolve to a listed entry, or the rewrite set is
        wrong — fail loudly rather than drop files silently."""
        by_abs = {
            os.path.abspath(os.path.join(self.root, f)): f
            for f in manifest["files"]
        }
        entries = set()
        for row in hit_rows:
            p = os.path.abspath(
                urllib.parse.unquote(urllib.parse.urlparse(row.f).path)
            )
            entry = by_abs.get(p)
            assert entry is not None, (p, sorted(by_abs)[:3])
            entries.add(entry)
        return entries

    def _affected_files(self, manifest: dict, condition: Column) -> set[str]:
        """Manifest entries of files containing at least one matching
        row — the copy-on-write unit. O(files) metadata on the driver
        (the same contract as Delta's file-level pruning)."""
        if not manifest["files"]:
            return set()
        return self._resolve_hits(
            manifest, self._probe(manifest, condition).collect()
        )

    def _rewrite(
        self, op: str, condition: Column, transform, max_retries: int = 5
    ) -> int:
        """Shared copy-on-write loop for DELETE/UPDATE: rewrite ONLY the
        files containing matches, keep every other file by reference."""
        for _ in range(max_retries):
            latest = self.latest_version()
            if latest is None:
                raise FileNotFoundError(f"no committed version in {self.root}")
            manifest = self._manifest(latest)
            affected = self._affected_files(manifest, condition)
            kept = [f for f in manifest["files"] if f not in affected]
            new_files: list[str] = []
            if affected:
                schema = T._parse_datatype_string(manifest["schema"])
                paths = [os.path.join(self.root, f) for f in sorted(affected)]
                rewritten = transform(self.spark.read.schema(schema).parquet(*paths))
                new_files = self._write_data(rewritten)
            try:
                self._try_commit(
                    latest + 1, op, kept + new_files, manifest["schema"]
                )
                return latest + 1
            except CommitConflict:
                continue  # recompute the affected set against the winner
        raise CommitConflict(f"lost {max_retries} {op} races on {self.root}")

    def overwrite_partitions(self, df: DataFrame, partition_cols: list[str]) -> int:
        """Transactional dynamic partition overwrite (Iceberg
        ``overwritePartitions``, fase_1 cell 20): atomically replace
        exactly the logical partitions PRESENT in ``df``. Partition
        columns stay ordinary data columns; the partition list (small by
        definition of a partition key) drives a copy-on-write pass that
        drops the incoming partitions' old rows and lands the new files
        in the SAME commit — readers see the old or new partitions, never
        a mix, and prior versions time-travel.

        The distinct partition-tuple collect is DRIVER-side state (the
        same shape Delta's dynamic overwrite holds); it is bounded by
        ``MAX_OVERWRITE_PARTITIONS`` so a mistaken high-cardinality
        "partition" key (e.g. a timestamp) fails loudly with guidance
        instead of OOMing the driver building a million-clause filter."""
        limit = self.MAX_OVERWRITE_PARTITIONS
        tuples = [
            tuple(r)
            for r in df.select(*partition_cols).distinct().limit(limit + 1).collect()
        ]
        if not tuples:
            raise ValueError("overwrite_partitions: input has no rows")
        if len(tuples) > limit:
            raise ValueError(
                f"overwrite_partitions: more than {limit} distinct partition "
                f"tuples in {partition_cols} — this is not a partition key. "
                f"Partition on a bounded-cardinality column (date/symbol), or "
                f"raise MAX_OVERWRITE_PARTITIONS explicitly if the cardinality "
                f"is intended."
            )
        if len(partition_cols) == 1:
            # single key: IN-list, pushed to the parquet scan as In(...)
            cond = F.col(partition_cols[0]).isin([t[0] for t in tuples])
        else:
            # OR of per-tuple AND chains — parquet-pushable; the tuple
            # count is bounded by partition cardinality by definition
            cond = None
            for t in tuples:
                clause = None
                for c, v in zip(partition_cols, t):
                    eq = F.col(c) == F.lit(v)
                    clause = eq if clause is None else (clause & eq)
                cond = clause if cond is None else (cond | clause)
        new_files = self._write_data(df)
        for _ in range(5):
            latest = self.latest_version()
            if latest is None:
                raise FileNotFoundError(f"no committed version in {self.root}")
            manifest = self._manifest(latest)
            affected = self._affected_files(manifest, cond)
            kept = [f for f in manifest["files"] if f not in affected]
            rewritten: list[str] = []
            if affected:
                schema = T._parse_datatype_string(manifest["schema"])
                paths = [os.path.join(self.root, f) for f in sorted(affected)]
                survivors = self.spark.read.schema(schema).parquet(*paths).filter(~cond)
                rewritten = self._write_data(survivors)
            try:
                self._try_commit(
                    latest + 1,
                    "overwrite_partitions",
                    kept + rewritten + new_files,
                    manifest["schema"],
                )
                return latest + 1
            except CommitConflict:
                continue
        raise CommitConflict(f"lost 5 overwrite_partitions races on {self.root}")

    def delete_where(self, condition: Column) -> int:
        """Transactional DELETE (docx UPDATE/DELETE parity): copy-on-write
        at file granularity — untouched files carry over by reference,
        affected files are rewritten without the matching rows, and the
        swap is one atomic commit (old versions stay time-travelable)."""
        return self._rewrite("delete", condition, lambda df: df.filter(~condition))

    def update_where(self, condition: Column, assignments: dict[str, Column]) -> int:
        """Transactional UPDATE ... SET (docx parity): rows matching
        ``condition`` get each ``assignments`` column replaced; non-matching
        rows in affected files are rewritten verbatim; untouched files
        carry over by reference. One atomic commit."""

        def transform(df: DataFrame) -> DataFrame:
            return df.select(
                *[
                    F.when(condition, assignments[c]).otherwise(F.col(c)).alias(c)
                    if c in assignments
                    else F.col(c)
                    for c in df.columns
                ]
            )

        return self._rewrite("update", condition, transform)

    def append_partitioned(
        self, df: DataFrame, partition_cols: list[str], max_retries: int = 5
    ) -> int:
        """Append under a PARTITION SPEC — and therefore PARTITION
        EVOLUTION (Iceberg's flagship: the spec is table METADATA, not
        directory paths, so changing it never rewrites old data). The
        batch is clustered on the spec columns before writing (one
        repartition -> each new file covers few spec values, so the
        copy-on-write probe's file-level pruning stays tight), the spec
        columns remain ORDINARY data columns (reads never depend on
        directory-name recovery), and the commit records the spec.
        Later appends may use a DIFFERENT spec: old files stay
        byte-identical under their old clustering, new files cluster
        the new way, and every reader sees the union — exactly the
        Iceberg evolution contract. ``history()`` shows the spec per
        commit for audit."""
        clustered = df.repartition(*[F.col(c) for c in partition_cols])
        # Written once: a lost race only moved the log, so every retry
        # commits these same files (as _commit_loop does).
        new_files = self._write_data(clustered)
        for _ in range(max_retries):
            latest = self.latest_version()
            base = -1 if latest is None else latest
            files: list[str] = (
                [] if latest is None else list(self._manifest(latest)["files"])
            )
            schema_ddl = self._evolved_schema_ddl(clustered, latest)
            try:
                self._try_commit(
                    base + 1, "append", files + new_files, schema_ddl,
                    spec=list(partition_cols),
                )
                return base + 1
            except CommitConflict:
                continue
        raise CommitConflict(
            f"lost {max_retries} append_partitioned races on {self.root}"
        )

    # ------------------------------------------------------- maintenance --
    def compact(self, target_files: int = 1) -> int:
        """OPTIMIZE / bin-packing compaction: rewrite the current
        snapshot's many small files into ``target_files`` larger ones as
        a new commit. Row-identical by construction (one coalesced pass,
        no shuffle); prior versions still reference the old files until
        ``vacuum()`` after they expire. The small-files problem is the
        classic failure mode of frequent small MERGEs at scale."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        manifest = self._manifest(latest)
        files = self._write_data(self.read(latest).coalesce(target_files))
        # No blind retry here: compacting a STALE snapshot would drop a
        # concurrent writer's rows. On conflict the caller re-invokes
        # against the new latest (CommitConflict propagates).
        self._try_commit(latest + 1, "compact", files, manifest["schema"])
        return latest + 1

    def optimize_zorder(
        self, cols: list[str], target_files: int = 8, bits: int = 8
    ) -> int:
        """OPTIMIZE ZORDER BY (Delta/Iceberg data-layout rewrite): cluster
        the snapshot so each file covers a TIGHT min/max range on every
        z-ordered column at once — the layout that makes file-level
        skipping (``_affected_files`` / engine row-group pruning) cut
        multi-dimensional point and range probes from O(files) to a few
        files at 100 TB.

        Distributed end to end: each column maps to a ``bits``-bit rank
        via its approx-quantile boundaries (one agg pass; the 2^bits-1
        boundary array broadcasts and ranks via a JVM array fold), the
        per-column ranks bit-INTERLEAVE into the Morton z-key, and one
        ``repartitionByRange`` on the z-key (sorted within partitions)
        writes ``target_files`` files each owning a contiguous z-range.
        Row-identical by construction — the change feed of a zorder
        commit is empty, like ``compact``. Columns must be orderable by
        percentile (numeric/timestamp). Same no-blind-retry contract as
        ``compact``: on a commit race, CommitConflict propagates."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        manifest = self._manifest(latest)
        df = self.read(latest)
        out_cols = list(df.columns)
        fractions = [i / (1 << bits) for i in range(1, 1 << bits)]
        # ONE aggregate computes every column's boundary array (round 14,
        # optimization round — previously one agg job per column), and the
        # per-row ranks run vectorized in a single Arrow pass:
        # np.searchsorted(bounds, value, side="left") counts boundaries
        # strictly below the value — integer-identical to the replaced
        # interpreted aggregate fold acc + (value > b) over the sorted
        # boundary array (Spark's NaN-greatest double ordering included:
        # NaN ranks past every boundary on both paths). The fold ran
        # INTERPRETED over (2^bits - 1) elements per column per row, and
        # repartitionByRange evaluates its input twice (range sampling +
        # the write), which measured ~6 s of snk10's zorder at sf0.1.
        # Z-order columns are expected non-null (they must be orderable
        # by percentile); NULLs in float columns are indistinguishable
        # from NaN post-Arrow and would rank high where the old fold
        # ranked them 0.
        # Timestamp columns rank through unix_micros — a strictly
        # monotone bijection, so the quantile sketch selects the same
        # boundary elements and every per-row rank is unchanged — and
        # only PRIMITIVE types cross the Arrow boundary.
        def _zval(c: str) -> Column:
            if isinstance(df.schema[c].dataType, T.TimestampType):
                return F.unix_micros(F.col(c))
            return F.col(c)

        for ci, c in enumerate(cols):
            df = df.withColumn(f"_v{ci}", _zval(c))
        bnd = df.agg(
            *[
                F.percentile_approx(f"_v{ci}", fractions, 10_000).alias(
                    f"_b{ci}"
                )
                for ci in range(len(cols))
            ]
        )
        df = df.crossJoin(F.broadcast(bnd))
        base_fields = [
            f
            for f in df.schema.fields
            if not (f.name.startswith("_b") or f.name.startswith("_v"))
        ]
        rank_schema = T.StructType(
            base_fields
            + [T.StructField(f"_r{ci}", T.IntegerType()) for ci in range(len(cols))]
        )
        keep = [f.name for f in rank_schema.fields]
        n_zcols = len(cols)

        def _ranks(batches):
            import numpy as np

            for pdf in batches:
                if not len(pdf):
                    continue
                ranks = {}
                for ci in range(n_zcols):
                    v = pdf[f"_v{ci}"].to_numpy()
                    ba = np.asarray(pdf[f"_b{ci}"].iloc[0], dtype=v.dtype)
                    ranks[f"_r{ci}"] = np.searchsorted(
                        ba, v, side="left"
                    ).astype("int32")
                yield pdf[[c for c in keep if c in pdf.columns]].assign(**ranks)

        df = df.mapInPandas(_ranks, rank_schema)
        z = F.lit(0).cast("long")
        for i in range(bits):
            for ci in range(len(cols)):
                bit = F.shiftright(F.col(f"_r{ci}"), i).bitwiseAND(F.lit(1))
                z = z.bitwiseOR(
                    F.shiftleft(bit.cast("long"), i * len(cols) + ci)
                )
        # Lazily checkpoint the z-keyed frame: repartitionByRange
        # executes its input TWICE (range-boundary sampling + the real
        # pass), and without the lineage cut that meant two full table
        # scans and two Arrow rank passes per rewrite. The materialized
        # frame is the same rows the rewrite is about to shuffle anyway.
        ordered = (
            df.withColumn("_z", z)
            .localCheckpoint(eager=False)
            .repartitionByRange(target_files, "_z")
            .sortWithinPartitions("_z")
            .select(*out_cols)
        )
        files = self._write_data(ordered)
        # ZORDER's payoff is file skipping, so the rewrite commits WITH
        # per-file min/max stats on the z-ordered columns — band probes
        # then prune from the manifest alone (prune_files/read_range),
        # zero data I/O, closing the file-skipping extension point the
        # module docstring promises.
        stats = self._file_stats(files, cols)
        self._try_commit(
            latest + 1, "zorder", files, manifest["schema"], stats=stats
        )
        return latest + 1

    def clone(self, target_root: str) -> "AcidTable":
        """SHALLOW CLONE (Delta's ``CLONE``): a new INDEPENDENT table
        whose version-0 manifest references the source's current data
        files by ABSOLUTE path — zero bytes copied, O(1) metadata, the
        instant dev/test copy of a 100 TB table. The clone then evolves
        on its own:

        * appends/merges land new files under the CLONE's root;
        * copy-on-write ops (DELETE/UPDATE/MERGE) localize any touched
          source file into the clone — the source file is only
          DEREFERENCED from the clone's next manifest, never modified,
          so the source table and its time travel are untouched;
        * ``vacuum`` walks only the clone's own data dir, so referenced
          source files are structurally beyond its reach.

        The source must not vacuum away files the clone still
        references — the same retention contract Delta documents for
        shallow clones."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        manifest = self._manifest(latest)
        target = AcidTable(self.spark, target_root)
        abs_files = [
            os.path.abspath(os.path.join(self.root, f))
            for f in manifest["files"]
        ]
        target._try_commit(0, "clone", abs_files, manifest["schema"])
        return target

    def restore(self, version: int) -> int:
        """RESTORE TABLE ... TO VERSION (the Delta analogue): roll the
        table BACK by rolling FORWARD — commit a NEW version whose file
        list and schema are copied from the target snapshot's manifest.
        O(1) metadata, zero bytes rewritten (the historical files are
        immutable and still on disk), and the bad versions stay in the
        log for audit/time travel — restore is an append to history,
        never a rewrite of it. The standard recovery move after a bad
        MERGE/DELETE lands on a 100 TB table.

        Same no-blind-retry contract as ``compact``: restoring over a
        concurrent writer's unseen commit would silently drop it, so on
        a version race CommitConflict propagates to the caller."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        manifest = self._manifest(version)
        self._try_commit(
            latest + 1, "restore", manifest["files"], manifest["schema"]
        )
        return latest + 1

    def vacuum(self, retain_last: int | None = None) -> list[str]:
        """Delete data files referenced by NO commit (crash debris, lost
        races). Returns the deleted relative paths. Walks only THIS
        table's data dir: absolute references into a clone SOURCE are
        structurally out of reach.

        ``retain_last`` adds RETENTION (the Delta ``VACUUM ... RETAIN``
        analogue, version-based since the sandbox clock is not part of
        the data): only the newest ``retain_last`` versions' files are
        kept live — files referenced EXCLUSIVELY by older snapshots are
        deleted, reclaiming the space historical versions pin after
        compaction/COW rewrites. Time travel to an expired version then
        fails at read (its files are gone); the manifests stay for
        audit, exactly Delta's documented behavior. Files shared with a
        retained snapshot (carried over by reference) survive, so the
        retained reads are never damaged."""
        live: set[str] = set()
        history = self.history()
        if retain_last is not None:
            if retain_last < 1:
                raise ValueError("retain_last must be >= 1")
            history = history[-retain_last:]
        for manifest in history:
            live.update(manifest["files"])
        deleted = []
        data_root = os.path.join(self.root, _DATA)
        if not os.path.isdir(data_root):
            return deleted  # a fresh shallow clone owns no data yet
        for wdir in os.listdir(data_root):
            for f in os.listdir(os.path.join(data_root, wdir)):
                rel = os.path.join(_DATA, wdir, f)
                if f.endswith(".parquet") and rel not in live:
                    os.unlink(os.path.join(self.root, rel))
                    deleted.append(rel)
        return deleted
