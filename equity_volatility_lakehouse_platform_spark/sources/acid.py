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
* Publishing a commit is atomic create-if-absent (``put_if_absent``):
  the manifest is fully written + fsynced to a temp name, then
  ``os.link``-ed to ``_commits/N.json`` — hardlink creation fails if N
  already exists, so exactly one writer wins each version (the
  rename-based equivalent of Delta's LogStore ``putIfAbsent``; on an
  object store this maps to a conditional PUT). ``delta_compat``
  publishes its ``_delta_log`` entries through the same function.
* Every writer is one OPTIMISTIC transaction (``_transact``): plan the
  change against the latest snapshot, publish version N+1, and on a
  lost race plan again against the winner's snapshot. Files written
  before the loop (a blind batch) are reused by every attempt; files a
  losing attempt derived from its snapshot are unlinked at once. Only a
  crash leaves unreferenced data dirs, until ``vacuum()``.
* DML is COPY-ON-WRITE at file granularity (``delete_where`` /
  ``update_where``): only files containing matching rows are rewritten;
  everything else carries into the new manifest by reference — the
  Delta/Iceberg rewrite-minimality contract.

Only table METADATA passes through the driver (file lists; O(files) like
every table format) — data itself moves executor-side via ordinary
parquet jobs, so the protocol adds no data-path driver work at 100 TB.
The file-list read (``_scan``: explicit schema, explicit files) keeps
predicate pushdown and column pruning intact. ``optimize_zorder``
commits per-file min/max stats on its columns, so ``prune_files`` /
``read_range`` skip files from the manifest alone; files committed
without stats are never skipped.
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


def _ddl(df: DataFrame) -> str:
    """A frame's schema in the manifest's DDL form (``struct<...>`` stripped)."""
    return df.schema.simpleString()[7:-1]


def _files(manifest: dict | None) -> list[str]:
    """The live files of a snapshot; none before the first commit."""
    return [] if manifest is None else manifest["files"]


def _local_path(uri: str) -> str:
    """Absolute local path of an ``input_file_name`` URI."""
    return os.path.abspath(
        urllib.parse.unquote(urllib.parse.urlparse(uri).path)
    )


def put_if_absent(path: str, text: str) -> bool:
    """Publish ``text`` at ``path`` unless something is already there:
    write and fsync a temp file, then hardlink it into place. POSIX
    link(2) fails on an existing target, so of many concurrent
    publishers of one path exactly one wins, and no reader ever sees a
    partial file. Returns False when the path was taken; each caller
    maps that to its own conflict error."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        fh.write(text)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, path)
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)
    return True


def _zordered(
    df: DataFrame, cols: list[str], target_files: int, bits: int
) -> DataFrame:
    """``df`` laid out in ``target_files`` files along the Morton z-key
    of ``cols`` (see ``AcidTable.optimize_zorder``)."""
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
    return (
        df.withColumn("_z", z)
        .localCheckpoint(eager=False)
        .repartitionByRange(target_files, "_z")
        .sortWithinPartitions("_z")
        .select(*out_cols)
    )


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

    def _snapshot(self, version: int | None = None) -> tuple[int, dict]:
        """(version, manifest) of ``version``, the latest by default.
        Raises FileNotFoundError while the log is empty."""
        latest = self.latest_version()
        if latest is None:
            raise FileNotFoundError(f"no committed version in {self.root}")
        version = latest if version is None else version
        return version, self._manifest(version)

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
        if not put_if_absent(self._commit_path(version), json.dumps(manifest)):
            raise CommitConflict(f"version {version} already committed")

    def _transact(
        self,
        op: str,
        plan,
        written: tuple[str, ...] | list[str] = (),
        attempts: int = 5,
        spec: list[str] | None = None,
        stats_cols: list[str] | None = None,
    ) -> int:
        """The optimistic transaction every writer runs: read the latest
        snapshot, ``plan(manifest_or_None) -> (kept, new, schema_ddl)``
        against it, and publish ``kept + written + new`` as the next
        version. ``written`` are files written before the loop; they do
        not depend on the snapshot (a lost race only moved the log), so
        every attempt reuses them. ``new`` files were derived from the
        snapshot, so a losing attempt unlinks them and plans again
        against the winner's. With ``stats_cols`` the commit carries
        per-file min/max of ``new`` on those columns. ``attempts=1`` is
        the no-blind-retry contract: CommitConflict reaches the caller.
        Publishes through ``self._try_commit``, which tests and probes
        replace on the instance or class."""
        for _ in range(attempts):
            latest = self.latest_version()
            manifest = None if latest is None else self._manifest(latest)
            kept, new, schema_ddl = plan(manifest)
            stats = None if stats_cols is None else self._file_stats(new, stats_cols)
            version = 0 if latest is None else latest + 1
            try:
                self._try_commit(
                    version, op, [*kept, *written, *new], schema_ddl,
                    spec=spec, stats=stats,
                )
                return version
            except CommitConflict:
                self._unlink_files(new)
        raise CommitConflict(f"lost {attempts} {op} commit races on {self.root}")

    def _unlink_files(self, rel_files: list[str]) -> None:
        """Best-effort removal of data files a losing commit attempt
        wrote (they are invisible — no manifest references them)."""
        for rel in rel_files:
            try:
                os.unlink(os.path.join(self.root, rel))
            except OSError:
                pass

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

    def _scan(self, files: list[str], schema_ddl: str) -> DataFrame:
        """Read table files with the manifest's explicit schema (no
        footer-merging inference over N files); no files read as an
        empty frame of that schema."""
        schema = T._parse_datatype_string(schema_ddl)
        if not files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *[os.path.join(self.root, f) for f in files]
        )

    def _by_abs(self, files: list[str]) -> dict[str, str]:
        """Manifest entries keyed by absolute path — works for both
        table-relative entries and the absolute external references a
        shallow ``clone`` starts with."""
        return {os.path.abspath(os.path.join(self.root, f)): f for f in files}

    def _file_stats(
        self, rel_files: list[str], stats_cols: list[str]
    ) -> dict:
        """Per-file min/max for ``stats_cols`` — the manifest-level
        statistics every table format carries for FILE SKIPPING. One
        grouped aggregate over the new files (executor-side; only the
        stat columns are read), keyed back to manifest entries by
        absolute path."""
        by_abs = self._by_abs(rel_files)
        rows = (
            self.spark.read.parquet(*by_abs)
            .select(F.input_file_name().alias("_f"), *stats_cols)
            .groupBy("_f")
            .agg(
                *[F.min(c).alias(f"_min_{c}") for c in stats_cols],
                *[F.max(c).alias(f"_max_{c}") for c in stats_cols],
            )
            .collect()
        )
        return {
            by_abs[_local_path(r["_f"])]: {
                c: [_stat_value(r[f"_min_{c}"]), _stat_value(r[f"_max_{c}"])]
                for c in stats_cols
            }
            for r in rows
        }

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
        _, manifest = self._snapshot(version)
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
        v, manifest = self._snapshot(version)
        keep, _total = self.prune_files(col, lo, hi, v)
        return self._scan(keep, manifest["schema"]).filter(
            (F.col(col) >= lo) & (F.col(col) <= hi)
        )

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read (time travel via ``version``). Only files listed
        in that version's manifest are scanned."""
        _, manifest = self._snapshot(version)
        return self._scan(manifest["files"], manifest["schema"])

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
        added_df = self._scan(added, mf_to["schema"])
        removed_df = self._scan(removed, mf_to["schema"])
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
        return self._transact(
            "overwrite", lambda m: ([], [], _ddl(df)),
            written=self._write_data(df), attempts=10,
        )

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
        return self._transact(
            "append",
            lambda m: (_files(m), [], self._evolved_schema_ddl(df, m)),
            written=self._write_data(df), attempts=10,
        )

    def _evolved_schema_ddl(self, df: DataFrame, manifest: dict | None) -> str:
        """ADD-COLUMN schema evolution: the committed schema is the
        current snapshot's fields followed by the batch's new fields.
        Earlier files simply lack the new columns — the explicit-schema
        snapshot read fills them with NULL, so no rewrite ever happens
        (the Delta/Iceberg mergeSchema contract). Changing an EXISTING
        column's type is refused loudly — evolution only widens."""
        if manifest is None:
            return _ddl(df)
        old = T._parse_datatype_string(manifest["schema"])
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

        def plan(m):
            if m is None:
                df = build_df(None)
                return [], self._write_data(df), _ddl(df)
            df = build_df(self._scan(m["files"], m["schema"]))
            return m["files"], self._write_data(df), m["schema"]

        return self._transact("append", plan, attempts=max_retries)

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

        def plan(m):
            if m is None:
                return [], self._write_data(updates), _ddl(updates)
            # Column-pruned existing side; anti-join broadcasts the small
            # side under AQE — same shape as the non-ACID upsert path.
            existing_keys = self._scan(m["files"], m["schema"]).select(*keys)
            new_rows = updates.join(existing_keys, keys, "left_anti")
            return m["files"], self._write_data(new_rows), m["schema"]

        return self._transact("merge", plan, attempts=max_retries)

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

        def plan(m):
            if m is None:
                return [], self._write_data(landing), _ddl(landing)
            schema = T._parse_datatype_string(m["schema"])
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
            if m["files"]:
                hit = (
                    self._scan(m["files"], m["schema"])
                    .select(*keys, F.input_file_name().alias("f"))
                    .join(key_df, keys, "left_semi")
                    .select("f")
                    .distinct()
                    .collect()
                )
                affected = self._resolve_hits(m, hit)
            kept = [f for f in m["files"] if f not in affected]
            if not affected:
                return kept, self._write_data(landing), m["schema"]
            survivors = self._scan(sorted(affected), m["schema"]).join(
                key_df, keys, "left_anti"
            )
            # The survivor rewrite and the landing write are INDEPENDENT
            # jobs into separate immutable dirs — submit both so the
            # second back-fills the first's straggler tail (guide §2.6);
            # the commit still waits for both, so atomicity is unchanged
            # and a failure of either aborts before any manifest lands.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=2) as pool:
                fut_s = pool.submit(self._write_data, survivors)
                fut_l = pool.submit(self._write_data, landing)
                return kept, fut_s.result() + fut_l.result(), m["schema"]

        return self._transact(_op, plan, attempts=max_retries)

    # ----------------------------------------------- copy-on-write DML --
    def _probe(self, manifest: dict, condition: Column) -> DataFrame:
        """The affected-file probe plan: filter pushed to the parquet scan,
        projection pruned to the predicate columns + file name (verified
        by tests/test_acid.py — at 100 TB this reads one column with
        row-group skipping, not the table)."""
        return (
            self._scan(manifest["files"], manifest["schema"])
            .filter(condition)
            .select(F.input_file_name().alias("f"))
            .distinct()
        )

    def _resolve_hits(self, manifest: dict, hit_rows) -> set[str]:
        """Map ``input_file_name`` hits back to MANIFEST ENTRIES by
        absolute path. Every hit must resolve to a listed entry, or the
        rewrite set is wrong — fail loudly rather than drop files
        silently."""
        by_abs = self._by_abs(manifest["files"])
        entries = set()
        for row in hit_rows:
            p = _local_path(row.f)
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
        self,
        op: str,
        condition: Column,
        transform,
        landing: DataFrame | None = None,
        max_retries: int = 5,
    ) -> int:
        """Shared copy-on-write transaction for DELETE/UPDATE and the
        partition overwrite: rewrite ONLY the files containing matches
        (through ``transform``), keep every other file by reference, and
        land ``landing`` (written once, before the first attempt) in the
        same commit."""
        self._snapshot()  # the table must exist before anything is written
        written = [] if landing is None else self._write_data(landing)

        def plan(m):
            affected = self._affected_files(m, condition)
            kept = [f for f in m["files"] if f not in affected]
            if not affected:
                return kept, [], m["schema"]
            rewritten = transform(self._scan(sorted(affected), m["schema"]))
            return kept, self._write_data(rewritten), m["schema"]

        return self._transact(op, plan, written=written, attempts=max_retries)

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
        return self._rewrite(
            "overwrite_partitions", cond, lambda d: d.filter(~cond), landing=df
        )

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
        return self._transact(
            "append",
            lambda m: (_files(m), [], self._evolved_schema_ddl(clustered, m)),
            written=self._write_data(clustered),
            attempts=max_retries,
            spec=list(partition_cols),
        )

    # ------------------------------------------------------- maintenance --
    def compact(self, target_files: int = 1) -> int:
        """OPTIMIZE / bin-packing compaction: rewrite the current
        snapshot's many small files into ``target_files`` larger ones as
        a new commit. Row-identical by construction (one coalesced pass,
        no shuffle); prior versions still reference the old files until
        ``vacuum()`` after they expire. The small-files problem is the
        classic failure mode of frequent small MERGEs at scale."""
        self._snapshot()  # the table must exist

        def plan(m):
            df = self._scan(m["files"], m["schema"]).coalesce(target_files)
            return [], self._write_data(df), m["schema"]

        # No blind retry here: compacting a STALE snapshot would drop a
        # concurrent writer's rows. On conflict the caller re-invokes
        # against the new latest (CommitConflict propagates).
        return self._transact("compact", plan, attempts=1)

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
        boundary array broadcasts, and one vectorized Arrow pass ranks
        each row against it with ``np.searchsorted``), the
        per-column ranks bit-INTERLEAVE into the Morton z-key, and one
        ``repartitionByRange`` on the z-key (sorted within partitions)
        writes ``target_files`` files each owning a contiguous z-range.
        Row-identical by construction — the change feed of a zorder
        commit is empty, like ``compact``. Columns must be orderable by
        percentile (numeric/timestamp). Same no-blind-retry contract as
        ``compact``: on a commit race, CommitConflict propagates."""
        self._snapshot()  # the table must exist

        def plan(m):
            df = _zordered(
                self._scan(m["files"], m["schema"]), cols, target_files, bits
            )
            return [], self._write_data(df), m["schema"]

        # ZORDER's payoff is file skipping, so the rewrite commits WITH
        # per-file min/max stats on the z-ordered columns — band probes
        # then prune from the manifest alone (prune_files/read_range),
        # zero data I/O.
        return self._transact("zorder", plan, attempts=1, stats_cols=cols)

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
        _, manifest = self._snapshot()
        target = AcidTable(self.spark, target_root)
        # Version 0 of a new table: nothing to plan against, so no
        # transaction loop; a populated target raises CommitConflict.
        abs_files = list(self._by_abs(manifest["files"]))
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
        _, target = self._snapshot(version)
        return self._transact(
            "restore", lambda m: (target["files"], [], target["schema"]),
            attempts=1,
        )

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
