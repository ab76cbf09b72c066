"""ACID commit-protocol tests (sources/acid.py): atomicity under crash
and race, snapshot isolation, exactly-once MERGE, time travel, vacuum.

Reference semantics being made transactional: ON CONFLICT DO NOTHING
upsert (data_alpaca/bars.py:196-198,424-428) and Iceberg CTAS/overwrite
(Procesamiento_fase_1.ipynb cells 9/20).
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from equity_volatility_lakehouse_platform_spark.sources.acid import AcidTable, CommitConflict
from equity_volatility_lakehouse_platform_spark.sources.readers import load_table


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="evlp_acid_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders")


def test_merge_insert_only_exactly_once(spark, orders, root):
    t = AcidTable(spark, root)
    t.overwrite(orders.filter(F.col("o_orderkey") % 3 == 0))
    t.merge_insert_only(orders, ["o_orderkey"])
    t.merge_insert_only(orders, ["o_orderkey"])  # no-op batch
    back = t.read()
    assert back.count() == orders.count()
    assert back.groupBy("o_orderkey").count().filter("count > 1").count() == 0
    # value-level: total price identical to the source
    a = back.agg(F.round(F.sum("o_totalprice"), 4)).first()[0]
    b = orders.agg(F.round(F.sum("o_totalprice"), 4)).first()[0]
    assert a == b


def test_crash_mid_write_leaves_old_snapshot(spark, orders, root):
    # Kill between data write and commit publish: the new files exist on
    # disk but no manifest references them -> readers see the old version.
    t = AcidTable(spark, root)
    t.overwrite(orders.filter(F.col("o_orderkey") % 3 == 0))
    before = t.read().count()
    t._write_data(orders)  # "crashed" merge: data landed, commit didn't
    assert t.latest_version() == 0
    assert t.read().count() == before
    # ...and the table is still writable afterwards
    t.merge_insert_only(orders, ["o_orderkey"])
    assert t.read().count() == orders.count()


def test_torn_commit_file_is_invisible(spark, orders, root):
    # Kill mid-publish: a partially-written temp manifest must never be
    # taken for a committed version (only fully-linked NNNNNNNN.json are).
    t = AcidTable(spark, root)
    t.overwrite(orders.limit(100))
    torn = os.path.join(root, "_commits", "00000001.json.tmp-deadbeef")
    with open(torn, "w") as fh:
        fh.write('{"version": 1, "files": [')  # truncated JSON
    assert t.latest_version() == 0
    assert t.read().count() == 100


def test_commit_race_retries_and_serializes(spark, orders, root):
    # Another writer steals the next version between our read and publish;
    # the merge must retry against the winner's snapshot and still end
    # with exactly-once keys.
    t = AcidTable(spark, root)
    t.overwrite(orders.filter(F.col("o_orderkey") % 2 == 0))
    latest = t.latest_version()
    m = t._manifest(latest)
    t._try_commit(latest + 1, "append", m["files"], m["schema"])  # the rival
    v = t.merge_insert_only(orders, ["o_orderkey"])
    assert v == latest + 2  # landed after the rival
    back = t.read()
    assert back.count() == orders.count()
    assert back.groupBy("o_orderkey").count().filter("count > 1").count() == 0


def test_conflict_on_exhausted_retries(spark, orders, root):
    t = AcidTable(spark, root)
    t.overwrite(orders.limit(10))
    m = t._manifest(0)
    with pytest.raises(CommitConflict):
        t._try_commit(0, "overwrite", m["files"], m["schema"])


def test_time_travel_and_vacuum(spark, orders, root):
    t = AcidTable(spark, root)
    seed_n = orders.filter(F.col("o_orderkey") % 3 == 0).count()
    t.overwrite(orders.filter(F.col("o_orderkey") % 3 == 0))
    t.merge_insert_only(orders, ["o_orderkey"])
    t._write_data(orders.limit(5))  # crash debris
    assert t.read(0).count() == seed_n
    assert t.read(1).count() == orders.count()
    deleted = t.vacuum()
    assert deleted, "vacuum should collect the unreferenced crash debris"
    # vacuum removes ONLY unreferenced files: every version still reads
    assert t.read(0).count() == seed_n
    assert t.read(1).count() == orders.count()


def test_append_and_history(spark, orders, root):
    t = AcidTable(spark, root)
    t.overwrite(orders.limit(50))
    t.append(orders.limit(20))
    assert t.read().count() == 70
    ops = [m["op"] for m in t.history()]
    assert ops == ["overwrite", "append"]
    # manifests are self-describing (schema travels with the log)
    assert "o_orderkey" in t._manifest(0)["schema"]


def test_schema_round_trip_empty_table(spark, orders, root):
    t = AcidTable(spark, root)
    t.overwrite(orders.filter(F.lit(False)))
    empty = t.read()
    assert empty.count() == 0
    assert [f.name for f in empty.schema.fields] == orders.columns


def _status_pure_table(spark, orders, root) -> AcidTable:
    # One commit per status -> files are status-pure by construction, so
    # the minimal-rewrite property is observable (a single repartition
    # can be AQE-coalesced into one mixed file).
    t = AcidTable(spark, root)
    t.overwrite(orders.filter("o_orderstatus = 'F'"))
    t.append(orders.filter("o_orderstatus = 'O'"))
    t.append(orders.filter("o_orderstatus = 'P'"))
    return t


def test_delete_where_copy_on_write(spark, orders, root):
    t = _status_pure_table(spark, orders, root)
    pre = t.latest_version()
    pre_files = set(t._manifest(pre)["files"])
    v = t.delete_where(F.col("o_orderstatus") == "F")
    back = t.read()
    assert back.filter("o_orderstatus = 'F'").count() == 0
    assert back.count() == orders.filter("o_orderstatus <> 'F'").count()
    # files without matches (the O and P files) carried over by reference
    carried = set(t._manifest(v)["files"]) & pre_files
    assert carried, "files without matches must not be rewritten"
    # pre-DML snapshot still time-travels
    assert t.read(pre).count() == orders.count()


def test_update_where_copy_on_write(spark, orders, root):
    t = _status_pure_table(spark, orders, root)
    n_o = orders.filter("o_orderstatus = 'O'").count()
    t.update_where(
        F.col("o_orderstatus") == "O",
        {"o_totalprice": F.col("o_totalprice") + F.lit(1.0)},
    )
    back = t.read()
    assert back.count() == orders.count()  # UPDATE never changes cardinality
    # matching rows: exact per-row multiset after the assignment
    got_o = back.filter("o_orderstatus = 'O'")
    exp_o = orders.filter("o_orderstatus = 'O'").withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
    )
    assert got_o.exceptAll(exp_o).count() == 0
    assert exp_o.exceptAll(got_o).count() == 0
    assert got_o.count() == n_o
    # non-matching rows: byte-identical multiset (untouched by the rewrite)
    got_rest = back.filter("o_orderstatus <> 'O'")
    exp_rest = orders.filter("o_orderstatus <> 'O'")
    assert got_rest.exceptAll(exp_rest).count() == 0
    assert exp_rest.exceptAll(got_rest).count() == 0


def test_affected_files_probe_pushes_down(spark, orders, root):
    # The copy-on-write probe must read ONLY the predicate column with the
    # filter pushed to the parquet scan — at scale this is a one-column,
    # row-group-skipping pass over the table, not a full read.
    import re

    t = AcidTable(spark, root)
    t.overwrite(orders)
    probe = t._probe(t._manifest(0), F.col("o_orderstatus") == "F")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = probe._jdf.queryExecution().explainString(mode)
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "EqualTo(o_orderstatus,F)" in m.group(1), plan
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and m.group(1) == "o_orderstatus:string", m.group(1) if m else plan


def test_overwrite_partitions_atomic(spark, sf_dir, root):
    # Iceberg overwritePartitions semantics, transactional: only the
    # partitions present in the incoming frame are replaced; the swap is
    # one commit; re-running is idempotent; old versions time-travel.
    ev = load_table(spark, sf_dir, "events")
    t = AcidTable(spark, root)
    t.overwrite(ev)
    src_counts = {r.event_type: r["count"] for r in ev.groupBy("event_type").count().collect()}

    patch = ev.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") + F.lit(100.0)
    )
    v1 = t.overwrite_partitions(patch, ["event_type"])
    v2 = t.overwrite_partitions(patch, ["event_type"])  # idempotent re-run
    back = t.read()
    got_counts = {r.event_type: r["count"] for r in back.groupBy("event_type").count().collect()}
    assert got_counts == src_counts  # replace, never duplicate or drop
    # replaced partition carries the patched values; others are untouched
    assert back.filter("event_type = 'click'").agg(F.min("value")).first()[0] >= 100.0
    assert (
        back.filter("event_type <> 'click'").agg(F.min("value")).first()[0] < 100.0
    )
    # pre-overwrite snapshot still readable at the original values
    assert t.read(0).filter("event_type = 'click'").agg(F.min("value")).first()[0] < 100.0
    assert t.read(v1).count() == t.read(v2).count() == ev.count()


def test_incremental_sync_loop_on_acid(spark, sf_dir, root):
    # The reference's S13->S12 loop (bars.py:74-137 resume planner feeding
    # the on-conflict upsert), composed on the ACID table: plan the resume
    # point from the table, fetch "new" rows after it, MERGE them in —
    # exactly-once keys and atomic visibility at every step.
    from equity_volatility_lakehouse_platform_spark.sources.sinks import incremental_plan

    ev = load_table(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    cut = ev.agg(F.percentile_approx("day", 0.5)).first()[0]
    t = AcidTable(spark, root)
    t.overwrite(ev.filter(F.col("day") <= F.lit(cut)))

    plan = incremental_plan(t.read(), "user_id", "day")
    rows = plan.collect()
    assert all(r.fetch_from == r.last_seen + pd.Timedelta(days=1).to_pytimedelta() for r in rows)

    # the "API fetch": everything after each key's resume point
    batch = ev.join(
        plan.select("user_id", "fetch_from"), "user_id"
    ).filter(F.col("day") >= F.col("fetch_from")).drop("fetch_from")
    t.merge_insert_only(batch, ["event_id"])
    t.merge_insert_only(batch, ["event_id"])  # replayed fetch: no-op
    back = t.read()
    assert back.count() == ev.count()
    assert back.groupBy("event_id").count().filter("count > 1").count() == 0


def test_compact_is_row_identical_and_shrinks_files(spark, orders, root):
    # OPTIMIZE parity: many small files (one per append) -> one file,
    # same rows, prior versions untouched until vacuum.
    t = AcidTable(spark, root)
    t.overwrite(orders.filter("o_orderkey % 4 = 0"))
    for k in (1, 2, 3):
        t.append(orders.filter(f"o_orderkey % 4 = {k}"))
    pre = t.latest_version()
    n_files_before = len(t._manifest(pre)["files"])
    v = t.compact()
    assert len(t._manifest(v)["files"]) < n_files_before
    back = t.read()
    assert back.count() == orders.count()
    assert back.exceptAll(orders).count() == 0
    assert orders.exceptAll(back).count() == 0
    assert t.read(pre).count() == orders.count()  # old snapshot intact
    # compacting a stale snapshot must refuse, not clobber
    m = t._manifest(v)
    t._try_commit(v + 1, "append", m["files"], m["schema"])  # rival moves table
    with pytest.raises(CommitConflict):
        t._try_commit(v + 1, "compact", m["files"], m["schema"])


def test_change_feed_insert_delete_update(spark, orders, root):
    t = AcidTable(spark, root)
    t.overwrite(orders.filter(F.col("o_orderkey") % 2 == 0))          # v0
    t.merge_insert_only(orders, ["o_orderkey"])                        # v1
    t.delete_where(F.col("o_orderstatus") == "F")                      # v2
    t.update_where(                                                    # v3
        F.col("o_orderstatus") == "O",
        {"o_totalprice": F.col("o_totalprice") + F.lit(1.0)},
    )
    n_odd = orders.filter(F.col("o_orderkey") % 2 == 1).count()
    feed01 = t.changes(0, 1)
    assert feed01.filter(F.col("_change_type") == "insert").count() == n_odd
    assert feed01.filter(F.col("_change_type") == "delete").count() == 0
    n_f = orders.filter(F.col("o_orderstatus") == "F").count()
    feed12 = t.changes(1, 2)
    assert feed12.filter(F.col("_change_type") == "delete").count() == n_f
    assert feed12.filter(F.col("_change_type") == "insert").count() == 0
    # UPDATE shows as one delete (old image) + one insert (new image)
    # per touched row; carried-over rows of the rewritten files cancel.
    n_o = t.read(2).filter(F.col("o_orderstatus") == "O").count()
    feed23 = t.changes(2, 3)
    by_type = {r["_change_type"]: r["n"] for r in
               feed23.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_type == {"insert": n_o, "delete": n_o}


def test_change_feed_compaction_is_empty(spark, orders, root):
    t = AcidTable(spark, root)
    t.overwrite(orders.filter(F.col("o_orderkey") % 5 == 0))  # v0
    t.append(orders.filter(F.col("o_orderkey") % 5 == 1))     # v1
    t.compact()                                               # v2: same rows
    assert t.changes(1, 2).count() == 0


def test_schema_evolution_add_column_and_type_refusal(spark, orders, root):
    t = AcidTable(spark, root)
    t.overwrite(orders.select("o_orderkey", "o_totalprice"))
    t.append(
        orders.select("o_orderkey", "o_totalprice")
        .limit(10)
        .withColumn("channel", F.lit("web"))
    )
    back = t.read()
    assert "channel" in back.columns
    # pre-evolution rows read as NULL channel, no rewrite of old files
    assert back.filter(F.col("channel").isNull()).count() == orders.count()
    assert back.filter(F.col("channel") == "web").count() == 10
    v0_files = set(t._manifest(0)["files"])
    assert v0_files <= set(t._manifest(1)["files"]), "old files must carry over"
    # widening an existing column's type is refused
    with pytest.raises(ValueError, match="cannot change"):
        t.append(
            orders.select(
                "o_orderkey",
                F.col("o_totalprice").cast("string").alias("o_totalprice"),
            ).limit(1)
        )


def test_overwrite_partitions_cardinality_cap(spark, sf_dir, root):
    # The driver-side distinct-partition-tuple collect is bounded: a
    # high-cardinality "partition" key (here the near-unique event
    # timestamp) fails loudly with guidance instead of OOMing the driver
    # on a million-clause filter. The limit() in the probe means the
    # failure costs one small collect, not a full materialization.
    ev = load_table(spark, sf_dir, "events")
    t = AcidTable(spark, root)
    t.overwrite(ev)
    t.MAX_OVERWRITE_PARTITIONS = 10  # exercise the cap without 100k rows
    with pytest.raises(ValueError, match="not a partition key"):
        t.overwrite_partitions(ev, ["ts"])
    # an in-bounds key still works after the failed attempt
    t.MAX_OVERWRITE_PARTITIONS = 100_000
    patch = ev.filter(F.col("event_type") == "click")
    assert t.overwrite_partitions(patch, ["event_type"]) >= 1


def test_merge_upsert_updates_matched_inserts_unmatched(spark, orders, root):
    # Full MERGE (round 7): corrupted seed -> merge clean source ->
    # snapshot equals the clean source exactly; files without matched
    # keys carry over by reference (copy-on-write file pruning).
    t = _status_pure_table(spark, orders, root)
    pre = t.latest_version()
    pre_files = set(t._manifest(pre)["files"])
    # Corrupt the F rows in place, then upsert the clean F rows plus a
    # brand-new synthetic key.
    t.update_where(
        F.col("o_orderstatus") == "F",
        {"o_totalprice": F.col("o_totalprice") * 2},
    )
    clean_f = orders.filter("o_orderstatus = 'F'")
    new_row = orders.limit(1).select(
        *[
            (F.col("o_orderkey") + F.lit(10**12)).alias("o_orderkey")
            if c == "o_orderkey"
            else F.col(c)
            for c in orders.columns
        ]
    )
    v = t.merge_upsert(clean_f.unionByName(new_row), ["o_orderkey"])
    back = t.read()
    assert back.count() == orders.count() + 1
    # matched rows carry the CLEAN image again (insert-only would not)
    total = back.filter("o_orderstatus = 'F'").agg(
        F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)"))
    ).first()[0]
    expect = float(
        clean_f.agg(
            F.sum(F.round("o_totalprice", 2).cast("decimal(18,2)"))
        ).first()[0]
    ) + float(new_row.first()["o_totalprice"]) * (
        1 if new_row.first()["o_orderstatus"] == "F" else 0
    )
    assert abs(float(total) - float(expect)) < 1e-6
    # O/P files never held a matched key -> carried over by reference
    carried = set(t._manifest(v)["files"]) & pre_files
    assert carried, "unmatched files must not be rewritten"
    # change feed: matched keys show delete(old)+insert(new); the new
    # key shows insert only
    feed = t.changes(v - 1, v)
    by_type = {
        r["_change_type"]: r["n"]
        for r in feed.groupBy("_change_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_f = clean_f.count()
    assert by_type["insert"] == n_f + 1
    assert by_type["delete"] == n_f


def test_merge_upsert_rejects_ambiguous_source(spark, orders, root):
    t = AcidTable(spark, root)
    t.overwrite(orders.limit(10))
    dup = orders.limit(1).unionByName(orders.limit(1))
    with pytest.raises(ValueError, match="multiple rows"):
        t.merge_upsert(dup, ["o_orderkey"])


def test_optimize_zorder_improves_file_skipping(spark, sf_dir, root):
    # Z-order layout rewrite (round 7): events appended in TIME slices
    # put every user in every file; after ZORDER BY (user_id, ts) a
    # single-user probe touches a strict subset of files, rows are
    # identical, and the change feed is empty (pure layout change).
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    t = AcidTable(spark, root)
    days = [r[0] for r in ev.select(F.dayofmonth("ts")).distinct().collect()]
    slices = sorted(days)[:4]
    t.overwrite(ev.filter(F.dayofmonth("ts") == slices[0]).coalesce(2))
    for d in slices[1:]:
        t.append(ev.filter(F.dayofmonth("ts") == d).coalesce(2))
    pre = t.latest_version()
    some_user = ev.first()["user_id"]
    cond = F.col("user_id") == some_user
    n_files_pre = len(t._affected_files(t._manifest(pre), cond))
    n_total_pre = len(t._manifest(pre)["files"])
    assert n_files_pre > 2, "time-sliced layout should scatter the user"

    v = t.optimize_zorder(["user_id", "ts"], target_files=n_total_pre)
    n_files_post = len(t._affected_files(t._manifest(v), cond))
    assert n_files_post < n_files_pre, (
        f"zorder did not improve skipping: {n_files_pre} -> {n_files_post}"
    )
    # row-identical + empty change feed (layout-only commit)
    assert t.read(v).exceptAll(t.read(pre)).count() == 0
    assert t.read(pre).exceptAll(t.read(v)).count() == 0
    assert t.changes(pre, v).count() == 0


def test_merge_upsert_race_retries_and_serializes(spark, orders, root):
    # A rival commit steals the next version between merge_upsert's read
    # and publish; the merge must recompute its affected-file set against
    # the winner's snapshot and land AFTER it — with the final table
    # identical to an uncontended merge.
    t = AcidTable(spark, root)
    t.overwrite(orders.filter(F.col("o_orderkey") % 2 == 0))
    latest = t.latest_version()
    m = t._manifest(latest)
    t._try_commit(latest + 1, "append", m["files"], m["schema"])  # the rival
    updates = orders.limit(50).withColumn(
        "o_totalprice", F.col("o_totalprice") + 7.0
    ).localCheckpoint(eager=True)
    v = t.merge_upsert(updates, ["o_orderkey"])
    assert v == latest + 2  # landed after the rival
    back = t.read()
    # the merge recomputed against the rival's snapshot: exactly one
    # CURRENT image per updated key, carrying the new values
    upd_keys = [r["o_orderkey"] for r in updates.select("o_orderkey").collect()]
    got = back.filter(F.col("o_orderkey").isin(upd_keys))
    exp = updates
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_append_expectations_reject_bad_batches(spark, orders, root):
    # CHECK constraints (round 7): a batch violating any named
    # expectation is rejected atomically — no files land, the version
    # does not advance — and the error names the constraint with its
    # violation count; a clean batch passes the same constraints.
    from equity_volatility_lakehouse_platform_spark.sources.acid import (
        ExpectationViolation,
    )

    t = AcidTable(spark, root)
    t.overwrite(orders.limit(100))
    v0 = t.latest_version()
    bad = orders.limit(20).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 5 == 0, -1.0).otherwise(
            F.col("o_totalprice")
        ),
    )
    with pytest.raises(ExpectationViolation, match="positive_price"):
        t.append(
            bad,
            expectations={
                "positive_price": F.col("o_totalprice") > 0,
                "known_status": F.col("o_orderstatus").isin("F", "O", "P"),
            },
        )
    assert t.latest_version() == v0          # nothing committed
    assert t.read().count() == 100
    # NULL in a constrained column counts as a violation (coalesce False)
    nullbad = orders.limit(5).withColumn("o_totalprice", F.lit(None).cast("double"))
    with pytest.raises(ExpectationViolation):
        t.append(nullbad, expectations={"positive_price": F.col("o_totalprice") > 0})
    # clean batch passes the same gate
    v = t.append(
        orders.limit(10),
        expectations={"positive_price": F.col("o_totalprice") > 0},
    )
    assert v == v0 + 1
    assert t.read().count() == 110


def test_append_expectations_pin_batch_validated_rows_are_written(
    spark, root, tmp_path
):
    # Round-8 ADVICE (medium): append(expectations=...) must validate
    # EXACTLY the rows it writes. A source with executor-side state
    # produces a different batch on every evaluation — without the
    # localCheckpoint pin, validation would see batch #1 (v=0, passes)
    # while the write lands batch #2 (v=1, violating the constraint).
    from equity_volatility_lakehouse_platform_spark.sources.acid import AcidTable

    counter = str(tmp_path / "evalcount.txt")

    def stateful(_iterator):
        import os as _os

        import pandas as _pd

        n = 0
        if _os.path.exists(counter):
            n = int(open(counter).read())
        with open(counter, "w") as fh:
            fh.write(str(n + 1))
        yield _pd.DataFrame({"v": [n]})

    src = spark.range(1).repartition(1).mapInPandas(stateful, "v int")
    t = AcidTable(spark, root)
    t.append(src, expectations={"v_is_zero": F.col("v") == 0})
    rows = t.read().collect()
    assert [r["v"] for r in rows] == [0], (
        f"table holds {rows}: committed rows differ from validated rows"
    )


def test_merge_upsert_rejects_schema_mismatch(spark, orders, root):
    # Round-8 ADVICE (low): merge_upsert docstring promises "source must
    # match the table schema" — enforce it instead of silently writing
    # divergent files that read back as NULLs.
    t = AcidTable(spark, root)
    t.overwrite(orders.limit(50))
    v0 = t.latest_version()

    missing = orders.limit(5).drop("o_orderpriority")
    with pytest.raises(ValueError, match="missing=\\['o_orderpriority'\\]"):
        t.merge_upsert(missing, ["o_orderkey"])

    extra = orders.limit(5).withColumn("bonus", F.lit(1))
    with pytest.raises(ValueError, match="extra=\\['bonus'\\]"):
        t.merge_upsert(extra, ["o_orderkey"])

    retyped = orders.limit(5).withColumn(
        "o_totalprice", F.col("o_totalprice").cast("string")
    )
    with pytest.raises(ValueError, match="retyped=\\['o_totalprice'\\]"):
        t.merge_upsert(retyped, ["o_orderkey"])

    assert t.latest_version() == v0  # nothing committed by any of them
    ok = orders.limit(5).withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    assert t.merge_upsert(ok, ["o_orderkey"]) == v0 + 1


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[
        HealthCheck.function_scoped_fixture,
        HealthCheck.too_slow,
    ],
)
@given(data=st.data())
def test_n_writer_merge_stress_serializable(spark, orders, data):
    # Round-8 VERDICT item 7: N CONCURRENT merge_upsert writers with
    # randomized overlapping key slices and hypothesis-drawn start
    # jitter. Assertions are the two ACID contracts:
    #   * versions are monotonic with no gaps (every writer landed,
    #     each commit observed by its successors), and
    #   * the final table is IDENTICAL to replaying the same merges
    #     serially in commit-version order — serializability, including
    #     last-writer-wins on contended keys.
    import tempfile as _tf
    import shutil as _sh
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    n_writers = data.draw(st.integers(2, 4), label="n_writers")
    seed = orders.limit(120).localCheckpoint(eager=True)
    batches = []
    for i in range(n_writers):
        mod = data.draw(st.integers(2, 4), label=f"mod_{i}")
        rem = data.draw(st.integers(0, mod - 1), label=f"rem_{i}")
        delay = data.draw(st.floats(0.0, 0.15), label=f"delay_{i}")
        upd = (
            seed.filter(F.col("o_orderkey") % mod == rem)
            .withColumn("o_totalprice", F.col("o_totalprice") + (i + 1) * 1000.0)
            .localCheckpoint(eager=True)
        )
        batches.append((delay, upd))

    roots = [_tf.mkdtemp(prefix="evlp_nwriter_") for _ in range(2)]
    try:
        a = AcidTable(spark, roots[0] + "/t")
        a.overwrite(seed)

        def writer(args):
            idx, (delay, upd) = args
            _time.sleep(delay)
            t = AcidTable(spark, roots[0] + "/t")
            return idx, t.merge_upsert(upd, ["o_orderkey"], max_retries=25)

        with ThreadPoolExecutor(max_workers=n_writers) as pool:
            results = list(pool.map(writer, enumerate(batches)))

        versions = sorted(v for _, v in results)
        assert versions == list(range(1, n_writers + 1)), (
            f"versions not gap-free monotonic: {results}"
        )

        b = AcidTable(spark, roots[1] + "/t")
        b.overwrite(seed)
        for _, (idx, _v) in sorted((v, (i, v)) for i, v in results):
            b.merge_upsert(batches[idx][1], ["o_orderkey"])

        da, db = a.read(), b.read()
        assert da.count() == db.count() == 120
        assert da.exceptAll(db).count() == 0
        assert db.exceptAll(da).count() == 0
    finally:
        for r in roots:
            _sh.rmtree(r, ignore_errors=True)


def test_shallow_clone_zero_copy_and_independent(spark, orders, root):
    # Round-8: Delta-CLONE parity. The clone reads the source's bytes
    # without copying them, then evolves independently — appends land
    # under the clone, copy-on-write localizes touched source files
    # (dereference, never modify), and vacuum on the clone cannot reach
    # the source's data.
    import os

    src = AcidTable(spark, root + "/src")
    src.overwrite(orders.limit(100))
    src.append(orders.limit(120).subtract(orders.limit(100)))
    n_src_versions = src.latest_version() + 1

    clone = src.clone(root + "/clone")
    # zero-copy: no parquet under the clone's root
    assert not any(
        f.endswith(".parquet")
        for _, _, fs in os.walk(root + "/clone")
        for f in fs
    )
    assert clone.read().count() == 120
    assert clone.read().exceptAll(src.read()).count() == 0

    # independent append: clone gains rows, source does not
    extra = orders.limit(130).subtract(orders.limit(120))
    clone.append(extra)
    assert clone.read().count() == 130
    assert src.read().count() == 120
    assert src.latest_version() + 1 == n_src_versions  # source untouched

    # copy-on-write DELETE on the clone localizes, never mutates source
    src_files_before = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(root + "/src")
        for f in fs
        if f.endswith(".parquet")
    }
    mtimes = {p: os.path.getmtime(p) for p in src_files_before}
    clone.delete_where(F.col("o_orderkey") % 3 == 0)
    kept = clone.read()
    assert kept.filter(F.col("o_orderkey") % 3 == 0).count() == 0
    assert src.read().filter(F.col("o_orderkey") % 3 == 0).count() > 0
    for p in src_files_before:
        assert os.path.getmtime(p) == mtimes[p], f"source file touched: {p}"

    # vacuum on the clone deletes nothing of the source's
    clone.vacuum()
    assert all(os.path.exists(p) for p in src_files_before)
    # and the clone's own time travel still works back to version 0
    assert clone.read(0).count() == 120


def test_clone_of_empty_table_and_fresh_clone_vacuum(spark, orders, root):
    t = AcidTable(spark, root + "/t")
    with pytest.raises(FileNotFoundError):
        t.clone(root + "/c0")
    t.overwrite(orders.limit(5))
    c = t.clone(root + "/c1")
    assert c.vacuum() == []           # no own data dir yet: no-op
    assert c.read().count() == 5


def test_restore_rolls_forward_preserving_history(spark, orders, root):
    t = AcidTable(spark, root)
    full_n = orders.count()
    f_n = orders.filter(F.col("o_orderstatus") == "F").count()
    t.overwrite(orders)                                  # v0
    t.delete_where(F.col("o_orderstatus") == "F")        # v1 (the oops)
    v = t.restore(0)                                     # v2
    assert v == 2
    # Roll-back by roll-forward: latest == v0, bad version still travels.
    assert t.read().count() == full_n
    assert t.read(1).count() == full_n - f_n
    ops = [m["op"] for m in t.history()]
    assert ops == ["overwrite", "delete", "restore"]
    # Metadata-only: the restore commit references v0's exact files.
    assert t._manifest(2)["files"] == t._manifest(0)["files"]


def test_vacuum_retention_expires_old_exclusive_files(spark, orders, root):
    t = AcidTable(spark, root)
    t.overwrite(orders)                  # v0: original files
    t.compact(target_files=1)            # v1: full rewrite -> v0 exclusive
    n = t.read().count()
    v0_files = set(t._manifest(0)["files"])
    deleted = t.vacuum(retain_last=1)
    # v0's files are referenced ONLY by the expired snapshot -> reclaimed.
    assert set(deleted) == v0_files
    # The retained snapshot is untouched.
    assert t.read().count() == n
    # Time travel to the expired version now fails at read (files gone),
    # while its manifest remains for audit — Delta's documented contract.
    with pytest.raises(Exception):
        t.read(0).count()
    assert t._manifest(0)["op"] == "overwrite"


def test_vacuum_retention_keeps_files_shared_with_retained(spark, orders, root):
    t = AcidTable(spark, root)
    t.overwrite(orders)                                  # v0
    t.delete_where(F.col("o_orderstatus") == "F")        # v1 (COW)
    t.restore(0)                                         # v2 == v0's files
    deleted = t.vacuum(retain_last=1)
    # v0's files are shared with the retained v2 -> MUST survive; v1's
    # COW rewrites are exclusive to expired v1 -> reclaimed.
    v1_only = (
        set(t._manifest(1)["files"])
        - set(t._manifest(0)["files"])
        - set(t._manifest(2)["files"])
    )
    assert set(deleted) == v1_only
    assert t.read().count() == orders.count()
    with pytest.raises(ValueError):
        t.vacuum(retain_last=0)


def test_merge_full_delete_branch_semantics(spark, orders, root):
    t = AcidTable(spark, root)
    t.overwrite(orders)
    evens = orders.filter(F.col("o_orderkey") % 2 == 0)
    src = evens.withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1.0))
    t.merge_full(src, ["o_orderkey"],
                 delete_condition=F.col("o_orderstatus") == "F")
    final = t.read()
    # Matched 'F' sources deleted; matched others updated; odd untouched.
    n_even_f = evens.filter(F.col("o_orderstatus") == "F").count()
    assert final.count() == orders.count() - n_even_f
    assert final.filter(
        (F.col("o_orderkey") % 2 == 0) & (F.col("o_orderstatus") == "F")
    ).count() == 0
    assert t.history()[-1]["op"] == "merge"


def test_merge_full_unmatched_delete_rows_are_ignored(spark, orders, root):
    t = AcidTable(spark, root)
    t.overwrite(orders.filter(F.col("o_orderkey") % 2 == 1))  # odds only
    # Source: even keys (all unmatched), every row delete-flagged.
    src = orders.filter(F.col("o_orderkey") % 2 == 0)
    before = t.read().count()
    t.merge_full(src, ["o_orderkey"], delete_condition=F.lit(True))
    # No clause matches an unmatched delete row -> table unchanged.
    assert t.read().count() == before


def test_merge_full_null_tombstone_falls_through_to_update(
    spark, orders, root
):
    # Delta semantics: a NULL `WHEN MATCHED AND cond` does NOT match the
    # delete clause — the row falls through to UPDATE. Regression for the
    # round-9 advice: a NULL CDC flag used to silently DELETE the target
    # row (probe removed the old image while the landing filter dropped
    # the new one).
    t = AcidTable(spark, root)
    t.overwrite(orders)
    evens = orders.filter(F.col("o_orderkey") % 2 == 0)
    src = evens.withColumn(
        "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
    ).withColumn(
        "_deleted",
        F.when(F.col("o_orderkey") % 4 == 2, F.lit(True)).otherwise(
            F.lit(None).cast("boolean")
        ),
    )
    t.merge_full(src, ["o_orderkey"], tombstone_col="_deleted")
    final = t.read()
    n_true = evens.filter(F.col("o_orderkey") % 4 == 2).count()
    n_null = evens.filter(F.col("o_orderkey") % 4 == 0).count()
    assert n_true > 0 and n_null > 0, "fixture must exercise both flags"
    # True-flag rows deleted; NULL-flag rows UPDATED (present, new image).
    assert final.count() == orders.count() - n_true
    assert final.filter(F.col("o_orderkey") % 4 == 2).count() == 0
    updated = final.join(
        orders.select(
            "o_orderkey", F.col("o_totalprice").alias("_old")
        ),
        "o_orderkey",
    ).filter(F.col("o_orderkey") % 4 == 0)
    assert updated.filter(
        F.col("o_totalprice") != F.col("_old") + F.lit(1.0)
    ).count() == 0
    assert updated.count() == n_null


def test_partition_evolution_appends_never_rewrite(spark, orders, root):
    t = AcidTable(spark, root)
    t.append_partitioned(
        orders.filter(F.col("o_orderkey") % 2 == 0), ["o_orderstatus"]
    )
    v0_files = set(t._manifest(0)["files"])
    t.append_partitioned(
        orders.filter(F.col("o_orderkey") % 2 == 1), ["o_custkey"]
    )
    # Old files untouched under the old spec; specs recorded per commit.
    assert v0_files <= set(t._manifest(1)["files"])
    assert t._manifest(0)["spec"] == ["o_orderstatus"]
    assert t._manifest(1)["spec"] == ["o_custkey"]
    assert t.read().count() == orders.count()
    # Spec columns are ordinary data columns: every row keeps its value.
    assert t.read().filter(F.col("o_orderstatus").isNull()).count() == 0


@pytest.mark.parametrize(
    "op",
    [
        "append",
        "append_partitioned",
        "merge_insert_only",
        "merge_upsert",
        "delete_where",
        "overwrite_partitions",
    ],
)
def test_append_partitioned_lost_race_reuses_written_files(
    spark, orders, root, op
):
    # A lost commit race only moves the log: the retry must commit the
    # batch files already written, not write the batch again (which
    # left the loser's copy under data/ as orphans until vacuum). Files
    # the losing attempt derived from its snapshot (a merge's anti-join,
    # a copy-on-write rewrite) are unlinked with it. Either way no
    # orphan parquet stays under data/.
    t = AcidTable(spark, root)
    key = F.col("o_orderkey")
    evens = orders.filter(key % 2 == 0)
    if op != "append_partitioned":
        t.overwrite(evens)
    commit, write = t._try_commit, t._write_data
    calls = {"n": 0}
    writes_made = []

    def lose_first(*args, **kwargs):
        calls["n"] += 1
        if calls["n"] == 1:
            raise CommitConflict("rival won")
        return commit(*args, **kwargs)

    def count_writes(df):
        writes_made.append(df)
        return write(df)

    t._try_commit = lose_first
    t._write_data = count_writes
    batch = orders.filter(key % 3 == 0)
    is_f = F.col("o_orderstatus") == "F"
    if op == "append_partitioned":
        assert t.append_partitioned(batch, ["o_orderstatus"]) == 0
        want = batch
    elif op == "append":
        t.append(batch)
        want = evens.unionAll(batch)
    elif op in ("merge_insert_only", "merge_upsert"):
        getattr(t, op)(batch, ["o_orderkey"])
        want = orders.filter((key % 2 == 0) | (key % 3 == 0))
    elif op == "delete_where":
        t.delete_where(key % 3 == 0)
        want = evens.filter(key % 3 != 0)
    else:
        t.overwrite_partitions(batch.filter(is_f), ["o_orderstatus"])
        want = evens.filter(~is_f).unionAll(batch.filter(is_f))
    assert calls["n"] == 2
    if op == "append_partitioned":
        writes = [
            w for w in os.listdir(os.path.join(root, "data")) if w.startswith("w-")
        ]
        assert len(writes) == 1, writes
    if op in ("append", "append_partitioned", "overwrite_partitions"):
        # the batch is written once; overwrite_partitions also rewrites
        # the surviving rows of the replaced partitions once per attempt
        assert len(writes_made) == (3 if op == "overwrite_partitions" else 1)
    live: set[str] = set()
    for manifest in t.history():
        live.update(manifest["files"])
    data_root = os.path.join(root, "data")
    on_disk = {
        os.path.relpath(os.path.join(d, f), root)
        for d, _dirs, fs in os.walk(data_root)
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk <= live, f"orphan files: {sorted(on_disk - live)}"
    assert t.read().exceptAll(want).count() == 0
    assert want.exceptAll(t.read()).count() == 0


def test_manifest_stats_prune_band_probe(spark, sf_dir, root):
    # ZORDER commits per-file min/max stats; a band probe then prunes
    # from the MANIFEST alone (no data I/O) and the pruned read equals
    # the full-scan filter exactly.
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    t = AcidTable(spark, root)
    t.overwrite(ev.repartition(6))  # value scattered across every file
    v = t.optimize_zorder(["value"], target_files=6)
    stats = t._manifest(v).get("stats", {})
    assert stats and all("value" in s for s in stats.values())
    lo, hi = 10.0, 20.0
    keep, total = t.prune_files("value", lo, hi)
    assert len(keep) < total, "z-ordered band probe should skip files"
    got = t.read_range("value", lo, hi)
    want = t.read().filter((F.col("value") >= lo) & (F.col("value") <= hi))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # Files without stats can never be skipped: a later plain append
    # (no stats) must always survive pruning.
    t.append(ev.limit(5))
    keep2, total2 = t.prune_files("value", 999999.0, 999999.5)
    assert total2 == total + 1 and len(keep2) >= 1


def test_append_with_recompute_race_and_no_orphans(spark, root):
    # The public read-then-append API (round 12, replaces save_model's
    # private-internals copy of the commit loop): the batch builder is
    # re-run against the WINNER's snapshot after a lost race, and the
    # losing attempt's data files are unlinked — no orphan parquet
    # accumulates under data/.
    t = AcidTable(spark, root)
    t.overwrite(spark.createDataFrame([(1,)], "k INT"))
    rival = AcidTable(spark, root)
    calls = {"n": 0}

    def build(snap):
        calls["n"] += 1
        if calls["n"] == 1:
            # rival lands a commit between our snapshot read and publish
            rival.append(spark.createDataFrame([(100,)], "k INT"))
        return spark.createDataFrame([(snap.count(),)], "k INT")

    v = t.append_with_recompute(build)
    assert calls["n"] == 2, "builder must re-run against the winner"
    assert v == 2
    # first attempt saw count=1 and lost; the retry saw {1, 100} -> 2
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 100]
    # every parquet on disk is referenced by some manifest (loser wiped)
    live: set[str] = set()
    for manifest in t.history():
        live.update(manifest["files"])
    data_root = os.path.join(root, "data")
    on_disk = {
        os.path.join("data", w, f)
        for w in os.listdir(data_root)
        for f in os.listdir(os.path.join(data_root, w))
        if f.endswith(".parquet")
    }
    assert on_disk <= live, f"orphan files: {sorted(on_disk - live)}"


def test_zorder_vectorized_rank_matches_interpreted_fold(spark):
    # Round-14 optimization: optimize_zorder ranks rows against the
    # quantile-boundary array with np.searchsorted(side="left") in one
    # Arrow pass instead of the interpreted aggregate fold
    # acc + (value > b). This pins the claimed integer-identity on the
    # adversarial values: exact ties with a boundary (not counted by
    # either side), values below/above the whole array, and NaN (ranks
    # past every boundary under Spark's NaN-greatest ordering AND
    # numpy's sort order).
    import numpy as np

    bounds = [1.0, 2.5, 2.5, 7.0]  # duplicate boundary too
    probes = [0.0, 1.0, 2.5, 3.0, 7.0, 9.9, float("nan"), -1e308, 1e308]
    df = spark.createDataFrame([(v,) for v in probes], "v DOUBLE").withColumn(
        "b", F.array(*[F.lit(x) for x in bounds])
    )
    fold = df.select(
        "v",
        F.aggregate(
            F.col("b"),
            F.lit(0),
            lambda acc, b: acc + F.when(F.col("v") > b, 1).otherwise(0),
        ).alias("r"),
    ).collect()
    ba = np.asarray(bounds)
    for row in fold:
        got = int(np.searchsorted(ba, row["v"], side="left"))
        assert got == row["r"], (row["v"], got, row["r"])
