"""Property-based tests (hypothesis) for the custom operators whose
invariants must hold on ANY input, not just the fixtures: gap-fill grid
density, MinHash determinism/bounds, segmentation partitioning, and
connected-component consistency.

Spark jobs are slow per example, so each property runs few, large-ish
examples (deadline disabled); shrinking still localizes failures.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

PROP = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


events_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),                      # user_id
        st.integers(0, 500_000),                # seconds offset
        # allow_subnormal=False: this interpreter flushes subnormals to
        # zero (fast-math build), which hypothesis otherwise rejects.
        st.floats(0.01, 500.0, allow_nan=False, allow_subnormal=False),  # value
    ),
    min_size=1,
    max_size=80,
)


def _events_df(spark, rows):
    pdf = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "user_id": [r[0] for r in rows],
            "ts": [pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=r[1]) for r in rows],
            "value": [float(r[2]) for r in rows],
        }
    )
    return spark.createDataFrame(pdf)


@PROP
@given(rows=events_strategy)
def test_gap_fill_grid_is_dense_and_preserves_counts(spark, rows):
    # g01's operator shape (rebuilt inline over generated input): per user
    # the emitted hourly slots are exactly the [first, last] observed-hour
    # range with no gaps, n_events sums to the input row count, and every
    # slot carries a non-null fill.
    ev = _events_df(spark, rows)
    hourly = ev.groupBy("user_id", F.date_trunc("hour", "ts").alias("h")).agg(
        F.max_by("value", "ts").alias("close"), F.count(F.lit(1)).alias("n")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("h")
    slots = hourly.withColumn("next_h", F.lead("h").over(w)).select(
        "user_id", "h", "close", "n",
        F.explode(
            F.sequence(
                "h",
                F.coalesce(F.col("next_h") - F.expr("interval 1 hour"), F.col("h")),
                F.expr("interval 1 hour"),
            )
        ).alias("slot"),
    )
    out = slots.select(
        "user_id", F.col("slot").alias("h"),
        F.when(F.col("slot") == F.col("h"), F.col("n")).otherwise(F.lit(0)).alias("n_events"),
        F.col("close").alias("close_ffill"),
    ).toPandas()

    assert out["n_events"].sum() == len(rows)
    assert out["close_ffill"].notna().all()
    for uid, g in out.groupby("user_id"):
        hours = sorted(g["h"])
        expect = pd.date_range(hours[0], hours[-1], freq="1h")
        assert list(hours) == list(expect), f"gaps for user {uid}"


@PROP
@given(
    texts=st.lists(
        st.text(alphabet="abcd ", min_size=10, max_size=60), min_size=1, max_size=20
    )
)
def test_minhash_signature_deterministic_and_duplicate_stable(spark, texts):
    # Same text => identical signature (duplicates collide by construction);
    # signatures are within [0, P).
    from equity_volatility_lakehouse_platform_spark.operators.textops import (
        HASH_P,
        minhash_signature,
    )

    pdf = pd.DataFrame(
        {"doc_id": range(2 * len(texts)), "text": list(texts) + list(texts)}
    )
    docs = spark.createDataFrame(pdf)
    sig = minhash_signature(docs).toPandas()
    if sig.empty:  # all texts shorter than 3 tokens
        return
    by_text = pdf.merge(sig, on="doc_id")
    for _, grp in by_text.groupby("text"):
        assert len(grp.drop(columns=["doc_id"]).drop_duplicates()) == 1
    for i in range(8):
        col = sig[f"mh{i}"]
        assert ((col >= 0) & (col < HASH_P)).all()


@PROP
@given(rows=events_strategy)
def test_segmentation_partitions_the_series(spark, rows):
    # Event segments per key: n_bars sums to the key's row count, segments
    # are time-ordered and contiguous (next start >= previous end), and
    # every pct_change is consistent with open/close.
    from equity_volatility_lakehouse_platform_spark.operators.events_seg import (
        segment_events,
    )

    ev = _events_df(spark, rows).withColumn("event_type", F.lit("x")).withColumn(
        "props", F.lit("{}")
    )
    seg = segment_events(ev).toPandas()
    counts = pd.DataFrame(rows, columns=["user_id", "s", "v"]).groupby("user_id").size()
    for uid, g in seg.groupby("user_id"):
        assert g["n_bars"].sum() == counts[uid]
        g = g.sort_values(["start_time", "end_time"]).reset_index(drop=True)
        assert (g["end_time"] >= g["start_time"]).all()
        assert (g["start_time"].iloc[1:].values >= g["end_time"].iloc[:-1].values).all()
    ok = (seg["pct_change"] - (seg["close"] / seg["open"] - 1)).abs() < 1e-6
    assert ok.all()


def test_gold_path_absorbs_key_skew(spark):
    # f20 skew resilience: one user holding 50% of the raw events must not
    # blow up the gold pipeline, because the daily groupBy(user_id, day)
    # partially aggregates map-side (the hot user's rows spread over its
    # days before any window sort sees them) and the window then runs on
    # the small daily grain. Property: skewed wall-clock stays within a
    # constant factor of uniform at equal row count — i.e. runtime tracks
    # TOTAL rows, not the hottest key.
    import time

    from equity_volatility_lakehouse_platform_spark.functions.features import gold_matrix
    from equity_volatility_lakehouse_platform_spark.operators.daily import daily_bars

    n_rows, n_users, n_days = 240_000, 100, 250

    def events(skewed: bool):
        user = (
            # half the rows pinned to user 0, rest uniform over 1..99
            F.when(F.col("id") % 2 == 0, F.lit(0)).otherwise(
                F.pmod(F.xxhash64("id"), F.lit(n_users - 1)) + 1
            )
            if skewed
            else F.pmod(F.xxhash64("id"), F.lit(n_users))
        )
        sec_of_day = F.pmod(F.xxhash64("id", F.lit(7)), F.lit(86_400))
        day = F.pmod(F.xxhash64("id", F.lit(11)), F.lit(n_days))
        return spark.range(n_rows).select(
            F.col("id").alias("event_id"),
            user.cast("long").alias("user_id"),
            F.timestamp_seconds(
                F.lit(1_704_067_200) + day * 86_400 + sec_of_day
            ).alias("ts"),
            (F.round(F.pmod(F.xxhash64("id", F.lit(13)), F.lit(9_000)) / 100, 2) + 1.0
             ).alias("value"),
        )

    def run(skewed: bool) -> float:
        df = gold_matrix(daily_bars(events(skewed)))
        t0 = time.perf_counter()
        assert df.count() > 0
        return time.perf_counter() - t0

    run(False)  # warm the JIT/codegen once; first run pays compile cost
    uniform = min(run(False), run(False))
    skewed = min(run(True), run(True))
    # Generous constant: catches accidental O(hot-key^2) or single-task
    # serialization regressions, not scheduler noise.
    assert skewed <= max(3.0 * uniform, uniform + 2.0), (
        f"skewed gold run {skewed:.2f}s vs uniform {uniform:.2f}s — "
        "hot key is no longer absorbed by the daily pre-aggregation"
    )


def test_rounding_fast_path_bit_identical(spark):
    # The parsed-SQL rounding fast path (functions/rounding._round_sql)
    # must analyze to the SAME expression as the Column-tree builders —
    # bit-identical results on adversarial doubles including signed
    # zeros, infinities, NaN, exact .5 boundaries, and >2^62 magnitudes.
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from equity_volatility_lakehouse_platform_spark.functions.rounding import (
        r2,
        r6,
        r6s,
    )

    rng = np.random.default_rng(13)
    vals = np.concatenate(
        [
            rng.uniform(-1e9, 1e9, 20000),
            rng.uniform(-1, 1, 20000),
            rng.uniform(-1e16, 1e16, 10000),
            rng.uniform(-1e60, 1e60, 5000),
            np.array(
                [0.0, -0.0, 0.5e-6, -0.5e-6, 2.5e-6, -2.5e-6,
                 float(2**52), float(2**62), float(2**63) * 1.5,
                 float("inf"), float("-inf"), float("nan"),
                 0.1234565, -0.1234565, 1.0000005, 2.675]
            ),
        ]
    )
    df = spark.createDataFrame(pd.DataFrame({"x": vals})).repartition(8)
    for fn in (r6, r6s, r2):
        a, b = fn("x"), fn(F.col("x"))
        same = a.eqNullSafe(b) & (
            (a != 0)
            | F.try_divide(F.lit(1.0), a).eqNullSafe(F.try_divide(F.lit(1.0), b))
        )
        nan_ok = F.isnan(a) & F.isnan(b)
        bad = df.select(
            F.sum(F.when(same | nan_ok, 0).otherwise(1)).alias("n")
        ).collect()[0][0]
        assert bad == 0, f"{fn.__name__}: {bad} bit mismatches"


def test_dot_fast_path_bit_identical(spark):
    # dot()/_ordered_fold()'s parsed-SQL fast path (round 14 — string
    # args -> one F.expr round trip) must analyze to the SAME fold as
    # the Column-API lambda builders: bit-identical sums on adversarial
    # doubles where fold ORDER matters (catastrophic cancellation,
    # tiny+huge mixes, signed zeros, infinities).
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from equity_volatility_lakehouse_platform_spark.plans.similarity import (
        _ordered_fold,
        dot,
    )

    rng = np.random.default_rng(41)
    n, d = 4000, 64
    a = rng.uniform(-1e3, 1e3, (n, d))
    b = rng.uniform(-1e3, 1e3, (n, d))
    # Order-sensitive rows: alternating huge/tiny magnitudes, exact
    # cancellation pairs, signed zeros, an infinity.
    a[0], b[0] = [1e16, 1.0] * 32, [1.0, 1e-16] * 32
    a[1], b[1] = [1.0, -1.0] * 32, [1e8, 1e8] * 32
    a[2], b[2] = [-0.0] * 64, [0.0] * 64
    a[3], b[3] = [float("inf")] + [1.0] * 63, [0.5] * 64
    df = spark.createDataFrame(
        pd.DataFrame({"x": list(map(list, a)), "y": list(map(list, b))})
    ).repartition(4)
    fast, slow = dot("x", "y"), dot(F.col("x"), F.col("y"))
    same = fast.eqNullSafe(slow) | (F.isnan(fast) & F.isnan(slow))
    bad = df.select(
        F.sum(F.when(same, 0).otherwise(1)).alias("n")
    ).collect()[0][0]
    assert bad == 0, f"dot fast path: {bad} bit mismatches"

    sdf = df.select(
        F.array_sort(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("m"),
                        F.element_at("x", i + 1).alias("dq"),
                    )
                    for i in range(8)
                ]
            )
        ).alias("lst")
    )
    fast2, slow2 = _ordered_fold("lst", "dq"), _ordered_fold(
        F.col("lst"), "dq"
    )
    same2 = fast2.eqNullSafe(slow2) | (F.isnan(fast2) & F.isnan(slow2))
    bad2 = sdf.select(
        F.sum(F.when(same2, 0).otherwise(1)).alias("n")
    ).collect()[0][0]
    assert bad2 == 0, f"_ordered_fold fast path: {bad2} bit mismatches"


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["A", "N", "R"]),          # group
            st.floats(1.0, 1000.0, allow_nan=False,
                      allow_subnormal=False),           # price
            st.integers(1, 50),                         # weight
        ),
        min_size=1,
        max_size=60,
    )
)
@PROP
def test_weighted_median_halves_the_weight(spark, rows):
    # a20's defining invariant on ANY input: the weight strictly below
    # the reported median is < half the total, and the weight at-or-
    # below it is >= half — the lower weighted median by construction.
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    pdf = pd.DataFrame(
        {
            "l_returnflag": [r[0] for r in rows],
            "l_extendedprice": [r[1] for r in rows],
            "l_quantity": [float(r[2]) for r in rows],
            "l_orderkey": range(len(rows)),
            "l_linenumber": [1] * len(rows),
        }
    )
    li = spark.createDataFrame(pdf)
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    c = li.select(
        "l_returnflag", "l_extendedprice",
        F.sum("l_quantity").over(wcum).alias("cum_qty"),
        F.sum("l_quantity").over(wall).alias("tot_qty"),
    )
    med = (
        c.filter(F.col("cum_qty") >= F.col("tot_qty") / 2.0)
        .groupBy("l_returnflag")
        .agg(F.min("l_extendedprice").alias("wm"))
    )
    got = {r["l_returnflag"]: r["wm"] for r in med.collect()}
    for flag, grp in pdf.groupby("l_returnflag"):
        wm = got[flag]
        tot = grp["l_quantity"].sum()
        below = grp.loc[grp["l_extendedprice"] < wm, "l_quantity"].sum()
        at_or_below = grp.loc[grp["l_extendedprice"] <= wm, "l_quantity"].sum()
        assert below < tot / 2.0 or (below == tot / 2.0 and wm in grp["l_extendedprice"].values)
        assert at_or_below >= tot / 2.0


def test_macd_matches_pandas_reference(spark, sf_dir):
    # Independent differential for w24 (the recursive-CTE oracle is one
    # check; this recomputes MACD from the SAME daily bars wholly in
    # pandas — different code path end to end).
    import pandas as pd
    from equity_volatility_lakehouse_platform_spark.plans.volatility import (
        _A9, _A12, _A26, _bars, w24_macd,
    )

    got = w24_macd(spark, sf_dir).toPandas()
    bars = _bars(spark, sf_dir).toPandas()
    ref_rows = []
    for uid, grp in bars.sort_values("day").groupby("user_id"):
        c = grp["close"].reset_index(drop=True)
        e12 = c.ewm(alpha=_A12, adjust=False).mean()
        e26 = c.ewm(alpha=_A26, adjust=False).mean()
        macd = e12 - e26
        sig = macd.ewm(alpha=_A9, adjust=False).mean()
        ref_rows.append(
            pd.DataFrame(
                {
                    "user_id": uid,
                    "day": grp.sort_values("day")["day"].values,
                    "macd_ref": macd.values,
                    "sig_ref": sig.values,
                }
            )
        )
    ref = pd.concat(ref_rows)
    m = got.merge(ref, on=["user_id", "day"])
    assert len(m) == len(got) > 0
    assert (m["macd"] - m["macd_ref"]).abs().max() < 1e-6 + 1e-9
    assert (m["macd_signal"] - m["sig_ref"]).abs().max() < 1e-6 + 1e-9


def test_connected_components_path_graph_logarithmic_rounds(spark):
    # Adversarial diameter fixture (round-6 VERDICT item 4): a 10k-node
    # PATH component is the worst case for label propagation — plain
    # min-label needs O(diameter) = 10k rounds. The alternating
    # large-star/small-star algorithm must converge in O(log n) rounds
    # and still produce the exact min-id labeling.
    from equity_volatility_lakehouse_platform_spark.operators.graph import (
        connected_components,
    )

    stats: dict = {}
    path = spark.range(9999).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    out = connected_components(path, stats=stats)
    assert stats["rounds"] <= 20, f"degraded: {stats['rounds']} rounds"
    assert out.count() == 10_000
    agg = out.agg(
        F.count_distinct("cluster_id").alias("k"), F.max("cluster_id").alias("mx")
    ).first()
    assert (agg["k"], agg["mx"]) == (1, 0)


def test_connected_components_matches_union_find(spark):
    # Exactness on irregular graphs: the distributed labeling must equal
    # a driver-side union-find on the same random edge list.
    import random

    from equity_volatility_lakehouse_platform_spark.operators.graph import (
        connected_components,
    )

    rng = random.Random(11)
    edges = [(rng.randrange(300), rng.randrange(300)) for _ in range(220)]
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.id: r.cluster_id for r in connected_components(df).collect()}
    assert got == {k: want[k] for k in got} and set(got) == set(want)


def test_giant_key_guard_detects_90pct_one_key(spark):
    # Round-6 VERDICT item 9: the documented single-task window/EWM
    # constraint gets a runtime detector. 90% of rows on one key must
    # trip the guard (warn mode emits UserWarning, error mode raises);
    # balanced keys must pass silently. Thresholds scaled down to test
    # size; the report's numbers are exact.
    import warnings as _warnings

    from equity_volatility_lakehouse_platform_spark.operators.skew_guard import (
        GiantKeyError,
        assert_no_giant_key,
        key_skew_report,
    )

    skewed = spark.range(10_000).select(
        F.when(F.col("id") < 9_000, F.lit(7)).otherwise(F.col("id")).alias("user_id"),
        F.col("id").alias("v"),
    )
    rep = key_skew_report(skewed, "user_id")
    assert rep["total_rows"] == 10_000
    assert rep["max_key_rows"] == 9_000
    assert abs(rep["max_key_share"] - 0.9) < 1e-12
    assert rep["n_keys"] == 1_001

    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        assert_no_giant_key(skewed, "user_id", max_key_rows=1_000)
    assert any("giant key" in str(w.message) for w in caught)

    import pytest as _pytest

    with _pytest.raises(GiantKeyError, match="range-repartition"):
        assert_no_giant_key(
            skewed, "user_id", max_key_rows=10**9, max_key_share=0.5, mode="error"
        )

    balanced = spark.range(10_000).select(
        (F.col("id") % 100).alias("user_id"), F.col("id").alias("v")
    )
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        rep2 = assert_no_giant_key(
            balanced, "user_id", max_key_rows=1_000, max_key_share=0.5
        )
    # only OUR UserWarning counts (py4j leaks unrelated ResourceWarnings)
    assert not [w for w in caught if issubclass(w.category, UserWarning)]
    assert rep2["max_key_rows"] == 100


def test_guarded_lag_ladder_takes_mitigated_plan_and_matches(spark):
    # Round-7 VERDICT item 5: the guard must not just WARN — on a
    # 90%-one-key dataset the deploy wrapper must actually take the
    # sliced mitigation plan, and its output must be bit-identical to
    # the single-task window.
    import warnings as _warnings

    from pyspark.sql import Window

    from equity_volatility_lakehouse_platform_spark.operators.skew_guard import (
        guarded_lag_ladder,
        slice_giant_keys,
    )

    # 10k rows, 9k on user 7 with a strictly increasing order column.
    df = (
        spark.range(10_000)
        .select(
            F.when(F.col("id") < 9_000, F.lit(7)).otherwise(F.col("id")).alias(
                "user_id"
            ),
            F.col("id").alias("ts"),
            (F.col("id") % 97 + 1.0).alias("value"),
        )
        .localCheckpoint(eager=True)
    )

    # The slicer alone: giant key split into >1 balanced slices, context
    # rows replicated (lookback per non-first slice), non-giant keys at
    # slice 0.
    sliced = slice_giant_keys(
        df, "user_id", "ts", lookback=32, max_key_rows=1_000
    )
    giant = sliced.filter(F.col("user_id") == 7)
    n_slices = giant.agg(F.countDistinct("_slice")).first()[0]
    assert n_slices > 1, "giant key was not split"
    per_slice = {
        r["_slice"]: r["n"]
        for r in giant.filter(F.col("_ctx") == 0)
        .groupBy("_slice")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert sum(per_slice.values()) == 9_000  # no real row lost or duped
    assert max(per_slice.values()) < 9_000  # actually balanced
    n_ctx = giant.filter(F.col("_ctx") == 1).count()
    assert n_ctx == 32 * (len(per_slice) - 1)
    assert (
        sliced.filter((F.col("user_id") != 7) & (F.col("_slice") != 0)).count()
        == 0
    )

    # The wrapper: warning emitted, mitigated plan taken (slice column
    # present in the query plan), values identical to the plain window.
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        out = guarded_lag_ladder(
            df, "user_id", "ts", "value", lags=(1, 8, 32), max_key_rows=1_000
        )
        rows = {
            (r["user_id"], r["ts"]): (
                r["pct_change_1"], r["pct_change_8"], r["pct_change_32"]
            )
            for r in out.collect()
        }
    assert any(
        issubclass(w.category, UserWarning) and "giant key" in str(w.message)
        for w in caught
    )
    assert "_slice" in out._jdf.queryExecution().toString()

    w = Window.partitionBy("user_id").orderBy("ts")
    expect = {
        (r["user_id"], r["ts"]): (
            r["pct_change_1"], r["pct_change_8"], r["pct_change_32"]
        )
        for r in df.select(
            "user_id",
            "ts",
            *[
                (
                    F.col("value")
                    / F.nullif(F.lag("value", k).over(w), F.lit(0.0))
                    - 1
                ).alias(f"pct_change_{k}")
                for k in (1, 8, 32)
            ],
        ).collect()
    }
    assert rows == expect

    # Balanced input: no warning, plain single-window plan (no slicing).
    balanced = df.withColumn("user_id", F.col("ts") % 50)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        out2 = guarded_lag_ladder(
            balanced, "user_id", "ts", "value", max_key_rows=1_000
        )
        out2.count()
    assert not [
        w
        for w in caught
        if issubclass(w.category, UserWarning) and "giant key" in str(w.message)
    ]
    assert "_slice" not in out2._jdf.queryExecution().toString()


def test_gold_matrix_guarded_warns_and_matches(spark, sf_dir):
    # f20's deploy wrapper: guard wired in (warn-only — gold mixes
    # unbounded frames), output identical to the unguarded matrix.
    import warnings as _warnings

    from equity_volatility_lakehouse_platform_spark.functions.features import (
        gold_matrix,
        gold_matrix_guarded,
    )
    from equity_volatility_lakehouse_platform_spark.operators.daily import daily_bars
    from equity_volatility_lakehouse_platform_spark.sources.readers import load_table

    daily = daily_bars(load_table(spark, sf_dir, "events")).localCheckpoint(
        eager=True
    )
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        guarded = gold_matrix_guarded(daily, max_key_rows=5)  # tiny: must trip
        n = guarded.count()
    assert any(
        issubclass(w.category, UserWarning) and "giant key" in str(w.message)
        for w in caught
    )
    assert n == gold_matrix(daily).count()


def test_fit_eval_end_to_end(spark, sf_dir):
    # Round-7 VERDICT item 6: the tester.ipynb path executable
    # end-to-end — engine-side splits/encoding, driver-side fit, metrics
    # landed back as a DataFrame. Separable synthetic data must score
    # near-perfect AUC; the run must be deterministic; and the real
    # sf0.001 feature table must produce well-formed metrics.
    from equity_volatility_lakehouse_platform_spark.ml_prep import fit_eval
    from equity_volatility_lakehouse_platform_spark.sources.readers import load_table

    # Separable synthetic: label = (x1 + x2 > 0), temporal split.
    syn = spark.range(2_000).select(
        (F.sin(F.col("id") * 12.9898) * 43758.5453 % 2.0 - 1.0).alias("x1"),
        (F.sin(F.col("id") * 78.233) * 12543.123 % 2.0 - 1.0).alias("x2"),
        F.col("id").alias("t"),
    ).withColumn(
        "label", ((F.col("x1") + F.col("x2")) > 0).cast("int")
    ).withColumn(
        "split", F.when(F.col("t") < 1_500, "train").otherwise("test")
    )
    m = fit_eval(syn, ["x1", "x2"], "label").first()
    assert m["n_train"] == 1_500 and m["n_test"] == 500
    assert m["roc_auc"] > 0.95, f"separable data scored AUC {m['roc_auc']}"
    assert 0.0 <= m["accuracy"] <= 1.0
    m2 = fit_eval(syn, ["x1", "x2"], "label").first()
    assert m.asDict() == m2.asDict(), "fit_eval is not deterministic"

    # Real table: ml02-style encoding over events, temporal holdout.
    ev = load_table(spark, sf_dir, "events")
    cats = ["click", "error", "purchase", "signup", "view"]
    cutoff = ev.agg(F.percentile_approx("ts", 0.75)).first()[0]
    feats = ev.select(
        *[(F.col("event_type") == c).cast("int").alias(f"type_{c}") for c in cats],
        F.dayofweek("ts").cast("double").alias("dow"),
        (F.col("value") >= 150).cast("int").alias("label"),
        F.when(F.col("ts") < F.lit(cutoff), "train").otherwise("test").alias("split"),
    )
    r = fit_eval(feats, [f"type_{c}" for c in cats] + ["dow"], "label").first()
    assert r["n_train"] > 0 and r["n_test"] > 0
    for k in ("accuracy", "precision", "recall", "f1", "roc_auc"):
        assert 0.0 <= r[k] <= 1.0


def test_binary_metrics_auc_respects_pos_class():
    # _binary_metrics(pos=0) scores the CLASS-0 ranking: positives are
    # y==0 and the score axis is flipped (low class-1 score == high
    # class-0 rank). AUC is symmetric under that simultaneous swap, so
    # the value must EQUAL the class-1 AUC — the test pins that the
    # requested-class path lands on the same number the identity
    # guarantees, rather than hardcoding class 1.
    import numpy as np

    from equity_volatility_lakehouse_platform_spark.ml_prep import _binary_metrics

    rng = np.random.RandomState(7)
    y = (rng.rand(400) < 0.4).astype(float)
    # Informative but imperfect scores, tie-free.
    p = y * 0.5 + rng.rand(400) * 0.7
    m1 = _binary_metrics(y, p, pos=1.0)
    m0 = _binary_metrics(y, p, pos=0.0)
    assert m1["roc_auc"] > 0.5
    assert abs(m0["roc_auc"] - m1["roc_auc"]) < 1e-12
    # Perfectly separable: both class views score 1.0.
    ys = np.array([0.0, 0.0, 1.0, 1.0])
    ps = np.array([0.1, 0.2, 0.8, 0.9])
    assert _binary_metrics(ys, ps, pos=1.0)["roc_auc"] == 1.0
    assert _binary_metrics(ys, ps, pos=0.0)["roc_auc"] == 1.0
    # Degenerate single-class input: AUC undefined -> 0.0 for either view.
    yd = np.ones(5)
    assert _binary_metrics(yd, np.linspace(0, 1, 5), pos=0.0)["roc_auc"] == 0.0


@PROP
@given(rows=events_strategy, lookback=st.integers(1, 8), cap=st.integers(3, 20))
def test_slice_giant_keys_window_equivalence(spark, rows, lookback, cap):
    # PROPERTY: for ANY data, threshold, and lookback, a bounded-frame
    # window computed over (key, _slice) partitions after
    # slice_giant_keys equals the same window over plain key partitions
    # — lag AND a rolling mean both, at the exact-value level.
    from pyspark.sql import Window

    from equity_volatility_lakehouse_platform_spark.operators.skew_guard import (
        slice_giant_keys,
    )

    df = _events_df(spark, rows).localCheckpoint(eager=True)
    sliced = slice_giant_keys(
        df, "user_id", ["ts", "event_id"], lookback=lookback, max_key_rows=cap
    )
    ws = Window.partitionBy("user_id", "_slice").orderBy("ts", "event_id")
    got = {
        (r["user_id"], r["event_id"]): (r["lg"], r["mn"])
        for r in sliced.select(
            "user_id", "event_id", "_ctx",
            F.lag("value", lookback).over(ws).alias("lg"),
            F.avg("value").over(ws.rowsBetween(-lookback, 0)).alias("mn"),
        ).filter(F.col("_ctx") == 0).collect()
    }
    wp = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = {
        (r["user_id"], r["event_id"]): (r["lg"], r["mn"])
        for r in df.select(
            "user_id", "event_id",
            F.lag("value", lookback).over(wp).alias("lg"),
            F.avg("value").over(wp.rowsBetween(-lookback, 0)).alias("mn"),
        ).collect()
    }
    assert got == want


@PROP
@given(rows=events_strategy)
def test_merge_upsert_equals_delete_plus_append(spark, rows):
    # ALGEBRAIC property: merge_upsert(updates, keys) must equal
    # delete_where(key in updates) followed by append(updates) — the
    # definition of MERGE — for any seed/update split of generated data.
    import tempfile as _tf
    import shutil as _sh

    from equity_volatility_lakehouse_platform_spark.sources.acid import AcidTable

    df = _events_df(spark, rows).localCheckpoint(eager=True)
    updates = df.filter(F.col("event_id") % 2 == 0).withColumn(
        "value", F.col("value") + 1000.0
    ).localCheckpoint(eager=True)

    roots = [_tf.mkdtemp(prefix="evlp_prop_mu_") for _ in range(2)]
    try:
        a = AcidTable(spark, roots[0] + "/t")
        a.overwrite(df)
        a.merge_upsert(updates, ["event_id"])

        b = AcidTable(spark, roots[1] + "/t")
        b.overwrite(df)
        keys = [r["event_id"] for r in updates.select("event_id").collect()]
        if keys:
            b.delete_where(F.col("event_id").isin(keys))
        b.append(updates)

        da, db = a.read(), b.read()
        assert da.count() == db.count()
        assert da.exceptAll(db).count() == 0
        assert db.exceptAll(da).count() == 0
    finally:
        for r in roots:
            _sh.rmtree(r, ignore_errors=True)


def test_rolling_fit_eval_monthly_loop(spark, sf_dir):
    # The reference's monthly eval loop end-to-end (my_model.py:596-650):
    # one fit_eval per rolling cutoff over the events feature table;
    # every row well-formed, train/test monotone across cutoffs.
    from equity_volatility_lakehouse_platform_spark.ml_prep import rolling_fit_eval
    from equity_volatility_lakehouse_platform_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    feats = ev.select(
        "ts",
        F.dayofweek("ts").cast("double").alias("dow"),
        F.hour("ts").cast("double").alias("hod"),
        (F.col("value") >= 150).cast("int").alias("label"),
    )
    cutoffs = ["2024-01-15 00:00:00", "2024-01-22 00:00:00"]
    m = rolling_fit_eval(feats, ["dow", "hod"], "label", "ts", cutoffs)
    rows = {r["cutoff"]: r for r in m.collect()}
    assert set(rows) == set(cutoffs)
    prev_train = 0
    for c in cutoffs:
        r = rows[c]
        assert r["n_train"] > prev_train  # later cutoff => more train data
        prev_train = r["n_train"]
        assert r["n_test"] > 0
        for k in ("accuracy", "precision", "recall", "f1", "roc_auc"):
            assert 0.0 <= r[k] <= 1.0


def test_trial_search_schema_order_and_determinism(spark):
    # Round-8 VERDICT item 4: the reference's optuna loop
    # (my_model.py:135-162) as a seeded random search over
    # (C, class_weight, fit_intercept) — same split, best-F1-first,
    # rerun-identical.
    from equity_volatility_lakehouse_platform_spark.ml_prep import trial_search

    syn = spark.range(1_200).select(
        (F.sin(F.col("id") * 12.9898) * 43758.5453 % 2.0 - 1.0).alias("x1"),
        (F.sin(F.col("id") * 78.233) * 12543.123 % 2.0 - 1.0).alias("x2"),
        F.col("id").alias("t"),
    ).withColumn(
        "label", ((F.col("x1") + F.col("x2")) > 0).cast("int")
    ).withColumn(
        "split", F.when(F.col("t") < 900, "train").otherwise("test")
    ).localCheckpoint(eager=True)

    t1 = trial_search(
        syn, ["x1", "x2"], "label",
        models=("logistic_regression", "decision_tree"),
        n_trials=4, seed=3, max_iter=60,
    )
    assert [f.name for f in t1.schema.fields] == [
        "trial", "model", "params", "n_train", "n_test",
        "accuracy", "precision", "recall", "f1", "roc_auc",
    ]
    rows1 = t1.collect()
    assert len(rows1) == 8                             # 4 trials x 2 families
    f1s = [r["f1"] for r in rows1]
    assert f1s == sorted(f1s, reverse=True), "not ordered best-F1-first"
    assert {r["model"] for r in rows1} == {
        "logistic_regression", "decision_tree"
    }
    lr_params = [r["params"] for r in rows1 if r["model"] == "logistic_regression"]
    assert len(set(lr_params)) == 4                    # sampler actually varies
    assert all(p.startswith("c=") for p in lr_params)
    dt_params = [r["params"] for r in rows1 if r["model"] == "decision_tree"]
    assert all("max_depth=" in p for p in dt_params)
    assert all(r["n_train"] == 900 and r["n_test"] == 300 for r in rows1)
    # the separable data is learnable by BOTH families
    assert max(r["f1"] for r in rows1 if r["model"] == "decision_tree") > 0.8

    rows2 = trial_search(
        syn, ["x1", "x2"], "label",
        models=("logistic_regression", "decision_tree"),
        n_trials=4, seed=3, max_iter=60,
    ).collect()
    assert [r.asDict() for r in rows1] == [r.asDict() for r in rows2]


def test_monthly_metric_table_reference_shape(spark):
    # Round-8 VERDICT item 4 (second half): the per-(model, year,
    # month) metric table a my_model.py user reads back from the
    # registry (my_model.py:596-650) — exact column set, sorted by
    # (model_name, year, month), all proportions in [0, 1].
    from equity_volatility_lakehouse_platform_spark.ml_prep import (
        monthly_metric_table,
    )

    syn = spark.range(1_000).select(
        (F.sin(F.col("id") * 12.9898) * 43758.5453 % 2.0 - 1.0).alias("x1"),
        (F.sin(F.col("id") * 78.233) * 12543.123 % 2.0 - 1.0).alias("x2"),
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") % 90).cast("int")).alias("d"),
        F.col("id").alias("t"),
    ).withColumn(
        "label", ((F.col("x1") + F.col("x2")) > 0).cast("int")
    ).withColumn(
        "split", F.when(F.col("t") < 750, "train").otherwise("test")
    ).localCheckpoint(eager=True)

    m = monthly_metric_table(syn, ["x1", "x2"], "label", "d", max_iter=60)
    assert [f.name for f in m.schema.fields] == [
        "model_name", "year", "month",
        "precision_overall", "recall_overall", "f1_overall", "roc_auc",
        "precision_0", "recall_0", "f1_0",
        "precision_1", "recall_1", "f1_1",
    ]
    rows = m.collect()
    assert [(r["year"], r["month"]) for r in rows] == [
        (2024, 1), (2024, 2), (2024, 3)
    ]
    for r in rows:
        assert r["model_name"] == "logistic_regression"
        for k in ("precision_overall", "recall_overall", "f1_overall",
                  "roc_auc", "precision_0", "recall_0", "f1_0",
                  "precision_1", "recall_1", "f1_1"):
            assert 0.0 <= r[k] <= 1.0, (k, r[k])
    rows2 = monthly_metric_table(
        syn, ["x1", "x2"], "label", "d", max_iter=60
    ).collect()
    assert [r.asDict() for r in rows] == [r.asDict() for r in rows2]


def test_ivf_assign_arrow_scorer_bit_exact(spark, sf_dir):
    # Round-8: the mapInPandas coarse scorer's dimension-sequential
    # accumulation must reproduce the JVM fold BIT-exactly — same
    # argmax, same tie-breaks — against the pure-DataFrame reference
    # (crossJoin + max_by over the same cosc expression). Its top-n
    # path (ivf_probe_topn) must equal the crossJoin + row_number
    # probe (ivf_probe). The second centroid set holds vector 17 twice
    # (cids 4 and 9) next to query 0's own vector (cid 1), so both
    # paths must break the tie to the lowest cid, for query 0 right at
    # the nprobe = 2 cut.
    from equity_volatility_lakehouse_platform_spark.plans.similarity import (
        _ivf_emb,
        dot,
        ivf_assign,
        ivf_probe,
        ivf_probe_topn,
    )

    emb = _ivf_emb(spark, sf_dir)

    def centroids(cid_of_vec):
        return spark.createDataFrame(
            [(v, c) for v, c in cid_of_vec], "vec_id long, cid long"
        ).join(emb, "vec_id").select(
            "cid", F.col("v").alias("cv"), F.col("nv").alias("nc")
        )

    for cent in (
        centroids([(5, 5), (17, 17), (29, 29), (41, 41)]),
        centroids([(0, 1), (17, 4), (17, 9)]),
    ):
        got = {
            r["vec_id"]: r["cid"]
            for r in ivf_assign(emb, cent).select("vec_id", "cid").collect()
        }
        cosc = dot(F.col("v"), F.col("cv")) / F.nullif(
            F.col("nv") * F.col("nc"), F.lit(0.0)
        )
        want = {
            r["vec_id"]: r["cid"]
            for r in emb.crossJoin(F.broadcast(cent))
            .select("vec_id", "cid", cosc.alias("cosc"))
            .groupBy("vec_id")
            .agg(F.max_by("cid", F.struct(F.col("cosc"), -F.col("cid"))).alias("cid"))
            .collect()
        }
        assert got == want

        got_probe = sorted(
            (r["q_id"], r["qcid"])
            for r in ivf_probe_topn(
                emb.filter(F.col("vec_id") < 3), cent, 2
            ).collect()
        )
        want_probe = sorted(
            (r["q_id"], r["qcid"])
            for r in ivf_probe(emb, cent, 2, n_queries=3).collect()
        )
        assert got_probe == want_probe


def test_pq_lloyd_step_keeps_empty_clusters_and_is_deterministic(spark):
    # Round-8: a Lloyd update where some clusters receive no members
    # must RETAIN those clusters' previous centroids (coalesce path),
    # and the ordered-fold means must be rerun-identical.
    from equity_volatility_lakehouse_platform_spark.plans.similarity import (
        _lloyd_step,
        _pq_subspaces,
        pq_train_codebook,
    )

    # 8 vectors clustered tightly around TWO points, but K=4 seeds:
    # two seed centroids end up member-less after assignment.
    base = [100.0] * 64
    rows = []
    for i in range(8):
        center = 0.0 if i % 2 == 0 else 1000.0
        rows.append((i, [center + (i + 1) * 0.001 * (d + 1) for d in range(64)]))
    emb = spark.createDataFrame(rows, "vec_id long, v array<double>")
    sub = _pq_subspaces(emb, 16)
    cb0 = sub.filter(F.col("vec_id") < 4).select(
        "m", F.col("vec_id").alias("j"), F.col("x").alias("c")
    )
    cb1 = _lloyd_step(sub, cb0)
    assert cb1.count() == 16 * 4  # no cluster row lost
    # member-less clusters keep their EXACT previous centroid
    prev = {(r["m"], r["j"]): r["c"] for r in cb0.collect()}
    after = {(r["m"], r["j"]): r["c"] for r in cb1.collect()}
    assert set(prev) == set(after)
    moved = sum(1 for k in prev if prev[k] != after[k])
    retained = sum(1 for k in prev if prev[k] == after[k])
    assert moved > 0 and retained > 0, (moved, retained)

    t1 = {(r["m"], r["j"]): r["c"]
          for r in pq_train_codebook(sub, 4, 2).collect()}
    t2 = {(r["m"], r["j"]): r["c"]
          for r in pq_train_codebook(sub, 4, 2).collect()}
    assert t1 == t2, "codebook training is not rerun-identical"


def test_pq_encode_arrow_matches_dataframe_path(spark, sf_dir):
    # Round-8: the Arrow PQ encoder must produce BIT-identical codes to
    # the pure-DataFrame broadcast-argmin path over the same trained
    # codebook (same distances, same lowest-j tie-breaks).
    from equity_volatility_lakehouse_platform_spark.plans.similarity import (
        _emb,
        _pq_assign,
        _pq_subspaces,
        pq_encode,
        pq_train_codebook,
    )

    emb = _emb(spark, sf_dir)
    sub = _pq_subspaces(emb, 16)
    cb = pq_train_codebook(sub, n_centroids=16, iters=2).localCheckpoint(
        eager=True
    )
    got = {
        (r["vec_id"], r["m"]): r["code"]
        for r in pq_encode(emb, cb).collect()
    }
    want = {
        (r["vec_id"], r["m"]): r["j"]
        for r in _pq_assign(sub, cb).select("vec_id", "m", "j").collect()
    }
    assert got == want


# --------------------------------------------------------------- round 10 --


def _ml_synth(spark, n=1_200, train=900):
    return spark.range(n).select(
        (F.sin(F.col("id") * 12.9898) * 43758.5453 % 2.0 - 1.0).alias("x1"),
        (F.sin(F.col("id") * 78.233) * 12543.123 % 2.0 - 1.0).alias("x2"),
        F.col("id").alias("t"),
    ).withColumn(
        "label", ((F.col("x1") + F.col("x2")) > 0).cast("int")
    ).withColumn(
        "split", F.when(F.col("t") < train, "train").otherwise("test")
    ).localCheckpoint(eager=True)


def test_trial_search_all_six_reference_families(spark):
    # Round-9 VERDICT item 2: full model-zoo parity — the reference
    # tunes SIX classifier families plus evaluates against a dummy
    # no-information floor (my_model.py:123-414). trial_search must run
    # all of them deterministically from one seed.
    from equity_volatility_lakehouse_platform_spark.ml_prep import trial_search

    syn = _ml_synth(spark)
    fams = (
        "logistic_regression", "decision_tree", "random_forest",
        "gradient_boosting", "xgboost", "dummy",
    )
    t1 = trial_search(
        syn, ["x1", "x2"], "label", models=fams,
        n_trials=2, seed=11, max_iter=60,
    )
    rows1 = t1.collect()
    assert len(rows1) == 12                       # 2 trials x 6 families
    assert {r["model"] for r in rows1} == set(fams)
    f1s = [r["f1"] for r in rows1]
    assert f1s == sorted(f1s, reverse=True)
    by_fam = {}
    for r in rows1:
        by_fam.setdefault(r["model"], []).append(r)
    # Every learnable family beats the dummy floor on separable data.
    floor = max(r["f1"] for r in by_fam["dummy"])
    for fam in fams[:-1]:
        assert max(r["f1"] for r in by_fam[fam]) > floor, fam
    # Tree ensembles actually learn the boundary.
    for fam in ("random_forest", "gradient_boosting", "xgboost"):
        assert max(r["f1"] for r in by_fam[fam]) > 0.8, fam
    # Params strings record each family's own space.
    assert all(
        "n_estimators=" in r["params"] for r in by_fam["random_forest"]
    )
    assert all("reg_lambda=" in r["params"] for r in by_fam["xgboost"])
    assert all("strategy=" in r["params"] for r in by_fam["dummy"])
    rows2 = trial_search(
        syn, ["x1", "x2"], "label", models=fams,
        n_trials=2, seed=11, max_iter=60,
    ).collect()
    assert [r.asDict() for r in rows1] == [r.asDict() for r in rows2]


def test_model_registry_fit_save_reload_roundtrip(spark, tmp_path):
    # Round-9 VERDICT item 3: the reference's MLflow save -> reload ->
    # re-evaluate workflow (my_model.py:515-650). Every family's fitted
    # artifact must survive the JSON + AcidTable round trip and rebuild
    # the monthly metric table BIT-exactly.
    from equity_volatility_lakehouse_platform_spark.ml_prep import (
        fit_model,
        load_model,
        monthly_metric_table,
        predict_scores,
        save_model,
    )

    syn = _ml_synth(spark, n=1_000, train=750).withColumn(
        "d",
        F.date_add(F.lit("2024-01-01").cast("date"), (F.col("t") % 90).cast("int")),
    ).localCheckpoint(eager=True)
    reg = str(tmp_path / "registry")
    x = syn.select("x1", "x2").toPandas().to_numpy(dtype=float)

    fams = {
        "logistic_regression": {"max_iter": 60},
        "decision_tree": {"max_depth": 4},
        "random_forest": {"n_estimators": 8, "max_depth": 6},
        "gradient_boosting": {"n_estimators": 10, "learning_rate": 0.2},
        "xgboost": {"n_estimators": 10, "reg_lambda": 1.0, "gamma": 0.1},
        "dummy": {"strategy": "most_frequent"},
    }
    for fam, kw in fams.items():
        m = fit_model(syn, ["x1", "x2"], "label", model=fam, **kw)
        v = save_model(spark, reg, f"mdl_{fam}", m)
        assert v == 1
        back = load_model(spark, reg, f"mdl_{fam}")
        assert back == m, fam                     # JSON round trip exact
        assert list(predict_scores(back, x)) == list(
            predict_scores(m, x)
        ), fam
        t_fit = monthly_metric_table(
            syn, ["x1", "x2"], "label", "d", fitted=m
        ).collect()
        t_reload = monthly_metric_table(
            syn, ["x1", "x2"], "label", "d", fitted=back
        ).collect()
        assert [r.asDict() for r in t_fit] == [
            r.asDict() for r in t_reload
        ], fam
        assert all(r["model_name"] == fam for r in t_fit)

    # Re-registering bumps the per-name version; load honors both the
    # latest-default and an explicit version.
    m2 = fit_model(
        syn, ["x1", "x2"], "label", model="decision_tree", max_depth=2
    )
    assert save_model(spark, reg, "mdl_decision_tree", m2) == 2
    assert load_model(spark, reg, "mdl_decision_tree") == m2
    assert (
        load_model(spark, reg, "mdl_decision_tree", model_version=1)
        != m2
    )
    import pytest as _pytest

    with _pytest.raises(KeyError):
        load_model(spark, reg, "nope")


def test_permutation_importance_ranks_signal_over_noise(spark):
    from equity_volatility_lakehouse_platform_spark.ml_prep import (
        fit_model,
        permutation_importance,
    )

    syn = _ml_synth(spark).withColumn(
        "noise", (F.sin(F.col("t") * 3.77) * 971.3 % 2.0 - 1.0)
    ).localCheckpoint(eager=True)
    m = fit_model(syn, ["x1", "x2", "noise"], "label", max_iter=60)
    imp = permutation_importance(
        syn, ["x1", "x2", "noise"], "label", m
    ).collect()
    assert [f.name for f in permutation_importance(
        syn, ["x1", "x2", "noise"], "label", m
    ).schema.fields] == ["feature", "base_metric", "importance"]
    by = {r["feature"]: r["importance"] for r in imp}
    # Signal features matter; the noise column is ~free to permute.
    assert by["x1"] > by["noise"] and by["x2"] > by["noise"]
    assert by["noise"] < 0.05
    # Sorted descending + deterministic rerun.
    imps = [r["importance"] for r in imp]
    assert imps == sorted(imps, reverse=True)
    again = permutation_importance(
        syn, ["x1", "x2", "noise"], "label", m
    ).collect()
    assert [r.asDict() for r in imp] == [r.asDict() for r in again]


def test_sequential_feature_selection_forward_and_backward(spark):
    from equity_volatility_lakehouse_platform_spark.ml_prep import (
        sequential_feature_selection,
    )

    syn = _ml_synth(spark).withColumn(
        "noise", (F.sin(F.col("t") * 3.77) * 971.3 % 2.0 - 1.0)
    ).localCheckpoint(eager=True)
    # class_weight='balanced' keeps single-feature fits from
    # collapsing to the all-negative prediction (F1=0 for every
    # candidate would make the greedy step degenerate to input order).
    kw = dict(max_iter=60, class_weight="balanced")
    fwd = sequential_feature_selection(
        syn, ["noise", "x1", "x2"], "label",
        direction="forward", k_features=2, **kw,
    )
    assert set(fwd) == {"x1", "x2"}        # noise never selected
    back = sequential_feature_selection(
        syn, ["noise", "x1", "x2"], "label",
        direction="backward", k_features=2, **kw,
    )
    assert set(back) == {"x1", "x2"}       # noise eliminated first
    # Deterministic rerun.
    assert fwd == sequential_feature_selection(
        syn, ["noise", "x1", "x2"], "label",
        direction="forward", k_features=2, **kw,
    )


@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("overwrite"), st.integers(0, 4)),
            st.tuples(st.just("append"), st.integers(0, 4)),
            st.tuples(st.just("delete"), st.integers(0, 4)),
            st.tuples(st.just("compact"), st.just(0)),
        ),
        min_size=1,
        max_size=4,
    )
)
@PROP
def test_delta_export_matches_acid_for_any_history(
    spark, sf_dir, tmp_path_factory, ops
):
    """export_acid is version-for-version lossless for ANY op sequence —
    the randomized generalization of the fixed-history export test."""
    from equity_volatility_lakehouse_platform_spark.sources.acid import (
        AcidTable,
    )
    from equity_volatility_lakehouse_platform_spark.sources.delta_compat import (
        DeltaCompatTable,
    )
    from equity_volatility_lakehouse_platform_spark.sources.readers import (
        load_table,
    )

    base = str(tmp_path_factory.mktemp("delta_prop"))
    nation = load_table(spark, sf_dir, "nation")
    acid = AcidTable(spark, base + "/acid")
    acid.overwrite(nation.filter(F.col("n_regionkey") == 0))
    for op, k in ops:
        if op == "overwrite":
            acid.overwrite(nation.filter(F.col("n_regionkey") <= k))
        elif op == "append":
            acid.append(nation.filter(F.col("n_regionkey") == k))
        elif op == "delete":
            acid.delete_where(F.col("n_nationkey") % 5 == k)
        else:
            acid.compact()
    delta = DeltaCompatTable(spark, base + "/delta")
    top = delta.export_acid(acid)
    assert top == acid.latest_version()
    for v in range(top + 1):
        got = sorted(
            map(tuple, delta.read(version=v).collect())
        )
        want = sorted(map(tuple, acid.read(version=v).collect()))
        assert got == want, f"version {v} diverged under {ops}"


def test_fused_trainers_match_distributed_path(spark, sf_dir):
    # Round 14 (optimization round): bounded-sample training runs FUSED
    # in one Arrow task (_lloyd_fused) below
    # _FUSED_TRAIN_MAX. The fused kernel must reproduce the
    # distributed per-step path BIT-exactly — same assignment folds,
    # same ordered member means, same empty-cluster retention, same
    # seed norms — for both trainer families.
    from pyspark.sql import functions as F

    from equity_volatility_lakehouse_platform_spark.plans.similarity import (
        _ivf_emb,
        _lloyd_step,
        _pq_subspaces,
        _emb,
        ivf_train_centroids,
        pq_train_codebook,
    )

    emb = _ivf_emb(spark, sf_dir)
    # Coarse: fused (the public entry) vs the step loop it replaced.
    cb_old = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv"),
        F.col("nv").alias("nc"),
    )
    train = emb.filter(F.col("vec_id") < 2048).select("vec_id", "v", "nv")
    for _ in range(2):
        cb_old = _lloyd_step(train, cb_old, cosine=True)
    old = {
        int(r["cid"]): (list(r["cv"]), float(r["nc"]))
        for r in cb_old.collect()
    }
    new = {
        int(r["cid"]): (list(r["cv"]), float(r["nc"]))
        for r in ivf_train_centroids(emb, n_centroids=4, iters=2).collect()
    }
    assert old == new

    # PQ: fused vs the step loop, including member-less seed clusters
    # (K=16 seeds over the tiny fixture leaves some empty).
    sub = _pq_subspaces(_emb(spark, sf_dir), 16)
    cb_o = sub.filter(F.col("vec_id") < 16).select(
        "m", F.col("vec_id").alias("j"), F.col("x").alias("c")
    )
    tsub = sub.filter(F.col("vec_id") < 2048)
    for _ in range(2):
        cb_o = _lloyd_step(tsub, cb_o)
    old_pq = {
        (int(r["m"]), int(r["j"])): list(r["c"]) for r in cb_o.collect()
    }
    new_pq = {
        (int(r["m"]), int(r["j"])): list(r["c"])
        for r in pq_train_codebook(sub, 16, 2).collect()
    }
    assert old_pq == new_pq
