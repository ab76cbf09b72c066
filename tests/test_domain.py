"""Equity-domain operator tests against pandas oracles and invariants
(SURVEY.md §5 strategy: feature-parity fixtures + docx invariant suite)."""

from __future__ import annotations

import os
import tempfile

import pandas as pd
import pytest
from pyspark.sql import functions as F

from equity_volatility_lakehouse_platform_spark.functions.lookbacks import ewm_mean
from equity_volatility_lakehouse_platform_spark.ml_prep import (
    impute_median,
    one_hot,
    temporal_holdout,
    trim_warmup,
)
from equity_volatility_lakehouse_platform_spark.operators.calendar_ops import (
    days_since_holiday,
    holidays_df,
    trading_days,
)
from equity_volatility_lakehouse_platform_spark.operators.grid import build_grid, grid_fill
from equity_volatility_lakehouse_platform_spark.operators.multimodal import (
    _decode_payload,
    attach_binary_payload,
    decode_media,
)
from equity_volatility_lakehouse_platform_spark.operators.quality import (
    parse_bronze_timestamp,
    repair_vwap,
    validate_bars,
)
from equity_volatility_lakehouse_platform_spark.sources.sinks import (
    incremental_plan,
    upsert_parquet,
    write_partitioned,
)
from equity_volatility_lakehouse_platform_spark.sources.synthetic import (
    corrupt_bars,
    synthetic_bars,
)


@pytest.fixture(scope="module")
def bars(spark):
    # 2024-03-04..15 spans the March 10 US DST transition (SURVEY §7.5).
    return synthetic_bars(spark, ["AAA", "BBB", "CCC"], drop_rate=5).cache()


def test_synthetic_bars_satisfy_invariants(spark, bars):
    report = validate_bars(bars).first()
    assert report.n_rows > 0
    for probe in (
        "null_timestamp", "bad_symbol", "low_gt_high", "open_outside",
        "close_outside", "vwap_outside", "negative_volume", "nonpositive_trades",
    ):
        assert report[probe] == 0, probe


def test_quality_detects_and_repairs_corruption(spark, bars):
    bad = corrupt_bars(bars)
    report = validate_bars(bad).first()
    assert report.vwap_outside > 0 and report.negative_volume > 0
    repaired = repair_vwap(bad)
    assert validate_bars(repaired).first().vwap_outside == 0


def test_grid_is_dense_and_clamped(spark, bars):
    grid = build_grid(bars)
    pdf = grid.toPandas()
    b = bars.groupBy("symbol").agg(
        F.min("local_timestamp").alias("lo"), F.max("local_timestamp").alias("hi")
    ).toPandas().set_index("symbol")
    for sym, g in pdf.groupby("symbol"):
        ts = g["local_timestamp"].sort_values()
        assert ts.min() == b.loc[sym, "lo"] and ts.max() == b.loc[sym, "hi"]
        # weekday-only, 30-min cadence, 04:00-19:30 band
        assert (ts.dt.dayofweek < 5).all()
        assert ts.dt.minute.isin([0, 30]).all()
        assert ts.dt.hour.between(4, 19).all()


def test_grid_fill_matches_pandas_oracle(spark, bars):
    out = grid_fill(bars).toPandas()
    src = bars.toPandas()
    for sym, g in out.groupby("symbol"):
        g = g.sort_values("local_timestamp").set_index("local_timestamp")
        s = (
            src[src.symbol == sym]
            .sort_values("local_timestamp")
            .set_index("local_timestamp")
        )
        oracle_close = s["close"].reindex(g.index).ffill().bfill()
        pd.testing.assert_series_equal(g["close"], oracle_close, check_names=False)
        filled = ~g.index.isin(s.index)
        assert (g.loc[filled, "volume"] == 0).all()
        assert (g.loc[filled, "open"] == g.loc[filled, "close"]).all()
    # filled output passes the invariant battery (SURVEY §5)
    report = validate_bars(
        grid_fill(bars).withColumn("trade_count", F.greatest("trade_count", F.lit(1)))
    ).first()
    assert report.low_gt_high == 0 and report.vwap_outside == 0


def test_bronze_timestamp_parse(spark):
    bronze = spark.createDataFrame(
        [("AAA", "2024-03-04 09:30:00"), ("BBB", "not-a-time")], ["symbol", "timestamp"]
    )
    parsed = parse_bronze_timestamp(bronze)
    rows = {r.symbol: r.timestamp for r in parsed.collect()}
    assert rows["AAA"] is not None and rows["BBB"] is None


def test_ewm_matches_pandas(spark, bars):
    out = (
        ewm_mean(
            bars.select("symbol", "local_timestamp", "close"),
            key="symbol", order=["local_timestamp"], value="close",
            alpha=0.1, out="ewm",
        )
        .toPandas()
        .sort_values(["symbol", "local_timestamp"])
    )
    for sym, g in out.groupby("symbol"):
        oracle = g["close"].ewm(alpha=0.1, adjust=False).mean()
        pd.testing.assert_series_equal(g["ewm"], oracle, check_names=False)


def test_calendar_and_asof(spark):
    days = trading_days(spark, "2024-01-01", "2024-01-31")
    got = sorted(r.day.isoformat() for r in days.collect())
    assert "2024-01-01" not in got and "2024-01-15" not in got  # holidays
    assert "2024-01-06" not in got  # Saturday
    assert "2024-01-02" in got
    tagged = days_since_holiday(
        spark.createDataFrame([("2024-01-20",)], ["d"]).select(F.col("d").cast("date")),
        "d", holidays_df(spark),
    ).first()
    assert tagged.days_since_holiday == 5  # Jan 15 -> Jan 20


def test_sinks_roundtrip_and_upsert(spark, bars):
    with tempfile.TemporaryDirectory() as tmp:
        p1 = os.path.join(tmp, "lake")
        daily = bars.withColumn("date", F.to_date("local_timestamp"))
        write_partitioned(daily, p1, ["symbol"])
        back = spark.read.parquet(p1)
        assert back.count() == daily.count()

        p2 = os.path.join(tmp, "upsert")
        first = daily.filter(F.col("symbol") != "CCC")
        upsert_parquet(spark, first, p2, ["symbol", "local_timestamp"])
        n1 = spark.read.parquet(p2).count()
        # re-upserting the same rows is a no-op; new symbol rows append
        upsert_parquet(spark, daily, p2, ["symbol", "local_timestamp"])
        merged = spark.read.parquet(p2)
        assert merged.count() == daily.count() and n1 == first.count()

        plan = incremental_plan(daily, "symbol", "date").collect()
        assert all(r.fetch_from == r.last_seen + pd.Timedelta(days=1).to_pytimedelta() for r in plan)


def test_ml_prep(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-05", "Monday", 0.07, None),
         (1, "2024-01-06", "Tuesday", 0.01, 2.0),
         (2, "2024-01-07", "Monday", None, 4.0)],
        ["sym", "d", "weekday", "market_absolute_path", "x"],
    ).select("sym", F.col("d").cast("date").alias("d"), "weekday",
             "market_absolute_path", "x")
    from equity_volatility_lakehouse_platform_spark.ml_prep import label_market_path
    lab = label_market_path(df.fillna({"market_absolute_path": 0.0}))
    assert [r.market_path_flag for r in lab.orderBy("d").collect()] == [1, 0, 0]
    oh = one_hot(df, "weekday", ["Monday", "Tuesday"])
    assert "weekday_monday" in oh.columns and "weekday" not in oh.columns
    imp = impute_median(df, ["x"])
    assert imp.filter(F.col("x").isNull()).count() == 0
    train, test = temporal_holdout(df, "d", "2024-01-07")
    assert train.count() == 2 and test.count() == 1
    trimmed = trim_warmup(df, "sym", "d", n=1)
    assert trimmed.count() == 1  # sym1 keeps 1 of 2, sym2 keeps 0 of 1


def test_multimodal_decode_stub(spark):
    docs = spark.createDataFrame([(1, "hello world"), (2, "abc")], ["doc_id", "text"])
    out = decode_media(attach_binary_payload(docs)).orderBy("doc_id").collect()
    for row, text in zip(out, ["hello world", "abc"]):
        w, h, m, dec = _decode_payload(text.encode())
        assert dec == "stub-v1"  # text payloads always take the stub path
        assert (row.width, row.height) == (w, h)
        assert abs(row.mean_intensity - m) < 1e-12
        assert row.payload_bytes == len(text.encode())


def test_multimodal_png_codec_roundtrip():
    # The pure-stdlib PNG codec (round 6, stub retired for mm02/mm03):
    # encode writes genuine zlib IDAT + CRCs; decode must reproduce the
    # exact pixel bytes, and _decode_payload must route PNG payloads to
    # the real decoder, never the stub.
    from equity_volatility_lakehouse_platform_spark.operators.multimodal import (
        _dims_for,
        _pix_rule,
        decode_png,
        encode_png_rgb,
    )

    for d in (0, 5, 123, 99999):
        w, h = _dims_for(d)
        pix = _pix_rule(d)
        png = encode_png_rgb(w, h, pix)
        w2, h2, pixels, nch = decode_png(png)
        assert (w2, h2, nch) == (w, h, 3)
        assert pixels == bytes(pix(i, c) for i in range(w * h) for c in range(3))
        pw, ph, _m, dec = _decode_payload(png)
        assert (pw, ph) == (w, h)
        assert dec in ("pil", "png-stdlib")  # real decode either way


def test_multimodal_png_decoder_reconstructs_all_filters():
    # A PNG whose scanlines use Sub/Up/Average/Paeth (filters 1-4) must
    # reconstruct to the same pixels as the unfiltered encoding — the
    # part of a baseline decoder where off-by-one bugs live.
    import struct
    import zlib

    from equity_volatility_lakehouse_platform_spark.operators.multimodal import (
        _png_chunk,
        decode_png,
    )

    sig = bytes([137, 80, 78, 71, 13, 10, 26, 10])
    raw0 = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90])
    raw1 = bytes([15, 25, 35, 45, 55, 65, 75, 85, 95])
    nch = 3

    def sub(line):
        return bytes((line[i] - (line[i - nch] if i >= nch else 0)) & 0xFF
                     for i in range(len(line)))

    def up(line, prev):
        return bytes((line[i] - prev[i]) & 0xFF for i in range(len(line)))

    def avg(line, prev):
        return bytes((line[i] - (((line[i - nch] if i >= nch else 0) + prev[i]) // 2)) & 0xFF
                     for i in range(len(line)))

    def paeth(line, prev):
        out = []
        for i in range(len(line)):
            a = line[i - nch] if i >= nch else 0
            b = prev[i]
            c = prev[i - nch] if i >= nch else 0
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            out.append((line[i] - pred) & 0xFF)
        return bytes(out)

    ihdr = struct.pack(">IIBBBBB", 3, 2, 8, 2, 0, 0, 0)
    for enc in (
        b"\x01" + sub(raw0) + b"\x02" + up(raw1, raw0),
        b"\x00" + raw0 + b"\x03" + avg(raw1, raw0),
        b"\x00" + raw0 + b"\x04" + paeth(raw1, raw0),
    ):
        png = (sig + _png_chunk(b"IHDR", ihdr)
               + _png_chunk(b"IDAT", zlib.compress(enc))
               + _png_chunk(b"IEND", b""))
        assert decode_png(png)[2] == raw0 + raw1


def test_multimodal_decode_real_codec_when_available():
    # Import-probe contract: with Pillow installed, a decodable image
    # payload takes the PIL fast path and must produce the SAME channel
    # stats as the stdlib decoder (they inflate the same stream). Skips
    # where the container has no media libs (the stdlib tests above
    # cover the decode itself).
    from equity_volatility_lakehouse_platform_spark.operators.multimodal import (
        _HAVE_PIL,
        _dims_for,
        _pix_rule,
        _rgb_pixels,
        encode_png_rgb,
    )

    if not _HAVE_PIL:
        pytest.skip("Pillow not installed; stdlib PNG codec path is in effect")
    d = 123
    w, h = _dims_for(d)
    png = encode_png_rgb(w, h, _pix_rule(d))
    pw, ph, px = _rgb_pixels(png)  # PIL path
    pix = _pix_rule(d)
    assert (pw, ph) == (w, h)
    assert px == bytes(pix(i, c) for i in range(w * h) for c in range(3))


def test_event_segmentation_matches_pandas(spark, sf_dir):
    # Differential test for the stateful trend segmentation (f19): an
    # independent plain-pandas scan with the same tiered-band semantics
    # (my_alpaca.py:19-111 without the 1-minute drill-down).
    from equity_volatility_lakehouse_platform_spark.operators.events_seg import (
        min_max_target,
        segment_events,
    )
    from equity_volatility_lakehouse_platform_spark.sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    got = (
        segment_events(ev)
        .orderBy("user_id", "start_time", "end_time")
        .toPandas()
    )

    pdf = ev.select("user_id", "event_id", "ts", "value").toPandas()
    expected_rows = []
    for uid, g in pdf.sort_values(["user_id", "ts", "event_id"]).groupby("user_id"):
        vals = g["value"].tolist()
        times = g["ts"].tolist()
        ref, lo, hi, start, n = vals[0], vals[0], vals[0], times[0], 0
        for t, v in zip(times, vals):
            lo, hi, n = min(lo, v), max(hi, v), n + 1
            mn, mx = min_max_target(ref)
            if v <= mn or v >= mx:
                expected_rows.append((uid, start, t, ref, hi, lo, v, n))
                ref, lo, hi, start, n = v, v, v, t, 0
        expected_rows.append((uid, start, times[-1], ref, hi, lo, vals[-1], n))

    assert len(got) == len(expected_rows)
    exp = pd.DataFrame(
        expected_rows,
        columns=["user_id", "start_time", "end_time", "open", "high", "low", "close", "n_bars"],
    ).sort_values(["user_id", "start_time", "end_time"]).reset_index(drop=True)
    for col in ("user_id", "n_bars"):
        assert got[col].tolist() == exp[col].tolist(), col
    for col in ("open", "high", "low", "close"):
        pd.testing.assert_series_equal(got[col], exp[col], check_names=False)
    assert (got["pct_change"] - (exp["close"] / exp["open"] - 1)).abs().max() < 1e-6


def test_api_sources_with_injected_fetchers(spark):
    # S1/S2/S3/S5 driver-side sources (my_eodhd.py, alpa.py, my_ishares.py)
    # exercised with fixture payloads instead of network/SDK clients.
    from equity_volatility_lakehouse_platform_spark.sources.api_sources import (
        excel_holdings_source,
        historical_constituents_source,
        index_list_source,
        sdk_bars_source,
    )

    # S1 with the 403-fallback path: primary fetch raises, cache serves.
    def boom():
        raise RuntimeError("403")

    idx = index_list_source(
        spark,
        fetch=boom,
        fallback=lambda: [
            {"ID": "GSPC.INDX", "Code": "GSPC", "Name": "S&P 500",
             "Constituents": 503, "Value": 5000.0, "MarketCap": 4.5e13,
             "CurrencyCode": "USD", "LastUpdate": None},
        ],
    )
    row = idx.first()
    assert row.full_symbol == "GSPC.INDX" and row.constituents_count == 503

    # S2: dict-of-dicts payload, open intervals closed with sentinels.
    payload = {
        "HistoricalTickerComponents": {
            "0": {"Code": "AAA", "Name": "Alpha", "StartDate": "2020-01-02",
                  "EndDate": "", "Weight": 1.5, "Exchange": "NYSE",
                  "Industry": "Tech", "Sector": "IT",
                  "IsActiveNow": True, "IsDelisted": False},
            "1": {"Code": "BBB", "Name": "Beta", "StartDate": None,
                  "EndDate": "2021-06-30", "Weight": 0.5, "Exchange": "NYSE",
                  "Industry": "Energy", "Sector": "EN",
                  "IsActiveNow": False, "IsDelisted": True},
        }
    }
    cons = historical_constituents_source(spark, ["GSPC.INDX"], lambda code: payload)
    got = {r.symbol: r for r in cons.collect()}
    assert str(got["AAA"].end_date) == "2199-12-31"       # sentinel close
    assert str(got["BBB"].start_date) == "1950-01-01"     # sentinel open
    assert got["AAA"].index_symbol == "GSPC.INDX"
    assert got["BBB"].is_delisted is True

    # S3: batching — 5 symbols at batch_size=2 => 3 fetch calls.
    calls = []

    def fetch_batch(batch):
        calls.append(list(batch))
        return [
            {"symbol": s, "timestamp": "2024-03-04 09:30:00", "open": 10.0,
             "high": 11.0, "low": 9.5, "close": 10.5, "volume": 100,
             "trade_count": 7, "vwap": 10.2}
            for s in batch
        ]

    bars = sdk_bars_source(spark, ["A", "B", "C", "D", "E"], fetch_batch, batch_size=2)
    assert len(calls) == 3 and bars.count() == 5
    assert dict(bars.dtypes)["timestamp"] == "timestamp"

    # S5: Excel holdings with an injected reader; dedup on Ticker.
    def fake_reader(path):
        return pd.DataFrame(
            [{"Ticker": "AAA", "Name": "Alpha", "Weight": 2.0, "Sector": "IT"},
             {"Ticker": "AAA", "Name": "Alpha dup", "Weight": 2.0, "Sector": "IT"},
             {"Ticker": "BBB", "Name": "Beta", "Weight": 1.0, "Sector": "EN"}]
        )

    etf = excel_holdings_source(spark, "fixture.xlsx", reader=fake_reader)
    assert etf.count() == 2


def test_csv_bars_roundtrip(spark, bars):
    # S4: CSV scan with explicit schema + timestamp parsing
    # (my_alpaca.py:120-122 pd.read_csv(parse_dates=['timestamp'])).
    from equity_volatility_lakehouse_platform_spark.sources.readers import read_csv_bars

    out = tempfile.mkdtemp(prefix="evlp_csv_")
    src = bars.withColumn(
        "timestamp", F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss")
    )
    src.write.mode("overwrite").option("header", True).csv(out)
    back = read_csv_bars(spark, out, bars.schema)
    assert back.count() == bars.count()
    assert dict(back.dtypes)["timestamp"] == "timestamp"
    a = bars.agg(F.sum("volume"), F.round(F.sum("close"), 6)).first()
    b = back.agg(F.sum("volume"), F.round(F.sum("close"), 6)).first()
    assert a == b


def test_approx_sketches_within_error_bounds(spark, sf_dir):
    # a15: sketches must land within published error bounds of the exact
    # answers (HLL++ rsd=0.02 → 5%; percentile_approx acc=10000 → 1%/2%).
    # The query itself emits the in-bound bits (oracle-checked); here we
    # assert them plus the exact columns against an independent agg.
    from equity_volatility_lakehouse_platform_spark.plans import all_queries, load_all
    from equity_volatility_lakehouse_platform_spark.sources.readers import load_table

    load_all()
    got = {r.event_type: r for r in all_queries()["a15_approx_sketches"](spark, sf_dir).collect()}
    ev = load_table(spark, sf_dir, "events")
    exact = {
        r.event_type: r
        for r in ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("users"),
            F.median("value").alias("med"),
        )
        .collect()
    }
    assert set(got) == set(exact)
    for et, e in exact.items():
        g = got[et]
        assert g.exact_users == e.users, et
        assert abs(g.exact_median_value - e.med) <= 1e-5, et
        assert (g.users_in_bound, g.median_in_bound, g.p99_in_bound) == (1, 1, 1), et


def test_daily_ohlcv_matches_pandas(spark, bars):
    # A1 on the real bar schema (my_alpaca.py:267-280): ordered first/last
    # via min_by/max_by, canonical 04:00 day stamp.
    from equity_volatility_lakehouse_platform_spark.operators.daily import daily_ohlcv

    got = daily_ohlcv(bars).orderBy("symbol", "timestamp").toPandas()

    pdf = bars.toPandas().sort_values(["symbol", "local_timestamp"])
    pdf["day"] = pdf["local_timestamp"].dt.normalize() + pd.Timedelta(hours=4)
    exp = (
        pdf.groupby(["symbol", "day"])
        .agg(
            open=("open", "first"), high=("high", "max"),
            low=("low", "min"), close=("close", "last"),
            volume=("volume", "sum"), trade_count=("trade_count", "sum"),
        )
        .reset_index()
        .sort_values(["symbol", "day"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    for col in ("open", "high", "low", "close"):
        assert (got[col] - exp[col]).abs().max() < 1e-9, col
    assert got["volume"].tolist() == exp["volume"].tolist()
    assert got["timestamp"].tolist() == exp["day"].tolist()


def test_st17_vectorized_sessionize_matches_loop():
    # Round-14: st17's per-key row loop became one vectorized walk
    # (_session_walk). Differential guard — the retired loop re-run
    # against the vectorized walk over randomized batches with and
    # without carried state, including exact-gap boundaries.
    import random

    import numpy as np

    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        _session_walk,
    )

    GAP = 3_600_000

    def loop_walk(ms_list, start_ms, last_ms, n):
        closed = []
        for ms in ms_list:
            if last_ms is not None and ms - last_ms > GAP:
                closed.append((start_ms, n))
                start_ms, n = None, 0
            if start_ms is None:
                start_ms = ms
            last_ms = ms
            n += 1
        return closed, (start_ms, last_ms, n)

    rng = random.Random(1714)
    for trial in range(300):
        base = rng.randrange(1_600_000_000_000, 1_700_000_000_000)
        ms, t = [], base
        for _ in range(rng.randrange(1, 40)):
            # Mix sub-gap steps, the EXACT gap boundary (ties must not
            # break), and super-gap jumps.
            t += rng.choice([1, 17, GAP - 1, GAP, GAP + 1, 3 * GAP])
            ms.append(t)
        if rng.random() < 0.5:
            state = (None, None, 0)  # fresh key
        else:
            s0 = base - rng.randrange(0, 2 * GAP)
            state = (s0, base, rng.randrange(1, 9))  # carried session
        got = _session_walk(np.asarray(ms, dtype="int64"), *state, GAP)
        want = loop_walk(ms, *state)
        assert got == want, (trial, state, ms[:5], got, want)


def test_st17_chunked_sessionize_matches_pandas_sort():
    # Round-15: st17's per-key pd.concat + sort_values became one
    # lexsort over the two needed columns (_sessionize_chunks).
    # Differential guard — the retired pandas path re-run against the
    # chunked lexsort over randomized multi-chunk batches with ts ties
    # (secondary event_id order must match) and carried state.
    import random

    import numpy as np
    import pandas as pd

    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        _session_walk,
        _sessionize_chunks,
    )

    GAP = 3_600_000

    def pandas_path(pdfs, state):
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        ms_a = (
            rows["ts"].to_numpy("datetime64[ns]").astype("int64")
            // 1_000_000
        )
        return _session_walk(ms_a, *state, GAP)

    rng = random.Random(2317)
    for trial in range(200):
        base = rng.randrange(1_600_000_000_000, 1_700_000_000_000)
        ms, t = [], base
        for _ in range(rng.randrange(1, 50)):
            # Sub-gap steps, exact-gap boundaries, super-gap jumps, and
            # REPEATED timestamps (the tie the secondary sort key breaks).
            t += rng.choice([0, 0, 1, 17, GAP - 1, GAP, GAP + 1, 3 * GAP])
            ms.append(t)
        rng.shuffle(ms)
        eids = rng.sample(range(10_000_000), len(ms))
        rows = pd.DataFrame(
            {
                "ts": pd.to_datetime(np.array(ms, dtype="int64"), unit="ms"),
                "event_id": np.array(eids, dtype="int64"),
                "user_id": np.int64(7),
                "value": 1.0,
            }
        )
        # Split into 1-3 chunks (the pdfs iterator shape).
        n_chunks = rng.randrange(1, 4)
        bounds = sorted(rng.sample(range(len(rows) + 1), n_chunks - 1))
        chunks, lo = [], 0
        for b in bounds + [len(rows)]:
            chunks.append(rows.iloc[lo:b])
            lo = b
        chunks = [c for c in chunks if len(c)] or [rows]
        if rng.random() < 0.5:
            state = (None, None, 0)
        else:
            s0 = base - rng.randrange(0, 2 * GAP)
            state = (s0, base, rng.randrange(1, 9))
        got = _sessionize_chunks(chunks, *state, GAP)
        want = pandas_path(chunks, state)
        assert got == want, (trial, state, got, want)


def test_stream_state_store_sizing_policy():
    # Round-14 sizing (guide §2.2): bytes-derived store count, capped at
    # the session's parallelism, floored per operator class — JVM-state
    # joins floor at 2 (per-store commit overhead dominates small
    # state), Python-stateful operators floor at 8 (per-key Python work
    # needs task parallelism). At scale the bytes-derived count governs
    # for both.
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        _n_state_partitions,
    )

    mb = 1 << 20
    # Small input: the floor binds (join floor 2, python floor 8).
    assert _n_state_partitions(2 * mb, 32, 16 * mb, 2) == 2
    assert _n_state_partitions(2 * mb, 32, 16 * mb, 8) == 8
    # Large input: bytes-derived, capped at session parallelism —
    # identical for both operator classes (floors never bind at scale).
    assert _n_state_partitions(10_000 * mb, 32, 16 * mb, 2) == 32
    assert _n_state_partitions(10_000 * mb, 32, 16 * mb, 8) == 32
    # Mid-size input between floor and cap: exact ceil division.
    assert _n_state_partitions(100 * mb, 32, 16 * mb, 2) == 7
    # Denser per-store sizing (session windows, 4 MB/store).
    assert _n_state_partitions(100 * mb, 32, 4 * mb, 8) == 25


def test_scratch_base_fallback_decisions(monkeypatch, tmp_path):
    # Round-15 hardening: a misconfigured $EVLP_SCRATCH_DIR must warn
    # and fall back (not poison every mkdtemp with FileNotFoundError),
    # and /dev/shm is only auto-selected with real headroom — a
    # RAM-squeezed host degrades to disk /tmp instead of ENOSPC.
    import pytest as _pytest

    from equity_volatility_lakehouse_platform_spark.sources import scratch

    monkeypatch.setenv("EVLP_SCRATCH_DIR", str(tmp_path))
    assert scratch.scratch_base() == str(tmp_path)

    monkeypatch.setenv("EVLP_SCRATCH_DIR", str(tmp_path / "missing"))
    with _pytest.warns(UserWarning, match="EVLP_SCRATCH_DIR"):
        got = scratch.scratch_base()
    assert got != str(tmp_path / "missing")

    monkeypatch.delenv("EVLP_SCRATCH_DIR", raising=False)
    monkeypatch.setattr(scratch, "_free_bytes", lambda p: 0)
    assert scratch.scratch_base() is None
    monkeypatch.setattr(
        scratch, "_free_bytes", lambda p: scratch._SHM_MIN_FREE_BYTES
    )
    expected = "/dev/shm" if scratch._dir_usable("/dev/shm") else None
    assert scratch.scratch_base() == expected


def test_streaming_runs_leave_no_temp_artifacts(spark, sf_dir):
    # Streaming hygiene: every invocation must clean up its landing dir,
    # checkpoint, table roots, memory-sink view and query (a long-lived
    # session calling the streaming queries repeatedly must not
    # accumulate anything) — memory-sink and foreachBatch runs alike.
    import tempfile as tf

    from equity_volatility_lakehouse_platform_spark.streaming import (
        events_stream as es,
    )

    from equity_volatility_lakehouse_platform_spark.sources.scratch import (
        scratch_base,
    )

    runs = {
        "evstream_": es.run_tumbling_stream,
        "evstate_": es.run_stateful_totals_stream,
        "evdedup_": es.run_dedup_stream,
        "evlate_": es.run_late_data_stream,
        "acidstream_": es.run_acid_ingest_stream,
        "evdlq_": es.run_dlq_ingest_stream,
        "cdcstream_": es.run_cdc_apply_stream,
        "deltastream_": es.run_delta_txn_ingest_stream,
    }

    def temp_dirs():
        roots = {tf.gettempdir(), scratch_base() or tf.gettempdir()}
        return {
            (root, d)
            for root in roots
            for d in os.listdir(root)
            if d.startswith(tuple(runs))
        }

    before_dirs = temp_dirs()
    before_views = {t.name for t in spark.catalog.listTables()}
    counts = {prefix: run(spark, sf_dir).count() for prefix, run in runs.items()}
    assert all(n > 0 for n in counts.values()), counts
    assert temp_dirs() == before_dirs, "streaming run leaked temp dirs"
    assert {t.name for t in spark.catalog.listTables()} == before_views, (
        "streaming run leaked memory-sink views"
    )
    assert spark.streams.active == [], "streaming run left a query active"


def test_money_guard_3dp_fixture(spark, tmp_path):
    # VERDICT r4 item 5: the 2dp-money cast must stay engine-identical
    # even if the generator ever emits >2dp values. The fixture sits
    # exactly on 2dp rounding boundaries (2.675 etc.), where Spark's
    # native round/cast (shortest-repr HALF_UP) and DuckDB's binary
    # round disagree — r2 (functions/rounding.py) reproduces DuckDB
    # bit-exactly, so the _money sum matches for ANY input precision.
    import duckdb
    from pyspark.sql import functions as F

    from equity_volatility_lakehouse_platform_spark.functions.rounding import r2

    vals = [2.675, 0.005, 1.0049999, 7.125, 3.115, 0.615, 12.345, 2.0]
    path = str(tmp_path / "money3dp.parquet")
    spark.createDataFrame([(v,) for v in vals], "v double").coalesce(
        1
    ).write.parquet(path)

    spark_total = (
        spark.read.parquet(path)
        .agg(F.sum(r2(F.col("v")).cast("decimal(18,2)")).cast("double").alias("t"))
        .collect()[0]["t"]
    )
    duck_total = duckdb.sql(
        f"SELECT CAST(SUM(CAST(ROUND(v, 2) AS DECIMAL(18,2))) AS DOUBLE) "
        f"FROM '{path}/*.parquet'"
    ).fetchone()[0]
    assert spark_total == duck_total

    # Pin the underlying engine semantics too: on current engine
    # versions even the BARE double->DECIMAL(18,2) casts agree (both
    # implement shortest-repr HALF_UP — verified over 3M samples incl.
    # the k.??5 grid). If either engine ever changes cast semantics,
    # this assertion localizes the breakage immediately instead of a
    # far-away oracle hash mismatch.
    unguarded_spark = (
        spark.read.parquet(path)
        .agg(F.sum(F.col("v").cast("decimal(18,2)")).cast("double").alias("t"))
        .collect()[0]["t"]
    )
    unguarded_duck = duckdb.sql(
        f"SELECT CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) "
        f"FROM '{path}/*.parquet'"
    ).fetchone()[0]
    assert unguarded_spark == unguarded_duck == spark_total


def test_load_table_rejects_conflicting_explicit_conf(spark, sf_dir):
    # Engine contract (sources/readers._require_conf): a bare session is
    # pinned silently (driver behavior unchanged), but an EXPLICITLY-set
    # incompatible session conf raises at the read site instead of being
    # silently overwritten under a co-resident workload.
    import pytest as _pytest

    from equity_volatility_lakehouse_platform_spark.sources.readers import load_table

    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        with _pytest.raises(ValueError, match="spark.sql.session.timeZone"):
            load_table(spark, sf_dir, "events")
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    # UTC alias spellings are compatible, not conflicts.
    spark.conf.set("spark.sql.session.timeZone", "Etc/UTC")
    load_table(spark, sf_dir, "events").limit(1).count()
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"

    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        with _pytest.raises(ValueError, match="inferTimestampNTZ"):
            load_table(spark, sf_dir, "events")
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

    # Streaming reads pin through the same helper: building a streaming
    # query raises instead of silently resetting the zone to UTC.
    from equity_volatility_lakehouse_platform_spark.plans.streaming_plans import (
        st12_acid_ingest_stream,
    )

    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        with _pytest.raises(ValueError, match="spark.sql.session.timeZone"):
            st12_acid_ingest_stream(spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_python_workers_import_package_from_any_cwd(sf_dir, tmp_path):
    # Python workers unpickle the query kernels. The driver here has the
    # package only on its sys.path and runs from a cwd outside the repo.
    # st17's applyInPandasWithState kernel is unpickled by module path,
    # so under get_spark the workers must get the package from the
    # session, not from their cwd. A bare session gives the workers no
    # path at all, so sim06's and ml18's Arrow kernels must carry the
    # fold helpers they call with them (pickled by value).
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plans = "equity_volatility_lakehouse_platform_spark.plans"
    inputs = [
        (
            "from equity_volatility_lakehouse_platform_spark.session import get_spark\n"
            "spark = get_spark(app_name='evlp-cwd', cpus=2, shuffle_partitions=2)\n",
            [("streaming_plans", "st17_stateful_timeout_sessions")],
        ),
        (
            "from pyspark.sql import SparkSession\n"
            "spark = SparkSession.builder.master('local[2]').getOrCreate()\n",
            [
                ("similarity", "sim06_pq_ann_topk"),
                ("mlprep_plans", "ml18_random_projection"),
            ],
        ),
    ]
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != repo
    )
    for session, queries in inputs:
        code = f"import sys\nsys.path.insert(0, {repo!r})\n" + session
        for module, name in queries:
            code += (
                f"from {plans}.{module} import {name}\n"
                f"print('rows', len({name}(spark, {sf_dir!r}).collect()))\n"
            )
        code += "spark.stop()\n"
        proc = subprocess.run(
            [sys.executable, "-c", code], cwd=tmp_path, env=env,
            capture_output=True, text=True, timeout=900,
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        assert proc.stdout.count("rows ") == len(queries)


def test_curation_dag_edge_corpora(spark, tmp_path):
    # d16 funnel semantics on crafted corpora (the sf tables never hit
    # these edges): exact duplicates keep ONE survivor; a benchmark-
    # contaminated doc is dropped at the contamination stage; short
    # (<3-token) docs are never spuriously "contaminated"; and a
    # single-source corpus downsamples to ~min_n = itself (threshold
    # 2^32 => every unique survivor kept).
    import os

    from equity_volatility_lakehouse_platform_spark.plans.dedup import (
        d16_curation_dag,
    )

    good = ("the of and to in is for " * 20).strip()     # high quality
    # doc 97 is a BENCHMARK doc (97 % 97 == 0); doc 5 copies its text,
    # so every one of doc 5's shingles collides -> contaminated.
    docs = [
        (1, good, "en", "src0"),
        (2, good, "en", "src0"),                          # exact dup of 1
        (3, good + " extra tail tokens", "en", "src0"),
        (5, "unique shingle alpha " * 40, "en", "src0"),  # = bench text
        (7, "ok go", "en", "src0"),                       # <3 tokens
        (97, "unique shingle alpha " * 40, "en", "src0"), # benchmark doc
    ]
    pdf = [
        {"doc_id": i, "text": t, "lang": lg, "source": s, "n_chars": len(t)}
        for i, t, lg, s in docs
    ]
    sf_dir = str(tmp_path / "sf_edge")
    os.makedirs(sf_dir)
    spark.createDataFrame(
        pdf, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(sf_dir + "/documents.parquet")

    row = d16_curation_dag(spark, sf_dir).first()
    assert row["n_docs"] == 5            # 97 excluded as benchmark
    # doc 7 fails the length gate (2 tokens, score < threshold);
    # 1, 2, 3, 5 are high quality
    assert row["n_quality"] == 4
    # doc 5 is contaminated (its shingles == the benchmark's)
    assert row["n_clean"] == 3
    # docs 1 and 2 are byte-identical: one survivor
    assert row["n_unique"] == 2
    # single source: min_n == n_src -> threshold 2^32, all kept
    assert row["n_balanced"] == 2
    assert row["kept_doc_id_sum"] == 1 + 3


# ---------------------------------------------------------------- round 9 --


def test_ml19_purged_kfold_partitions_the_timeline(spark, sf_dir):
    from equity_volatility_lakehouse_platform_spark.plans import all_queries, load_all
    from equity_volatility_lakehouse_platform_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    load_all()
    out = all_queries()["ml19_purged_kfold"](spark, sf_dir).collect()
    n_days = (
        load_table(spark, sf_dir, "events")
        .select(F.date_trunc("day", "ts"))
        .distinct()
        .count()
    )
    assert len(out) == 5
    for r in out:
        # Every day classified exactly once per fold.
        assert r["n_test"] + r["n_embargo"] + r["n_train"] == n_days
        assert r["n_test"] >= 1
    # Test blocks partition the timeline: block sizes sum to n and the
    # di-sums of all test blocks together cover 1..n exactly once.
    assert sum(r["n_test"] for r in out) == n_days
    assert sum(r["test_di_sum"] for r in out) == n_days * (n_days + 1) // 2


def test_sim10_mmr_rank1_is_top_cosine_and_picks_distinct(spark, sf_dir):
    from equity_volatility_lakehouse_platform_spark.plans import all_queries, load_all

    load_all()
    qs = all_queries()
    mmr = qs["sim10_mmr_diversify"](spark, sf_dir).collect()
    top = {
        (r["q_id"], r["vec_id"])
        for r in qs["sim01_bruteforce_topk"](spark, sf_dir).collect()
        if True
    }
    by_q = {}
    for r in mmr:
        by_q.setdefault(r["q_id"], []).append(r)
    for q_id, rows in by_q.items():
        rows.sort(key=lambda r: r["rank"])
        picks = [r["vec_id"] for r in rows]
        # k distinct picks, and rank 1 == the relevance argmax (the
        # brute-force top-1 for that query).
        assert len(picks) == len(set(picks)) == 5
        top1 = [v for (q, v) in top if q == q_id]
        assert picks[0] in top1[:1] or picks[0] in top1  # top-5 contains it
        # MMR scores are non-increasing only for rank>=2 vs their own
        # step (not globally monotonic) — but every score is finite.
        assert all(r["mmr_score"] is not None for r in rows)


def test_d17_blockwise_kernel_matches_naive_pairwise(spark, sf_dir):
    import numpy as np

    from equity_volatility_lakehouse_platform_spark.plans import all_queries, load_all
    from equity_volatility_lakehouse_platform_spark.plans.similarity import (
        _ivf_emb,
        ivf_assign,
        ivf_train_centroids,
    )

    load_all()
    out = {
        r["vec_id"]: r
        for r in all_queries()["d17_semantic_dedup"](spark, sf_dir).collect()
    }
    emb = _ivf_emb(spark, sf_dir)
    # Mirror d17's auto-K provisioning (round 13: K = max(4,
    # ceil(N/256)) — constant ~256-vector clusters, linear prune).
    k = max(4, (emb.count() + 255) // 256)
    cent = ivf_train_centroids(emb, n_centroids=k, iters=2)
    rows = ivf_assign(emb, cent).collect()
    by_cid = {}
    for r in rows:
        by_cid.setdefault(r["cid"], []).append(r)
    for cid, members in by_cid.items():
        members.sort(key=lambda r: r["vec_id"])
        V = np.array([list(r["v"]) for r in members])
        nv = np.array([r["nv"] for r in members])
        for i in range(len(members)):
            best = None
            for j in range(i):
                acc = V[i, 0] * V[j, 0]
                for d in range(1, V.shape[1]):
                    acc = acc + V[i, d] * V[j, d]
                den = nv[i] * nv[j]
                if den == 0.0:
                    continue
                c = acc / den
                best = c if best is None else max(best, c)
            got = out[members[i]["vec_id"]]["max_intra_cos"]
            if best is None:
                assert got is None
            else:
                assert got == round(best, 6) or abs(got - best) < 1e-6


def test_ivf_train_limit_scales_with_k_cross_engine(spark, tmp_path):
    # Round 13: the training sample follows max(2048, 8*K). Past
    # K=256 the old fixed 2048-row sample gave codebooks fewer than 8
    # training vectors per centroid (and past K=2048, seeds outside
    # the sample entirely) — a silent quality degeneration back toward
    # the seed quantizer the training exists to fix. Pin BOTH halves:
    # (a) the widened default actually changes the codebook vs the old
    # fixed bound, and (b) Spark and the DuckDB mirror CTE stay
    # bit-exact under the widened bound — the lockstep that keeps
    # every consumer's oracle honest at 100 TB codebook sizes.
    import math
    import os

    import duckdb
    import pandas as pd

    from equity_volatility_lakehouse_platform_spark.plans.similarity import (
        _ivf_emb,
        _ivf_train_sql,
        ivf_train_centroids,
    )

    n, dims, k = 2304, 64, 288  # 8*k = 2304 > the old 2048 cap
    pdf = pd.DataFrame(
        {
            "vec_id": pd.array(range(n), dtype="int64"),
            "embedding": [
                [math.sin(float(i * dims + d)) for d in range(dims)]
                for i in range(n)
            ],
            "label": pd.array([i % 10 for i in range(n)], dtype="int32"),
        }
    )
    sf_dir = str(tmp_path / "sf_emb")
    os.makedirs(sf_dir)
    pdf.to_parquet(os.path.join(sf_dir, "embeddings.parquet"), index=False)

    emb = _ivf_emb(spark, sf_dir)
    got = {
        int(r["cid"]): list(r["cv"])
        for r in ivf_train_centroids(emb, n_centroids=k, iters=2).collect()
    }
    assert len(got) == k
    # (a) the widened default (8*288 = 2304 here) must differ from the
    # old fixed 2048-row sample — i.e. the extra sample actually
    # reaches the codebook.
    old = {
        int(r["cid"]): list(r["cv"])
        for r in ivf_train_centroids(
            emb, n_centroids=k, iters=2, train_limit=2048
        ).collect()
    }
    assert got != old, "widened train sample did not change the codebook"

    sql = (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        f"FROM read_parquet('{sf_dir}/embeddings.parquet'))"
        + _ivf_train_sql(str(k))
        + " SELECT cid, cv FROM icb2"
    )
    want = {int(cid): list(cv) for cid, cv in duckdb.sql(sql).fetchall()}
    assert got == want, "Spark and DuckDB trained codebooks diverge"


def test_d17_cluster_guard_fails_loud(spark, sf_dir):
    import pytest as _pytest

    from equity_volatility_lakehouse_platform_spark.plans import load_all
    from equity_volatility_lakehouse_platform_spark.plans.dedup import (
        d17_semantic_dedup,
    )

    load_all()
    # An under-provisioned bound must raise the prescriptive error, not
    # hang — the skew_guard contract for the O(n^2) kernel.
    with _pytest.raises(Exception, match="pairwise-prune bound"):
        d17_semantic_dedup(spark, sf_dir, max_cluster=10).collect()


# --------------------------------------------------------------- round 10 --


def test_sim10_single_candidate_query_still_emits_rank1(spark, tmp_path):
    # Round-10 regression (r9 advice): a query whose shortlist
    # degenerates to ONE candidate produces no candidate-pair rows; the
    # inner-join kernel used to drop the query entirely while the
    # oracle's recursive base case still emits the rank-1 pick. With 2
    # vectors, both act as queries (vec_id < 3) and each has exactly one
    # candidate (the other vector).
    import os

    from equity_volatility_lakehouse_platform_spark.plans import (
        all_queries,
        load_all,
    )

    load_all()
    sf_dir = str(tmp_path / "sf_tiny")
    os.makedirs(sf_dir)
    vecs = [
        (0, [1.0] + [0.0] * 63, 0),
        (1, [0.5] * 2 + [0.0] * 62, 1),
    ]
    spark.createDataFrame(
        [
            {"vec_id": i, "embedding": [float(x) for x in v], "label": lb}
            for i, v, lb in vecs
        ],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(sf_dir + "/embeddings.parquet")
    rows = all_queries()["sim10_mmr_diversify"](spark, sf_dir).collect()
    got = {(r["q_id"], r["rank"], r["vec_id"]) for r in rows}
    # Each query picks its single candidate at rank 1 — nothing dropped.
    assert got == {(0, 1, 1), (1, 1, 0)}


def test_d17_tau_parameter_is_honored(spark, sf_dir):
    from equity_volatility_lakehouse_platform_spark.plans import load_all
    from equity_volatility_lakehouse_platform_spark.plans.dedup import (
        d17_semantic_dedup,
    )

    load_all()
    rows = d17_semantic_dedup(spark, sf_dir, tau=-2.0).collect()
    # tau below any cosine: every vector with a lower-id cluster-mate is
    # a dup. With the default 0.45 the near-orthogonal corpus flags
    # (almost) nothing — so this separates the parameter from the
    # hardcoded literal the r9 advice flagged.
    with_mate = [r for r in rows if r["max_intra_cos"] is not None]
    assert with_mate, "fixture must have multi-member clusters"
    assert all(r["is_dup"] for r in with_mate)
    assert all(not r["is_dup"] for r in rows if r["max_intra_cos"] is None)


def test_j19_every_order_matches_exactly_one_version(spark, sf_dir):
    # SCD2 windows must PARTITION the per-customer timeline: the join
    # neither drops nor duplicates facts.
    from equity_volatility_lakehouse_platform_spark.plans import (
        all_queries,
        load_all,
    )
    from equity_volatility_lakehouse_platform_spark.sources.readers import (
        load_table,
    )

    load_all()
    out = all_queries()["j19_scd2_point_in_time"](spark, sf_dir)
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert out.count() == n_orders
    assert out.select("o_orderkey").distinct().count() == n_orders
    # All three versions actually receive facts (boundaries sit inside
    # the order-date range).
    vers = {r["version"] for r in out.select("version").distinct().collect()}
    assert vers == {1, 2, 3}


def test_t18_planted_pii_all_detected_and_redacted(spark, sf_dir):
    # doc_id 0 satisfies every planting rule (0 % k == 0), so its row
    # must count one of each PII form and the redaction must replace
    # all four with tags, leaving no raw planted pattern behind.
    from equity_volatility_lakehouse_platform_spark.plans import (
        all_queries,
        load_all,
    )

    load_all()
    rows = {
        r["doc_id"]: r
        for r in all_queries()["t18_pii_redaction"](spark, sf_dir).collect()
    }
    r0 = rows[0]
    assert (r0["n_email"], r0["n_ssn"], r0["n_phone"], r0["n_ip"]) == (
        1, 1, 1, 1,
    )
    red = r0["redacted_text"]
    for tag in ("[EMAIL]", "[SSN]", "[PHONE]", "[IP]"):
        assert tag in red
    assert "@" not in red and "555-" not in red
    # A doc planting nothing is returned byte-identical.
    import re

    clean = next(
        k for k in sorted(rows)
        if k % 3 and k % 5 and k % 7 and k % 11
    )
    assert not re.search(r"\[(EMAIL|SSN|PHONE|IP)\]", rows[clean]["redacted_text"])


def test_sim13_neighbors_share_lsh_bucket(spark, sf_dir):
    # The kNN graph's blocking CONTRACT: every reported neighbor pair
    # collides in the sign-LSH bucket space the query auto-provisioned.
    import math

    from equity_volatility_lakehouse_platform_spark.plans import (
        all_queries,
        load_all,
    )
    from equity_volatility_lakehouse_platform_spark.plans.similarity import (
        _emb,
        lsh_bucket,
    )
    from pyspark.sql import functions as F

    load_all()
    emb = _emb(spark, sf_dir)
    bits = max(2, math.ceil(math.log2(emb.count() / 256.0)))
    buckets = {
        r["vec_id"]: r["b"]
        for r in emb.select(
            "vec_id", lsh_bucket(F.col("v"), bits).alias("b")
        ).collect()
    }
    out = all_queries()["sim13_knn_graph"](spark, sf_dir).collect()
    assert out, "graph must be non-empty"
    for r in out:
        assert buckets[r["vec_id"]] == buckets[r["nbr_id"]]
        assert r["vec_id"] != r["nbr_id"]


# --------------------------------------------------------------- round 11 --


def test_lsh_banding_ladder():
    # Auto-provisioned banding + signature width (rounds 11-12):
    # rows-per-band grows as the corpus crosses 2^16 and 2^28 docs
    # (background-collision FP mass stays sub-linear), and the
    # signature WIDENS alongside so the band count keeps the
    # 0.7-Jaccard collision probability >= 0.9 in the r=4 regime —
    # the round-11 fixed-8 signature collided those at only ~48%.
    from equity_volatility_lakehouse_platform_spark.plans.dedup import (
        lsh_banding,
        lsh_n_perm,
    )

    assert lsh_banding(600) == (4, 2)
    assert lsh_banding(2**16 - 1) == (4, 2)
    assert lsh_banding(2**16) == (9, 4)
    assert lsh_banding(2**28 - 1) == (9, 4)
    assert lsh_banding(2**28) == (8, 6)
    for n in (600, 2**16 - 1, 2**16, 2**28 - 1, 2**28, 2**40):
        b, r = lsh_banding(n)
        assert b * r == lsh_n_perm(n)
    # Recall at the regime the round-11 verdict flagged: 0.7-Jaccard
    # pairs in the >= 2^16 regime must collide with probability >= 0.9.
    b, r = lsh_banding(2**20)
    assert 1.0 - (1.0 - 0.7**r) ** b >= 0.90


def test_minhash_params_prefix_and_formula():
    # Perms 0..7 are the legacy primes (widened signatures keep d02's
    # 8-perm frame as an exact prefix); perms >= 8 follow the formula
    # the DuckDB oracle derives from the permutation index.
    from equity_volatility_lakehouse_platform_spark.operators.textops import (
        HASH_P,
        MINHASH_A,
        MINHASH_B,
        minhash_params,
    )

    p36 = minhash_params(36)
    assert len(p36) == 36
    assert p36[:8] == list(zip(MINHASH_A, MINHASH_B))
    assert minhash_params(8) == p36[:8]
    for k in range(8, 36):
        assert p36[k] == (
            (1000003 * (k + 1)) % HASH_P,
            (15485863 * k + 1) % HASH_P,
        )
    # distinct nonzero multipliers (universal-family requirement)
    assert len({a for a, _ in p36}) == 36
    assert all(0 < a < HASH_P for a, _ in p36)


def test_lsh_banding_r4_branch_cross_engine(spark, tmp_path, sf_dir):
    # The fixture SFs never cross 2^16 docs, so the widened-signature
    # r=4 regime (n_perm=36, b=9) would otherwise ship untested: plant
    # a >= 2^16-doc corpus and run the full d03 compare — if the two
    # engines derived different (n_perm, b, r) from count(*), or their
    # formula-generated permutation parameters diverged, the candidate
    # sets would mismatch with overwhelming probability. On top of the
    # bit-exact compare, the corpus carries 1500 planted ~0.714-Jaccard
    # pairs (20-token docs, one middle token changed: 15 of 21 distinct
    # shingles shared) whose RECALL must be >= 0.9 — the round-11
    # fixed-8 signature (b=2, r=4) collided these at only ~48%;
    # b=9 x r=4 gives 1-(1-J^4)^9 ~ 0.93.
    import os

    from equity_volatility_lakehouse_platform_spark.plans.dedup import (
        d03_minhash_lsh_pairs,
    )
    from equity_volatility_lakehouse_platform_spark.plans.registry import (
        all_oracles,
    )
    from tests.oracle_compare import TABLES, run_compare

    rows = []
    for i in range(70_000):
        if 68_000 <= i < 69_000:
            base = i
            rows.append((i, f"u{base}a u{base}b u{base}c u{base}d u{base}e"))
            rows.append(
                (i + 1_000, f"u{base}a u{base}b u{base}c u{base}d z{base}")
            )
        elif i < 68_000:
            rows.append((i, f"u{i}a u{i}b u{i}c u{i}d u{i}e"))
    n_planted = 1_500
    planted = []
    for i in range(n_planted):
        toks = [f"p{i}w{j}" for j in range(20)]
        a_id, b_id = 200_000 + i, 300_000 + i
        rows.append((a_id, " ".join(toks)))
        toks[9] = f"p{i}x"
        rows.append((b_id, " ".join(toks)))
        planted.append((a_id, b_id))
    big = str(tmp_path / "sf_r4")
    os.makedirs(big)
    for t in TABLES:
        if t != "documents":
            os.symlink(
                os.path.join(sf_dir, f"{t}.parquet"),
                os.path.join(big, f"{t}.parquet"),
            )
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array([i for i, _ in rows], dtype="int64"),
            "text": [t for _, t in rows],
            "lang": "en",
            "source": "s0",
            "n_chars": pd.array([len(t) for _, t in rows], dtype="int64"),
        }
    )
    # Single FILE (not a Spark directory) so the DuckDB view pattern and
    # load_table both read it like the driver-generated fixtures.
    pdf.to_parquet(big + "/documents.parquet", index=False)

    run_compare(
        spark, big, "d03_minhash_lsh_pairs@70k",
        d03_minhash_lsh_pairs, all_oracles()["d03_minhash_lsh_pairs"],
    )

    got = {
        (r["doc_a"], r["doc_b"])
        for r in d03_minhash_lsh_pairs(spark, big)
        .filter(F.col("doc_a") >= 200_000)
        .collect()
    }
    recall = sum(1 for p in planted if p in got) / n_planted
    assert recall >= 0.90, (
        f"widened-signature recall at 0.714 Jaccard = {recall:.3f} < 0.90"
    )


def test_lsh_bucket_frame_matches_column_form(spark, sf_dir):
    # The Arrow bucketing kernel and the Column expression are two
    # implementations of ONE contract (the oracle's list_reduce over
    # sin-hyperplane signs) — pin them against each other so a weight
    # or fold-order drift in either surfaces as a test failure, not an
    # oracle mismatch three queries downstream.
    from pyspark.sql import functions as F

    from equity_volatility_lakehouse_platform_spark.plans.similarity import (
        _emb,
        lsh_bucket,
        lsh_bucket_frame,
    )

    emb = _emb(spark, sf_dir).select("vec_id", "v")
    for bits in (2, 5):
        kern = {
            r["vec_id"]: r["bucket"]
            for r in lsh_bucket_frame(emb, bits).collect()
        }
        col = {
            r["vec_id"]: r["bucket"]
            for r in emb.select(
                "vec_id", lsh_bucket(F.col("v"), bits).alias("bucket")
            ).collect()
        }
        assert kern == col, f"bits={bits}: kernel != column form"


def test_input_bytes_walks_directories(tmp_path):
    # State-store sizing derives from INPUT BYTES; a landing dir is a
    # directory of part files, where os.path.getsize returns the inode
    # size (~4KB) and would pin the store count to its floor for
    # exactly the multi-file layout the sizing exists to handle.
    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        _input_bytes,
    )

    single = tmp_path / "one.parquet"
    single.write_bytes(b"x" * 1000)
    assert _input_bytes(str(single)) == 1000

    d = tmp_path / "landing"
    (d / "sub").mkdir(parents=True)
    (d / "a.parquet").write_bytes(b"x" * 600)
    (d / "sub" / "b.parquet").write_bytes(b"x" * 400)
    assert _input_bytes(str(d)) == 1000


def test_d22_planted_image_pairs_recovered(spark, sf_dir):
    # The pair-planting rule makes (2k, 2k+1) siblings perceptual
    # near-dups (~1/53 of pixels perturbed -> a few dHash bits flip);
    # d22's band join + exact Hamming verify must recover nearly all of
    # them through the REAL PNG encode/decode round trip, and no
    # unrelated pair may pass the <= 10 threshold.
    from equity_volatility_lakehouse_platform_spark.plans.multimodal import (
        d22_perceptual_image_neardup,
    )
    from equity_volatility_lakehouse_platform_spark.sources.readers import (
        load_table,
    )

    ids = {
        r.doc_id
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    }
    planted = {(k, k + 1) for k in ids if k % 2 == 0 and k + 1 in ids}
    rows = d22_perceptual_image_neardup(spark, sf_dir).collect()
    near = {(r.doc_a, r.doc_b) for r in rows if r.is_near_dup}
    assert planted, "fixture must contain sibling pairs"
    recall = len(planted & near) / len(planted)
    assert recall >= 0.95, f"planted-pair recall {recall:.3f} < 0.95"
    # every pair passing the threshold is a planted sibling (the
    # perturbation is the only sub-threshold phenomenon in the family)
    assert near <= planted, f"false near-dups: {sorted(near - planted)[:5]}"


def test_d25_planted_video_pairs_recovered(spark, sf_dir):
    # The pair-planting rule makes (2k, 2k+1) siblings perceptual
    # near-dup CLIPS (~1/53 of pixels perturbed in every frame -> a few
    # dHash bits flip per sampled frame); d25's band join + exact
    # 192-bit Hamming verify must recover nearly all of them through
    # the REAL container walk + frame split + PNG decode round trip,
    # and no unrelated pair may pass the <= 30 threshold.
    from equity_volatility_lakehouse_platform_spark.plans.multimodal import (
        d25_perceptual_video_neardup,
    )
    from equity_volatility_lakehouse_platform_spark.sources.readers import (
        load_table,
    )

    ids = {
        r.doc_id
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    }
    planted = {(k, k + 1) for k in ids if k % 2 == 0 and k + 1 in ids}
    rows = d25_perceptual_video_neardup(spark, sf_dir).collect()
    near = {(r.doc_a, r.doc_b) for r in rows if r.is_near_dup}
    assert planted, "fixture must contain sibling pairs"
    recall = len(planted & near) / len(planted)
    assert recall >= 0.95, f"planted-pair recall {recall:.3f} < 0.95"
    assert near <= planted, f"false near-dups: {sorted(near - planted)[:5]}"


def test_d25_unsampled_frame_changes_are_invisible(spark, sf_dir):
    # The fingerprint must depend ONLY on the sampled frames (0/2/4):
    # perturbing an un-sampled frame's pixels must not change any band
    # key — pins the mm04 every_n=2 sampling contract inside the kernel
    # (a sampling regression to "all frames" would silently pass the
    # near-dup tests while 2x-ing decode cost at 100 TB).
    from equity_volatility_lakehouse_platform_spark.operators import (
        multimodal as om,
    )

    doc = 40
    clip = om.encode_video_clip(doc)

    # Rebuild the clip with frame 1 (un-sampled) replaced by frame 3's
    # content (any different real PNG of the same dims).
    def frames_of(buf):
        pos = 0
        while pos + 8 <= len(buf):
            size = int.from_bytes(buf[pos : pos + 4], "big")
            if buf[pos + 4 : pos + 8] == b"mdat":
                mdat = buf[pos + 8 : pos + size]
                out, p = [], 0
                while p + 4 <= len(mdat):
                    ln = int.from_bytes(mdat[p : p + 4], "big")
                    out.append(mdat[p + 4 : p + 4 + ln])
                    p += 4 + ln
                return buf[:pos], out
            pos += size
        raise AssertionError("no mdat")

    head, frames = frames_of(clip)
    mutated = list(frames)
    mutated[1] = frames[3]
    mdat = b"".join(len(f).to_bytes(4, "big") + f for f in mutated)
    clip2 = head + (8 + len(mdat)).to_bytes(4, "big") + b"mdat" + mdat

    df = spark.createDataFrame(
        [(doc, bytearray(clip)), (doc + 1000, bytearray(clip2))],
        "doc_id long, payload binary",
    )
    rows = {
        r.doc_id: [r[f"k{m}"] for m in range(12)]
        for r in om.video_fp_bands_frame(df).collect()
    }
    assert rows[doc] == rows[doc + 1000], (
        "fingerprint changed when only an un-sampled frame changed"
    )


def test_session_window_emission_boundary(spark, tmp_path):
    # Pins st22's two boundary semantics empirically (the round-7 probe
    # method): (a) append-mode emission is NON-strict — a session whose
    # end (last_ts + 1h) lands EXACTLY on the final watermark
    # max(ts) - 2h IS emitted (unlike st17's strict GroupState
    # timeout); (b) session_window merging is INCLUSIVE at the gap — an
    # event exactly gap after the previous one MERGES into the session
    # (split only on diff > gap, st17's boundary at us grain).
    # The st22 oracle encodes both; if a Spark upgrade flips either,
    # this fails loudly before the sweep does.
    import pandas as pd

    from equity_volatility_lakehouse_platform_spark.streaming.events_stream import (
        run_session_window_stream,
    )

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    us = pd.Timedelta(microseconds=1)
    h = pd.Timedelta(hours=1)
    rows = [
        # watermark anchor: max(ts) = t0+10h -> final wm = t0+8h
        (99, t0 + 10 * h, 1.0),
        # plainly-closed session: end = t0+10min+1h << wm
        (1, t0, 1.0),
        (1, t0 + pd.Timedelta(minutes=10), 2.0),
        # boundary session: end = t0+7h+1h == wm exactly
        (2, t0 + 7 * h, 1.0),
        # just inside: end = wm - 1us
        (3, t0 + 7 * h - us, 1.0),
        # merge boundary: second event exactly gap after the first
        (4, t0, 1.0),
        (4, t0 + h, 2.0),
    ]
    pdf = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [r[1] for r in rows],
            "user_id": [r[0] for r in rows],
            "event_type": "probe",
            "value": [r[2] for r in rows],
        }
    )
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    sf = str(tmp_path / "probe_sf")
    os.makedirs(sf)
    pdf.to_parquet(os.path.join(sf, "events.parquet"))

    out = run_session_window_stream(spark, sf)
    got = {
        (r.user_id, r.session_start.isoformat(), r.n_events)
        for r in out.collect()
    }
    users = {u for (u, _, _) in got}
    assert 1 in users, "plainly-closed session must be emitted"
    assert 2 in users, (
        "emission must be NON-strict: session end == watermark NOT "
        "emitted — flip the st22 oracle back to < if Spark changed"
    )
    assert 3 in users, "session end one microsecond inside the wm"
    assert 99 not in users, "open tail session must stay in state"
    u4 = {(s, n) for (u, s, n) in got if u == 4}
    assert u4 == {(t0.isoformat(), 2)}, (
        f"diff == gap must MERGE (got {u4}) — flip the st22 oracle's "
        "new-session predicate to >= if Spark changed semantics"
    )


def test_d23_planted_audio_pairs_recovered(spark, sf_dir):
    # The audio pair rule perturbs ~1/211 of samples; each fingerprint
    # bit integrates 32 samples and flips only on a window-delta SIGN
    # change, so siblings stay within a couple of Hamming bits (design
    # simulation: mean 0.14, max 1 over 500 pairs) — d23's band join +
    # exact verify must recover them through the REAL WAV encode/parse
    # round trip, and no unrelated pair may pass the <= 10 threshold.
    from equity_volatility_lakehouse_platform_spark.plans.multimodal import (
        d23_perceptual_audio_neardup,
    )
    from equity_volatility_lakehouse_platform_spark.sources.readers import (
        load_table,
    )

    ids = {
        r.doc_id
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    }
    planted = {(k, k + 1) for k in ids if k % 2 == 0 and k + 1 in ids}
    rows = d23_perceptual_audio_neardup(spark, sf_dir).collect()
    near = {(r.doc_a, r.doc_b) for r in rows if r.is_near_dup}
    assert planted, "fixture must contain sibling pairs"
    recall = len(planted & near) / len(planted)
    assert recall >= 0.95, f"planted-pair recall {recall:.3f} < 0.95"
    assert near <= planted, f"false near-dups: {sorted(near - planted)[:5]}"


# --------------------------------------------------------------- round 12 --


def test_d24_planted_contamination(spark, tmp_path):
    # A train vector IDENTICAL to a benchmark vector must be flagged
    # contaminated at max_cosine 1.0 (identical vectors always share
    # the LSH bucket); an anti-parallel train vector (cosine -1, the
    # one relation bucketing cannot split from its negative) must come
    # out clean with n_hits 0 / NULL max_cosine; benchmark ids never
    # appear in the mask.
    import os

    from equity_volatility_lakehouse_platform_spark.plans.dedup import (
        d24_semantic_decontamination,
    )

    sf_dir = str(tmp_path / "sf_tiny")
    os.makedirs(sf_dir)
    a = [1.0, 0.5] + [0.25] * 62
    rows = [
        (10, a, 0),                      # benchmark (vec_id % 10 == 0)
        (11, a, 1),                      # train, identical -> contaminated
        (12, [-x for x in a], 1),        # train, cosine -1 -> clean
    ]
    spark.createDataFrame(
        [
            {"vec_id": i, "embedding": [float(x) for x in v], "label": lb}
            for i, v, lb in rows
        ],
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.parquet(sf_dir + "/embeddings.parquet")
    got = {
        r.vec_id: (r.n_hits, r.max_cosine, r.contaminated)
        for r in d24_semantic_decontamination(spark, sf_dir).collect()
    }
    assert set(got) == {11, 12}, f"mask must cover train ids only: {got}"
    assert got[11] == (1, 1.0, True)
    assert got[12] == (0, None, False)


def test_sql06_terminates_with_zero_key_and_orphans(spark, tmp_path):
    # custkey 0 is parent(0) == 0 — without the k >= 10 guard the
    # recursion re-derives it forever and BOTH engines blow the
    # recursion limit (found live at sf0.001, where custkeys start at
    # 0). This fixture also plants an orphan subtree head (custkey 205,
    # parent 20 absent) which must simply never enter the hierarchy —
    # termination does not depend on key density.
    import os

    from equity_volatility_lakehouse_platform_spark.plans.relational import (
        sql06_recursive_hierarchy,
    )

    sf_dir = str(tmp_path / "sf_cust")
    os.makedirs(sf_dir)
    rows = [(0, 1.0), (1, 2.0), (10, 4.0), (105, 8.0), (205, 16.0)]
    spark.createDataFrame(
        [{"c_custkey": k, "c_acctbal": b} for k, b in rows],
        "c_custkey long, c_acctbal double",
    ).coalesce(1).write.parquet(sf_dir + "/customer.parquet")
    got = {
        (r.root, r.depth): (r.n_nodes, r.acctbal_total)
        for r in sql06_recursive_hierarchy(spark, sf_dir).collect()
    }
    assert got == {
        (0, 0): (1, 1.0),   # zero key is a root exactly once
        (1, 0): (1, 2.0),
        (1, 1): (1, 4.0),   # 10 under 1
        (1, 2): (1, 8.0),   # 105 under 10
        # 205 orphaned (parent 20 absent) -> not reachable, not emitted
    }, got


def test_sql06_survives_recursion_row_limit(spark, sf_dir):
    # Round-13 ADVICE: the chain emits one row per customer, so Spark
    # 4's default cteRecursionRowLimit=1,000,000 fails the query past
    # ~1M customers while the oracle succeeds. The builder must lift
    # the ROW limit for its own execution (and restore the session
    # default) — pinned by setting a session limit BELOW the sf0.001
    # customer count (150) and checking the query still completes AND
    # the eager materialization happened inside the lifted window (a
    # lazy plan re-reads the restored conf at action time and fails —
    # measured before the fix).
    from equity_volatility_lakehouse_platform_spark.plans.relational import (
        sql06_recursive_hierarchy,
    )

    key = "spark.sql.cteRecursionRowLimit"
    prev = spark.conf.get(key, "1000000")
    spark.conf.set(key, "50")
    try:
        df = sql06_recursive_hierarchy(spark, sf_dir)
        assert spark.conf.get(key) == "50", "builder must restore the conf"
        assert df.count() > 0
    finally:
        spark.conf.set(key, prev)


def _d26_corpus_dir(tmp_path, sf_dir, rows, name):
    # Planted documents table next to symlinked fixture tables (the
    # test_lsh_banding_r4_branch_cross_engine harness).
    import os

    from tests.oracle_compare import TABLES

    d = str(tmp_path / name)
    os.makedirs(d)
    for t in TABLES:
        if t != "documents":
            os.symlink(
                os.path.join(sf_dir, f"{t}.parquet"),
                os.path.join(d, f"{t}.parquet"),
            )
    pdf = pd.DataFrame(
        {
            "doc_id": pd.array([i for i, _ in rows], dtype="int64"),
            "text": [t for _, t in rows],
            "lang": "en",
            "source": "s0",
            "n_chars": pd.array([len(t) for _, t in rows], dtype="int64"),
        }
    )
    pdf.to_parquet(d + "/documents.parquet", index=False)
    return d


def test_d26_hot_bucket_template_mass_1e5(spark, tmp_path, sf_dir):
    # The round-13 verdict's top item, planted: ~1e5 EXACT copies of one
    # boilerplate template — the input class where an uncapped band
    # join goes quadratic (ALL copies collide in EVERY band; the naive
    # candidate join would emit ~C(1e5,2) * b ~ 2e10 join rows). d26's
    # exact-dedup-first composition must (a) complete with candidate
    # volume proportional to DISTINCT texts, (b) account the collapsed
    # exact mass as C(n,2) without enumerating it, and (c) stay
    # bit-exact against the DuckDB mirror on the same corpus.
    from equity_volatility_lakehouse_platform_spark.plans.dedup import (
        D26_BUCKET_CAP,
        d26_dedup_first_lsh,
    )
    from equity_volatility_lakehouse_platform_spark.plans.registry import (
        all_oracles,
    )
    from tests.oracle_compare import run_compare

    n_copies = 100_000
    template = "the quick brown fox jumps over the lazy dog again"
    rows = [(i, template) for i in range(n_copies)]
    # distinct background docs + a few planted near-pairs among KEEPERS
    for i in range(2_000):
        rows.append((200_000 + i, f"b{i}a b{i}b b{i}c b{i}d b{i}e"))
    planted = []
    for i in range(20):
        toks = [f"q{i}w{j}" for j in range(20)]
        a_id, b_id = 400_000 + i, 500_000 + i
        rows.append((a_id, " ".join(toks)))
        toks[9] = f"q{i}x"
        rows.append((b_id, " ".join(toks)))
        planted.append((a_id, b_id))
    d = _d26_corpus_dir(tmp_path, sf_dir, rows, "d26_1e5")

    run_compare(
        spark, d, "d26_dedup_first_lsh@1e5",
        d26_dedup_first_lsh, all_oracles()["d26_dedup_first_lsh"],
    )

    out = d26_dedup_first_lsh(spark, d).collect()
    exact = {r["doc_a"]: r["mass"] for r in out if r["kind"] == "exact_group"}
    # keeper of the template group is doc_id 0; mass = C(1e5, 2).
    assert exact == {0: n_copies * (n_copies - 1) // 2}
    near = {
        (r["doc_a"], r["doc_b"]) for r in out if r["kind"] == "near_pair"
    }
    # 102k docs -> the widened 36-perm b=9 r=4 regime: a 0.714-Jaccard
    # pair collides with P ~ 0.92, so assert recall, not every pair
    # (the hashes are deterministic — this is a fixed outcome, asserted
    # with the regime's expected margin).
    recall = sum(1 for p in planted if p in near) / len(planted)
    assert recall >= 0.8, f"planted keeper near-pair recall {recall}"
    # Candidate volume is bounded by the DISTINCT corpus (~2k keepers),
    # never the 1e5 template mass: with background docs sharing zero
    # shingles, the near set stays ~the planted pairs.
    assert len(near) < 1_000, f"near-pair volume exploded: {len(near)}"
    # No hot bucket binds at the default cap on this corpus (keepers
    # are ~2k distinct texts spread across buckets).
    assert D26_BUCKET_CAP == 1024


def test_d26_hot_bucket_cap_binds_loudly(spark, tmp_path, sf_dir):
    # Residual-hot-bucket leg: a dense cluster of DISTINCT near-dup
    # texts (J ~ 0.8 pairwise — exact dedup cannot collapse them)
    # collides in shared (band, key) buckets past a low cap. The capped
    # plan must EXCLUDE those buckets from the pair join and surface
    # the avoided candidate mass as per-band hot_bucket rows — and the
    # DuckDB mirror with the same cap must agree bit-exactly.
    from equity_volatility_lakehouse_platform_spark.plans.dedup import (
        _d26_oracle,
        d26_dedup_first_lsh,
    )
    from tests.oracle_compare import run_compare

    cap = 8
    rows = []
    for i in range(60):  # the hot cluster: 20 tokens, last one distinct
        toks = [f"c{j}" for j in range(19)] + [f"v{i}"]
        rows.append((i, " ".join(toks)))
    for i in range(500):  # background distinct docs
        rows.append((1_000 + i, f"g{i}a g{i}b g{i}c g{i}d g{i}e"))
    d = _d26_corpus_dir(tmp_path, sf_dir, rows, "d26_hot")

    run_compare(
        spark, d, "d26_dedup_first_lsh@cap8",
        lambda s, sd: d26_dedup_first_lsh(s, sd, bucket_cap=cap),
        _d26_oracle(cap),
    )

    out = d26_dedup_first_lsh(spark, d, bucket_cap=cap).collect()
    hot = [r for r in out if r["kind"] == "hot_bucket"]
    assert hot, "cluster must trip the bucket cap"
    avoided = sum(r["mass"] for r in hot)
    assert avoided > cap * (cap - 1) // 2, f"avoided mass {avoided} too small"
    n_near = sum(1 for r in out if r["kind"] == "near_pair")
    # Residual near pairs only from sub-cap buckets: bounded by
    # b * C(cap, 2) + background collisions, far below C(60, 2) * b.
    assert n_near <= 4 * cap * (cap - 1) // 2 + 50, f"near volume {n_near}"


def test_d27_planted_substring_repeats(spark, tmp_path, sf_dir):
    # Exact-substring semantics, planted: a 10-token span S shared
    # cross-document at DIFFERENT positions (the case chunk-grid dedup
    # d14 misses when S straddles a boundary), plus a within-document
    # repeat (suffix-array semantics count all occurrences). With k=8,
    # a 10-token duplicated span covers exactly 10 tokens (3 merged
    # windows). Expected masses are computed by hand and asserted
    # exactly; parity vs the DuckDB mirror runs on the same corpus.
    from equity_volatility_lakehouse_platform_spark.plans.dedup import (
        d27_exact_substring_mass,
    )
    from equity_volatility_lakehouse_platform_spark.plans.registry import (
        all_oracles,
    )
    from tests.oracle_compare import run_compare

    S = [f"s{j}" for j in range(10)]
    rows = [
        # doc 0: S at positions 6..15 of 20 tokens
        (0, " ".join([f"a{j}" for j in range(5)] + S + [f"b{j}" for j in range(5)])),
        # doc 1: S at positions 1..10 of 15 tokens
        (1, " ".join(S + [f"c{j}" for j in range(5)])),
        # doc 2: internal repeat S z0 S (21 tokens, two covered spans)
        (2, " ".join(S + ["z0"] + S)),
        # doc 3: all unique, no repeats
        (3, " ".join(f"u{j}" for j in range(12))),
        # doc 4: too short for any k=8 window
        (4, "w0 w1 w2"),
    ]
    d = _d26_corpus_dir(tmp_path, sf_dir, rows, "d27_planted")

    run_compare(
        spark, d, "d27_exact_substring_mass@planted",
        d27_exact_substring_mass, all_oracles()["d27_exact_substring_mass"],
    )

    got = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"])
        for r in d27_exact_substring_mass(spark, d).collect()
    }
    assert got == {
        0: (20, 10),  # union of the 3 windows inside S
        1: (15, 10),
        2: (21, 20),  # both S copies covered; z0 not (straddles differ)
        3: (12, 0),
        4: (3, 0),
    }, got


def test_sim15_two_level_recall_audit(spark, sf_dir):
    # The hierarchical coarse path ships with its recall audit (the
    # sim05/sim07/sim09 discipline). Two claims: (a) the two-level
    # pruning at defaults is no worse than the flat fixed-codebook
    # baseline (sim04) — the hierarchy buys O(N*sqrt(K)*D) assignment
    # without paying recall vs the flat scan it replaces; (b) the loss
    # that remains is the 16-dim partial-dot CAP, not the hierarchy:
    # probing every super and lifting the cap recovers exact recall.
    from pyspark.sql import Window
    from equity_volatility_lakehouse_platform_spark.plans import (
        all_queries,
    )
    from equity_volatility_lakehouse_platform_spark.plans.similarity import (
        _ivf_emb,
        dot,
        sim15_two_level_ivf_topk,
    )

    emb = _ivf_emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        F.col("nv").alias("nq"),
    )
    cos = dot(F.col("qv"), F.col("v")) / F.nullif(
        F.col("nq") * F.col("nv"), F.lit(0.0)
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    exact = {
        (r["q_id"], r["vec_id"])
        for r in F.broadcast(q)
        .join(emb, F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("q_id", "vec_id")
        .collect()
    }

    def recall(df) -> float:
        got = {(r["q_id"], r["vec_id"]) for r in df.collect()}
        return len(got & exact) / len(exact)

    r15 = recall(sim15_two_level_ivf_topk(spark, sf_dir))
    r04 = recall(all_queries()["sim04_ivf_ann_topk"](spark, sf_dir))
    assert r15 >= r04, f"hierarchy {r15} worse than flat baseline {r04}"
    full = recall(
        sim15_two_level_ivf_topk(
            spark, sf_dir, nprobe=64, nprobe_super=64, per_probe_cap=100_000
        )
    )
    assert full == 1.0, f"un-capped full probe must be exact, got {full}"


def test_d28_planted_substring_trim(spark, tmp_path, sf_dir):
    # The removal half, on the d27 planted corpus: the shared 10-token
    # span S must vanish from every occurrence (cross-doc at different
    # offsets, both copies of a within-doc repeat), non-duplicated
    # tokens survive verbatim, short docs pass through untouched.
    from equity_volatility_lakehouse_platform_spark.plans.dedup import (
        d28_substring_trim,
    )
    from equity_volatility_lakehouse_platform_spark.plans.registry import (
        all_oracles,
    )
    from tests.oracle_compare import run_compare

    S = [f"s{j}" for j in range(10)]
    rows = [
        (0, " ".join([f"a{j}" for j in range(5)] + S + [f"b{j}" for j in range(5)])),
        (1, " ".join(S + [f"c{j}" for j in range(5)])),
        (2, " ".join(S + ["z0"] + S)),
        (3, " ".join(f"u{j}" for j in range(12))),
        (4, "w0 w1 w2"),
    ]
    d = _d26_corpus_dir(tmp_path, sf_dir, rows, "d28_planted")

    run_compare(
        spark, d, "d28_substring_trim@planted",
        d28_substring_trim, all_oracles()["d28_substring_trim"],
    )

    got = {
        r["doc_id"]: r["clean_text"]
        for r in d28_substring_trim(spark, d).collect()
    }
    assert got == {
        0: "a0 a1 a2 a3 a4 b0 b1 b2 b3 b4",
        1: "c0 c1 c2 c3 c4",
        2: "z0",
        3: " ".join(f"u{j}" for j in range(12)),
        4: "w0 w1 w2",
    }, got


def test_hamming_band_bucket_cap_and_accounting(spark):
    # d26's hot-bucket discipline on the perceptual family: 2000
    # IDENTICAL fingerprints (exact-duplicate payloads) plus two
    # near-dup singletons. Uncapped, the template contributes
    # C(2000,2) pairs through every band; with a cap the template
    # buckets are excluded from the join while the singleton pair
    # survives, and hamming_hot_buckets accounts the avoided mass
    # per band.
    from equity_volatility_lakehouse_platform_spark.plans.multimodal import (
        _hamming_band_neardup,
        hamming_hot_buckets,
    )

    rows = [(i, 7, 7, 7, 7) for i in range(2000)]
    rows += [(10_000, 1, 2, 3, 4), (10_001, 1, 2, 3, 12)]
    hashes = spark.createDataFrame(
        rows, "doc_id long, k0 long, k1 long, k2 long, k3 long"
    )
    capped = _hamming_band_neardup(hashes, bucket_cap=64).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in capped}
    assert pairs == {(10_000, 10_001)}, pairs
    hot = {r["band"]: (r["n_hot_buckets"], r["avoided_pairs"])
           for r in hamming_hot_buckets(hashes, bucket_cap=64).collect()}
    assert hot == {m: (1, 2000 * 1999 // 2) for m in range(4)}, hot


def test_t19_packing_invariants(spark, sf_dir):
    # Greedy first-fit-next-bin guarantees, checked per (shard, bin):
    # no bin exceeds the budget unless it holds a single oversized doc;
    # bins are contiguous from 0 within each shard; offsets tile each
    # bin exactly (offset_i = sum of earlier docs' tokens); and the
    # greedy tightness property — the first doc of bin i+1 would NOT
    # have fit in bin i.
    from equity_volatility_lakehouse_platform_spark.plans import (
        all_queries,
        load_all,
    )
    from equity_volatility_lakehouse_platform_spark.plans.text import (
        _PACK_BUDGET,
    )

    load_all()
    rows = all_queries()["t19_sequence_packing"](spark, sf_dir).collect()
    assert rows
    by_bin: dict = {}
    for r in rows:
        by_bin.setdefault((r.shard, r.bin_idx), []).append(r)
    for (shard, bin_idx), docs in by_bin.items():
        docs.sort(key=lambda r: r.bin_offset)
        fill = 0
        for r in docs:
            assert r.bin_offset == fill, (shard, bin_idx, r.doc_id)
            fill += r.n_tok
        assert fill <= _PACK_BUDGET or len(docs) == 1, (shard, bin_idx)
    shards: dict = {}
    for r in rows:
        shards.setdefault(r.shard, set()).add(r.bin_idx)
    for shard, bins in shards.items():
        assert bins == set(range(len(bins))), shard  # contiguous from 0
        for b in range(1, len(bins)):
            prev_fill = sum(
                r.n_tok for r in by_bin[(shard, b - 1)]
            )
            first_next = min(
                by_bin[(shard, b)], key=lambda r: r.bin_offset
            )
            assert prev_fill + first_next.n_tok > _PACK_BUDGET, (shard, b)


def test_t20_mixing_invariants(spark, sf_dir):
    # The rarest source (fewest tokens) keeps EVERY document (rate 1);
    # rates decrease as source token mass increases; the kept set is a
    # deterministic subset (same result on a re-run); and every rate is
    # in (0, 1].
    from pyspark.sql import functions as F

    from equity_volatility_lakehouse_platform_spark.operators import (
        textops as tx,
    )
    from equity_volatility_lakehouse_platform_spark.plans import (
        all_queries,
        load_all,
    )
    from equity_volatility_lakehouse_platform_spark.sources.readers import (
        load_table,
    )

    load_all()
    q = all_queries()["t20_source_mixing"]
    out = q(spark, sf_dir).collect()
    assert out and all(0.0 < r.keep_rate <= 1.0 for r in out)
    toks = {
        r.source: r.toks
        for r in load_table(spark, sf_dir, "documents")
        .select("source", F.size(tx.tokens(F.col("text"))).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").alias("toks"))
        .collect()
    }
    rates = {r.source: r.keep_rate for r in out}
    rarest = min(toks, key=lambda s: (toks[s], s))
    assert rates[rarest] == 1.0
    kept_rarest = sum(1 for r in out if r.source == rarest)
    total_rarest = load_table(spark, sf_dir, "documents").filter(
        F.col("source") == rarest
    ).count()
    assert kept_rarest == total_rarest
    for a in rates:
        for b in rates:
            if toks[a] < toks[b]:
                assert rates[a] >= rates[b], (a, b)
    assert sorted(map(tuple, out)) == sorted(map(tuple, q(spark, sf_dir).collect()))


def test_ml24_calibration_bin_invariants(spark, sf_dir):
    # Bins partition the corpus: n_bin sums to the embedding count;
    # every bin id is a decile in [0, 9]; mean predictions sit inside
    # their bin's [lo, hi) interval (bin 9 is closed at 1.0); and the
    # per-bin Brier mass is bounded by 1.
    from equity_volatility_lakehouse_platform_spark.plans import (
        all_queries,
        load_all,
    )
    from equity_volatility_lakehouse_platform_spark.sources.readers import (
        load_table,
    )

    load_all()
    rows = all_queries()["ml24_calibration_bins"](spark, sf_dir).collect()
    assert rows
    n_emb = load_table(spark, sf_dir, "embeddings").count()
    assert sum(r.n_bin for r in rows) == n_emb
    for r in rows:
        assert 0 <= r.bin <= 9
        lo, hi = r.bin / 10.0, (r.bin + 1) / 10.0
        assert lo - 1e-6 <= r.mean_pred <= (
            1.0 if r.bin == 9 else hi
        ) + 1e-6, r
        assert 0.0 <= r.frac_pos <= 1.0
        assert 0.0 <= r.brier <= 1.0 + 1e-9


def test_t21_perplexity_filter_prefers_lm_domain(spark, sf_dir):
    # The filter keeps exactly floor(n_scored/2) documents, and because
    # the LM is fit on the English slice only, English documents must be
    # OVER-represented among the kept half relative to the corpus (the
    # CCNet in-domain preference — the whole point of the train/score
    # asymmetry).
    from pyspark.sql import functions as F

    from equity_volatility_lakehouse_platform_spark.plans import (
        all_queries,
        load_all,
    )
    from equity_volatility_lakehouse_platform_spark.sources.readers import (
        load_table,
    )

    load_all()
    kept = all_queries()["t21_perplexity_filter"](spark, sf_dir).collect()
    docs = load_table(spark, sf_dir, "documents")
    n_scored = docs.filter(
        F.size(F.split(F.trim(F.lower("text")), r"\s+")) >= 2
    ).count()
    assert len(kept) == n_scored // 2
    en_kept = sum(1 for r in kept if r.lang == "en") / len(kept)
    en_corpus = docs.filter(F.col("lang") == "en").count() / docs.count()
    assert en_kept > en_corpus
    assert all(r.avg_neg_ll > 0 for r in kept)


def test_ml25_mining_invariants(spark, sf_dir):
    # Every anchor gets one pair row; the positive shares the anchor's
    # label and the negative doesn't (recomputed from the table); both
    # are the anchor's TOP cosine within their class group, so pos_cos
    # >= cos(anchor, any other same-label vector) spot-checked for
    # anchor 0; margin = pos_cos - neg_cos.
    from pyspark.sql import functions as F

    from equity_volatility_lakehouse_platform_spark.plans import (
        all_queries,
        load_all,
    )
    from equity_volatility_lakehouse_platform_spark.sources.readers import (
        load_table,
    )

    load_all()
    rows = {
        r.q_id: r
        for r in all_queries()["ml25_contrastive_mining"](
            spark, sf_dir
        ).collect()
    }
    labels = {
        r.vec_id: r.label
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    n_anchors = sum(1 for v in labels if v < 64)
    assert len(rows) == n_anchors
    for q_id, r in rows.items():
        assert labels[r.pos_id] == labels[q_id]
        assert labels[r.neg_id] != labels[q_id]
        assert abs(r.margin - round(r.pos_cos - r.neg_cos, 6)) < 2e-6


def test_t22_assembled_sequences_tile_exactly(spark, sf_dir):
    # The packed row IS its members: whitespace-tokenizing seq_text
    # must give exactly n_tokens (members joined with ' ' in offset
    # order), and (n_docs, bins) must agree with t19's assignment.
    from equity_volatility_lakehouse_platform_spark.plans import (
        all_queries,
        load_all,
    )

    load_all()
    qs = all_queries()
    seqs = qs["t22_packed_sequences"](spark, sf_dir).collect()
    assign = qs["t19_sequence_packing"](spark, sf_dir).collect()
    by_bin: dict = {}
    for r in assign:
        key = (r.shard, r.bin_idx)
        n, toks = by_bin.get(key, (0, 0))
        by_bin[key] = (n + 1, toks + r.n_tok)
    assert {(r.shard, r.bin_idx) for r in seqs} == set(by_bin)
    for r in seqs:
        n, toks = by_bin[(r.shard, r.bin_idx)]
        assert (r.n_docs, r.n_tokens) == (n, toks)
        assert len(r.seq_text.strip().lower().split()) == r.n_tokens


def test_d30_packing_agrees_with_d16_funnel(spark, sf_dir):
    # Cross-query consistency: d30's bins partition exactly d16's
    # balanced survivor set — same doc count, same token mass, same
    # exact doc_id-sum membership pin.
    from equity_volatility_lakehouse_platform_spark.plans import (
        all_queries,
        load_all,
    )

    load_all()
    qs = all_queries()
    bins = qs["d30_packed_curation_dag"](spark, sf_dir).collect()
    funnel = qs["d16_curation_dag"](spark, sf_dir).collect()[0]
    assert sum(r.n_docs for r in bins) == funnel.n_balanced
    assert sum(r.n_tokens for r in bins) == funnel.tokens_final
    assert sum(r.doc_id_sum for r in bins) == funnel.kept_doc_id_sum
    from equity_volatility_lakehouse_platform_spark.plans.text import (
        _PACK_BUDGET,
    )

    for r in bins:
        assert r.n_tokens <= _PACK_BUDGET or r.n_docs == 1, r
