import pytest

# The daily time-series family and the sweep pair: each loads only
# ``events``, so a short copy of that one table is a whole input.
SHORT_SERIES = [
    "w19_burst_detection",
    "w20_forecast_backtest",
    "w21_ewma_smoother",
    "w22_mad_outliers",
    "w23_theil_sen_trend",
    "w24_interval_coverage",
    "w28_anomaly_consensus",
    "w29_peak_concurrency",
    "w35_holt_linear",
    "stream_holt_replay",
    "w37_holt_winters",
    "stream_hw_replay",
]


@pytest.fixture(scope="module")
def three_day_events(tmp_path_factory, sf_dir):
    """The test scale's ``events`` rows before 2024-01-04 — three days,
    shorter than the Holt-Winters first week — written with pyarrow
    as the only table of a scale-factor directory."""
    import datetime

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    ev = pq.read_table(f"{sf_dir}/events.parquet")
    cut = pa.scalar(datetime.datetime(2024, 1, 4), ev.schema.field("ts").type)
    short = ev.filter(pc.less(ev["ts"], cut))
    days = pc.count_distinct(pc.floor_temporal(short["ts"], unit="day"))
    assert days.as_py() == 3
    out = tmp_path_factory.mktemp("events_3day")
    pq.write_table(short, out / "events.parquet")
    return str(out)


@pytest.mark.parametrize("name", SHORT_SERIES)
def test_short_series_matches_oracle(spark, three_day_events, name):
    """On a 3-day corpus every time-series query still hash-matches its
    oracle: the Holt-Winters pair emits no row (no first week to
    initialize from), the rest their ramp-in rows."""
    import duckdb

    from scripts.driver_sim import frame_mismatch
    from shippai_knowledge_etl_spark.catalog import oracle_sql, queries

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{three_day_events}/events.parquet')"
    )
    got = queries()[name](spark, three_day_events).toPandas()
    want = con.execute(oracle_sql()[name]).df()
    con.close()
    assert frame_mismatch(got, want) is None


def test_time_series_decisions_have_one_home():
    """Spark-free tokenize scan of queries/windows.py: outside comments
    and multi-line strings (docstrings, oracles), the (type, day) count
    rollup (w31, w36 and w38 included), the grid fill, the day bucket,
    the floor-division bias, the mod-3 generation filter and the
    sweep's closing boundary are each written exactly once."""
    import re

    import shippai_knowledge_etl_spark.queries.windows as mod
    from tests.source_scan import masked_code

    code = masked_code(mod.__file__)
    patterns = {
        "daily rollup": r'groupBy\("event_type",\s*(_day\(\)|"day")\)',
        "grid fill": r"crossJoin\(days\)",
        "day bucket": r"unix_timestamp\(ts\)[^\n]*div 86400",
        "floor-division bias": r"1 << 41",
        "mod-3 generation": r"event_id\W*% 3",
        "closing boundary": r'F\.lit\(-1\)\.alias\("d"\)',
    }
    counts = {k: len(re.findall(p, code)) for k, p in patterns.items()}
    assert counts == dict.fromkeys(patterns, 1), counts


def test_hw_split_fold_identity_every_point():
    """The Holt-Winters split fold equals the one-shot fold at EVERY
    split point, including mid < 7 bridges where generation 1 carries
    raw counts (the corpus midpoint never lands there, so the gate
    alone cannot witness those branches)."""
    from shippai_knowledge_etl_spark.queries.windows import (
        _hw_resume,
        _hw_state_after,
    )

    c = [((i * 37 + 11) % 23) + (7 if i % 7 == 3 else 0) for i in range(30)]
    want = _hw_state_after(c)
    for mid in range(0, len(c) + 1):
        n1, lvl, b, s = _hw_state_after(c[:mid])
        if n1 < 7:
            got = _hw_state_after(c[:mid] + c[mid:])
        else:
            got = _hw_resume(n1, lvl, b, s, c[mid:])
        assert got == want, f"split at {mid} diverges"


def test_fdr_bh_step_up_rejects_planted_effect(spark):
    """BH's defining behavior on a planted battery: a strong effect in
    one metric drags every higher-ranked... no — every rank ≤ k* into
    the rejection set, including metrics whose own stat sits between
    T_k* and their per-rank threshold (the step-up property a naive
    per-metric comparison misses). Planted: 'alpha' events convert
    hugely more for odd users; 'beta' moderately; the rest are null."""
    import datetime
    import tempfile

    from shippai_knowledge_etl_spark.queries.windows import behavior_fdr_bh

    rows = []
    eid = 0
    t0 = datetime.datetime(2026, 1, 1)

    def add(user, etype, conv_next):
        nonlocal eid
        rows.append((user, etype, t0 + datetime.timedelta(seconds=eid), eid))
        eid += 1
        rows.append(
            (
                user,
                "purchase" if conv_next else "view",
                t0 + datetime.timedelta(seconds=eid),
                eid,
            )
        )
        eid += 1

    for u in range(200):
        treat = u % 2 == 1
        # alpha: 80% vs 10% conversion — a huge effect
        add(u, "alpha", conv_next=(u % 10 < (8 if treat else 1)))
        # beta: 45% vs 25% — moderate
        add(u, "beta", conv_next=(u % 20 < (9 if treat else 5)))
        # gamma: identical arms — null
        add(u, "gamma", conv_next=(u % 5 == 0))

    with tempfile.TemporaryDirectory() as td:
        spark.createDataFrame(
            rows, "user_id long, event_type string, ts timestamp, event_id long"
        ).write.parquet(f"{td}/events.parquet")
        out = {r["event_type"]: r for r in behavior_fdr_bh(spark, td).collect()}
    assert out["alpha"]["rejected"] and out["alpha"]["rnk"] == 1
    assert out["alpha"]["k_star"] >= 1
    # the null metric must never be rejected below the frontier
    if not out["gamma"]["rejected"]:
        assert out["gamma"]["rnk"] > out["gamma"]["k_star"]
    # step-up consistency: rejected == (rnk <= k_star) for every row
    for r in out.values():
        assert r["rejected"] == (r["rnk"] <= r["k_star"])


def test_attribution_position_hand_built(spark):
    """Hand-built journeys exercise every credit branch: 1-touch
    (10000, counts as first AND last), 2-touch (5000/5000), 5-touch
    (middle 2000//3=666 each, remainder 2000-3*666=2 pinned to the
    FIRST touch: 4002/666/666/666/4000), a direct conversion, a
    session with NO purchase (no credit), and a gap >12h splitting
    two sessions. Every conversion session sums to exactly 10000."""
    import datetime
    import os
    import tempfile

    from shippai_knowledge_etl_spark.catalog import load_catalog

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ev(eid, uid, mins, etype):
        return (eid, t0 + datetime.timedelta(minutes=mins), uid, etype,
                0.0, "{}")

    rows = [
        # user 1: [view, purchase] -> 1-touch journey (view 10000)
        ev(1, 1, 0, "view"), ev(2, 1, 5, "purchase"),
        # user 2: [click, signup, purchase] -> 2-touch 5000/5000
        ev(3, 2, 0, "click"), ev(4, 2, 5, "signup"),
        ev(5, 2, 9, "purchase"),
        # user 3: 5 touches then purchase -> 4002/666/666/666/4000
        ev(6, 3, 0, "view"), ev(7, 3, 1, "click"), ev(8, 3, 2, "error"),
        ev(9, 3, 3, "click"), ev(10, 3, 4, "signup"),
        ev(11, 3, 8, "purchase"),
        # user 4: direct conversion (purchase opens the session)
        ev(12, 4, 0, "purchase"),
        # user 5: touches but NO purchase -> no credit at all
        ev(13, 5, 0, "view"), ev(14, 5, 2, "click"),
        # user 6: gap > 12h splits sessions: first has no purchase,
        # second is a 1-touch journey
        ev(15, 6, 0, "click"),
        ev(16, 6, 13 * 60, "view"), ev(17, 6, 13 * 60 + 5, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "events.parquet"))
        fn = load_catalog()["behavior_attribution_position"].fn
        got = {r["channel"]: r for r in fn(spark, td).collect()}
    # credit: view 10000(u1) + 4002(u3 first) + 10000(u6) = 24002
    assert got["view"]["credit_bp"] == 24002
    assert got["click"]["credit_bp"] == 5000 + 666 + 666
    assert got["signup"]["credit_bp"] == 5000 + 4000  # u2 last + u3 last
    assert got["error"]["credit_bp"] == 666
    assert got["direct"]["credit_bp"] == 10000
    # single-touch journeys count as first AND last
    assert got["view"]["n_first"] == 3 and got["view"]["n_last"] == 2
    total = sum(r["credit_bp"] for r in got.values())
    assert total == 4 * 10000 + 10000  # 4 journeys + 1 direct


def test_changepoint_binseg_planted_step(spark):
    """A planted step function recovers its exact changepoint: type A
    runs 10 days at 2/day then 10 days at 20/day — t* must be day 9
    (the last low day), gain large; type B is constant 5/day — any
    split gives q == q0 for balanced... (constant series: q(t) == q0
    exactly for every t by algebra), so gain == 0 and the tie-break
    picks the EARLIEST candidate day."""
    import datetime
    import os
    import tempfile

    from shippai_knowledge_etl_spark.catalog import load_catalog

    t0 = datetime.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for day in range(20):
        n_a = 2 if day < 10 else 20
        for k in range(n_a):
            eid += 1
            rows.append((eid, t0 + datetime.timedelta(days=day, minutes=k),
                         1, "alpha", 0.0, "{}"))
        for k in range(5):
            eid += 1
            rows.append((eid, t0 + datetime.timedelta(days=day, minutes=k),
                         2, "beta", 0.0, "{}"))
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(os.path.join(td, "events.parquet"))
        fn = load_catalog()["w38_changepoint_binseg"].fn
        got = {r["event_type"]: r for r in fn(spark, td).collect()}
    a = got["alpha"]
    assert a["t_star"] == 9 and a["n_left"] == 10 and a["n_right"] == 10
    assert a["sum_left"] == 20 and a["sum_right"] == 200
    assert a["gain"] > 0
    b = got["beta"]
    assert b["gain"] == 0 and b["t_star"] == 0  # tie → earliest day
