

def test_quantile_bisect_matches_order_statistics(spark, tmp_path):
    """The domain-bisection selector must return the exact
    ceil(q*n)-th order statistic (quantile_disc semantics) on
    adversarial small groups: single row, all-duplicates, even/odd n,
    values whose cumulative counts jump past k."""
    import pandas as pd

    groups = {
        "A": [5],                          # single row
        "N": [7, 7, 7, 7],                 # all duplicates, even n
        "R": [1, 1, 1, 9, 9, 100, 100],    # duplicate runs, odd n
    }
    rows = [
        (g, float(v) / 100.0)  # query floors v*100+0.5 back to cents
        for g, vs in groups.items()
        for v in vs
    ]
    import os

    d = str(tmp_path / "qb")
    os.makedirs(d, exist_ok=True)
    pd.DataFrame(
        {
            "l_returnflag": [r[0] for r in rows],
            "l_extendedprice": [r[1] for r in rows],
        }
    ).to_parquet(f"{d}/lineitem.parquet", index=False)

    from glue_etl_pyspark_spark.registry import load_all

    out = {
        r.l_returnflag: (r.n_rows, r.median_cents, r.p90_cents)
        for r in load_all()["quantile_bisect_exact"].fn(spark, d).collect()
    }
    for g, vs in groups.items():
        s, n = sorted(vs), len(vs)
        k50, k90 = (n + 1) // 2, (9 * n + 9) // 10
        assert out[g] == (n, s[k50 - 1], s[k90 - 1]), g


def test_r17_events_width_determinism(spark, sf_dir):
    """The r13 bit-stability gate extended to the r17 events-family
    reworks: events_rolling_hourly (time-block sharded range window
    with forward-replicated context rows) and events_winsorize_bounds
    (driver-literal per-type counts + WindowGroupLimit-pruned rank
    picks) must return identical rows at shuffle widths 2/32/200 —
    the repeated-run stress the repo requires of every driver-literal
    re-ship and partitioning rework."""
    from glue_etl_pyspark_spark.registry import load_all

    reg = load_all()
    names = ("events_rolling_hourly", "events_winsorize_bounds")
    runs: dict[str, list] = {n: [] for n in names}
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for parts in ("2", "32", "200"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for n in names:
                runs[n].append(
                    sorted(tuple(r) for r in reg[n].fn(spark, sf_dir).collect())
                )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    for n in names:
        assert runs[n][0] and all(r == runs[n][0] for r in runs[n][1:]), (
            f"{n} varies with shuffle width"
        )


def test_rolling_hourly_pre_1970_matches_oracle(spark, tmp_path):
    """events_rolling_hourly on negative epochs: rows within an hour
    of a negative day-block boundary, and fractional pre-1970 seconds
    (-1.25 s floors to -2, not -1) next to a row exactly 3600 s
    later. Truncating `div`/`%` blocks and to_unix_timestamp seconds
    (both round toward zero) miscounted several of these rows."""
    import duckdb
    import numpy as np
    import pandas as pd

    from glue_etl_pyspark_spark.queries.windows import ROLLING_HOURLY_ORACLE
    from glue_etl_pyspark_spark.registry import load_all

    day = 86400
    secs = [
        -1.25, 3599.0, -day - 3600.5, -day - 0.25,
        -2 * day - 10, -day - 3000, -day - 1, -day, -day + 5, -day + 1800,
        -3599.5, 0, 0.5, 3600, -2 * day + 200, -day - 3599,
    ]
    n = len(secs)
    d = tmp_path / "ev"
    d.mkdir()
    pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pd.to_datetime([round(s * 1e6) for s in secs], unit="us"),
        "user_id": np.zeros(n, dtype=np.int64),
        "event_type": ["click"] * (n - 2) + ["view"] * 2,
        "value": np.arange(n, dtype=np.float64) + 0.25,
        "props": [""] * n,
    }).to_parquet(d / "events.parquet", coerce_timestamps="us")

    got = sorted(tuple(r) for r in load_all()["events_rolling_hourly"].fn(spark, str(d)).collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{d}/events.parquet')")
    want = sorted(tuple(r) for r in con.execute(ROLLING_HOURLY_ORACLE).fetchall())
    con.close()
    assert len(got) == n
    assert got == want, [(g, w) for g, w in zip(got, want) if g != w]
