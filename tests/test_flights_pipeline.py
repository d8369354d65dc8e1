"""Synthetic-flights tests for the fact-side pipeline (the reference's
nationwide CSV is a missing blob, so date/cancelations/delays/fact are
validated on a crafted fixture that exercises every edge the goldens
would: nulls, negative delays, HHMM overflow, duplicate delay rows,
cancellation codes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aiports_data_warehouse_etl_spark import schemas
from aiports_data_warehouse_etl_spark.operators.dims import (
    build_dim_cancelations,
    build_dim_date,
    build_dim_delays,
)
from aiports_data_warehouse_etl_spark.operators.fact import build_fact_flights
from aiports_data_warehouse_etl_spark.operators.dims import build_dim_airports
from aiports_data_warehouse_etl_spark.sources.io import read_csv


def _flight(i, fl_date, origin, dest, arr_time=1435.0, arr_delay=-5.0,
            cancelled=0.0, code=None, crs_elapsed=100.0, actual=None,
            carrier_delay=None):
    return (
        fl_date, 19031 + (i % 2), f"N{i}", 100 + i,
        1, 1, 1, origin, 2, 2, 2, dest,
        900, 905.0, 5.0, 5.0, arr_time, arr_delay, max(arr_delay or 0.0, 0.0),
        cancelled, code, crs_elapsed, actual,
        carrier_delay, None, None, None, None, "",
    )


@pytest.fixture(scope="module")
def flights(spark):
    rows = [
        _flight(0, "2018-08-01", "AAA", "BBB", arr_delay=75.0,    # HHMM overflow path
                carrier_delay=1.0),
        _flight(1, "2018-08-01", "BBB", "AAA", arr_delay=-5.0,    # negative delay
                carrier_delay=2.0),
        _flight(2, "2018-08-02", "AAA", "CCC", arr_time=None,     # null ARR_TIME
                carrier_delay=3.0),
        _flight(3, "2018-08-02", "CCC", "AAA", cancelled=1.0, code="B"),
        _flight(4, "2018-08-03", "BBB", "CCC", actual=130.0),
        _flight(5, "2018-08-03", "BBB", "CCC", actual=130.0),     # duplicate delay row
    ]
    return spark.createDataFrame(rows, schemas.FLIGHTS_RAW)


@pytest.fixture(scope="module")
def airports(spark):
    rows = [("AAA", "A City, AK: A Field"), ("BBB", "B City, NY: B Intl"),
            ("CCC", "C City, CA: C Muni")]
    return build_dim_airports(spark.createDataFrame(rows, schemas.AIRPORTS_RAW))


def test_dim_date_semantics(flights):
    rows = {r.full_date: r for r in build_dim_date(flights, cap=10).collect()}
    assert set(rows) == {"2018-08-01", "2018-08-02", "2018-08-03"}
    d = rows["2018-08-01"]  # a Wednesday
    assert (d.day, d.month, d.year) == (1, 8, 2018)
    assert d.is_work_day and not d.is_weekday
    assert d.quarter == 3  # reference formula int(8/4)+1
    strict = {r.full_date: r for r in build_dim_date(flights, strict=True).collect()}
    assert strict["2018-08-01"].quarter == 3  # calendar Q3 agrees for August
    # ids follow date order
    assert [rows[k].date_id_pk for k in sorted(rows)] == [0, 1, 2]


def test_dim_date_cap(flights):
    assert build_dim_date(flights, cap=2).count() == 2


def test_dim_cancelations_first_seen_ids(flights):
    rows = sorted(
        build_dim_cancelations(flights).collect(), key=lambda r: r.cancelation_id_pk
    )
    # first row (canonical order) is not cancelled → id 0 = (0.0, None)
    assert rows[0].is_canceled == 0.0 and rows[0].cancellation_code is None
    assert {(r.is_canceled, r.cancellation_code) for r in rows} == {
        (0.0, None), (1.0, "B"),
    }


def test_dim_delays_dedup_and_coalesce(flights):
    rows = build_dim_delays(flights).collect()
    # 6 input rows: 3 distinct carrier_delays + (0.0, other=0) + the
    # duplicated (0.0, other=30) pair collapsing → 5 distinct
    assert len(rows) == 5
    # rows with ACTUAL present: other_type_delay = 130 - 100
    assert any(r.other_type_delay == 30.0 for r in rows)
    # rows with ACTUAL null coalesce to CRS → other_type_delay 0
    assert any(r.other_type_delay == 0.0 and r.carrier_delay == 0.0 for r in rows)
    # null delay columns filled with 0, real values preserved
    assert {r.carrier_delay for r in rows} == {0.0, 1.0, 2.0, 3.0}


def test_fact_strict_vs_reference_mode(flights, airports):
    dates = build_dim_date(flights, cap=10)
    strict = build_fact_flights(flights, airports, dates, mode="strict")
    literal = build_fact_flights(flights, airports, dates, mode="reference")

    s = {r.delay_id_fk: r for r in strict.collect()}
    l = {r.delay_id_fk: r for r in literal.collect()}
    assert len(s) == 6 and len(l) == 6

    # strict: destination FK resolves via DEST; reference: via ORIGIN (bug-compat)
    some = next(iter(s.values()))
    assert "air_carrier_id_fk" in strict.columns
    assert "OP_CARRIER_AIRLINE_ID" in literal.columns  # no-op rename preserved

    # HHMM overflow: ARR_TIME 1435 + 75min delay → 1435 + 100 + 15 = 1550
    # then minute-of-day codec (literal %60 formula): 1550%60 + 15*60 = 50+900
    overflow = [r for r in s.values() if r.arrival_delay == 75.0][0]
    assert overflow.arrivel_final_time_fk == (1550 % 60) + (1550 // 100) * 60

    # negative delay: 1435 + (-5) → floor(-5/60)=-1 → -100, pmod(-5,60)=55 → 1390
    neg = [r for r in s.values() if r.departure_delay == 5.0 and r.arrival_delay == 0.0]
    # date FK resolves in strict mode, never in reference mode (ORIGIN≠date)
    assert all(r.date_id_fk is not None for r in s.values())
    assert all(r.date_id_fk is None for r in l.values())


def test_validation_catches_corruption(spark):
    from aiports_data_warehouse_etl_spark.operators import validation as V

    good = spark.createDataFrame(
        [(0, 1, 8, 2018, True, False, 3, "2018-08-01")], schemas.DIM_DATE
    )
    assert V.validate(good, V.dim_date_rules()).filter("NOT passed").count() == 0

    bad = spark.createDataFrame(
        [
            (0, 42, 13, 2018, True, False, 5, "2018-13-42"),
            (0, 1, 8, 2018, True, False, 3, "2018-08-01"),  # dup PK
        ],
        schemas.DIM_DATE,
    )
    failed = {
        r.rule_name
        for r in V.validate(bad, V.dim_date_rules()).filter("NOT passed").collect()
    }
    assert {"date_id_pk_unique", "day_in_range", "month_in_range", "quarter_in_range"} <= failed
    with pytest.raises(ValueError):
        V.assert_valid(bad, V.dim_date_rules())


def test_full_pipeline_incremental_csv(spark, tmp_path):
    """End-to-end: synthetic flights CSV → full star schema written with
    delta twins; a second run with MORE data appends only the delta.
    The airports and carriers lookups are the reference's raw files where
    they exist, else two-row inline CSVs holding the codes the flights
    use."""
    import csv as _csv
    import os

    from aiports_data_warehouse_etl_spark.plans import run_pipeline

    header = [f.name for f in schemas.FLIGHTS_RAW.fields]
    r1 = [_flight(0, "2018-08-01", "AAA", "BBB"), _flight(1, "2018-08-02", "BBB", "AAA")]
    r2 = r1 + [_flight(2, "2018-08-03", "AAA", "BBB", carrier_delay=9.0)]

    def write_csv(path, rows, head=header):
        with open(path, "w", newline="") as fh:
            w = _csv.writer(fh)
            w.writerow(head)
            w.writerows(rows)

    flights_csv = str(tmp_path / "flights.csv")
    out = str(tmp_path / "curated")
    write_csv(flights_csv, r1)

    airports_csv = "/root/reference/rawdata/Airports"
    carriers_csv = "/root/reference/rawdata/Air Carriers"
    if not (os.path.exists(airports_csv) and os.path.exists(carriers_csv)):
        airports_csv = str(tmp_path / "airports.csv")
        carriers_csv = str(tmp_path / "carriers.csv")
        lookup = ["Code", "Description"]
        write_csv(
            airports_csv, [("AAA", "A City, AK: A Field"), ("BBB", "B City, NY: B Intl")], lookup
        )
        write_csv(carriers_csv, [(19031, "Carrier One: C1"), (19032, "Carrier Two: C2")], lookup)

    res1 = run_pipeline(
        spark,
        airports_csv=airports_csv,
        carriers_csv=carriers_csv,
        flights_csv=flights_csv,
        out_root=out,
        mode="strict",
        write=True,
    )
    assert set(res1.tables) == {
        "dim_airports", "dim_air_carriers", "dim_time", "dim_date",
        "dim_cancelations", "dim_delays", "fact_flights",
    }
    assert spark.read.parquet(f"{out}/dim_date.parquet").count() == 2
    assert spark.read.parquet(f"{out}/fact_flights.parquet").count() == 2

    # second run with one extra flight: delta twin holds ONLY new rows
    write_csv(flights_csv, r2)
    run_pipeline(
        spark,
        airports_csv=airports_csv,
        carriers_csv=carriers_csv,
        flights_csv=flights_csv,
        out_root=out,
        mode="strict",
        write=True,
    )
    assert spark.read.parquet(f"{out}/dim_date.parquet").count() == 3
    assert spark.read.parquet(f"{out}/dim_date_new.parquet").count() == 1
    delta_dates = {r.full_date for r in spark.read.parquet(f"{out}/dim_date_new.parquet").collect()}
    assert delta_dates == {"2018-08-03"}
    # input-independent dims produce an empty delta on rerun
    assert spark.read.parquet(f"{out}/dim_time_new.parquet").count() == 0


def test_csv_corrupt_record_handling(spark, tmp_path):
    """PERMISSIVE ingest quarantines malformed rows instead of failing
    the pipeline (the reference's bare read_csv would crash); FAILFAST
    turns them into loud errors for strict deployments."""
    from pyspark.sql import types as T

    bad_csv = tmp_path / "bad.csv"
    bad_csv.write_text(
        "Code,Description\n"
        '"AAA","Good, AK: Fine Airport"\n'
        "oops-this-row-has-no-quote-and-extra,too,many,fields\n"
        '"BBB","Also Good, NY: Works"\n'
    )
    schema = T.StructType(
        [
            T.StructField("Code", T.StringType()),
            T.StructField("Description", T.StringType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = (
        spark.read.option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema)
        .csv(str(bad_csv))
    )
    df = df.cache()  # corrupt-record column requires materialization
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2 and bad.count() == 1
    assert "too,many,fields" in bad.collect()[0]._corrupt_record


def test_parquet_schema_evolution(spark, tmp_path):
    """mergeSchema reads across writer versions: old files lack the new
    column and surface NULLs — additive schema evolution."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], ["id", "v1"]).write.mode("append").parquet(path)
    spark.createDataFrame(
        [(2, "b", 9.5)], ["id", "v1", "v2_added"]
    ).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", True).parquet(path)
    rows = {r.id: (r.v1, r.v2_added) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_scd2_merge_branches(spark):
    """All four SCD-2 branches: closed history passthrough, no-op
    update, real change (expire + insert), brand-new key."""
    from aiports_data_warehouse_etl_spark.operators.merge import scd2_merge

    current = spark.createDataFrame(
        [
            # closed history row for key 1 (must pass through untouched)
            (1, "alice", 10.0, "2019-01-01", "2020-01-01", False),
            # current rows
            (1, "alice", 20.0, "2020-01-01", None, True),
            (2, "bob", 30.0, "2020-01-01", None, True),
            (3, "carol", 40.0, "2020-01-01", None, True),
        ],
        "key int, name string, bal double, valid_from string, valid_to string, is_current boolean",
    ).selectExpr(
        "key", "name", "bal",
        "CAST(valid_from AS DATE) AS valid_from",
        "CAST(valid_to AS DATE) AS valid_to",
        "is_current",
    )
    updates = spark.createDataFrame(
        [
            (1, "alice", 25.0),   # real change → expire + new version
            (2, "bob", 30.0),     # identical → no-op
            (9, "zoe", 99.0),     # new key → insert
        ],
        "key int, name string, bal double",
    )
    out = scd2_merge(current, updates, keys=["key"], as_of="2024-06-01")
    rows = {
        (r.key, str(r.valid_from), str(r.valid_to), r.is_current): r.bal
        for r in out.collect()
    }
    assert rows == {
        (1, "2019-01-01", "2020-01-01", False): 10.0,  # closed history kept
        (1, "2020-01-01", "2024-06-01", False): 20.0,  # expired old version
        (1, "2024-06-01", "None", True): 25.0,         # new version
        (2, "2020-01-01", "None", True): 30.0,         # no-op untouched
        (3, "2020-01-01", "None", True): 40.0,         # not updated
        (9, "2024-06-01", "None", True): 99.0,         # new key
    }


def test_jsonl_corrupt_record_handling(spark, tmp_path):
    """PERMISSIVE JSONL ingest: malformed lines land in
    _corrupt_record; good lines parse with the explicit schema (no
    inference pass)."""
    from pyspark.sql import types as T

    from aiports_data_warehouse_etl_spark.sources.io import read_jsonl

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "hello", "n_chars": 5}\n'
        '{"doc_id": 2, "text": "quote \\" inside", "n_chars": 14}\n'
        "this is not json at all\n"
        '{"doc_id": "not-a-number", "text": "bad type", "n_chars": 8}\n'
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("n_chars", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = read_jsonl(
        spark,
        str(p),
        schema=schema,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    ).cache()
    good = df.filter(F.col("_corrupt_record").isNull())
    bad = df.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2
    assert bad.count() == 2
    texts = {r.text for r in good.collect()}
    assert 'quote " inside' in texts
    df.unpersist()


def test_orc_roundtrip_preserves_types(spark, tmp_path):
    """ORC write→read preserves schema exactly (timestamps included)."""
    from aiports_data_warehouse_etl_spark.sources.io import read_orc, write_orc

    src = spark.createDataFrame(
        [(1, 2.5, "x", "2024-01-01 10:00:00")],
        "id long, v double, s string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    path = str(tmp_path / "t.orc")
    write_orc(src, path)
    back = read_orc(spark, path)
    assert dict(back.dtypes) == dict(src.dtypes)
    assert back.count() == 1


def test_validation_inline_observation(spark):
    """validate_inline: rule metrics ride the caller's action via
    df.observe — no separate validation job — and report the same
    violation counts as the offline pass."""
    from aiports_data_warehouse_etl_spark.operators import validation as V

    bad = spark.createDataFrame(
        [
            (0, 42, 13, 2018, True, False, 5, "2018-13-42"),
            (0, 1, 8, 2018, True, False, 3, "2018-08-01"),  # dup PK
        ],
        schemas.DIM_DATE,
    )
    observed, obs = V.validate_inline(bad, V.dim_date_rules())
    assert observed.count() == 2  # the "pipeline action"
    metrics = obs.get
    offline = {
        r.rule_name: r.violations
        for r in V.validate(bad, V.dim_date_rules()).collect()
    }
    assert metrics == offline  # same counts, zero extra passes
    assert metrics["day_in_range"] == 1
    assert metrics["date_id_pk_unique"] == 1
