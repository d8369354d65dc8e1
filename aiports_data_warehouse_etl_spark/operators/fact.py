"""fact_flights assembly (SURVEY.md §2.3 J1-J3, §2.2 P9-P15).

Three FK-resolution joins of the fact against 2-column dim projections,
then the HHMM time codecs, null fills, drops and renames
(ref `dags/extract_and_tranform.py:292-331`).

Spark-first: every dim side is explicitly ``F.broadcast`` — the dims
are ≤ tens of MB at any fact scale, so all three joins are
shuffle-free broadcast hash joins; the whole fact build is ONE stage
over the scan. Column pruning of the dim (`:294` does it by hand) is
the ``select`` on the broadcast side; Catalyst would also infer it.

Two semantic modes (SURVEY.md §2.11):
- ``mode="reference"`` — literal bug-compatibility: the destination and
  date joins both (incorrectly) key on ORIGIN (`:298,:302`), and the
  carrier-id rename is a no-op (`:306`).
- ``mode="strict"`` (default) — intended semantics: DEST and FL_DATE
  keys, carrier renamed to air_carrier_id_fk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aiports_data_warehouse_etl_spark.functions.keys import with_row_id
from aiports_data_warehouse_etl_spark.functions.timecodec import (
    hhmm_add_minutes,
    hhmm_to_minute_of_day,
)
from aiports_data_warehouse_etl_spark.operators.dims import flight_canonical_order

DROP_COLS = [
    "FL_DATE",
    "OP_CARRIER_AIRLINE_ID",
    "TAIL_NUM",
    "OP_CARRIER_FL_NUM",
    "ORIGIN_AIRPORT_ID",
    "ORIGIN_AIRPORT_SEQ_ID",
    "ORIGIN_CITY_MARKET_ID",
    "ORIGIN",
    "DEST_AIRPORT_ID",
    "DEST_AIRPORT_SEQ_ID",
    "DEST_CITY_MARKET_ID",
    "DEST",
    "DEP_DELAY",
    "ARR_DELAY",
    "CANCELLED",
    "CANCELLATION_CODE",
    "CRS_ELAPSED_TIME",
    "ACTUAL_ELAPSED_TIME",
    "CARRIER_DELAY",
    "WEATHER_DELAY",
    "NAS_DELAY",
    "SECURITY_DELAY",
    "LATE_AIRCRAFT_DELAY",
    "Unnamed: 28",
]


def _fk_lookup(
    fact: DataFrame,
    dim: DataFrame,
    dim_key: str,
    dim_id: str,
    fact_key: str,
    fk_name: str,
) -> DataFrame:
    """Left broadcast equi-join resolving one FK, dropping the dim key."""
    pruned = F.broadcast(dim.select(dim_key, dim_id))
    joined = fact.join(pruned, fact[fact_key] == pruned[dim_key], "left")
    return joined.drop(dim_key).withColumnRenamed(dim_id, fk_name)


def build_fact_flights(
    flights: DataFrame,
    dim_airports: DataFrame,
    dim_date: DataFrame,
    mode: str = "strict",
) -> DataFrame:
    """Assemble fact_flights (ref `:292-331`)."""
    literal = mode == "reference"
    dest_key = "ORIGIN" if literal else "DEST"
    date_key = "ORIGIN" if literal else "FL_DATE"

    df = _fk_lookup(
        flights, dim_airports, "airport_code", "airport_id_pk",
        "ORIGIN", "arrival_airport_id_fk",
    )
    df = _fk_lookup(
        df, dim_airports, "airport_code", "airport_id_pk",
        dest_key, "destination_airport_id_fk",
    )
    df = _fk_lookup(
        df, dim_date, "full_date", "date_id_pk",
        date_key, "date_id_fk",
    )

    # delay_id_fk = row position in canonical input order, in both
    # modes (ref `:314`). dim_delays keys each distinct delay tuple by
    # the position of its first row, so a flight that repeats an earlier
    # tuple points at no dim_delays row (SURVEY §2.11.9); nothing joins
    # the deduped dim back.
    df = with_row_id(df, flight_canonical_order(flights), "delay_id_fk")

    arr_time = F.coalesce(F.col("ARR_TIME"), F.lit(0)).cast("long")
    arr_delay = F.coalesce(F.col("ARR_DELAY"), F.lit(0)).cast("long")
    crs_arr_time = hhmm_add_minutes(arr_time, arr_delay)

    dep_time_raw = F.coalesce(F.col("CRS_DEP_TIME"), F.lit(0)).cast("long")
    dep_final_raw = F.coalesce(F.col("DEP_TIME"), F.lit(0)).cast("long")

    df = (
        df.withColumn("departure_time_fk", hhmm_to_minute_of_day(dep_time_raw))
        .withColumn("departure_final_time_fk", hhmm_to_minute_of_day(dep_final_raw))
        .withColumn("arrival_time_fk", hhmm_to_minute_of_day(arr_time))
        .withColumn("arrivel_final_time_fk", hhmm_to_minute_of_day(crs_arr_time))
    )

    if literal:
        # ref `:306`: rename result not assigned — raw column name survives
        carrier_fk = F.col("OP_CARRIER_AIRLINE_ID").alias("OP_CARRIER_AIRLINE_ID")
        carrier_name_out = "OP_CARRIER_AIRLINE_ID"
    else:
        carrier_fk = F.col("OP_CARRIER_AIRLINE_ID").cast("long")
        carrier_name_out = "air_carrier_id_fk"

    return df.select(
        F.col("arrival_airport_id_fk").cast("long"),
        F.col("destination_airport_id_fk").cast("long"),
        F.col("date_id_fk").cast("long"),
        carrier_fk.alias(carrier_name_out),
        F.col("delay_id_fk").cast("long"),
        "departure_time_fk",
        "departure_final_time_fk",
        "arrival_time_fk",
        "arrivel_final_time_fk",
        F.col("DEP_DELAY_NEW").alias("departure_delay"),
        F.col("ARR_DELAY_NEW").alias("arrival_delay"),
    )
