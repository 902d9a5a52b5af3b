"""Fidelity tests on the REFERENCE'S OWN persisted state: the 146-row
location snapshot (`/root/reference/all_locations.xlsx`, read-only) goes
through our stdlib xlsx source and the same operators the pipeline uses.
This is the closest thing to running the reference's data end-to-end
without its HTTP/MSSQL environment.

That file is not committed. Tests that read it carry the
``reference_xlsx`` marker and are reported as skipped ("not run") when it
is absent; the xlsx reader/writer round trip is also pinned hermetically
on a snapshot-shaped frame the writer produces itself."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from real_time_weather_data_pipeline_for_philippine_cities_spark.functions.normalize import (
    normalize_city_name,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.relational import (
    dense_ids,
    symmetric_difference,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.plans.pipeline import (
    COMPARE_COLUMNS,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.sources.xlsx import (
    read_xlsx_snapshot,
)

XLSX = "/root/reference/all_locations.xlsx"


def reference_xlsx(test):
    """Mark a test that reads XLSX; skip it, reported as not run, when the
    file is absent."""
    absent = not os.path.exists(XLSX)
    return pytest.mark.reference_xlsx(
        pytest.mark.skipif(absent, reason=f"not run: {XLSX} absent")(test)
    )


@pytest.fixture(scope="module")
def snapshot(spark):
    return read_xlsx_snapshot(spark, XLSX).cache()


@reference_xlsx
def test_snapshot_shape_and_code_fidelity(snapshot):
    rows = snapshot.collect()
    assert len(rows) == 146  # all_locations.xlsx data rows (SURVEY.md)
    by_code = {r["code_city"]: r for r in rows}
    # Zero-padded PSGC codes survive the source (never inferred as ints).
    assert "012805000" in by_code
    assert by_code["012805000"]["psgc10DigitCode"] == "0102805000"
    assert by_code["012805000"]["name"] == "City of Batac"
    # oldName null for 143/146 rows (SURVEY.md §1.2, verified inventory).
    assert sum(1 for r in rows if r["oldName"] is None) == 143


@reference_xlsx
def test_change_detection_self_diff_empty_on_real_snapshot(spark, snapshot):
    # The reference's no-change fast path (wdf.py:399-401) on its own data.
    assert symmetric_difference(snapshot, snapshot, list(COMPARE_COLUMNS)).isEmpty()


@reference_xlsx
def test_change_detection_finds_injected_drift(spark, snapshot):
    drifted = snapshot.withColumn(
        "province_name",
        F.when(F.col("code_city") == "012805000", F.lit("RENAMED")).otherwise(
            F.col("province_name")
        ),
    )
    diff = symmetric_difference(drifted, snapshot, list(COMPARE_COLUMNS)).collect()
    sides = {r["diff_side"] for r in diff}
    assert len(diff) == 2 and sides == {"left_only", "right_only"}
    assert all(r["code_city"] == "012805000" for r in diff)


@reference_xlsx
def test_normalization_on_real_city_names(snapshot):
    out = {
        r["name"]: r["norm"]
        for r in snapshot.select(
            "name", normalize_city_name(F.col("name")).alias("norm")
        ).collect()
    }
    assert out["City of Batac"] == "Batac"
    # Idempotent on already-bare names.
    for name, norm in out.items():
        assert not norm.startswith(("City of ", "Municipality of "))


@reference_xlsx
def test_dense_ids_on_real_dim(snapshot):
    dim = dense_ids(
        snapshot.select("name", "province_name"),
        [F.col("name").asc(), F.col("province_name").asc_nulls_last()],
        id_col="location_id",
    )
    ids = sorted(r["location_id"] for r in dim.collect())
    assert ids == list(range(1, 147))  # dense reseeded 1..146 (wdf.py:236-237)


@reference_xlsx
def test_real_coordinates_all_geocoded(snapshot):
    # Every row in the persisted snapshot carries valid PH-bounds coords —
    # the P5 filter (wdf.py:450-453) would pass all 146.
    typed = snapshot.select(
        F.col("latitude").cast("double").alias("lat"),
        F.col("longitude").cast("double").alias("lon"),
    )
    ok = typed.filter(
        F.col("lat").isNotNull() & F.col("lon").isNotNull()
        & F.col("lat").between(4.0, 21.5) & F.col("lon").between(116.0, 127.0)
    )
    assert ok.count() == 146


@reference_xlsx
def test_full_pipeline_on_real_snapshot(spark, snapshot):
    """The complete §3 pipeline over the reference's actual 146 locations:
    snapshot → cities/provinces sources → geocode (coords replayed from
    the snapshot itself) → dim with dense keys → weather fetch → FK join →
    146 observations."""
    import json

    from real_time_weather_data_pipeline_for_philippine_cities_spark.plans.pipeline import (
        run_pipeline,
    )

    cities = snapshot.select(
        F.col("code_city").alias("code"), "name", "oldName", "isCapital",
        "provinceCode", "districtCode", "regionCode", "islandGroupCode",
        "psgc10DigitCode",
    )
    provinces = snapshot.select(
        F.col("provinceCode").alias("code"), F.col("province_name").alias("name")
    ).distinct()
    coords = {
        r["code_city"]: (float(r["latitude"]), float(r["longitude"]))
        for r in snapshot.collect()
    }

    def geocoder(row):
        lat, lon = coords[row["code_city"]]
        return {"latitude": lat, "longitude": lon}

    def weather(row):
        return {"weather_json": json.dumps({
            "weather": [{"main": "Clouds", "description": "broken clouds"}],
            "main": {"temp": 29.0, "feels_like": 33.1, "temp_min": 28.0,
                     "temp_max": 31.0, "pressure": 1008, "humidity": 70},
            "wind": {"speed": 4.1, "deg": 90},
            "clouds": {"all": 75},
            "sys": {"sunrise": 1700000000, "sunset": 1700042000},
        })}

    res = run_pipeline(spark, cities, provinces, None, geocoder, weather)

    dim = res.locations_dim.collect()
    assert len(dim) == 146
    assert sorted(r["location_id"] for r in dim) == list(range(1, 147))

    obs = res.observations.collect()
    assert len(obs) == 146  # every location FK-resolved, none dropped
    assert all(r["weather_main"] == "Clouds" for r in obs)
    assert all(r["rain_1h_mm"] == 0.0 for r in obs)  # absent rain → 0 default

    # Coordinates replayed through the pipeline match the snapshot's.
    batac = [r for r in dim if r["location_name"] == "City of Batac"][0]
    assert abs(batac["latitude"] - 18.0555035) < 1e-9


@reference_xlsx
def test_xlsx_write_back_round_trips_reference_snapshot(spark, snapshot, tmp_path):
    """K4 literal fidelity (wdf.py:426): the snapshot read from the
    reference's real xlsx, written back through the stdlib writer, must
    re-read value-identical — zero-padded PSGC codes, nulls, and special
    characters included."""
    from real_time_weather_data_pipeline_for_philippine_cities_spark.sources.xlsx import (
        write_xlsx_snapshot,
    )

    out = str(tmp_path / "snapshot_back.xlsx")
    write_xlsx_snapshot(snapshot, out)
    back = read_xlsx_snapshot(spark, out)
    assert back.columns == snapshot.columns
    orig_rows = sorted(map(tuple, snapshot.collect()))
    back_rows = sorted(map(tuple, back.collect()))
    assert back_rows == orig_rows


def test_xlsx_snapshot_shaped_round_trip(spark, tmp_path):
    """K4 on a hermetic snapshot-shaped frame (the 12 snapshot columns):
    zero-padded PSGC codes, null oldName, boolean isCapital and double
    coordinates survive write_xlsx_snapshot → read_xlsx_snapshot."""
    from real_time_weather_data_pipeline_for_philippine_cities_spark.sources.xlsx import (
        write_xlsx_snapshot,
    )

    schema = (
        "code_city string, name string, oldName string, isCapital boolean,"
        " provinceCode string, districtCode string, regionCode string,"
        " islandGroupCode string, psgc10DigitCode string, province_name string,"
        " latitude double, longitude double"
    )
    rows = [
        ("012805000", "City of Batac", None, False, "012800000", "0", "01",
         "luzon", "0102805000", "Ilocos Norte", 18.0555035, 120.5646122),
        ("031405000", "Quezon City", "Novaliches", True, "031400000", "0", "03",
         "luzon", "0303140500", "Bulacan", 14.6509, 121.0493),
        ("072217000", "Cebu", None, False, "072200000", "0", "07",
         "visayas", "0707221700", None, -0.5, 0.0),
    ]
    df = spark.createDataFrame(rows, schema)
    assert df.columns == [*COMPARE_COLUMNS, "latitude", "longitude"]
    out = str(tmp_path / "snapshot.xlsx")
    write_xlsx_snapshot(df, out)
    back = read_xlsx_snapshot(spark, out, schema=schema)
    assert back.columns == df.columns
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_xlsx_write_back_typed_round_trip(spark, tmp_path):
    """Mixed types survive write→read: floats stay numeric, booleans stay
    boolean, nulls stay null, XML-special strings are escaped."""
    from real_time_weather_data_pipeline_for_philippine_cities_spark.sources.xlsx import (
        read_xlsx_rows,
        write_xlsx_snapshot,
    )

    df = spark.createDataFrame(
        [("a<&>\"quo", 1.5, True, None), (None, -2.25, False, "ok")],
        "s string, x double, b boolean, o string",
    )
    out = str(tmp_path / "typed.xlsx")
    write_xlsx_snapshot(df, out)
    rows = read_xlsx_rows(out)
    assert rows[0] == ["s", "x", "b", "o"]
    data = sorted(rows[1:], key=lambda r: str(r[0]))
    assert data == [
        [None, -2.25, False, "ok"],
        ['a<&>"quo', 1.5, True, None],
    ]


def test_xlsx_write_back_rejects_unrepresentable_cells(spark, tmp_path):
    """The lossless round-trip contract is enforced: NaN/inf floats and
    unsupported cell types (datetime) raise instead of silently writing
    a cell read_xlsx_rows/Excel cannot parse back."""
    import pytest

    from real_time_weather_data_pipeline_for_philippine_cities_spark.sources.xlsx import (
        write_xlsx_snapshot,
    )

    nan_df = spark.createDataFrame([(float("nan"),)], "x double")
    with pytest.raises(ValueError, match="non-finite"):
        write_xlsx_snapshot(nan_df, str(tmp_path / "nan.xlsx"))
    inf_df = spark.createDataFrame([(float("inf"),)], "x double")
    with pytest.raises(ValueError, match="non-finite"):
        write_xlsx_snapshot(inf_df, str(tmp_path / "inf.xlsx"))

    import datetime

    dt_df = spark.createDataFrame(
        [(datetime.datetime(2024, 1, 1),)], "ts timestamp"
    )
    with pytest.raises(ValueError, match="unsupported type"):
        write_xlsx_snapshot(dt_df, str(tmp_path / "dt.xlsx"))


def test_xlsx_write_back_rejects_fact_sized_input(spark, tmp_path):
    """The collect() is capped: a table above max_rows raises instead of
    pulling a fact table into driver memory (VERDICT r03 #7). The bounded
    limit(max_rows+1) probe means the oversized table is never fully
    materialized."""
    import pytest

    from real_time_weather_data_pipeline_for_philippine_cities_spark.sources.xlsx import (
        write_xlsx_snapshot,
    )

    big = spark.range(0, 50).selectExpr("id AS x")
    with pytest.raises(ValueError, match="dimension writer"):
        write_xlsx_snapshot(big, str(tmp_path / "big.xlsx"), max_rows=10)
    # at exactly the cap it still writes
    write_xlsx_snapshot(big, str(tmp_path / "ok.xlsx"), max_rows=50)
