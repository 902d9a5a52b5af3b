"""Golden end-to-end pipeline test (SURVEY.md §5.2.3): canned PSGC +
geocode + weather payloads → run_pipeline → assert the dimension and fact
tables row-for-row. Hermetic — fetchers are injected dicts, no network."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from real_time_weather_data_pipeline_for_philippine_cities_spark.plans.pipeline import (
    COMPARE_COLUMNS,
    detect_changes,
    merge_cities_provinces,
    run_pipeline,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.sinks.tables import (
    append_observations,
    overwrite_locations_dim,
    write_snapshot,
)

CITY_SCHEMA = (
    "code string, name string, oldName string, isCapital boolean,"
    " provinceCode string, districtCode string, regionCode string,"
    " islandGroupCode string, psgc10DigitCode string"
)


def _cities(spark, rows):
    return spark.createDataFrame(rows, CITY_SCHEMA)


def _provinces(spark, rows):
    return spark.createDataFrame(rows, "code string, name string")


CITIES = [
    # leading-zero PSGC codes must survive (explicit schemas, never inferred)
    ("012805000", "City of Batac", None, False, "012800000", "0", "01", "luzon", "0102805000"),
    ("031405000", "Quezon City", None, True, "031400000", "0", "03", "luzon", "0303140500"),
    ("072217000", "Cebu", None, False, "072200000", "0", "07", "visayas", "0707221700"),
]
PROVINCES = [("012800000", "Ilocos Norte"), ("031400000", "Bulacan"), ("072200000", "Cebu")]

GEO = {
    "Batac": {"latitude": 18.05, "longitude": 120.56},
    "Quezon City": {"latitude": 14.65, "longitude": 121.05},
    "Cebu": {"latitude": 10.32, "longitude": 123.90},
    "Iligan": {"latitude": 8.23, "longitude": 124.24},
}
ILIGAN = ("102400000", "Iligan", None, False, "012800000", "0", "10", "mindanao", "1010240000")


def fake_geocoder(row):
    from real_time_weather_data_pipeline_for_philippine_cities_spark.functions.normalize import (
        CITY_PREFIXES,
    )
    name = row["name"]
    for p in CITY_PREFIXES:
        if name.startswith(p):
            name = name[len(p):].strip()
            break
    return GEO.get(name)


def fake_weather(row):
    payload = {
        "weather": [{"main": "Clouds", "description": "scattered clouds"}],
        "main": {
            "temp": 28.5, "feels_like": 31.0, "temp_min": 27.0, "temp_max": 30.0,
            "pressure": 1009, "humidity": 74,
        },
        "wind": {"speed": 3.6},                      # deg intentionally absent
        "clouds": {"all": 40},
        "rain": {"1h": 1.2} if row["location_name"] == "Cebu" else None,
        "sys": {"sunrise": 1700000000, "sunset": 1700042000},
    }
    if payload["rain"] is None:
        del payload["rain"]                           # optional key absent
    return {"weather_json": json.dumps(payload)}


@pytest.fixture()
def frames(spark):
    return _cities(spark, CITIES), _provinces(spark, PROVINCES)


def test_merge_preserves_codes_and_names(spark, frames):
    cities, provinces = frames
    merged = merge_cities_provinces(cities, provinces)
    rows = {r.code_city: r for r in merged.collect()}
    assert rows["012805000"].province_name == "Ilocos Norte"
    assert rows["012805000"].code_city == "012805000"  # leading zero intact
    assert set(rows) == {"012805000", "031405000", "072217000"}


def test_detect_changes_add_remove_modify(spark, frames):
    cities, provinces = frames
    merged = merge_cities_provinces(cities, provinces)
    # old snapshot: drop Cebu (→ add), alter Batac's isCapital (→ modify)
    old = merged.filter(F.col("code_city") != "072217000").withColumn(
        "isCapital",
        F.when(F.col("code_city") == "012805000", F.lit(True)).otherwise(F.col("isCapital")),
    )
    diff = detect_changes(merged, old)
    sides = {(r.code_city, r.diff_side) for r in diff.collect()}
    assert ("072217000", "left_only") in sides           # added
    assert ("012805000", "left_only") in sides           # modified (new value)
    assert ("012805000", "right_only") in sides          # modified (old value)
    assert not any(c == "031405000" for c, _ in sides)   # unchanged


def test_pipeline_end_to_end_golden(spark, frames):
    cities, provinces = frames
    res = run_pipeline(spark, cities, provinces, None, fake_geocoder, fake_weather)

    dim = {r.location_name: r for r in res.locations_dim.collect()}
    # dense keys pinned to (name, province) sort: Cebu < City of Batac < Quezon City
    assert [dim[k].location_id for k in ("Cebu", "City of Batac", "Quezon City")] == [1, 2, 3]
    assert dim["City of Batac"].latitude == 18.05   # geocoded via prefix-normalized name

    obs = {r.location_name: r for r in res.observations.collect()}
    assert set(obs) == {"Cebu", "City of Batac", "Quezon City"}
    o = obs["Cebu"]
    assert o.location_id == 1                        # FK resolved via broadcast join
    assert o.weather_main == "Clouds"
    assert o.rain_1h_mm == 1.2
    assert obs["Quezon City"].rain_1h_mm == 0.0      # absent rain → default 0
    assert o.wind_direction_deg is None              # absent deg → null
    assert o.pressure_hpa == 1009
    assert str(o.sunrise).startswith("2023-11-14")   # epoch under UTC


def test_pipeline_incremental_geocode_uses_cache(spark, frames):
    cities, provinces = frames
    first = run_pipeline(spark, cities, provinces, None, fake_geocoder, fake_weather)
    snapshot = first.new_snapshot.cache()
    snapshot.count()

    # Second run adds one city. The marker geocoder returns lat 99.0 for
    # EVERY row it is asked about — so any pre-existing city showing 99.0
    # would prove a redundant re-fetch of that row (call counts are pinned
    # by test_scheduled_runs_overwrite_one_snapshot_and_fetch_each_change_once).
    def marker_geocoder(row):
        return {"latitude": 99.0, "longitude": 99.0}

    cities2 = _cities(spark, CITIES + [ILIGAN])
    second = run_pipeline(spark, cities2, provinces, snapshot, marker_geocoder, fake_weather)
    snap = {r.name: r for r in second.new_snapshot.collect()}
    assert snap["Iligan"].latitude == 99.0           # new city fetched
    assert snap["City of Batac"].latitude == 18.05   # cached coordinate reused
    assert snap["Quezon City"].latitude == 14.65
    assert snap["Cebu"].latitude == 10.32


def test_pipeline_no_changes_skips_geocode(spark, frames):
    cities, provinces = frames
    first = run_pipeline(spark, cities, provinces, None, fake_geocoder, fake_weather)
    snapshot = first.new_snapshot.cache()
    snapshot.count()

    def exploding_geocoder(row):
        raise AssertionError("geocoder must not be called when nothing changed")

    second = run_pipeline(spark, cities, provinces, snapshot, exploding_geocoder, fake_weather)
    assert second.locations_dim.count() == 3


def test_scheduled_runs_overwrite_one_snapshot_and_fetch_each_change_once(spark, tmp_path):
    """Three scheduled runs through the real sinks on ONE snapshot path,
    as the reference rewrites all_locations.xlsx in place (wdf.py:426):
    the first run, one added city, then no change. The geocoder counts its
    calls with an accumulator (fetchers run in Python workers, so a plain
    counter would not travel back)."""
    calls = spark.sparkContext.accumulator(0)

    def counting_geocoder(row):
        calls.add(1)
        return fake_geocoder(row)

    snap_path, dim_path, obs_path = (str(tmp_path / d) for d in ("snap", "dim", "obs"))
    provinces = _provinces(spark, PROVINCES)
    got = []
    for r, rows in enumerate([CITIES, CITIES + [ILIGAN], CITIES + [ILIGAN]]):
        before = calls.value
        old = spark.read.parquet(snap_path) if r else None
        res = run_pipeline(
            spark, _cities(spark, rows), provinces, old, counting_geocoder, fake_weather
        )
        write_snapshot(res.new_snapshot, snap_path)
        overwrite_locations_dim(res.locations_dim, dim_path)
        append_observations(res.observations, obs_path)
        got.append((calls.value - before, spark.read.parquet(snap_path).count()))

    assert got == [(3, 3), (1, 4), (0, 4)]
    dim = spark.read.parquet(dim_path)
    assert sorted(r.location_id for r in dim.collect()) == [1, 2, 3, 4]
    snap = {r.name: r.latitude for r in spark.read.parquet(snap_path).collect()}
    assert snap == {"City of Batac": 18.05, "Quezon City": 14.65, "Cebu": 10.32, "Iligan": 8.23}
    assert spark.read.parquet(obs_path).count() == 3 + 4 + 4


def test_enrichment_rate_limit_paces_requests(spark):
    """The token-bucket must enforce >= 1/rate spacing between fetches
    (wdf.py:419's global 1 rps contract, scaled down for test speed)."""
    import time

    from pyspark.sql.types import DoubleType, StructField, StructType

    from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.enrich import (
        enrich_map_in_pandas,
    )

    df = spark.createDataFrame([(i,) for i in range(5)], "id long")
    schema = StructType(list(df.schema.fields) + [StructField("out", DoubleType())])

    def fetch(row):
        return {"out": float(row["id"])}

    t0 = time.monotonic()
    rows = enrich_map_in_pandas(
        df, fetch, schema, rate_per_sec=20.0, single_partition=True
    ).collect()
    elapsed = time.monotonic() - t0
    assert len(rows) == 5
    # 5 fetches at 20 rps => at least 4 gaps of 50 ms (generous lower
    # bound: scheduling noise only ever makes it slower).
    assert elapsed >= 0.19, f"rate limit not enforced: {elapsed:.3f}s"
    assert {r.out for r in rows} == {0.0, 1.0, 2.0, 3.0, 4.0}


def test_enrichment_parallel_partitions_complete(spark):
    """Throughput mode: enrichment over multiple partitions must produce
    one enriched row per input row with no loss or duplication (the mode
    used when the provider allows a per-partition rate budget)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    from real_time_weather_data_pipeline_for_philippine_cities_spark.operators.enrich import (
        enrich_map_in_pandas,
    )

    df = spark.createDataFrame([(i,) for i in range(200)], "id long").repartition(8)
    schema = StructType(list(df.schema.fields) + [StructField("out", DoubleType())])
    out = enrich_map_in_pandas(df, lambda row: {"out": row["id"] * 2.0}, schema)
    rows = out.collect()
    assert len(rows) == 200
    assert sorted((r.id, r.out) for r in rows) == [(i, i * 2.0) for i in range(200)]
