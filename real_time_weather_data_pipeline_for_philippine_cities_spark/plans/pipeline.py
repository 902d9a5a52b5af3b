"""The weather pipeline re-assembled Spark-first (SURVEY.md §3, §7.4).

Mirrors the reference's two subflows as pure DataFrame transforms plus two
injectable enrichment edges:

  refresh_locations  = §3.2: cities ⋈ provinces (J1, broadcast) → snapshot
                       diff (J2, dual anti-join) → geocode changed rows
                       (E1, mapInPandas) → dense ids (§2.12) → dim table.
  ingest_weather     = §3.3: snapshot → weather fetch (E3, mapInPandas) →
                       typed flatten (F9-F10) → FK join (J3, broadcast) →
                       append observations.

Two deliberate improvements over the reference, each flagged:
  * geocode only changed/new rows and reuse cached coordinates for
    unchanged ones (the reference re-geocodes everything on any change —
    wdf.py:405 vs the diff at wdf.py:387).
  * dense surrogate keys are pinned to an explicit sort (name, province)
    instead of inherited row order (wdf.py:240).

One lineage cut: ``run_pipeline`` materializes the geocoded snapshot once.
Without it each of the three sinks re-runs the geocode plan. With it each
changed row is fetched once, the snapshot, dim and facts carry the same
coordinates, and the snapshot sink can overwrite the file the run read,
as the reference rewrites all_locations.xlsx in place (wdf.py:426).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from ..functions.json_flatten import flatten_weather, parse_weather_json
from ..operators.enrich import Fetcher, enrich_map_in_pandas
from ..operators.relational import dense_ids, symmetric_difference
from ..session import materialize

#: The 10 snapshot compare columns (wdf.py:377-380) — the de-facto schema
#: contract of the xlsx snapshot.
COMPARE_COLUMNS = (
    "code_city",
    "name",
    "oldName",
    "isCapital",
    "provinceCode",
    "districtCode",
    "regionCode",
    "islandGroupCode",
    "psgc10DigitCode",
    "province_name",
)


def merge_cities_provinces(cities: DataFrame, provinces: DataFrame) -> DataFrame:
    """J1: left join city rows to province names (wdf.py:350-362).

    provinces is dimension-tiny (~82 rows) → broadcast; the suffix dance of
    pandas merge becomes explicit select/rename; province_name is cast to
    string exactly once (wdf.py:362).
    """
    prov = provinces.withColumnRenamed("name", "province_name").select(
        F.col("code"), F.col("province_name").cast("string")
    )
    return (
        cities.withColumnRenamed("code", "code_city")
        .join(F.broadcast(prov), F.col("provinceCode") == prov.code, "left")
        .drop(prov.code)  # the dropped 'code_province' (wdf.py:359)
    )


def detect_changes(new: DataFrame, old_snapshot: DataFrame | None) -> DataFrame:
    """J2: value-level symmetric difference over COMPARE_COLUMNS
    (wdf.py:376-390). No snapshot yet → everything is a change
    (wdf.py:392-396)."""
    if old_snapshot is None:
        return new.select(*COMPARE_COLUMNS).withColumn("diff_side", F.lit("left_only"))
    return symmetric_difference(
        new.select(*COMPARE_COLUMNS),
        old_snapshot.select(*COMPARE_COLUMNS),
        COMPARE_COLUMNS,
    )


def geocode_locations(
    merged: DataFrame,
    changes: DataFrame,
    old_snapshot: DataFrame | None,
    geocoder: Fetcher,
) -> DataFrame:
    """E1: attach latitude/longitude, fetching only what the diff requires.

    The diff's 'left_only' rows ARE the rows to fetch: they carry exactly
    COMPARE_COLUMNS, which is every column ``merge_cities_provinces``
    emits, and with no snapshot every row is 'left_only'. Every other
    current row matches an old snapshot row on all compare columns and
    takes its cached coordinates — at scale a full-corpus fetch becomes
    O(changes).
    """
    to_fetch = changes.filter(F.col("diff_side") == "left_only").drop("diff_side")
    geo_schema = StructType(
        list(to_fetch.schema.fields)
        + [StructField("latitude", DoubleType()), StructField("longitude", DoubleType())]
    )
    fetched = enrich_map_in_pandas(to_fetch, geocoder, geo_schema, single_partition=True)
    if old_snapshot is None:
        return fetched
    # Null-safe equality: oldName is null for ~98% of rows (SURVEY.md
    # §1.2), and a plain `=` join would drop every null-keyed row.
    m, o = merged.alias("m"), old_snapshot.alias("o")
    cached = m.join(
        o, [F.col(f"m.{c}").eqNullSafe(F.col(f"o.{c}")) for c in COMPARE_COLUMNS], "inner"
    ).select(*[F.col(f"m.{c}") for c in COMPARE_COLUMNS], "o.latitude", "o.longitude")
    return fetched.unionByName(cached)


def build_locations_dim(geocoded: DataFrame) -> DataFrame:
    """K2 + §2.12: the Locations dimension with dense reseeded keys
    (wdf.py:240-256, 62-69), order pinned to (name, province_name)."""
    return dense_ids(
        geocoded.select(
            F.col("name").alias("location_name"),
            "province_name",
            "latitude",
            "longitude",
        ),
        [F.col("location_name").asc(), F.col("province_name").asc_nulls_last()],
        id_col="location_id",
    ).withColumn("inserted_at", F.current_timestamp())


def ingest_weather(
    snapshot: DataFrame,
    locations_dim: DataFrame,
    weather_fetcher: Fetcher,
) -> DataFrame:
    """§3.3: fetch + flatten + FK-resolve observations.

    The reference's per-row SELECT location_id (wdf.py:285-293) is the
    broadcast inner join here — misses drop, reproducing its early return.
    lat/lon-null rows are skipped before fetching (wdf.py:450-453).
    """
    eligible = snapshot.filter(
        F.col("latitude").isNotNull() & F.col("longitude").isNotNull()
    ).select(F.col("name").alias("location_name"), "province_name", "latitude", "longitude")

    raw_schema = StructType(
        list(eligible.schema.fields) + [StructField("weather_json", StringType())]
    )
    raw = enrich_map_in_pandas(eligible, weather_fetcher, raw_schema)
    parsed = raw.withColumn("payload", parse_weather_json(F.col("weather_json"))).drop(
        "weather_json"
    )
    flat = flatten_weather(parsed).withColumn("data_datetime", F.current_timestamp())

    dim = locations_dim.select("location_id", "location_name", "province_name")
    return (
        flat.join(F.broadcast(dim), ["location_name", "province_name"], "inner")
        .withColumn("inserted_at", F.current_timestamp())
    )


@dataclass
class PipelineResult:
    locations_dim: DataFrame
    observations: DataFrame
    changes: DataFrame
    new_snapshot: DataFrame


def run_pipeline(
    spark: SparkSession,
    cities: DataFrame,
    provinces: DataFrame,
    old_snapshot: DataFrame | None,
    geocoder: Fetcher,
    weather_fetcher: Fetcher,
) -> PipelineResult:
    """main() (wdf.py:338-453) as one scheduled run. The geocoded snapshot
    is materialized here, so this call runs the diff and geocode job;
    callers write locations_dim (overwrite), observations (append) and
    new_snapshot, which may overwrite the path ``old_snapshot`` was read
    from. ``changes`` stays lazy over ``old_snapshot``."""
    merged = merge_cities_provinces(cities, provinces)
    changes = detect_changes(merged, old_snapshot)
    snapshot = geocode_locations(merged, changes, old_snapshot, geocoder).transform(materialize)
    dim = build_locations_dim(snapshot)
    obs = ingest_weather(snapshot, dim, weather_fetcher)
    return PipelineResult(dim, obs, changes, snapshot)
