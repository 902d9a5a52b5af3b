"""Seeded inputs for the benchmark, and the pure-Python answers they imply.

Everything the program under test receives comes from here as plain rows:
PSGC-shaped cities and provinces with per-run drift, md5-derived fetcher
stubs, and landed event/document chunks. The same seed always gives the
same rows. The expected outputs are recomputed here without Spark, so the
checks in the workload modules compare the program against an independent
model.

The fetchers only hash: no network, no sleep. Provider latency and rate
limits are deliberately not modelled; the stubs cost CPU only.
"""

from __future__ import annotations

import hashlib
import json
import random
import time
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

#: Schema of the cities frame ``run_pipeline`` receives (PSGC API fields).
CITY_SCHEMA = (
    "code string, name string, oldName string, isCapital boolean,"
    " provinceCode string, districtCode string, regionCode string,"
    " islandGroupCode string, psgc10DigitCode string"
)
PROVINCE_SCHEMA = "code string, name string"

_SYLLABLES = (
    "ba", "ca", "da", "ga", "la", "ma", "na", "pa", "sa", "ta", "bu", "lu",
    "mi", "ni", "si", "ti", "yo", "an", "on", "ay", "ag", "og", "ilo", "nue",
)
_ISLAND_GROUPS = ("luzon", "visayas", "mindanao")
_N_PROVINCES = 82


def _md5(text: str) -> bytes:
    return hashlib.md5(text.encode()).digest()


def fingerprint(values) -> int:
    """32-bit md5 of a '|'-joined row, NULL as ``\\N`` — the same string
    the Spark-side check builds with ``concat_ws`` over casts."""
    text = "|".join("\\N" if v is None else _fmt(v) for v in values)
    return int(hashlib.md5(text.encode()).hexdigest()[:8], 16)


def md5_hex(text: str) -> str:
    return hashlib.md5(text.encode()).hexdigest()


def _fmt(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


# --------------------------------------------------------------------------
# Locations: cities, provinces, drift
# --------------------------------------------------------------------------


@dataclass
class Locations:
    """One scheduled run's input: PSGC cities keyed by code, plus the
    fixed province table."""

    provinces: list[tuple[str, str]]
    cities: dict[str, tuple]

    def province_names(self) -> dict[str, str]:
        return dict(self.provinces)


class LocationGen:
    """PSGC-shaped locations of a given size and the drift between runs.

    Names are globally unique, so (name, province) keys the Locations
    dimension without ties, as the pipeline's dense ids require.
    """

    def __init__(self, seed: int, n_locations: int, salt: int = 0) -> None:
        self.rng = random.Random(seed)
        self._serial = 0
        self.provinces = [
            (f"{1 + i // 6:02d}{10 + i:02d}00000", self._name().title())
            for i in range(_N_PROVINCES)
        ]
        self.base = {}
        for _ in range(n_locations):
            row = self._city()
            self.base[row[0]] = row
        # Drift depends on (seed, salt) only, so one pass can be replayed
        # exactly (the traced run replays the untraced pass).
        self.rng = random.Random(seed * 1_000_003 + salt)

    def _name(self) -> str:
        self._serial += 1
        parts = self.rng.randint(2, 3)
        stem = "".join(self.rng.choice(_SYLLABLES) for _ in range(parts))
        return f"{stem} {self._serial}"

    def _city(self) -> tuple:
        rng = self.rng
        self._serial += 1
        serial = self._serial
        if rng.random() < 0.02:
            # Highly urbanised / NCR cities carry no province: the merge
            # leaves province_name NULL and the FK join drops them.
            prov_code = "false"
            region = "13"
        else:
            prov_code = rng.choice(self.provinces)[0]
            region = prov_code[:2]
        code = f"{region}{serial:07d}"
        prefix = "City of " if rng.random() < 0.1 else ""
        name = prefix + self._name().title()
        return (
            code,
            name,
            None,
            rng.random() < 0.01,
            prov_code,
            "0",
            region,
            _ISLAND_GROUPS[int(region) % 3],
            f"{region}{serial:08d}",
        )

    def first(self) -> Locations:
        return Locations(self.provinces, dict(self.base))

    def drift(self, prev: Locations, share: float) -> Locations:
        """A later run: ~``share`` of the rows renamed, added, removed,
        re-parented to another province, or given a non-null oldName."""
        rng = self.rng
        cities = dict(prev.cities)
        k = max(1, round(share * len(cities)))
        codes = rng.sample(sorted(cities), k)
        for i, code in enumerate(codes):
            row = list(cities[code])
            kind = i % 5
            if kind == 0:  # rename
                row[1] = self._name().title()
            elif kind == 1:  # addition (next to a removal, so size holds)
                new = self._city()
                cities[new[0]] = new
                continue
            elif kind == 2:  # removal
                del cities[code]
                continue
            elif kind == 3:  # province re-parenting
                row[4] = rng.choice(self.provinces)[0]
            else:  # PSGC records a former name
                row[2] = row[1]
                row[1] = self._name().title()
            cities[code] = tuple(row)
        return Locations(self.provinces, cities)


def merged_rows(loc: Locations) -> list[tuple]:
    """The 10 compare columns of ``merge_cities_provinces`` per city."""
    pnames = loc.province_names()
    return [
        (c[0], c[1], c[2], c[3], c[4], c[5], c[6], c[7], c[8], pnames.get(c[4]))
        for c in loc.cities.values()
    ]


def geocode_value(name: str, province: str | None):
    """Deterministic coordinates; ~0.8% of places fail to geocode."""
    h = _md5(f"geo|{name}|{province}")
    if h[0] < 2:
        return None
    lat = (450_000 + int.from_bytes(h[1:5], "big") % 1_600_000) / 1e5
    lon = (11_690_000 + int.from_bytes(h[5:9], "big") % 1_000_000) / 1e5
    return lat, lon


def weather_payload(name: str, province: str | None) -> dict:
    """OpenWeatherMap-shaped payload; optional keys drop out by hash."""
    h = _md5(f"wx|{name}|{province}")
    temp = (2_000 + int.from_bytes(h[0:2], "big") % 1_500) / 100
    payload = {
        "weather": [{"main": ("Clouds", "Rain", "Clear")[h[2] % 3], "description": "stub"}],
        "main": {
            "temp": temp,
            "feels_like": temp + 1.5,
            "temp_min": temp - 1.0,
            "temp_max": temp + 1.0,
            "pressure": 990 + h[3] % 40,
            "humidity": h[4] % 101,
        },
        "wind": {"speed": h[5] / 10},
        "clouds": {"all": h[6] % 101},
        "sys": {"sunrise": 1_700_000_000 + h[7], "sunset": 1_700_042_000 + h[8]},
    }
    if h[9] % 10:
        payload["wind"]["deg"] = h[10] + h[11]
    if h[12] % 4:
        payload["visibility"] = 10_000 - h[13]
    if h[14] % 3 == 0:
        payload["rain"] = {"1h": h[15] / 10}
    return payload


def make_fetchers(geo_calls, wx_calls, fetch_s):
    """Geocoder and weather fetcher for ``run_pipeline``, counting their
    calls and busy time through Spark accumulators (they run in Python
    workers, so plain counters would not travel back)."""

    def geocoder(row):
        t = time.perf_counter()
        got = geocode_value(row["name"], row["province_name"])
        geo_calls.add(1)
        fetch_s.add(time.perf_counter() - t)
        return None if got is None else {"latitude": got[0], "longitude": got[1]}

    def weather(row):
        t = time.perf_counter()
        body = json.dumps(weather_payload(row["location_name"], row["province_name"]))
        wx_calls.add(1)
        fetch_s.add(time.perf_counter() - t)
        return {"weather_json": body}

    return geocoder, weather


# --------------------------------------------------------------------------
# Expected pipeline outputs
# --------------------------------------------------------------------------


def _latlon_key(v: float | None):
    return None if v is None else round(v * 1e5)


@dataclass
class RunExpectation:
    """What one scheduled run must produce, as counts and fingerprint sums."""

    changed: bool
    left_only: int
    right_only: int
    diff_fp: int
    snapshot_rows: int
    snapshot_fp: int
    geocoded: int
    dim_rows: int
    dim_fp: int
    obs_rows: int
    obs_fp: int


def expect_run(new: Locations, old: Locations | None) -> RunExpectation:
    new_rows = merged_rows(new)
    if old is None:
        left, right = new_rows, []
    else:
        old_rows = set(merged_rows(old))
        new_set = set(new_rows)
        left = [r for r in new_rows if r not in old_rows]
        right = [r for r in old_rows if r not in new_set]
    diff_fp = sum(fingerprint(("left_only",) + r) for r in left) + sum(
        fingerprint(("right_only",) + r) for r in right
    )
    snap = []
    for r in new_rows:
        got = geocode_value(r[1], r[9])
        lat, lon = got if got else (None, None)
        snap.append((r[0], r[1], r[9], lat, lon))
    snapshot_fp = sum(
        fingerprint((c, n, p, _latlon_key(la), _latlon_key(lo))) for c, n, p, la, lo in snap
    )
    order = sorted(snap, key=lambda s: (s[1], s[2] is None, s[2] or ""))
    dim = [(i + 1,) + s[1:] for i, s in enumerate(order)]
    dim_fp = sum(
        fingerprint((i, n, p, _latlon_key(la), _latlon_key(lo))) for i, n, p, la, lo in dim
    )
    obs_fp, obs_rows = 0, 0
    for i, n, p, la, lo in dim:
        # inner FK join on (name, province): NULL provinces never match;
        # ungeocoded rows are skipped before the weather fetch.
        if p is None or la is None or lo is None:
            continue
        w = weather_payload(n, p)
        obs_rows += 1
        obs_fp += fingerprint(obs_key(i, n, p, w))
    return RunExpectation(
        changed=bool(left or right),
        left_only=len(left),
        right_only=len(right),
        diff_fp=diff_fp,
        snapshot_rows=len(snap),
        snapshot_fp=snapshot_fp,
        geocoded=sum(1 for s in snap if s[3] is not None),
        dim_rows=len(dim),
        dim_fp=dim_fp,
        obs_rows=obs_rows,
        obs_fp=obs_fp,
    )


def obs_key(location_id, name, province, w: dict) -> tuple:
    """The observation fields the check fingerprints (all exact integers
    or strings, so Spark's and Python's renderings agree)."""
    return (
        location_id,
        name,
        province,
        w["weather"][0]["main"],
        round(w["main"]["temp"] * 100),
        w["main"]["pressure"],
        w["main"]["humidity"],
        w["wind"].get("deg"),
        w["clouds"]["all"],
        w.get("visibility"),
        round(w.get("rain", {}).get("1h", 0.0) * 10),
    )


# --------------------------------------------------------------------------
# Stream inputs: events and documents, landed in salted chunks
# --------------------------------------------------------------------------

EVENT_TYPES = ("view", "click", "signup", "purchase", "error")
_VOCAB = (
    "key agg row scan slow fast table value part hash batch merge spark the"
    " line sort window data column join small big order group query stream"
    " customer filter vector a"
).split()
_T0 = datetime(2024, 1, 1, tzinfo=timezone.utc)


@dataclass
class StreamInputs:
    events: list[tuple]  # (event_id, ts, user_id, event_type, value)
    documents: list[tuple]  # (doc_id, text, lang, source, ingest_ts)
    event_chunks: list[int]  # chunk boundaries as row offsets, ts-ordered
    doc_chunks: list[int]


def stream_inputs(seed: int, n_events: int, n_docs: int, n_chunks: int) -> StreamInputs:
    """Events over 30 days and documents ~10 s apart, both in event-time
    order. Chunk boundaries are jittered by the seed; chunks stay
    contiguous in time, so no row arrives behind the watermark and each
    stream surface must equal its batch twin."""
    rng = random.Random(seed * 7919 + 17)
    span_us = 30 * 24 * 3600 * 10**6
    stamps = sorted(rng.randrange(span_us) for _ in range(n_events))
    n_users = max(10, n_events // 60)
    events = [
        (
            i,
            _T0 + timedelta(microseconds=us),
            rng.randrange(n_users),
            rng.choice(EVENT_TYPES),
            round(rng.lognormvariate(1.5, 0.8), 2),
        )
        for i, us in enumerate(stamps)
    ]
    docs: list[tuple] = []
    for i in range(n_docs):
        ingest = _T0 + timedelta(seconds=10 * i + rng.randrange(10))
        r = rng.random()
        if docs and r < 0.05:
            # exact duplicate text (new doc id) within the last few minutes
            src = docs[-rng.randint(1, min(len(docs), 20))]
            docs.append((10_000_000 + i, src[1], src[2], src[3], ingest))
        elif docs and r < 0.08:
            # re-sent document: same key and content, arriving again
            src = docs[-rng.randint(1, min(len(docs), 20))]
            docs.append((src[0], src[1], src[2], src[3], ingest))
        else:
            words = [rng.choice(_VOCAB) for _ in range(rng.randint(20, 80))]
            docs.append(
                (i, " ".join(words), rng.choice(("en", "de", "fr", "es", "zh")),
                 f"src{rng.randrange(20)}", ingest)
            )
    return StreamInputs(
        events, docs, _bounds(rng, n_events, n_chunks), _bounds(rng, n_docs, n_chunks)
    )


def _bounds(rng: random.Random, n: int, k: int) -> list[int]:
    step = n / k
    cuts = [round(step * i + rng.uniform(-0.2, 0.2) * step) for i in range(1, k)]
    return [0] + cuts + [n]
