"""Seeded JHU-shaped CSV inputs for the ``etl_jhu_wide`` workload, plus a
pure-Python twin of the reference's ``fix_record`` that gives the
expected lake records.

The generated feed has the shape of the JHU CSSE global time series: one
wide CSV per category (``Province/State, Country/Region, Lat, Long`` and
one ``M/D/YY`` column per day) and a ``UID_ISO_FIPS_LookUp_Table``-style
lookup.  It carries the quirks the ETL contract must preserve
(``FIXTURES.md`` section 1):

- empty provinces (the country-level rows);
- decoy lookup rows: each country has its aggregate row first and then
  province rows with different coordinates, so only a first-match join
  gives the expected ``country-*`` fields;
- lookup misses: some countries have no lookup row at all;
- locations present in ``confirmed`` but missing from ``deaths`` and/or
  ``recovered`` (the combined pipeline's default-0 path).
"""

from __future__ import annotations

import csv
import datetime
import os
import random

CATEGORIES = ("confirmed", "deaths", "recovered")
FIRST_DAY = datetime.date(2020, 1, 22)


def date_names(n_dates: int) -> list[str]:
    days = [FIRST_DAY + datetime.timedelta(days=i) for i in range(n_dates)]
    return [f"{d.month}/{d.day}/{d.strftime('%y')}" for d in days]


def iso_day(name: str) -> str:
    m, d, y = (int(x) for x in name.split("/"))
    return f"{2000 + y:04d}-{m:02d}-{d:02d} 00:00:00"


def _coord(rng: random.Random, lo: float, hi: float) -> str:
    return f"{rng.uniform(lo, hi):.4f}"


def generate(out_dir: str, seed: int, n_locations: int, n_dates: int,
             n_countries: int = 280) -> dict:
    """Write the three category CSVs and the lookup under ``out_dir``.

    Returns the input paths and the generated rows, which the twin below
    turns into expected records."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    dates = date_names(n_dates)
    countries = [f"Country{c:03d}" for c in range(n_countries)]

    # Locations: each country gets one empty-province row first, then
    # provinces until n_locations is reached.
    locs: list[tuple[str, str, str, str]] = []
    for i in range(n_locations):
        country = countries[i % n_countries]
        province = "" if i < n_countries else f"Province{i:05d}"
        locs.append((province, country, _coord(rng, -60, 70), _coord(rng, -170, 170)))

    facts: dict[str, dict[tuple[str, str], tuple[str, str, list[int]]]] = {}
    for cat in CATEGORIES:
        rows = {}
        for province, country, lat, lon in locs:
            # deaths and recovered each miss ~3% of the locations
            if cat != "confirmed" and rng.random() < 0.03:
                continue
            level, series = rng.randint(0, 50), []
            for _ in dates:
                level += rng.randint(0, 9)
                series.append(level)
            rows[(country, province)] = (lat, lon, series)
        facts[cat] = rows

    paths = {}
    for cat, rows in facts.items():
        path = os.path.join(out_dir, f"time_series_covid19_{cat}_global.csv")
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(["Province/State", "Country/Region", "Lat", "Long", *dates])
            for (country, province), (lat, lon, series) in rows.items():
                w.writerow([province, country, lat, lon, *series])
        paths[cat] = path

    # Lookup: ~5% of countries missing (join miss); the rest have the
    # country aggregate row FIRST, then 1-2 decoy province rows.
    lookup: dict[str, tuple[str, str, str]] = {}
    lookup_rows = []
    for c, country in enumerate(countries):
        if rng.random() < 0.05:
            continue
        iso2 = f"{chr(65 + c % 26)}{chr(65 + (c // 26) % 26)}"
        first = (iso2, _coord(rng, -60, 70), _coord(rng, -170, 170))
        lookup[country] = first
        lookup_rows.append((c, iso2, "", country, first[1], first[2]))
        for k in range(rng.randint(1, 2)):
            lookup_rows.append((c, f"X{k}", f"Decoy{k}", country,
                                _coord(rng, -60, 70), _coord(rng, -170, 170)))
    lookup_path = os.path.join(out_dir, "UID_ISO_FIPS_LookUp_Table.csv")
    with open(lookup_path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["UID", "iso2", "Province_State", "Country_Region", "Lat", "Long_"])
        for row in lookup_rows:
            w.writerow(row)
    paths["lookup"] = lookup_path
    return {"paths": paths, "dates": dates, "facts": facts, "lookup": lookup}


def fix_record(gen: dict, category: str, key: tuple[str, str]) -> dict:
    """parser.py semantics: one category row -> one nested record; lookup
    fields are absent (not null) on a miss."""
    country, province = key
    lat, lon, series = gen["facts"][category][key]
    rec = {
        "time_series": [{"date": iso_day(d), "value": v}
                        for d, v in zip(gen["dates"], series)],
        "province/state": province,
        "country/region": country,
        "lat": float(lat),
        "long": float(lon),
    }
    hit = gen["lookup"].get(country)
    if hit is not None:
        rec["country-iso2"] = hit[0]
        rec["country-lat"] = float(hit[1])
        rec["country-long"] = float(hit[2])
    return rec


def fix_record_combined(gen: dict, key: tuple[str, str]) -> dict:
    """parser2.py semantics: one confirmed row zipped with deaths and
    recovered; a family without the location defaults every value to 0."""
    country, province = key
    lat, lon, confirmed = gen["facts"]["confirmed"][key]
    other = {}
    for cat in ("deaths", "recovered"):
        row = gen["facts"][cat].get(key)
        other[cat] = row[2] if row else [0] * len(confirmed)
    rec = {
        "time_series": [
            {"date": iso_day(d), "confirmed": c, "deaths": de, "recovered": r}
            for d, c, de, r in zip(gen["dates"], confirmed,
                                   other["deaths"], other["recovered"])
        ],
        "province/state": province,
        "country/region": country,
        "lat": float(lat),
        "long": float(lon),
    }
    hit = gen["lookup"].get(country)
    if hit is not None:
        rec["iso2"] = hit[0]
    return rec
