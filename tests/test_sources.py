"""S1-S5 ingest: one NHC best-track record read from a KMZ and from its
CSV, both IBTrACS layouts, the CSV sink roundtrip. The first tests build
their inputs in ``tmp_path``; the ``needs_ref`` ones read the
reference's KMZ and its committed CSV (the de-facto golden table)."""

import os
import zipfile

import pytest
import pyspark.sql.functions as F

from modeltracking_spark.fixtures import GRID_N_TIME, hycom_grid_fixture
from modeltracking_spark.operators.profile import profile_along_track
from modeltracking_spark.schemas import NHC_BEST_TRACK_SCHEMA
from modeltracking_spark.sources.kmz import kmz_to_track
from modeltracking_spark.sources.tracks import (
    read_ibtracs_track,
    read_nhc_best_track,
    write_track_csv,
)
from perfbench import reference
from tests.conftest import REF_DIR

#: three best-track fixes inside the fixture grid, west-negative lon, in
#: NHC_BEST_TRACK_SCHEMA's field order; the second has no intensityMPH
RECORDS = [
    dict(zip(NHC_BEST_TRACK_SCHEMA.names, rec)) for rec in [
        ("2000010103", "09", "TEST", "AL", "TS", "35", "40", "65",
         "20.1", "-75.3", "1004", "2000010103"),
        ("2000010109", "09", "TEST", "AL", "TS", "40", None, "75",
         "20.6", "-75.9", "1001", "2000010109"),
        ("2000010115", "09", "TEST", "AL", "HU", "65", "75", "120",
         "21.2", "-76.4", "990", "2000010115"),
    ]
]
#: the KML tags spelled as the NHC KMZ spells them
KML_TAGS = {"stormnum": "stormNum", "stormname": "stormName",
            "stormtype": "stormType", "intensitymph": "intensityMPH",
            "intensitykph": "intensityKPH",
            "minsealevelpres": "minSeaLevelPres"}
IBTRACS = [
    "2000001N20285,2000,9,NA,MM,TEST,1/1/00 3:00,TS,20.1,284.7",
    "2000001N20285,2000,9,NA,MM,TEST,1/1/00 9:00,TS,20.6,-75.9",
    "2000001N20285,2000,9,NA,MM,TEST,1/1/00 15:00,HU,21.2,283.6",
]
IBTRACS_WIDE = ",35,1004,hurdat_atl,0.5,0.4,main"


def _write_kmz(path, pad=" "):
    """The three RECORDS as a KMZ, each tag and each value preceded by
    ``pad`` and each value followed by it: a space, or a pretty-printer's
    newline and indent."""
    pms = "".join(
        "<Placemark><name>TEST</name>"
        + "".join(f"{pad}<{KML_TAGS.get(k, k)}>{pad}{v}{pad}</{KML_TAGS.get(k, k)}>"
                  for k, v in rec.items() if v is not None)
        + f"<Point><coordinates>{rec['lon']},{rec['lat']},0</coordinates>"
          "</Point></Placemark>"
        for rec in RECORDS
    )
    kml = ('<?xml version="1.0" encoding="UTF-8"?>'
           '<kml xmlns="http://www.opengis.net/kml/2.2"><Document>'
           f"{pms}</Document></kml>")
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("al092000.kml", kml)
    return str(path)


def _write_nhc_csv(path):
    names = NHC_BEST_TRACK_SCHEMA.names
    lines = [",".join(names)] + [
        ",".join(rec[n] or "" for n in names) for rec in RECORDS
    ]
    path.write_text("\n".join(lines) + "\n")
    return str(path)


def test_kmz_track_is_the_csv_track(spark, tmp_path):
    csv = read_nhc_best_track(spark, _write_nhc_csv(tmp_path / "t.csv"))
    for name, pad in (("spaced", " "), ("pretty", "\n\t  \r\n  ")):
        kmz = kmz_to_track(spark, _write_kmz(tmp_path / f"{name}.kmz", pad))
        assert kmz.schema == csv.schema, name
        rows = kmz.collect()
        assert rows == csv.collect(), name
        assert [r["lon"] for r in rows] == [-75.3 + 360.0, -75.9 + 360.0,
                                            -76.4 + 360.0]
        assert [r["t_hours"] for r in rows] == [3, 9, 15]
        assert [r["intensity_kt"] for r in rows] == [35, 40, 65]


def test_kmz_track_profiles_directly(spark, tmp_path):
    track = kmz_to_track(spark, _write_kmz(tmp_path / "t.kmz")).select(
        F.col("t_hours").alias("point_id"), "lat", "lon", "t_hours"
    )
    got = profile_along_track(track, hycom_grid_fixture(spark)).collect()
    points = [(t, float(r["lat"]), float(r["lon"]) + 360.0, t)
              for t, r in zip((3, 9, 15), RECORDS)]
    assert len(got) == 3 * 25
    assert reference.profile_mismatches(
        got, reference.expected_profile(points, GRID_N_TIME)
    ) == []


def test_ibtracs_layouts_read_the_same(spark, tmp_path):
    narrow, wide = tmp_path / "narrow.csv", tmp_path / "wide.csv"
    narrow.write_text("\n".join(IBTRACS) + "\n")
    wide.write_text("\n".join(x + IBTRACS_WIDE for x in IBTRACS) + "\n")
    got = read_ibtracs_track(spark, str(narrow)).collect()
    assert got == read_ibtracs_track(spark, str(wide)).collect()
    assert [r["t_hours"] for r in got] == [3, 9, 15]
    assert [r["lon"] for r in got] == [284.7, -75.9 + 360.0, 283.6]
    assert {r["stormname"] for r in got} == {"TEST"}


KMZ = f"{REF_DIR}/Hurricanefiles/al092016_best_track.kmz"
CSV = f"{REF_DIR}/Hurricanefiles/al092016_track.csv"
HERMINE = f"{REF_DIR}/Hurricanefiles/Hermine_track.csv"

needs_ref = pytest.mark.skipif(
    not os.path.exists(KMZ), reason="reference fixtures not present"
)


@needs_ref
def test_kmz_extracts_80_placemarks(spark):
    rows = kmz_to_track(spark, KMZ).collect()
    assert len(rows) == 80  # 80 <Placemark> records (SURVEY reference inventory)
    assert rows[0]["atcfdtg"] == "2016081718"
    assert rows[0]["lat"] == 12.5 and rows[0]["lon"] == 340.6


@needs_ref
def test_kmz_matches_committed_csv(spark):
    # the reference's own kmz2csv output is committed as
    # Hurricanefiles/al092016_track.csv — our S2-S4 path must reproduce it,
    # normalized the same way (lon in [0, 360))
    kmz = kmz_to_track(spark, KMZ).select("atcfdtg", "stormname", "lat", "lon")
    csv = read_nhc_best_track(spark, CSV)
    got = {r["atcfdtg"]: r for r in kmz.collect()}
    exp = {r["atcfdtg"]: r for r in csv.collect()}
    assert set(got) == set(exp) and len(got) == 80
    for k in got:
        assert got[k]["lat"] == exp[k]["lat"]
        assert got[k]["lon"] == exp[k]["lon"]


@needs_ref
def test_nhc_reader_normalizes_and_times(spark):
    df = read_nhc_best_track(spark, CSV)
    first = df.orderBy("t_hours").first()
    assert first["lon"] == 340.6  # -19.4 normalized (trackplot_hycom.py:167-168)
    assert first["t_hours"] == 6073 * 24 + 18
    assert df.count() == 80


@needs_ref
def test_ibtracs_reader(spark):
    df = read_ibtracs_track(spark, HERMINE)
    rows = df.collect()
    assert len(rows) > 0
    assert all(0.0 <= r["lon"] < 360.0 for r in rows)


@needs_ref
def test_csv_sink_roundtrip(spark, tmp_path):
    df = kmz_to_track(spark, KMZ)
    out = str(tmp_path / "track_csv")
    write_track_csv(df.select("atcfdtg", "lat", "lon"), out)
    back = spark.read.csv(out, header=True)  # no inference: compare as strings
    assert back.count() == 80
    assert {r["atcfdtg"] for r in back.collect()} == {
        r["atcfdtg"] for r in df.collect()
    }
