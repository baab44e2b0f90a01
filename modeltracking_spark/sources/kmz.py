"""KMZ -> KML -> track ingest (SURVEY.md §2.1 S2-S4).

The reference shells out to unzip + BeautifulSoup row loops
(``kmz2csv.py:14-35``); here the zip open is a tiny driver-side step
(KMZ files are KB-sized control inputs, not data) and the placemark
parse is Spark ``xpath`` over an XML column — so a directory of
thousands of KMZ files parallelizes by making each file one row of a
binaryFile scan and running the same xpath expressions per row.
A placemark is an ``NHC_BEST_TRACK_SCHEMA`` record; this module states
only its KML tag spellings, and :func:`kmz_to_track` returns what
``read_nhc_best_track`` returns for the same record in CSV.
"""

from __future__ import annotations

import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from modeltracking_spark.schemas import NHC_BEST_TRACK_SCHEMA
from modeltracking_spark.sources.tracks import _nhc_track

#: KML child tag of <Placemark> for each NHC field whose tag is not the
#: field's name (kmz2csv.py:20-21; tags are case-sensitive in XML,
#: unlike the reference's lowercasing soup)
_KML_TAGS: dict[str, str] = {
    "stormnum": "stormNum",
    "stormname": "stormName",
    "stormtype": "stormType",
    "intensitymph": "intensityMPH",
    "intensitykph": "intensityKPH",
    "minsealevelpres": "minSeaLevelPres",
}
#: what a placemark value is trimmed of: all ASCII whitespace, so a
#: pretty-printed tag (``<atcfdtg>\n  2000010103\n</atcfdtg>``) reads as
#: its value
_WHITESPACE = " \t\n\r\f\v"


def extract_kml_text(kmz_path: str) -> str:
    """S2: read the inner ``.kml`` document out of a KMZ zip."""
    with zipfile.ZipFile(kmz_path, "r") as z:
        kml_names = [n for n in z.namelist() if n.lower().endswith(".kml")]
        if not kml_names:
            raise ValueError(f"no .kml entry in {kmz_path}")
        return z.read(kml_names[0]).decode("utf-8", errors="replace")


def placemarks_to_rows(spark: SparkSession, kml_text: str) -> DataFrame:
    """S3/S4: one row per ``<Placemark>``, one string column per field
    of ``NHC_BEST_TRACK_SCHEMA``, as the placemark spells it.

    The document is first split into one fragment PER placemark (regex
    explode), then each field is xpath'd out of its own fragment — so a
    placemark missing an optional tag yields NULL for that row only.
    (Zipping 12 independently-collected document-level xpath arrays
    would silently misalign every row after the first missing tag.)
    ``local-name()`` predicates keep a default KML namespace from
    breaking matching; everything is JVM expressions.
    """
    doc = spark.createDataFrame([(kml_text,)], "xml string")
    frags = doc.select(
        F.explode(
            F.regexp_extract_all(
                "xml", F.lit(r"(?s)<Placemark.*?</Placemark>"), 0
            )
        ).alias("pm")
    )
    return frags.select(
        *[
            F.nullif(
                F.trim(
                    F.xpath_string(
                        "pm",
                        F.lit(f"//*[local-name()='{_KML_TAGS.get(col, col)}']"),
                    ),
                    F.lit(_WHITESPACE),
                ),
                F.lit(""),
            ).alias(col)
            for col in NHC_BEST_TRACK_SCHEMA.names
        ]
    )


def kmz_to_track(spark: SparkSession, kmz_path: str) -> DataFrame:
    """Full S2->S4 path: KMZ -> the normalized track frame of
    ``read_nhc_best_track`` (t_hours, lon in [0, 360), ...), ready to
    profile. The placemark rows are cast to ``NHC_BEST_TRACK_SCHEMA``'s
    types and normalized by the CSV reader's own code; the raw strings
    stay available from :func:`placemarks_to_rows`. Compose with
    ``sources.tracks.write_track_csv`` for S5."""
    rows = placemarks_to_rows(spark, extract_kml_text(kmz_path))
    return _nhc_track(
        rows.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in NHC_BEST_TRACK_SCHEMA
            ]
        )
    )
