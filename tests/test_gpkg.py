"""GeoPackage sink parity (reference csv-to-gpkg.sh:3-14): stdlib-sqlite3
GPKG writer — spec tables, GP geometry blobs, POINT layer from the ABCD
lon/lat fields with the script's Date/Species projection."""

import io
import sqlite3
import struct
import zipfile

import pytest

from crawlspark.extract import extract_pages
from crawlspark.fields import AbcdFields
from crawlspark.gpkg import (
    DATE_FIELD, SPECIES_FIELD, point_blob, read_point_blob, units_to_gpkg,
    write_gpkg,
)
from crawlspark.synth import GOLDEN_SPEC, LANDING_PAGE_FIELD


def test_point_blob_roundtrip():
    b = point_blob(10.911, 49.911)
    assert b[:2] == b"GP" and b[2] == 0 and b[3] == 0x01
    assert struct.unpack_from("<i", b, 4)[0] == 4326
    assert read_point_blob(b) == (10.911, 49.911)


def test_write_gpkg_spec_tables_and_features(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (10.5, 49.25, "2008-06-17", "Abies alba", 3),
            (11.0, 48.0, "2009-01-02", "Picea abies", 7),
            (None, 48.5, "2010-03-04", "No geom", 1),
        ],
        ["lon", "lat", "Date", "Species", "n"],
    )
    path = str(tmp_path / "out.gpkg")
    n = write_gpkg(df, path, layer="occ")
    assert n == 3

    con = sqlite3.connect(path)
    try:
        cur = con.cursor()
        assert cur.execute("PRAGMA application_id").fetchone()[0] == 0x47504B47
        assert cur.execute("PRAGMA user_version").fetchone()[0] == 10200
        srs = dict(
            cur.execute(
                "SELECT srs_id, organization FROM gpkg_spatial_ref_sys"
            ).fetchall()
        )
        assert srs == {4326: "EPSG", -1: "NONE", 0: "NONE"}
        tn, dt, mnx, mny, mxx, mxy, srs_id = cur.execute(
            "SELECT table_name, data_type, min_x, min_y, max_x, max_y, srs_id "
            "FROM gpkg_contents"
        ).fetchone()
        assert (tn, dt, srs_id) == ("occ", "features", 4326)
        assert (mnx, mny, mxx, mxy) == (10.5, 48.0, 11.0, 49.25)
        assert cur.execute(
            "SELECT table_name, column_name, geometry_type_name, z, m "
            "FROM gpkg_geometry_columns"
        ).fetchone() == ("occ", "geom", "POINT", 0, 0)

        rows = cur.execute(
            'SELECT geom, "Date", "Species", n FROM occ ORDER BY "Date"'
        ).fetchall()
        assert [r[1:] for r in rows] == [
            ("2008-06-17", "Abies alba", 3),
            ("2009-01-02", "Picea abies", 7),
            ("2010-03-04", "No geom", 1),
        ]
        assert read_point_blob(rows[0][0]) == (10.5, 49.25)
        assert rows[2][0] is None  # NULL geometry for missing coordinate
    finally:
        con.close()


def test_write_gpkg_rejects_unmappable_column(spark, tmp_path):
    df = spark.createDataFrame([(1.0, 2.0, [1, 2])], ["lon", "lat", "arr"])
    with pytest.raises(ValueError, match="arr"):
        write_gpkg(df, str(tmp_path / "x.gpkg"))


def _unit(uid: str, lon: str, lat: str, date: str, species: str) -> str:
    return f"""<abcd:Unit>
        <abcd:UnitID>{uid}</abcd:UnitID>
        <abcd:Identifications><abcd:Identification><abcd:Result>
          <abcd:TaxonIdentified><abcd:ScientificName>
            <abcd:FullScientificNameString>{species}</abcd:FullScientificNameString>
          </abcd:ScientificName></abcd:TaxonIdentified>
        </abcd:Result></abcd:Identification></abcd:Identifications>
        <abcd:Gathering>
          <abcd:DateTime><abcd:ISODateTimeBegin>{date}</abcd:ISODateTimeBegin></abcd:DateTime>
          <abcd:SiteCoordinateSets><abcd:SiteCoordinates><abcd:CoordinatesLatLong>
            <abcd:LongitudeDecimal>{lon}</abcd:LongitudeDecimal>
            <abcd:LatitudeDecimal>{lat}</abcd:LatitudeDecimal>
          </abcd:CoordinatesLatLong></abcd:SiteCoordinates></abcd:SiteCoordinateSets>
        </abcd:Gathering>
      </abcd:Unit>"""


def test_units_to_gpkg_script_parity(spark, tmp_path):
    spec = GOLDEN_SPEC + [
        {"name": DATE_FIELD, "numeric": False, "vatMandatory": False,
         "gfbioMandatory": False, "globalField": False, "unit": ""},
        {"name": SPECIES_FIELD, "numeric": False, "vatMandatory": False,
         "gfbioMandatory": False, "globalField": False, "unit": ""},
    ]
    fields = AbcdFields.from_list(spec)
    xml = (
        '<abcd:DataSets xmlns:abcd="http://www.tdwg.org/schemas/abcd/2.06">'
        "<abcd:DataSet>"
        "<abcd:Metadata><abcd:Description><abcd:Representation>"
        "<abcd:Title>T</abcd:Title><abcd:URI>http://L/</abcd:URI>"
        "</abcd:Representation></abcd:Description></abcd:Metadata>"
        "<abcd:Units>"
        + _unit("u1", "10.5", "49.25", "2008-06-17", "Abies alba")
        + _unit("u2", "N/A", "48.5", "2010-03-04", "Picea abies")
        + "</abcd:Units></abcd:DataSet></abcd:DataSets>"
    ).encode()
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("a.xml", xml)
    df = spark.createDataFrame(
        [("https://h/a.zip", buf.getvalue(), "prov")], ["url", "html", "provider"]
    )
    extracted = extract_pages(df, fields, LANDING_PAGE_FIELD)
    path = str(tmp_path / "out.gpkg")
    n = units_to_gpkg(extracted, fields, path)
    assert n == 2

    con = sqlite3.connect(path)
    try:
        rows = con.execute(
            'SELECT geom, "Date", "Species" FROM out ORDER BY "Date"'
        ).fetchall()
        assert [r[1:] for r in rows] == [
            ("2008-06-17", "Abies alba"),
            ("2010-03-04", "Picea abies"),
        ]
        assert read_point_blob(rows[0][0]) == (10.5, 49.25)
        assert rows[1][0] is None  # unparsable longitude → NULL geometry
    finally:
        con.close()


def test_write_gpkg_true_overwrite(spark, tmp_path):
    """-overwrite semantics: a pre-existing file (stale layer or garbage
    bytes) is replaced wholesale, not merged into."""
    import sqlite3

    from pyspark.sql import functions as F

    from crawlspark.gpkg import write_gpkg

    path = str(tmp_path / "out.gpkg")
    df_a = spark.range(2).select(
        F.col("id").cast("double").alias("lon"),
        F.col("id").cast("double").alias("lat"),
        F.col("id").cast("string").alias("name"),
    )
    write_gpkg(df_a, path, layer="layer_a")
    write_gpkg(df_a, path, layer="layer_b")
    con = sqlite3.connect(path)
    layers = {r[0] for r in con.execute("SELECT table_name FROM gpkg_contents")}
    con.close()
    assert layers == {"layer_b"}  # layer_a did not survive the overwrite

    with open(path, "wb") as f:
        f.write(b"not a database")
    write_gpkg(df_a, path, layer="layer_c")  # must not raise
    con = sqlite3.connect(path)
    layers = {r[0] for r in con.execute("SELECT table_name FROM gpkg_contents")}
    con.close()
    assert layers == {"layer_c"}


def test_write_gpkg_keeps_caller_cache(spark, tmp_path):
    """A frame the caller persisted stays persisted after the export: the
    writer releases only the persistence it added itself."""
    from pyspark.sql import functions as F

    df = spark.range(3).select(
        F.col("id").cast("double").alias("lon"),
        F.col("id").cast("double").alias("lat"),
    ).persist()
    try:
        assert write_gpkg(df, str(tmp_path / "out.gpkg")) == 3
        assert df.is_cached
        assert df.storageLevel.useMemory or df.storageLevel.useDisk
    finally:
        df.unpersist()
