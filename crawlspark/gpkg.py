"""GeoPackage export sink — the reference's ``csv-to-gpkg.sh`` surface.

The reference converts its driver-side CSV export to a GeoPackage with an
external ``ogr2ogr`` call (/root/reference/csv-to-gpkg.sh:3-14): POINT layer,
EPSG:4326, X/Y taken from the Longitude/Latitude decimal ABCD fields, and a
projection ``SELECT <ISODateTimeBegin> AS Date, <FullScientificNameString> AS
Species``. SURVEY.md §2.2 had parked this as external-tool N/A; this module
closes it with a pure-stdlib writer: GeoPackage IS a SQLite database with
three spec-mandated metadata tables and a ``GP``-header geometry BLOB per
feature (OGC 12-128r15 §1.1.1, §2.1; no GDAL needed).

Scale shape: a ``.gpkg`` file is a single SQLite file — an inherently
single-writer FINAL-EXPORT artifact, exactly like the reference's ogr2ogr
step over the collected CSV. The writer therefore streams the DataFrame
through ``toLocalIterator()`` (one partition resident in the driver at a
time, never a full ``collect()``) and is meant for the curated end product
(a listing, a filtered occurrence slice), not for corpus-scale data; the
envelope in ``gpkg_contents`` is computed executor-side in one aggregate.
"""

from __future__ import annotations

import sqlite3
import struct
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fields import AbcdFields, sha1_hex

# csv-to-gpkg.sh:6-7, 10 — the script's coordinate and attribute field paths
X_FIELD = (
    "/DataSets/DataSet/Units/Unit/Gathering/SiteCoordinateSets/SiteCoordinates/"
    "CoordinatesLatLong/LongitudeDecimal"
)
Y_FIELD = (
    "/DataSets/DataSet/Units/Unit/Gathering/SiteCoordinateSets/SiteCoordinates/"
    "CoordinatesLatLong/LatitudeDecimal"
)
DATE_FIELD = "/DataSets/DataSet/Units/Unit/Gathering/DateTime/ISODateTimeBegin"
SPECIES_FIELD = (
    "/DataSets/DataSet/Units/Unit/Identifications/Identification/Result/"
    "TaxonIdentified/ScientificName/FullScientificNameString"
)

_WGS84_WKT = (
    'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,'
    '298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433],'
    'AUTHORITY["EPSG","4326"]]'
)

_SQLITE_TYPE = {
    "string": "TEXT",
    "double": "REAL",
    "float": "REAL",
    "int": "MEDIUMINT",
    "bigint": "INTEGER",
    "smallint": "SMALLINT",
    "tinyint": "TINYINT",
    "boolean": "BOOLEAN",
    "binary": "BLOB",
    "date": "DATE",
    "timestamp": "DATETIME",
}


def point_blob(lon: float, lat: float, srs_id: int = 4326) -> bytes:
    """GeoPackage geometry BLOB for one XY point: ``GP`` magic, version 0,
    flags 0x01 (little-endian header, no envelope), int32 srs_id, then the
    standard WKB point (OGC 12-128r15 §2.1.3 + ISO 13249-3)."""
    return struct.pack("<2sBBi", b"GP", 0, 0x01, srs_id) + struct.pack(
        "<BIdd", 1, 1, lon, lat
    )


def read_point_blob(blob: bytes) -> tuple[float, float]:
    """Inverse of :func:`point_blob` for tests/round-trips (header flags with
    an envelope are tolerated by skipping the indicated envelope bytes)."""
    magic, version, flags, _srs = struct.unpack_from("<2sBBi", blob, 0)
    if magic != b"GP":
        raise ValueError("not a GeoPackage geometry blob")
    env = (flags >> 1) & 0x07
    off = 8 + {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}[env]
    _bo, gtype, x, y = struct.unpack_from("<BIdd", blob, off)
    if gtype != 1:
        raise ValueError(f"expected WKB Point, got type {gtype}")
    return x, y


def write_gpkg(
    df: DataFrame,
    path: str,
    layer: str = "out",
    lon_col: str = "lon",
    lat_col: str = "lat",
    srs_id: int = 4326,
    identifier: str | None = None,
    last_change: str = "1970-01-01T00:00:00.000Z",
    batch_rows: int = 10_000,
) -> int:
    """Write ``df`` as a GeoPackage POINT feature layer at ``path``
    (overwrite, like the script's ``-overwrite``). ``lon_col``/``lat_col``
    become the geometry (NULL geometry when either is NULL — ogr2ogr's
    behavior for unparsable X/Y); every other column becomes an attribute
    column with its Spark type mapped to a SQLite affinity. Returns the
    feature count. ``last_change`` is pinned for deterministic artifacts
    (pass a real timestamp in production)."""
    attrs = [f for f in df.schema.fields if f.name not in (lon_col, lat_col)]
    for f_ in attrs:
        if f_.dataType.simpleString() not in _SQLITE_TYPE:
            raise ValueError(
                f"column {f_.name!r} has non-GPKG-mappable type "
                f"{f_.dataType.simpleString()!r}; cast or drop it first"
            )

    # persisted so the envelope aggregate and the feature iteration below
    # see the SAME rows — on a non-deterministic source two separate actions
    # could otherwise write a gpkg_contents envelope inconsistent with the
    # features. A frame the caller already cached is used as is and stays
    # cached: only the persistence added here is released below.
    lvl = df.storageLevel
    owned = not (lvl.useMemory or lvl.useDisk)
    if owned:
        df = df.persist()
    # envelope: one executor-side aggregate (metadata-sized result)
    env = df.agg(
        F.min(lon_col).alias("min_x"),
        F.min(lat_col).alias("min_y"),
        F.max(lon_col).alias("max_x"),
        F.max(lat_col).alias("max_y"),
    ).collect()[0]

    # honest -overwrite: start from an empty file. Without this, stale
    # layers from a previous export survive (only the target layer was
    # dropped), a same-identifier layer aborts on the gpkg_contents UNIQUE
    # constraint, and a non-SQLite file at path errors instead of being
    # replaced.
    import os as _os

    try:
        _os.unlink(path)
    except FileNotFoundError:
        pass
    con = sqlite3.connect(path)
    try:
        cur = con.cursor()
        cur.execute("PRAGMA application_id = 0x47504B47")  # 'GPKG'
        cur.execute("PRAGMA user_version = 10200")  # GeoPackage 1.2
        cur.executescript(
            """
            CREATE TABLE IF NOT EXISTS gpkg_spatial_ref_sys (
              srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY,
              organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL,
              definition TEXT NOT NULL, description TEXT);
            CREATE TABLE IF NOT EXISTS gpkg_contents (
              table_name TEXT PRIMARY KEY, data_type TEXT NOT NULL,
              identifier TEXT UNIQUE, description TEXT DEFAULT '',
              last_change DATETIME NOT NULL,
              min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE,
              srs_id INTEGER REFERENCES gpkg_spatial_ref_sys(srs_id));
            CREATE TABLE IF NOT EXISTS gpkg_geometry_columns (
              table_name TEXT PRIMARY KEY REFERENCES gpkg_contents(table_name),
              column_name TEXT NOT NULL, geometry_type_name TEXT NOT NULL,
              srs_id INTEGER NOT NULL REFERENCES gpkg_spatial_ref_sys(srs_id),
              z TINYINT NOT NULL, m TINYINT NOT NULL);
            """
        )
        cur.executemany(
            "INSERT OR REPLACE INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,?)",
            [
                ("WGS 84", 4326, "EPSG", 4326, _WGS84_WKT, None),
                ("Undefined cartesian SRS", -1, "NONE", -1, "undefined", None),
                ("Undefined geographic SRS", 0, "NONE", 0, "undefined", None),
            ],
        )
        # identifier quoting: embedded double quotes are doubled (the SQLite
        # escape), so a layer/column name containing '"' cannot break out of
        # the quoted identifier (round-5 advice)
        def _q(name: str) -> str:
            return '"' + name.replace('"', '""') + '"'

        cur.execute(f"DROP TABLE IF EXISTS {_q(layer)}")
        col_defs = ", ".join(
            f"{_q(f_.name)} {_SQLITE_TYPE[f_.dataType.simpleString()]}" for f_ in attrs
        )
        cur.execute(
            f"CREATE TABLE {_q(layer)} (fid INTEGER PRIMARY KEY AUTOINCREMENT, "
            f"geom POINT{', ' + col_defs if col_defs else ''})"
        )
        cur.execute(
            "INSERT OR REPLACE INTO gpkg_contents VALUES (?,?,?,?,?,?,?,?,?,?)",
            (
                layer, "features", identifier or layer, "", last_change,
                env["min_x"], env["min_y"], env["max_x"], env["max_y"], srs_id,
            ),
        )
        cur.execute(
            "INSERT OR REPLACE INTO gpkg_geometry_columns VALUES (?,?,?,?,0,0)",
            (layer, "geom", "POINT", srs_id),
        )

        names = [f_.name for f_ in attrs]
        ins = (
            f"INSERT INTO {_q(layer)} (geom"
            + "".join(f", {_q(n)}" for n in names)
            + ") VALUES (?" + ",?" * len(names) + ")"
        )
        n = 0
        batch: list[tuple] = []
        # toLocalIterator: one partition in the driver at a time (final-export
        # sink — see module docstring), matching the reference's driver-side
        # CSV → ogr2ogr step without ever holding the full frame
        for row in df.select(lon_col, lat_col, *names).toLocalIterator():
            lon, lat = row[0], row[1]
            geom = None if lon is None or lat is None else point_blob(lon, lat, srs_id)
            batch.append((geom, *row[2:]))
            if len(batch) >= batch_rows:
                cur.executemany(ins, batch)
                n += len(batch)
                batch = []
        if batch:
            cur.executemany(ins, batch)
            n += len(batch)
        con.commit()
        return n
    finally:
        con.close()
        if owned:
            df.unpersist()


def units_to_gpkg(
    extracted: DataFrame,
    fields: AbcdFields,
    path: str,
    attr_fields: Sequence[tuple[str, str]] = (
        (DATE_FIELD, "Date"),
        (SPECIES_FIELD, "Species"),
    ),
    layer: str = "out",
    last_change: str = "1970-01-01T00:00:00.000Z",
) -> int:
    """csv-to-gpkg.sh parity: project the extraction output's unit rows to
    the script's ``Date``/``Species`` attributes (each kept only when the
    field spec actually carries the path — ogr2ogr would fail on a missing
    CSV header; we degrade to the available subset), take the POINT geometry
    from the Longitude/Latitude decimal fields, and write one GPKG layer."""
    if fields.value_of(X_FIELD) is None or fields.value_of(Y_FIELD) is None:
        raise ValueError("field spec lacks the Longitude/Latitude decimal paths")
    cols = [
        F.col(sha1_hex(X_FIELD)).alias("lon"),
        F.col(sha1_hex(Y_FIELD)).alias("lat"),
    ]
    cols += [
        F.col(sha1_hex(p)).alias(alias)
        for p, alias in attr_fields
        if fields.value_of(p) is not None
    ]
    units = extracted.filter(F.col("kind") == "unit").select(*cols)
    return write_gpkg(
        units, path, layer=layer, lon_col="lon", lat_col="lat",
        last_change=last_change,
    )
