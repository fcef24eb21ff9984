"""Seeded geo input files for ``process_file`` and their ground truth.

Six files, one per reader path, with row counts from 10^2 to 10^5 so both
the fixed per-file cost (sniff, schema inference, CRS probe, write commit)
and the per-row kernel cost (reprojection, WKB decode) show:

=============  ======================  ======  =====  ========================
file           content                 CRS     rows   per-row work
=============  ======================  ======  =====  ========================
lonlat.csv     id,longitude,latitude   4326    10^5   JVM string synthesis
bng.csv        id,easting,northing     27700   5·10^3 Python transform_xy loop
merc.parquet   id,name,geom (WKB)      3857    10^4   WKB decode + inverse
points.json    FeatureCollection       4326    10^3   GeoJSON parse + UDF
parcels.zip    zipped polygon .shp     27700   10^2   driver parse + reproject
sites.gpkg     Point/Line/Polygon      3857    10^2   driver read + reproject
=============  ======================  ======  =====  ========================

Ground truth comes from the generator, not from the engine: lon/lat that
were written (CSV, GeoJSON), the closed-form Web-Mercator inverse of what
was written (parquet, GeoPackage), and for British National Grid input a
spherical transverse-Mercator approximation that must agree with the
engine's exact OSGB36 transform to within ``BNG_TOL_DEG``.

Every file is byte-identical for the same seed: zip members carry a fixed
timestamp and the GeoPackage is written by one deterministic SQL script.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import re
import sqlite3
import struct
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

R_MERC = 6378137.0
#: agreement between the spherical BNG approximation and the exact
#: OSGB36 datum transform, in degrees (the approximation's own error in
#: the generated box is below 0.05 deg)
BNG_TOL_DEG = 0.15
MERC_TOL_DEG = 1e-6
EXACT_TOL_DEG = 1e-9

#: generated lon/lat boxes (extent < 10 deg so the range classifier
#: picks EPSG:4326 for the lon/lat files)
LONLAT_BOX = (-3.0, 4.0, 50.0, 56.0)
#: British National Grid rectangle, metres
BNG_RECT = (250_000.0, 550_000.0, 100_000.0, 700_000.0)
#: Web-Mercator source box: wide, so the probe extent exceeds 10 km
MERC_BOX = (-120.0, 120.0, -60.0, 60.0)

#: (file name, rows) in generation order
FILES = (
    ("lonlat.csv", 100_000),
    ("bng.csv", 5_000),
    ("merc.parquet", 10_000),
    ("points.json", 1_000),
    ("parcels.zip", 200),
    ("sites.gpkg", 120),
)

_ZIP_DATE = (2020, 1, 1, 0, 0, 0)


def merc_forward(lon: float, lat: float) -> tuple[float, float]:
    return (
        R_MERC * math.radians(lon),
        R_MERC * math.log(math.tan(math.pi / 4 + math.radians(lat) / 2)),
    )


def bng_approx(e: float, n: float) -> tuple[float, float]:
    """Spherical inverse of the BNG transverse Mercator (true origin 49N
    2W, false origin 400 km E / -100 km N, scale 0.9996): lon, lat."""
    r = 6_371_000.0 * 0.9996013
    x, y = (e - 400_000.0) / r, (n + 100_000.0) / r + math.radians(49.0)
    lat = math.asin(math.sin(y) / math.cosh(x))
    lon = -2.0 + math.degrees(math.atan2(math.sinh(x), math.cos(y)))
    return lon, math.degrees(lat)


def _wkb(kind: str, coords) -> bytes:
    if kind == "Point":
        return struct.pack("<BIdd", 1, 1, *coords[0])
    if kind == "LineString":
        return struct.pack("<BII", 1, 2, len(coords)) + b"".join(
            struct.pack("<dd", *c) for c in coords
        )
    return struct.pack("<BIII", 1, 3, 1, len(coords)) + b"".join(
        struct.pack("<dd", *c) for c in coords
    )


def _ring(rng, cx: float, cy: float, r: float, k: int) -> list[tuple[float, float]]:
    ang = np.sort(rng.uniform(0, 2 * math.pi, k))[::-1]  # clockwise: a shapefile outer ring
    pts = [(cx + r * math.cos(a), cy + r * math.sin(a)) for a in ang]
    return pts + [pts[0]]


def _lonlat(rng, n: int, box) -> tuple[np.ndarray, np.ndarray]:
    return np.round(rng.uniform(box[0], box[1], n), 6), np.round(rng.uniform(box[2], box[3], n), 6)


def _write_lonlat_csv(path, rng, n):
    lon, lat = _lonlat(rng, n, LONLAT_BOX)
    null = rng.random(n) < 0.02
    truth = {}
    with open(path, "w") as fh:
        fh.write("id,name,longitude,latitude\n")
        for i in range(n):
            if null[i]:
                fh.write(f"{i},site{i % 97},,{lat[i]}\n")
            else:
                fh.write(f"{i},site{i % 97},{lon[i]},{lat[i]}\n")
                truth[i] = [(float(lon[i]), float(lat[i]))]
    return {
        "file_type": "CSV", "source_crs": "4326",
        "geom_cols": ["geom_from_longitude_latitude"],
        "out_col": "geom_from_longitude_latitude_wkt",
        "truth": truth, "tol": EXACT_TOL_DEG, "rows": len(truth),
    }


def _write_bng_csv(path, rng, n):
    e = np.round(rng.uniform(BNG_RECT[0], BNG_RECT[1], n), 1)
    nn = np.round(rng.uniform(BNG_RECT[2], BNG_RECT[3], n), 1)
    null = rng.random(n) < 0.02
    truth = {}
    with open(path, "w") as fh:
        fh.write("id,easting,northing\n")
        for i in range(n):
            if null[i]:
                fh.write(f"{i},{e[i]},\n")
            else:
                fh.write(f"{i},{e[i]},{nn[i]}\n")
                truth[i] = [bng_approx(float(e[i]), float(nn[i]))]
    return {
        "file_type": "CSV", "source_crs": "27700",
        "geom_cols": ["geom_from_easting_northing"],
        "out_col": "geom_from_easting_northing_wkt",
        "truth": truth, "tol": BNG_TOL_DEG, "rows": len(truth),
    }


def _write_merc_parquet(path, rng, n):
    lon, lat = _lonlat(rng, n, MERC_BOX)
    null = rng.random(n) < 0.02
    null[:10] = False  # the CRS probe reads the first ten geometries
    geoms, truth = [], {}
    for i in range(n):
        if null[i]:
            geoms.append(None)
            truth[i] = None
        else:
            geoms.append(_wkb("Point", [merc_forward(lon[i], lat[i])]))
            truth[i] = [(float(lon[i]), float(lat[i]))]
    pq.write_table(
        pa.table({
            "id": pa.array(range(n), pa.int64()),
            "name": [f"poi{i % 113}" for i in range(n)],
            "geom": pa.array(geoms, pa.binary()),
        }),
        path,
    )
    return {
        "file_type": "Parquet", "source_crs": "3857", "geom_cols": ["geom"],
        "out_col": "geom_wkt", "truth": truth, "tol": MERC_TOL_DEG, "rows": n,
    }


def _write_geojson(path, rng, n):
    lon, lat = _lonlat(rng, n, LONLAT_BOX)
    feats, truth = [], {}
    for i in range(n):
        xy = [float(lon[i]), float(lat[i])]
        feats.append({
            "type": "Feature",
            "geometry": {"type": "Point", "coordinates": xy},
            "properties": {"id": i, "name": f"stop{i % 31}"},
        })
        truth[i] = [tuple(xy)]
    with open(path, "w") as fh:
        json.dump({"type": "FeatureCollection", "features": feats}, fh)
    return {
        "file_type": "GeoJSON", "source_crs": "4326", "geom_cols": ["geometry_wkt"],
        "out_col": "geometry_wkt_wkt", "truth": truth, "tol": EXACT_TOL_DEG, "rows": n,
    }


def _write_shapefile(path, rng, n):
    """Zipped polygon shapefile in EPSG:27700 with an OSGB .prj."""
    records, truth = b"", {}
    xmin = ymin = math.inf
    xmax = ymax = -math.inf
    for i in range(n):
        cx = rng.uniform(BNG_RECT[0] + 2000, BNG_RECT[1] - 2000)
        cy = rng.uniform(BNG_RECT[2] + 2000, BNG_RECT[3] - 2000)
        ring = [(round(x, 2), round(y, 2)) for x, y in
                _ring(rng, cx, cy, rng.uniform(100, 1500), int(rng.integers(8, 40)))]
        ring[-1] = ring[0]
        xs, ys = [p[0] for p in ring], [p[1] for p in ring]
        xmin, xmax = min(xmin, *xs), max(xmax, *xs)
        ymin, ymax = min(ymin, *ys), max(ymax, *ys)
        content = (
            struct.pack("<i", 5) + struct.pack("<dddd", min(xs), min(ys), max(xs), max(ys))
            + struct.pack("<iii", 1, len(ring), 0)
            + b"".join(struct.pack("<dd", x, y) for x, y in ring)
        )
        records += struct.pack(">ii", i + 1, len(content) // 2) + content
        truth[i] = [bng_approx(x, y) for x, y in ring]
    shp = (
        struct.pack(">i", 9994) + b"\x00" * 20 + struct.pack(">i", (100 + len(records)) // 2)
        + struct.pack("<ii", 1000, 5) + struct.pack("<dddddddd", xmin, ymin, xmax, ymax, 0, 0, 0, 0)
        + records
    )
    field = struct.pack("<11sc4xBB14x", b"id", b"N", 10, 0)
    dbf = (
        struct.pack("<BBBBIHH20x", 3, 120, 1, 1, n, 32 + 32 + 1, 11) + field + b"\x0d"
        + b"".join(b" " + str(i).rjust(10).encode() for i in range(n)) + b"\x1a"
    )
    prj = 'PROJCS["OSGB 1936 / British National Grid",GEOGCS["OSGB 1936"]]'
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in (("parcels.shp", shp), ("parcels.dbf", dbf), ("parcels.prj", prj.encode())):
            zf.writestr(zipfile.ZipInfo(name, _ZIP_DATE), data)
    return {
        "file_type": "Shapefile", "source_crs": "27700", "geom_cols": ["geometry_wkb"],
        "out_col": "geometry_wkb_wkt", "truth": truth, "tol": BNG_TOL_DEG, "rows": n,
    }


def _write_gpkg(path, rng, n):
    """GeoPackage with mixed Point/LineString/Polygon features in 3857."""
    rows, truth = [], {}
    for i in range(n):
        kind = ("Point", "LineString", "Polygon")[i % 3]
        cx = float(rng.uniform(MERC_BOX[0] + 5, MERC_BOX[1] - 5))
        cy = float(rng.uniform(MERC_BOX[2] + 5, MERC_BOX[3] - 5))
        if kind == "Point":
            ll = [(cx, cy)]
        elif kind == "LineString":
            ll = [(cx + float(d), cy + float(rng.uniform(-1, 1))) for d in np.linspace(0, 2, 6)]
        else:
            ll = _ring(rng, cx, cy, float(rng.uniform(0.1, 2.0)), int(rng.integers(5, 12)))
        ll = [(round(x, 7), round(y, 7)) for x, y in ll]
        if kind == "Polygon":
            ll[-1] = ll[0]
        blob = b"GP\x00\x01" + struct.pack("<i", 3857) + _wkb(kind, [merc_forward(*p) for p in ll])
        rows.append((i, f"site{i}", kind, blob))
        truth[i] = ll
    with contextlib.closing(sqlite3.connect(path)) as con:
        con.executescript(
            """
            CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT, srs_id INTEGER PRIMARY KEY,
                organization TEXT, organization_coordsys_id INTEGER, definition TEXT);
            CREATE TABLE gpkg_contents (table_name TEXT PRIMARY KEY, data_type TEXT,
                identifier TEXT, srs_id INTEGER);
            CREATE TABLE gpkg_geometry_columns (table_name TEXT, column_name TEXT,
                geometry_type_name TEXT, srs_id INTEGER, z INTEGER, m INTEGER);
            INSERT INTO gpkg_spatial_ref_sys VALUES
                ('WGS 84 / Pseudo-Mercator', 3857, 'EPSG', 3857, 'undefined');
            INSERT INTO gpkg_contents VALUES ('sites', 'features', 'sites', 3857);
            INSERT INTO gpkg_geometry_columns VALUES ('sites', 'geom', 'GEOMETRY', 3857, 0, 0);
            CREATE TABLE sites (fid INTEGER PRIMARY KEY, name TEXT, kind TEXT, geom BLOB);
            """
        )
        con.executemany("INSERT INTO sites VALUES (?, ?, ?, ?)", rows)
        con.commit()
    return {
        "file_type": "Geopackage", "source_crs": "3857", "geom_cols": ["geom"],
        "out_col": "geom_wkt", "truth": truth, "tol": MERC_TOL_DEG, "rows": n,
        "id_col": "fid",
    }


_WRITERS = {
    "lonlat.csv": _write_lonlat_csv,
    "bng.csv": _write_bng_csv,
    "merc.parquet": _write_merc_parquet,
    "points.json": _write_geojson,
    "parcels.zip": _write_shapefile,
    "sites.gpkg": _write_gpkg,
}


def write_files(out_dir: str, seed: int) -> dict[str, dict]:
    """Write the six files under ``out_dir``; return ground truth per file
    (keys: file_type, source_crs, geom_cols, out_col, truth, tol, rows)."""
    os.makedirs(out_dir, exist_ok=True)
    spec = {}
    for k, (name, rows) in enumerate(FILES):
        path = os.path.join(out_dir, name)
        if os.path.exists(path):
            os.remove(path)
        spec[name] = _WRITERS[name](path, np.random.default_rng([seed, k]), rows)
        spec[name]["path"] = path
        spec[name]["bytes"] = os.path.getsize(path)
    return spec


# --------------------------------------------------------------------------
# output check
# --------------------------------------------------------------------------

_NUM_PAIR = re.compile(r"(-?[0-9.]+(?:[eE][-+]?[0-9]+)?) (-?[0-9.]+(?:[eE][-+]?[0-9]+)?)")


def wkt_coords(wkt: str) -> list[tuple[float, float]]:
    return [(float(a), float(b)) for a, b in _NUM_PAIR.findall(wkt)]


def check_output(exp: dict, file_type: str, source_crs: str, geom_cols: list[str],
                 table: pa.Table) -> list[str]:
    """Compare one ``process_file`` result (its metadata and the written
    rows) with the generator's ground truth; returns the problems found."""
    errs = []
    for key, got in (("file_type", file_type), ("source_crs", source_crs),
                     ("geom_cols", geom_cols)):
        if got != exp[key]:
            errs.append(f"{key}: got {got!r}, expected {exp[key]!r}")
    if table.num_rows != exp["rows"]:
        errs.append(f"rows: got {table.num_rows}, expected {exp['rows']}")
    col = exp["out_col"]
    if col not in table.column_names:
        return errs + [f"missing output column {col!r} in {table.column_names}"]
    if any(g in table.column_names for g in exp["geom_cols"] if g != col):
        errs.append("source geometry column was not replaced")
    ids = table.column(exp.get("id_col", "id")).to_pylist()
    wkts = table.column(col).to_pylist()
    truth, tol = exp["truth"], exp["tol"]
    seen = set()
    for i, w in zip(ids, wkts):
        i = int(i)
        if i in seen or i not in truth:
            errs.append(f"id {i}: unexpected or repeated row")
        seen.add(i)
        want = truth.get(i)
        if want is None or w is None:
            if want is not None or w is not None:
                errs.append(f"id {i}: got {w!r}, expected {want!r}")
            continue
        got = wkt_coords(w)
        if len(got) != len(want) or any(
            abs(a - c) > tol or abs(b - d) > tol for (a, b), (c, d) in zip(got, want)
        ):
            errs.append(f"id {i}: {w[:80]!r} is not within {tol} deg of {want[:2]}")
        if len(errs) > 5:
            break
    return errs
