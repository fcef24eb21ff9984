"""Self-checks of the benchmark's generators and output checks (no Spark).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
import geodata  # noqa: E402
from workloads import check_rows  # noqa: E402

from tests.oracle_harness import normalize  # noqa: E402


def _contents(directory) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_one_seed_generates_byte_identical_inputs(tmp_path):
    for sub in ("a", "b"):
        geodata.write_files(str(tmp_path / sub / "geo"), 11)
        datagen.write_tables(str(tmp_path / sub / "data"), 11, 0.001, 200, 100)
    for kind in ("geo", "data"):
        a, b = _contents(tmp_path / "a" / kind), _contents(tmp_path / "b" / kind)
        assert a.keys() == b.keys() and a == b
    geodata.write_files(str(tmp_path / "c"), 12)
    other = _contents(tmp_path / "c")
    assert all(other[n] != a_bytes for n, a_bytes in _contents(tmp_path / "a" / "geo").items())


@pytest.fixture(scope="module")
def geo_spec(tmp_path_factory):
    return geodata.write_files(str(tmp_path_factory.mktemp("geo")), 3)


def _correct_output(exp) -> dict[str, list]:
    """The rows a correct process_file writes, built from ground truth."""
    ids, wkts = [], []
    for i, coords in exp["truth"].items():
        ids.append(i)
        wkts.append(None if coords is None else
                    "GEOMETRY (" + ", ".join(f"{x!r} {y!r}" for x, y in coords) + ")")
    return {exp.get("id_col", "id"): ids, exp["out_col"]: wkts}


def _check(exp, cols, **meta):
    got = {"file_type": exp["file_type"], "source_crs": exp["source_crs"],
           "geom_cols": list(exp["geom_cols"])} | meta
    return geodata.check_output(exp, got["file_type"], got["source_crs"],
                                got["geom_cols"], pa.table(cols))


def _shift(w, dx):
    coords = geodata.wkt_coords(w)
    coords[0] = (coords[0][0] + dx, coords[0][1])
    return "POINT (" + ", ".join(f"{x!r} {y!r}" for x, y in coords) + ")"


@pytest.mark.parametrize("name", [n for n, _ in geodata.FILES])
def test_geo_check_accepts_ground_truth_and_rejects_corruption(geo_spec, name):
    exp = geo_spec[name]
    good = _correct_output(exp)
    assert _check(exp, good) == []
    id_col, out = exp.get("id_col", "id"), exp["out_col"]
    k = next(j for j, w in enumerate(good[out]) if w is not None)

    def corrupt(fn):
        cols = {c: list(v) for c, v in good.items()}
        fn(cols)
        return _check(exp, cols)

    def moved(cols):
        cols[out][k] = _shift(cols[out][k], 10 * exp["tol"])

    def nulled(cols):
        cols[out][k] = None

    def dropped(cols):
        del cols[id_col][k], cols[out][k]

    def repeated(cols):
        cols[id_col][k + 1] = cols[id_col][k]

    for fn in (moved, nulled, dropped, repeated):
        assert corrupt(fn), fn.__name__
    assert _check(exp, good, source_crs="4326" if exp["source_crs"] != "4326" else "3857")
    assert _check(exp, good, geom_cols=[])
    assert _check(exp, {id_col: good[id_col], "geom": good[out]})


def test_query_check_rejects_a_changed_value():
    cols = ["k", "v"]
    rows = [(1, 0.25), (2, 1.5), (3, None)]
    expected = normalize(cols, rows)
    table = pa.table({"v": [1.5, 0.25, None], "k": [2, 1, 3]})
    assert check_rows("q", expected, table) == []
    assert check_rows("q", expected, pa.table({"k": [1, 2, 3], "v": [0.25, 1.5, 1e-6]}))
    assert check_rows("q", expected, pa.table({"k": [1, 2], "v": [0.25, 1.5]}))
    assert check_rows("q", expected, pa.table({"k": [1, 2, 3], "w": [0.25, 1.5, None]}))


def test_bng_approximation_matches_the_engine_transform():
    from duckdb_postgis_spark.functions.geo import bng_to_wgs84

    e0, e1, n0, n1 = geodata.BNG_RECT
    for e in (e0, (e0 + e1) / 2, e1):
        for n in (n0, (n0 + n1) / 2, n1):
            lon, lat = bng_to_wgs84(e, n)
            alon, alat = geodata.bng_approx(e, n)
            assert abs(lon - alon) < geodata.BNG_TOL_DEG / 3
            assert abs(lat - alat) < geodata.BNG_TOL_DEG / 3
