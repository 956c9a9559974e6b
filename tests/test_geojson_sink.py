"""S4/S5 GeoJSON sink: the scalable (executor-written, driver-streamed)
merged file is byte-identical to the naive collect-and-join assembly
the reference's ``merge_geojsons`` semantics define."""

import json

import pytest
from pyspark.sql import functions as F

from osm_sidewalkreator_spark.geometry import wkb
from osm_sidewalkreator_spark.session import get_spark
from osm_sidewalkreator_spark.sources import geojson as GJ

import numpy as np


@pytest.fixture(scope="module")
def spark():
    return get_spark()


@pytest.fixture(scope="module")
def features(spark):
    rows = []
    rng = np.random.default_rng(7)
    fid = 0
    for kind in ("sidewalk", "crossing", "kerb", "protoblock"):
        for _ in range(40):
            if kind == "kerb":
                g = wkb.point_wkb(float(rng.uniform(-10, 10)),
                                  float(rng.uniform(-10, 10)))
            elif kind == "protoblock":
                x, y = rng.uniform(-10, 10, 2)
                ring = np.array([[x, y], [x + 1, y], [x + 1, y + 1],
                                 [x, y + 1], [x, y]])
                g = wkb.polygon_wkb(ring)
            else:
                pts = rng.uniform(-10, 10, (3, 2))
                g = wkb.linestring_wkb(pts)
            rows.append((kind, fid, bytearray(g)))
            fid += 1
    return spark.createDataFrame(
        rows, "kind string, fid long, geometry binary")


def test_merged_file_matches_collect_assembly(features, tmp_path):
    path = str(tmp_path / "merged.geojson")
    n = GJ.write_merged_geojson(features, path)
    assert n == 120  # protoblock excluded by default kinds

    rows = (GJ.features_to_geojson_rows(features)
            .filter(F.col("kind").isin("sidewalk", "crossing", "kerb"))
            .orderBy("kind", "fid")
            .select("feature_json").collect())
    expected = ('{"type":"FeatureCollection","features":[\n'
                + ",\n".join(r["feature_json"] for r in rows)
                + "\n]}")
    with open(path) as f:
        assert f.read() == expected


def test_merged_file_is_valid_geojson(features, tmp_path):
    path = str(tmp_path / "m.geojson")
    GJ.write_merged_geojson(features, path,
                            kinds=("sidewalk", "crossing", "kerb",
                                   "protoblock"))
    doc = json.loads(open(path).read())
    assert doc["type"] == "FeatureCollection"
    assert len(doc["features"]) == 160
    kinds = {f["properties"].get("footway", f["properties"].get(
        "barrier", "none")) for f in doc["features"]}
    assert {"sidewalk", "crossing", "kerb", "none"} <= kinds


def test_empty_features_still_valid(spark, tmp_path):
    empty = spark.createDataFrame(
        [], "kind string, fid long, geometry binary")
    path = str(tmp_path / "empty.geojson")
    n = GJ.write_merged_geojson(empty, path)
    assert n == 0
    doc = json.loads(open(path).read())
    assert doc == {"type": "FeatureCollection", "features": []}


def test_keep_parts_manifest(features, tmp_path):
    path = str(tmp_path / "with_parts.geojson")
    GJ.write_merged_geojson(features, path, keep_parts=True)
    import glob
    parts = glob.glob(path + ".parts/part-*")
    assert parts  # manifest retained for the at-scale path

def test_no_marker_but_committed_parts_ok(features, tmp_path,
                                          monkeypatch):
    """marksuccessfuljobs=false sessions commit without a _SUCCESS
    marker; the writer must accept the committed parts and verify the
    streamed count against the DataFrame instead of raising."""
    import os
    real_exists = os.path.exists
    monkeypatch.setattr(
        os.path, "exists",
        lambda p: False if str(p).endswith("_SUCCESS")
        else real_exists(p))
    path = str(tmp_path / "nomarker.geojson")
    n = GJ.write_merged_geojson(features, path)
    assert n == 120
    doc = json.loads(open(path).read())
    assert len(doc["features"]) == 120
