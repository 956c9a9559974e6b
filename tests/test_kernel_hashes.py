"""Bit-exact pin of the tile kernel's output.

``kernels.tile_pipeline`` runs on the synthetic city of
``tests/test_geometry.py`` (6x6 grid, one diagonal, one building
hugging a street, one mapped sidewalk loop inside a block; the
``voronoi_pois`` variant adds 60 seeded POIs, so the per-block Voronoi
split runs), and every output array is hashed (sha256 over its
dtype, shape and bytes). A refactor of the geometric primitives must
leave every hash unchanged; a hash change means some float moved.
"""

import hashlib

import numpy as np
import pytest

from osm_sidewalkreator_spark.plans import kernels


def _city():
    k, s = 6, 100.0
    segs, widths = [], []
    for i in range(k):
        for j in range(k - 1):
            segs.append([j * s, i * s, (j + 1) * s, i * s])
            widths.append(6.0 if i % 2 else 10.0)
            segs.append([i * s, j * s, i * s, (j + 1) * s])
            widths.append(6.0)
    segs.append([0, 0, (k - 1) * s, (k - 1) * s])
    widths.append(12.0)
    bseg = np.array([[50, 0.8, 70, 0.8], [70, 0.8, 70, 20],
                     [70, 20, 50, 20], [50, 20, 50, 0.8]])
    esw = np.array([[108, 108, 192, 108], [192, 108, 192, 192],
                    [192, 192, 108, 192], [108, 192, 108, 108]], float)
    existing = (esw, np.array(["e1"] * 4, dtype=object), np.full(4, 336.0))
    return np.array(segs, float), np.array(widths), bseg, existing


def _feed(h, value):
    if isinstance(value, np.ndarray):
        h.update(f"{value.dtype.str}{value.shape}".encode())
        h.update(np.ascontiguousarray(value).tobytes())
    elif isinstance(value, dict):
        for k in sorted(value):
            h.update(k.encode())
            _feed(h, value[k])
    elif isinstance(value, (list, tuple)):
        h.update(f"[{len(value)}]".encode())
        for v in value:
            _feed(h, v)
    else:
        h.update(repr(value).encode())


def output_hashes(out: dict) -> dict:
    hashes = {}
    for key in sorted(out):
        h = hashlib.sha256()
        _feed(h, out[key])
        hashes[key] = h.hexdigest()[:16]
    return hashes


# outputs the three variants share
_SHARED = {
    "protoblocks": "fc1e2ddef6537d90", "noded": "45626d02e00bd91b",
    "noded_widths": "7ad0250f020a43a4", "sure_zones": "d0bca111f8628137",
    "exclusion_zones": "d0bca111f8628137"}
EXPECTED = {
    "default": {
        **_SHARED, "crossings": "4d530df0e3319437",
        "kerbs": "0aea659dc8ab166b", "sidewalks": "8092fdfed5a73931"},
    "enlarge_crossings": {
        **_SHARED, "crossings": "0502e2ccd4a6dd3c",
        "kerbs": "a11f05f6ad26809d", "sidewalks": "96a0175bbbcdf9c3"},
    "export_snap": {
        **_SHARED, "crossings": "4d530df0e3319437",
        "kerbs": "0aea659dc8ab166b", "sidewalks": "c0acd513127da369"},
    "voronoi_pois": {
        **_SHARED, "crossings": "4d530df0e3319437",
        "kerbs": "0aea659dc8ab166b", "sidewalks": "7f09f0649c0ee0fe"},
}


@pytest.mark.parametrize("variant", sorted(EXPECTED))
def test_tile_pipeline_output_is_bit_exact(variant):
    segs, widths, bseg, existing = _city()
    out = kernels.tile_pipeline(
        segs, widths, building_segs=bseg, existing_sw=existing,
        pois=np.random.default_rng(7).uniform(0, 500, size=(60, 2))
        if variant == "voronoi_pois" else None,
        enlarge_crossings=variant == "enlarge_crossings",
        export_snap=variant == "export_snap")
    assert output_hashes(out) == EXPECTED[variant]
