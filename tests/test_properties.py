"""Property-based invariants (hypothesis): codec round trips, cell-index
algebra, raster<->vector inverse, tile-shape bounds — beyond the example
oracles, these pin the kernels for arbitrary inputs."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from geedim_spark import cells, codecs, geometry
from geedim_spark.operators import masks
from geedim_spark.operators.tiler import tile_shape
from tests.reference import cells as ref_cells
from tests.reference import geometry as ref_geometry

_S = settings(max_examples=25, deadline=None)


@_S
@given(
    bands=st.integers(1, 4), h=st.integers(1, 40), w=st.integers(1, 40),
    dtype=st.sampled_from(["uint8", "uint16", "int16", "int32", "float32"]),
    seed=st.integers(0, 2**31 - 1),
)
def test_raw_roundtrip_property(bands, h, w, dtype, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 200, size=(bands, h, w)).astype(dtype)
    back = codecs.decode(codecs.encode_raw(px))
    assert back.dtype == px.dtype and np.array_equal(back, px)


@_S
@given(h=st.integers(8, 48), w=st.integers(8, 48), seed=st.integers(0, 2**31 - 1))
def test_dct8_psnr_property(h, w, seed):
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, size=(2, h, w)).astype(np.uint16)
    dec = codecs.decode(codecs.encode_dct8(px))
    assert codecs.psnr(px, dec, 255.0) >= 40.0


@_S
@given(
    x=st.floats(0, cells.WORLD_SIZE - 1), y=st.floats(0, cells.WORLD_SIZE - 1),
    res=st.integers(2, 12), dres=st.integers(1, 4),
)
def test_cell_parent_property(x, y, res, dres):
    pres = max(0, res - dres)
    c = ref_cells.np_cell(np.array([x]), np.array([y]), res)
    p = ref_cells.np_cell(np.array([x]), np.array([y]), pres)
    assert ref_cells.np_parent(c, res, pres)[0] == p[0]


@_S
@given(
    x0=st.floats(0, 90000), y0=st.floats(0, 90000),
    dx=st.floats(1, 9000), dy=st.floats(1, 9000),
    px=st.floats(0, 1), py=st.floats(0, 1),
    res=st.integers(3, 10),
)
def test_cover_contains_interior_points(x0, y0, dx, dy, px, py, res):
    x1, y1 = x0 + dx, y0 + dy
    cover = set(ref_cells.np_cover_bbox(x0, y0, x1, y1, res).tolist())
    qx, qy = x0 + px * dx, y0 + py * dy
    assert ref_cells.np_cell(np.array([qx]), np.array([qy]), res)[0] in cover


@_S
@given(seed=st.integers(0, 2**31 - 1), density=st.floats(0.05, 0.9))
def test_mask_polygon_roundtrip_property(seed, density):
    rng = np.random.default_rng(seed)
    mask = rng.random((15, 17)) < density
    tf = np.array([1.0, 0, 0, 0, -1.0, 15.0])
    polys = geometry.mask_to_polygons(mask, tf)
    back = np.zeros_like(mask)
    for p in polys:
        back |= geometry.polygon_to_mask(p, tf, 15, 17)
    assert np.array_equal(back, mask)


@_S
@given(
    count=st.integers(1, 32), h=st.integers(1, 3000), w=st.integers(1, 3000),
    mts=st.floats(0.5, 8),
    dtype=st.sampled_from(["uint8", "uint16", "float32", "float64"]),
)
def test_tile_shape_bounds_property(count, h, w, mts, dtype):
    tb, th, tw = tile_shape(count, h, w, dtype, max_tile_size=mts)
    size = np.dtype(dtype).itemsize
    if dtype.endswith("int8"):
        size *= 2
    assert 1 <= tb <= count and 1 <= th <= h and 1 <= tw <= w
    # the greedy sizing uses the reference's float formula (tile.py:258-262)
    # verbatim; an adversarial float mts (e.g. 7.999999999999999) can
    # overshoot the byte cap by ~1 part in 1e9 — permit that epsilon
    assert tb * th * tw * size <= mts * 2**20 * (1 + 1e-9)


@_S
@given(seed=st.integers(0, 2**31 - 1))
def test_edt_property_vs_bruteforce(seed):
    rng = np.random.default_rng(seed)
    src = rng.random((12, 14)) < 0.15
    if not src.any():
        src[0, 0] = True
    got = masks.edt_squared(src)
    ys, xs = np.nonzero(src)
    yy, xx = np.mgrid[0:12, 0:14]
    want = ((yy[..., None] - ys) ** 2 + (xx[..., None] - xs) ** 2).min(axis=-1)
    assert np.array_equal(got, want.astype(float))


_lon = st.floats(-180.0, 180.0, allow_nan=False)
_lat = st.floats(-89.9, 89.9, allow_nan=False)


@_S
@given(a0=_lon, a1=_lon, b0=_lon, b1=_lon)
def test_geo_arc_intersection_equals_segment_expansion(a0, a1, b0, b1):
    """Circular-arc lon intersection == expand-crossing-arcs brute force."""
    def segs(x0, x1):
        return [(x0, x1)] if x0 <= x1 else [(x0, 180.0), (-180.0, x1)]

    want = any(
        s0 <= t1 and s1 >= t0
        for s0, s1 in segs(a0, a1) for t0, t1 in segs(b0, b1)
    )
    got = bool(
        ref_geometry.lon_interval_contains(a0, a1, b0)
        | ref_geometry.lon_interval_contains(b0, b1, a0)
    )
    assert got == want


@_S
@given(
    lon0=_lon, lat0=_lat, dlon=st.floats(0.0, 359.0), dlat=st.floats(0.0, 20.0),
    fx=st.floats(0.0, 1.0), fy=st.floats(0.0, 1.0), res=st.integers(3, 8),
)
def test_geo_cover_contains_interior_points(lon0, lat0, dlon, dlat, fx, fy, res):
    """Every point inside a (possibly antimeridian-crossing) geographic bbox
    falls in a covered cell."""
    lat1 = min(lat0 + dlat, 89.9)
    raw1 = lon0 + dlon
    lon1 = raw1 - 360.0 if raw1 > 180.0 else raw1   # crossing iff wrapped
    plon = lon0 + fx * dlon                          # interior point (unwrapped)
    plat = lat0 + fy * (lat1 - lat0)
    cover = set(ref_cells.np_geo_cover_bbox(lon0, lat0, lon1, lat1, res).tolist())
    pcell = int(ref_cells.np_geo_cell(np.array([plon]), np.array([plat]), res)[0])
    assert pcell in cover


# ---------------------------------------------------------------------------
# driver-contract registry guards (no Spark session needed)
# ---------------------------------------------------------------------------

def test_priority_prefix_covers_every_family():
    """The driver's CORRECTNESS gate checks only the first PRIORITY_WINDOW
    queries() entries.  Guard: every operator family keeps at least one
    oracle inside that window, every query is classified in exactly one
    family, and every entry has an oracle_sql twin.  A new query that
    pushes a family out of the window turns this red."""
    import __spark_entry__ as entrymod

    names = list(entrymod.queries())
    prefix = set(names[: entrymod.PRIORITY_WINDOW])
    classified = [q for fam in entrymod.QUERY_FAMILIES.values() for q in fam]
    assert len(classified) == len(set(classified)), "query in two families"
    assert set(classified) == set(names), (
        "family map out of sync with queries(): "
        f"unclassified={set(names) - set(classified)} "
        f"stale={set(classified) - set(names)}"
    )
    missing = {
        fam: qs for fam, qs in entrymod.QUERY_FAMILIES.items()
        if not prefix.intersection(qs)
    }
    assert not missing, (
        f"families with no oracle in the first {entrymod.PRIORITY_WINDOW} "
        f"queries: {missing}"
    )
    oracles = entrymod.oracle_sql()
    no_oracle = set(names) - set(oracles)
    assert not no_oracle, f"queries without an oracle_sql twin: {no_oracle}"


def test_landsat_strip_mock_reference_fractions():
    """Image 0 of the strip-mock world reproduces the reference fixture's
    exact per-flag portions (test_mask.py:482-564)."""
    bands = masks.landsat_strip_bands(0)
    total = bands["QA_PIXEL"].size
    coll = "LANDSAT/LC08/C02/T1_L2"

    ref = masks.masks_for(coll, bands)
    assert ref["FILL_MASK"].sum() / total == 0.9
    assert ref["CLOUD_MASK"].sum() / total == 0.3
    assert ref["SHADOW_MASK"].sum() / total == 0.2
    assert ref["CLOUDLESS_MASK"].sum() / total == 0.4

    nsh = masks.masks_for(coll, bands, mask_shadows=False)
    assert "SHADOW_MASK" not in nsh
    assert nsh["CLOUDLESS_MASK"].sum() / total == 0.6

    ncir = masks.masks_for(coll, bands, mask_cirrus=False)
    assert ncir["CLOUD_MASK"].sum() / total == 0.2

    sat = masks.masks_for(coll, bands, mask_saturation=True)
    assert sat["SATURATION_MASK"].sum() / total == 0.1
    assert sat["CLOUDLESS_MASK"].sum() / total == 0.3

    nphys = masks.masks_for(
        coll, bands, mask_saturation=True, mask_nonphysical=True
    )
    assert nphys["NONPHYSICAL_MASK"].sum() / total == 0.1
    assert nphys["CLOUDLESS_MASK"].sum() / total == 0.2

    aero = masks.masks_for(
        coll, bands, mask_saturation=True, mask_nonphysical=True,
        mask_aerosols=True,
    )
    assert aero["AEROSOL_MASK"].sum() / total == 0.1
    assert aero["CLOUDLESS_MASK"].sum() / total == 0.1


def test_landsat_toa_family_drops_sr_only_flags():
    """TOA/raw collections have no SR bands: nonphysical/aerosol flags are
    silently inapplicable (mask.py:228-263 subclass split)."""
    bands = masks.landsat_strip_bands(0)
    toa_bands = {
        ("B" + n[4:] if n.startswith("SR_B") else n): v
        for n, v in bands.items() if n != "SR_QA_AEROSOL"
    }
    m = masks.masks_for(
        "LANDSAT/LC08/C02/T1_TOA", toa_bands,
        mask_nonphysical=True, mask_aerosols=True,
    )
    assert "NONPHYSICAL_MASK" not in m
    assert "AEROSOL_MASK" not in m


def test_registry_count_is_exact():
    """Audit-trail hygiene (VERDICT r4 #7): the registry size quoted in
    round notes must be mechanically true.  Bump EXPECTED when adding a
    query AND update NOTES_r{N}.md with the same number."""
    import __spark_entry__ as entry

    EXPECTED = 112
    assert len(entry.queries()) == EXPECTED
    # every oracle key must name a registered query
    assert set(entry.oracle_sql()) <= set(entry.queries())
