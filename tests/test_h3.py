"""H3-style icosahedral index: structural invariants from the public spec.

No h3 library or published test vectors exist in this environment (and the
official orientation constants are unavailable offline — see the module
docstring for the documented deviations), so correctness is established the
same way as the S2 module: spec-derived structural invariants that a wrong
implementation could not satisfy simultaneously."""

from __future__ import annotations

import numpy as np
import pytest

from air_health_gis_tools_spark.functions import h3


def _rand_points(n, seed=0):
    rng = np.random.default_rng(seed)
    lat = np.degrees(np.arcsin(rng.uniform(-1, 1, n)))
    lng = rng.uniform(-180.0, 180.0, n)
    return lat, lng


def test_base_cell_decomposition():
    """The official res-0 structure, re-derived: 122 base cells = 20 face
    centers + 60 vertex-ward ring-1 + 30 edge + 12 vertex cells."""
    assert h3.NUM_BASE_CELLS == 122
    assert int(h3.BASE_IS_VERTEX.sum()) == 12
    homes = np.array([b[0] for b in h3.BASES])
    assert set(homes.tolist()) == set(range(20))
    # every face owns its center cell
    for f in range(20):
        assert (f, 0, 0) in h3.BASE_OF
    # base centers are distinct and well-separated on the sphere
    dots = h3.BASE_CENTERS @ h3.BASE_CENTERS.T
    np.fill_diagonal(dots, -1)
    assert dots.max() < 0.999


def test_bit_layout_is_h3s():
    """mode 1 | res | base<128 | 3-bit digits, unused digits = 7 — the
    published 64-bit H3 cell layout."""
    lat, lng = _rand_points(2000, 1)
    for res in (0, 1, 7, 9, 15):
        c = h3.latlng_to_cell(lat, lng, res)
        assert ((c >> 59) & 0xF == 1).all()          # mode
        assert ((c >> 63) == 0).all()                # reserved high bit
        assert (h3.cell_resolution(c) == res).all()
        assert (h3.cell_base(c) < 122).all()
        assert h3.is_valid_cell(c).all()
        for rr in range(15):
            d = (c >> (3 * (14 - rr))) & 7
            if rr < res:
                assert (d <= 6).all(), (res, rr)
            else:
                assert (d == 7).all(), (res, rr)


def test_res0_covers_exactly_122_cells():
    lat, lng = _rand_points(60000, 2)
    c = h3.latlng_to_cell(lat, lng, 0)
    assert len(np.unique(c)) == 122
    # res 1: the spec's cell count 110*7 + 12*6 + ... = 120*7 + 2 = 842
    # (12 pentagons have 6 children each) — every one observed
    c1 = h3.latlng_to_cell(lat, lng, 1)
    assert len(np.unique(c1)) == 842


def test_center_roundtrip():
    """A cell's center maps back to the cell (away from the documented
    base-boundary slivers: allow <=0.1% exceptions, each an adjacent
    cell)."""
    lat, lng = _rand_points(20000, 3)
    for res in (0, 1, 2, 7, 9):
        c = h3.latlng_to_cell(lat, lng, res)
        clat, clng = h3.cell_to_latlng(c)
        c2 = h3.latlng_to_cell(clat, clng, res)
        frac = (c == c2).mean()
        assert frac >= 0.999, (res, frac)
        assert (h3.cell_resolution(c2) == res).all()


def test_parent_is_exact_and_hierarchical():
    lat, lng = _rand_points(20000, 4)
    c9 = h3.latlng_to_cell(lat, lng, 9)
    c7 = h3.cell_to_parent(c9, 7)
    assert h3.is_valid_cell(c7).all()
    # truncation chain is consistent: parent(parent(9->8)->7) == 9->7
    assert (h3.cell_to_parent(h3.cell_to_parent(c9, 8), 7) == c7).all()
    # parent shares the base cell
    assert (h3.cell_base(c7) == h3.cell_base(c9)).all()
    # direct assignment agrees for the vast majority (aperture-7 hierarchy
    # does not nest exactly — boundary points legitimately differ, same as
    # the official library)
    d7 = h3.latlng_to_cell(lat, lng, 7)
    agree = (c7 == d7).mean()
    assert 0.80 < agree < 1.0, agree


def test_children_invert_parent():
    lat, lng = _rand_points(50, 5)
    cells = h3.latlng_to_cell(lat, lng, 6)
    for cell in np.unique(cells)[:20]:
        ch = h3.cell_to_children(int(cell), 7)
        assert len(ch) == 7
        assert len(np.unique(ch)) == 7
        assert (h3.cell_to_parent(ch, 6) == cell).all()
        gch = h3.cell_to_children(int(cell), 8)
        assert len(gch) == 49
        assert (h3.cell_to_parent(gch, 6) == cell).all()


def test_grid_disk_sizes_interior():
    """|disk(k)| = 1 + 3k(k+1) for interior cells; disk contains the cell;
    disk(1) cells are mutual neighbors of the center."""
    # pick cells well inside a face (equatorial band, mid-face longitudes)
    lat = np.array([5.0, -3.0, 10.0])
    lng = np.array([12.0, 40.0, 80.0])
    cells = h3.latlng_to_cell(lat, lng, 7)
    for cell in cells:
        for k in (1, 2, 3):
            disk = h3.grid_disk(int(cell), k)
            assert len(disk) == 1 + 3 * k * (k + 1), (cell, k)
            assert int(cell) in disk.tolist()
        d1 = h3.grid_disk(int(cell), 1)
        for nb in d1:
            if nb != cell:
                assert int(cell) in h3.grid_disk(int(nb), 1).tolist()


def test_deterministic_and_dtype():
    lat, lng = _rand_points(5000, 7)
    a = h3.latlng_to_cell(lat, lng, 8)
    b = h3.latlng_to_cell(lat, lng, 8)
    assert np.array_equal(a, b)
    assert a.dtype == np.int64
    assert (a > 0).all()


def test_cell_size_scaling():
    """Aperture 7: mean cell 'radius' (center to farthest point mapping to
    the cell) shrinks ~sqrt(7) per res."""
    lat, lng = _rand_points(30000, 8)
    sizes = {}
    for res in (4, 5, 6):
        c = h3.latlng_to_cell(lat, lng, res)
        clat, clng = h3.cell_to_latlng(c)
        # robust scale proxy: 95th percentile angular offset
        sizes[res] = np.percentile(
            np.hypot(np.radians(lat - clat)
                     * 1.0, np.radians((lng - clng + 180) % 360 - 180)
                     * np.cos(np.radians(lat))), 95)
    r45 = sizes[4] / sizes[5]
    r56 = sizes[5] / sizes[6]
    assert 2.2 < r45 < 3.1, r45     # sqrt7 ~ 2.646
    assert 2.2 < r56 < 3.1, r56


def _pentagons_res0():
    bases = h3._pack(0, np.arange(122, dtype=np.int64),
                     np.empty((122, 0), dtype=np.int64))
    return bases[h3.is_pentagon(bases)]


def test_pentagon_set_and_validity():
    """Exactly 12 pentagons at every resolution; K-leading vertex-base ids
    are invalid (deleted subsequence)."""
    pents = _pentagons_res0()
    assert len(pents) == 12
    for res in (1, 3, 7):
        at_res = np.concatenate(
            [h3.cell_to_children(int(p), res) for p in pents])
        pr = at_res[h3.is_pentagon(at_res)]
        assert len(pr) == 12        # one center pentagon per lineage
        assert h3.is_valid_cell(at_res).all()
    # fabricate a K-leading id under a pentagon: must be invalid
    p = int(pents[0])
    bad = np.int64((p & ~(np.int64(0xF) << 52) & ~(np.int64(7) << 42))
                   | (np.int64(1) << 52) | (np.int64(1) << 42))
    assert not bool(h3.is_valid_cell(np.array([bad]))[0])
    # the same digits under a NON-pentagon base are valid
    hexb = int(np.flatnonzero(~h3.BASE_IS_VERTEX)[0])
    hexbase = h3._pack(0, np.array([hexb], dtype=np.int64),
                       np.empty((1, 0), dtype=np.int64))
    good = np.int64((int(hexbase[0]) & ~(np.int64(0xF) << 52)
                     & ~(np.int64(7) << 42))
                    | (np.int64(1) << 52) | (np.int64(1) << 42))
    assert bool(h3.is_valid_cell(np.array([good]))[0])


def test_pentagon_children_count_and_roundtrip():
    """Pentagons have 6 children at every res (count(r) = 7*count(r-1)-1
    per lineage); children invert the parent."""
    pents = _pentagons_res0()
    for p in pents[:4]:
        n = 1
        for cr in (1, 2, 3):
            ch = h3.cell_to_children(int(p), cr)
            n = n * 7 - 1
            assert len(ch) == n, (p, cr)
            assert len(np.unique(ch)) == n
            assert (h3.cell_to_parent(ch, 0) == p).all()
            assert h3.is_valid_cell(ch).all()


def test_pentagon_has_five_neighbors():
    """k-ring(1) of every pentagon = the pentagon + exactly 5 neighbors
    (spec: pentagons have 5 neighbors; the K-ward wedge folds away)."""
    for res in (0, 1, 2):
        for p0 in _pentagons_res0()[:6]:
            p = int(h3.cell_to_children(int(p0), res)[0]) if res else \
                int(p0)
            assert bool(h3.is_pentagon(np.array([p]))[0])
            disk = h3.grid_disk(p, 1)
            assert len(disk) == 6, (p, res, len(disk))
            assert p in disk.tolist()
            assert h3.is_valid_cell(disk).all()


def test_encode_total_cell_count_res1():
    """Encode saturates exactly the valid res-1 id set (842 = 120*7+2):
    no K-leading ids emitted, every legal cell reachable."""
    lat, lng = _rand_points(200000, 11)
    c1 = h3.latlng_to_cell(lat, lng, 1)
    assert h3.is_valid_cell(c1).all()
    assert len(np.unique(c1)) == 842
    lead = h3._leading_nonzero_digit(c1)
    vert = h3.BASE_IS_VERTEX[h3.cell_base(c1)]
    assert not bool((vert & (lead == 1)).any())


def test_pentagon_center_roundtrip():
    """Encoded cells around every icosahedron vertex round-trip
    encode(decode_center) == id exactly — the deleted-K rotation is
    self-consistent with decode (a rotated id's center lies in a non-K
    wedge, so re-encoding needs no rotation)."""
    rng = np.random.default_rng(5)
    lats, lngs = [], []
    for v in h3.VERTS:
        lat0 = np.degrees(np.arcsin(np.clip(v[2], -1, 1)))
        lng0 = np.degrees(np.arctan2(v[1], v[0]))
        r = rng.uniform(0, 3.0, 2000)
        a = rng.uniform(0, 2 * np.pi, 2000)
        lat = np.clip(lat0 + r * np.cos(a), -89.9, 89.9)
        lng = lng0 + r * np.sin(a) / np.maximum(
            np.cos(np.radians(lat)), 1e-3)
        lats.append(lat)
        lngs.append(lng)
    lat = np.concatenate(lats)
    lng = np.concatenate(lngs)
    for res in (1, 2, 4, 7, 9):
        c = h3.latlng_to_cell(lat, lng, res)
        assert h3.is_valid_cell(c).all()
        clat, clng = h3.cell_to_latlng(c)
        c2 = h3.latlng_to_cell(clat, clng, res)
        assert (c == c2).all(), res


def test_vertex_cells_unify_across_faces():
    """Points ringed around an icosahedron vertex all land in ONE res-0
    base cell (the vertex cell is not split between the 5 faces)."""
    v = h3.VERTS[1]
    lat0 = np.degrees(np.arcsin(v[2]))
    lng0 = np.degrees(np.arctan2(v[1], v[0]))
    ang = np.linspace(0, 360, 73)
    lat = lat0 + 0.5 * np.cos(np.radians(ang))
    lng = lng0 + 0.5 * np.sin(np.radians(ang)) / np.cos(np.radians(lat0))
    cells = h3.latlng_to_cell(lat, lng, 0)
    assert len(np.unique(cells)) == 1
    assert bool(h3.BASE_IS_VERTEX[int(h3.cell_base(cells)[0])])


def test_pentagon_area_fidelity():
    """r5 sector frames: Monte-Carlo cell-area spread in a cap around a
    pentagon vertex is bounded. The r4 single-home-face fold gave the
    IK-ward ring cell ~2x the area of its siblings (the folded K wedge);
    with the deleted-K wedge split across the five incident faces the
    ring-1 hexagon areas must be within a modest spread. The pentagon
    cell itself is excluded (it is legitimately smaller — 5 wedges of 6 —
    exactly as in official H3)."""
    rng = np.random.default_rng(23)
    res = 3
    n = 400_000
    for vi in (1, 7):                       # one upper-ring, one lower-ring
        v = h3.VERTS[vi]
        lat0 = np.degrees(np.arcsin(np.clip(v[2], -1, 1)))
        lng0 = np.degrees(np.arctan2(v[1], v[0]))
        # uniform points on a spherical cap (radius in degrees) around v
        cap_deg = 3.2
        cosr = np.cos(np.radians(cap_deg))
        z = rng.uniform(cosr, 1.0, n)       # uniform in cos(theta)
        ang = rng.uniform(0, 2 * np.pi, n)
        s = np.sqrt(1 - z * z)
        # local frame at v
        ref = np.array([0.0, 0.0, 1.0]) if abs(v[2]) < 0.9 \
            else np.array([1.0, 0.0, 0.0])
        e1 = np.cross(v, ref)
        e1 /= np.linalg.norm(e1)
        e2 = np.cross(v, e1)
        p = (z[:, None] * v[None, :]
             + (s * np.cos(ang))[:, None] * e1[None, :]
             + (s * np.sin(ang))[:, None] * e2[None, :])
        lat = np.degrees(np.arcsin(np.clip(p[:, 2], -1, 1)))
        lng = np.degrees(np.arctan2(p[:, 1], p[:, 0]))
        cells = h3.latlng_to_cell(lat, lng, res)
        uniq, counts = np.unique(cells, return_counts=True)
        # interior cells only: center well inside the cap so the count is
        # the full cell area
        clat, clng = h3.cell_to_latlng(uniq)
        cc = h3._latlng_to_xyz(clat, clng)
        inside = (cc @ v) > np.cos(np.radians(cap_deg - 0.9))
        pent = h3.is_pentagon(uniq)
        hexes = counts[inside & ~pent]
        assert len(hexes) >= 5, "cap must contain the full ring-1"
        ratio = hexes.max() / hexes.min()
        # r4 fold measured ~2x on the IK neighbor; sector frames must
        # keep the hex spread below the fold regime (gnomonic + seam
        # clipping spread remains)
        assert ratio < 1.75, (vi, ratio, np.sort(hexes))
        # the pentagon itself is smaller than the mean hexagon, never
        # larger (it has five wedges of a hexagon's six)
        if (inside & pent).any():
            pcount = counts[inside & pent][0]
            assert pcount < hexes.mean() * 1.05, (vi, pcount, hexes.mean())


def test_tight_gate_matches_loose_competition():
    """r6 optimization safety net: the derived θ-cap gate (reach + spacing,
    see h3._near_verts_tables) must emit EXACTLY the ids of the r5 loose
    gate (every base gated, no per-point filter). Uniform sample plus a
    boundary-dense band straddling θ around every icosahedron vertex —
    the only place a too-tight gate could silently change a winner."""
    rng = np.random.default_rng(77)
    n = 60_000
    z = rng.uniform(-1.0, 1.0, n)
    lat = np.degrees(np.arcsin(z))
    lng = rng.uniform(-180.0, 180.0, n)
    # boundary band: ring of points at θ ± 3° around each vertex base
    th = np.radians(h3._GATE_THETA_DEG + rng.uniform(-3.0, 3.0, 4000))
    for bv in np.flatnonzero(h3.BASE_IS_VERTEX):
        v = h3.BASE_CENTERS[int(bv)]
        ref = np.array([0.0, 0.0, 1.0]) if abs(v[2]) < 0.9 \
            else np.array([1.0, 0.0, 0.0])
        e1 = np.cross(v, ref); e1 /= np.linalg.norm(e1)
        e2 = np.cross(v, e1)
        ang = rng.uniform(0, 2 * np.pi, len(th))
        p = (np.cos(th)[:, None] * v[None, :]
             + (np.sin(th) * np.cos(ang))[:, None] * e1[None, :]
             + (np.sin(th) * np.sin(ang))[:, None] * e2[None, :])
        lat = np.concatenate([lat, np.degrees(np.arcsin(
            np.clip(p[:, 2], -1, 1)))])
        lng = np.concatenate([lng, np.degrees(np.arctan2(p[:, 1], p[:, 0]))])
    tight = (h3._NEAR_VERTS, h3._GATE_COS, h3._GATED_BASES)
    loose_nv, loose_cos = h3._near_verts_tables(None)
    try:
        for res in (1, 2, 7):
            a = h3.latlng_to_cell(lat, lng, res)
            h3._NEAR_VERTS, h3._GATE_COS = loose_nv, loose_cos
            h3._GATED_BASES = np.array(sorted(loose_nv), dtype=np.int64)
            b = h3.latlng_to_cell(lat, lng, res)
            h3._NEAR_VERTS, h3._GATE_COS, h3._GATED_BASES = tight
            assert np.array_equal(a, b), res
    finally:
        h3._NEAR_VERTS, h3._GATE_COS, h3._GATED_BASES = tight
