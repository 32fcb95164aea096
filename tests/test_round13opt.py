"""Round-13 optimization parity tests: the mapInArrow geometry
kernels (functions/arrowgeom.py) must be BIT-IDENTICAL to the Column
formulations they replace — same cells, same containment decisions,
same clipped areas and serialized WKT — over adversarial geometry the
production queries never reach (self-intersecting rings, holes,
multipart, centers exactly on edges/vertices, degenerate <3-vertex
rings, empty clips)."""

import random

import pytest
from pyspark.sql import functions as F

from soil_data_development_tools___arcmap_spark.functions import arrowgeom
from soil_data_development_tools___arcmap_spark.functions.geometry import (
    clip_area2x_rect_pts,
    clip_ring_pts_to_rect,
    normalize_ring,
    point_in_edges,
    ring_area2x,
    ring_to_wkt,
    rings_to_edges,
    _let,
)


def _random_ring(rng, n, span=20, grid=1):
    return [
        (rng.randrange(0, span) * grid, rng.randrange(0, span) * grid)
        for _ in range(n)
    ]


def _ring_wkt(pts):
    closed = list(pts) + [pts[0]]
    return "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in closed) + "))"


def test_inventory_kernel_matches_column_adversarial(spark):
    """Scanline kernel vs the Column point_in_edges cell inventory:
    random integer polygons (self-intersecting allowed — the even-odd
    rule is defined for any edge set), rings with holes, MULTIPOLYGON,
    diagonal edges whose cells centers lie exactly ON the edge, and
    degenerate rings. Exact same (poly, col, row) cell set required."""
    from soil_data_development_tools___arcmap_spark.functions.raster import (
        polygon_cell_inventory,
    )

    rng = random.Random(13)
    wkts = []
    # random (often self-intersecting) rings on mixed odd/even ints
    for i in range(40):
        pts = _random_ring(rng, rng.randrange(3, 9))
        wkts.append(_ring_wkt(pts))
    # diagonal edge passing exactly through cell centers (1,1), (3,3)
    wkts.append("POLYGON ((0 0, 4 4, 4 0, 0 0))")
    # square with hole; center of the hole must drop
    wkts.append("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), "
                "(4 4, 6 4, 6 6, 4 6, 4 4))")
    # multipart
    wkts.append("MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), "
                "((10 10, 14 10, 14 14, 10 14, 10 10)))")
    # degenerate: <3 vertices after parse
    wkts.append("POLYGON ((2 2, 2 2, 2 2))")
    # signed coordinates: bboxes left of / below zero and straddling it.
    # Tile indices truncate toward zero, so the last tile of a
    # negative-x bbox can have an empty column range; they are also
    # checked on their own, where that tile leads its Arrow batch.
    n_unsigned = len(wkts)
    wkts.append("POLYGON ((-15 1, -13 1, -13 9, -15 9, -15 1))")
    wkts.append("POLYGON ((1 -15, 9 -15, 9 -13, 1 -13, 1 -15))")
    wkts.append("POLYGON ((-20 -20, -2 -20, -2 -2, -20 -2, -20 -20), "
                "(-12 -12, -8 -12, -8 -8, -12 -8, -12 -12))")
    wkts.append("POLYGON ((-7 -5, 6 -3, 3 8, -4 6, -7 -5))")
    wkts.append("MULTIPOLYGON (((-9 -9, -5 -9, -5 -5, -9 -5, -9 -9)), "
                "((3 -9, 7 -9, 7 -5, 3 -5, 3 -9)))")
    for i in range(20):
        pts = _random_ring(rng, rng.randrange(3, 9))
        wkts.append(_ring_wkt([(x - 10, y - 10) for x, y in pts]))
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(wkts)], "k int, wkt string"
    )
    signed_df = df.where(F.col("k") >= n_unsigned)

    def cells(mode, cs, tc, frame=df):
        spark.conf.set("spark.graft.geom.kernel", mode)
        try:
            out = polygon_cell_inventory(
                frame, cell_size=cs, tile_cells=tc
            ).collect()
        finally:
            spark.conf.set("spark.graft.geom.kernel", "arrow")
        return sorted(
            (r["k"], r["tile_x"], r["tile_y"], r["col"], r["row"],
             r["cx"], r["cy"])
            for r in out
        )

    for cs, tc in ((2, 4), (2, 8), (4, 4)):
        a = cells("arrow", cs, tc)
        b = cells("column", cs, tc)
        assert a == b, (cs, tc, len(a), len(b))
    for cs, tc in ((2, 4), (2, 64)):
        a = cells("arrow", cs, tc, signed_df)
        b = cells("column", cs, tc, signed_df)
        assert a == b, ("signed", cs, tc, len(a), len(b))
    assert len(cells("arrow", 2, 4)) > 100  # non-vacuous
    signed = {r[0] for r in cells("arrow", 2, 4, signed_df)}
    assert len(signed) > 20  # the signed rings reach the kernel


def test_points_kernel_matches_column_adversarial(spark):
    """filter_points_in_edges vs the Column point_in_edges filter:
    probes exactly on edges, on vertices, inside holes, outside —
    identical keep set (the strict/non-strict crossing asymmetry must
    be reproduced exactly)."""
    rng = random.Random(31)
    rows = []
    wkts = [
        "POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 6 2, 6 6, 2 6, 2 2))",
        "POLYGON ((0 0, 4 4, 4 0, 0 0))",
        _ring_wkt(_random_ring(rng, 7)),
        _ring_wkt(_random_ring(rng, 5)),
    ]
    pid = 0
    for wi, w in enumerate(wkts):
        for _ in range(60):
            rows.append((wi, pid, rng.randrange(0, 10), rng.randrange(0, 10), w))
            pid += 1
        # vertex / edge probes
        rows.append((wi, pid, 0, 0, w)); pid += 1
        rows.append((wi, pid, 2, 2, w)); pid += 1
        rows.append((wi, pid, 4, 4, w)); pid += 1
    df = spark.createDataFrame(
        rows, "okey int, pkey int, px long, py long, wkt string"
    ).select(
        "okey", "pkey", "px", "py",
        rings_to_edges(
            __import__(
                "soil_data_development_tools___arcmap_spark.functions.geometry",
                fromlist=["parse_geom_rings"],
            ).parse_geom_rings("wkt")
        ).alias("edges"),
    )
    kern = sorted(
        (r["okey"], r["pkey"], r["px"], r["py"])
        for r in arrowgeom.filter_points_in_edges(
            df, "edges", "px", "py", ["okey", "pkey", "px", "py"]
        ).collect()
    )
    col = sorted(
        (r["okey"], r["pkey"], r["px"], r["py"])
        for r in df.where(
            point_in_edges(F.col("edges"), F.col("px"), F.col("py")) == 1
        ).select("okey", "pkey", "px", "py").collect()
    )
    assert kern == col
    assert 0 < len(kern) < len(rows)  # non-vacuous both ways


def _mk_ring_df(spark, rows):
    """rows: (id, pts, wx0, wy0, wx1, wy1) with pts open-ring float
    tuples → DataFrame with aring array<struct<x,y:double>> + window."""
    data = [
        (i, [(float(x), float(y)) for x, y in pts], *map(int, win))
        for i, pts, *win in [(r[0], r[1], r[2], r[3], r[4], r[5]) for r in rows]
    ]
    return spark.createDataFrame(
        data,
        "id int, aring array<struct<x:double,y:double>>, "
        "bx0 long, by0 long, bx1 long, by1 long",
    )


def _overlay_cases():
    rng = random.Random(77)
    rows = []
    i = 0
    # random integer rings (concave / self-intersecting included)
    for _ in range(50):
        pts = _random_ring(rng, rng.randrange(3, 9))
        x0 = rng.randrange(0, 16); y0 = rng.randrange(0, 16)
        rows.append((i, pts, x0, y0, x0 + rng.randrange(1, 10),
                     y0 + rng.randrange(1, 10)))
        i += 1
    # quarter-integer coordinates (exact in binary; exercises the
    # interpolation and fold order on non-integral doubles)
    for _ in range(30):
        pts = [
            (rng.randrange(0, 64) / 4.0, rng.randrange(0, 64) / 4.0)
            for _ in range(rng.randrange(3, 8))
        ]
        x0 = rng.randrange(0, 12); y0 = rng.randrange(0, 12)
        rows.append((i, pts, x0, y0, x0 + rng.randrange(1, 8),
                     y0 + rng.randrange(1, 8)))
        i += 1
    # disjoint (empty clip), degenerate (2-point ring), edge-touching
    rows.append((i, [(0, 0), (2, 0), (2, 2), (0, 2)], 10, 10, 12, 12)); i += 1
    rows.append((i, [(0, 0), (5, 5)], 0, 0, 8, 8)); i += 1
    rows.append((i, [(0, 0), (4, 0), (4, 4), (0, 4)], 4, 0, 8, 4)); i += 1
    return rows


def test_overlay_kernel_area_matches_column(spark):
    rows = _overlay_cases()
    df = _mk_ring_df(spark, rows)
    kern = {
        r["id"]: r["ov_a2x"]
        for r in arrowgeom.overlay_clip_rect(
            df, "aring", "bx0", "by0", "bx1", "by1", ["id"]
        ).collect()
    }
    col = {
        r["id"]: r["ov_a2x"]
        for r in df.select(
            "id",
            clip_area2x_rect_pts(
                F.col("aring"),
                F.col("bx0").cast("double"), F.col("by0").cast("double"),
                F.col("bx1").cast("double"), F.col("by1").cast("double"),
            ).alias("ov_a2x"),
        ).where(F.col("ov_a2x") > 0).collect()
    }
    assert kern == col
    assert 5 < len(kern) < len(rows)  # survivors and drops both present


def test_overlay_kernel_wkt_matches_column(spark):
    rows = _overlay_cases()
    df = _mk_ring_df(spark, rows)
    kern = {
        r["id"]: (r["clip_wkt"], r["ov_a2x"])
        for r in arrowgeom.overlay_clip_rect(
            df, "aring", "bx0", "by0", "bx1", "by1", ["id"], emit_wkt=True
        ).collect()
    }
    clipped = _let(
        clip_ring_pts_to_rect(
            F.col("aring"),
            F.col("bx0").cast("double"), F.col("by0").cast("double"),
            F.col("bx1").cast("double"), F.col("by1").cast("double"),
        ),
        lambda c: F.struct(
            ring_to_wkt(normalize_ring(c)).alias("clip_wkt"),
            F.round(ring_area2x(c)).cast("long").alias("ov_a2x"),
        ),
    )
    col = {
        r["id"]: (r["clip_wkt"], r["ov_a2x"])
        for r in df.select(
            "id", clipped["clip_wkt"].alias("clip_wkt"),
            clipped["ov_a2x"].alias("ov_a2x"),
        ).where(F.col("ov_a2x") > 0).collect()
    }
    assert kern == col


def test_checkpoint_policy_knob(spark, tmp_path):
    """spark.graft.checkpoint = local (default) | reliable | off must
    produce identical dedup results; 'reliable' without a directory
    fails loudly; with a directory it writes real checkpoint files."""
    import os

    from soil_data_development_tools___arcmap_spark.functions.dedup import (
        minhash_lsh_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g x"),
            (3, "q r s t u v w z"),
            (4, "q r s t u v w z"),
            (5, "m n o p"),
        ],
        "doc_id long, text string",
    )

    def pairs(mode):
        spark.conf.set("spark.graft.checkpoint", mode)
        try:
            return sorted(
                (r["i"], r["j"], r["jac_e4"])
                for r in minhash_lsh_pairs(docs).collect()
            )
        finally:
            spark.conf.set("spark.graft.checkpoint", "local")

    base = pairs("local")
    assert base  # non-vacuous
    assert pairs("off") == base

    with pytest.raises(Exception) as ei:
        pairs("reliable")
    assert "checkpoint" in str(ei.value)

    ckdir = str(tmp_path / "ck")
    spark.conf.set("spark.graft.checkpoint.dir", ckdir)
    try:
        assert pairs("reliable") == base
        assert any(
            fns for _, _, fns in os.walk(ckdir)
        ), "no checkpoint files written"
    finally:
        spark.conf.unset("spark.graft.checkpoint.dir")


def test_kernel_kill_switch_restores_column_plan(spark):
    """spark.graft.geom.kernel=column must remove every Python node
    from the inventory plan (the documented fallback)."""
    from soil_data_development_tools___arcmap_spark.functions.raster import (
        polygon_cell_inventory,
    )

    df = spark.createDataFrame(
        [(1, "POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))")], "k int, wkt string"
    )
    arrow_plan = polygon_cell_inventory(df, tile_cells=4)._jdf\
        .queryExecution().executedPlan().toString()
    assert "MapInArrow" in arrow_plan, arrow_plan
    spark.conf.set("spark.graft.geom.kernel", "column")
    try:
        col_plan = polygon_cell_inventory(df, tile_cells=4)._jdf\
            .queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.graft.geom.kernel", "arrow")
    for node in ("MapInArrow", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in col_plan, col_plan
