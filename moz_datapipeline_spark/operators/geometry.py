"""Polygon dissolve (grouped union) for edge-matched tilings.

Reference: scripts/preparation.sh:149-151 — mapshaper ``-dissolve2``
merges Maputo city into its province before the network build. Admin
boundary sets are edge-matched tilings (adjacent districts share their
border vertices exactly), so the union is computable exactly by
shared-edge cancellation, Spark-first:

1. explode every ring into directed edges (coordinates quantized so
   float twins key identically),
2. ONE distributed groupBy on (group, undirected edge key): an edge
   seen twice is interior to the union and vanishes; an edge seen once
   is boundary — this is the whole geometric workload and it scales as
   a plain hash aggregation (map-side partials, AQE skew-split),
3. stitch each group's surviving directed edges into closed rings with
   a tiny per-group kernel (``applyInPandas``) — O(E log E) per group,
   deterministic (walks start at the smallest unused edge and always
   take the smallest unused continuation).

Matches dissolve2 semantics for edge-matched inputs (the admin case)
without a computational-geometry dependency. Arbitrary overlapping
unions are out of scope. Input rings must be consistently wound
(exteriors CCW, holes CW — the GeoJSON/shapefile convention after
normalization); output exterior rings keep CCW, dissolved holes come
out CW, so the shoelace measures in ``functions.geo`` apply directly.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from moz_datapipeline_spark.iterate import checkpoint_sever, owned


def ring_edges(
    rings_x: Column | str, rings_y: Column | str, quant: int = 9
) -> Column:
    """All directed edges of a (multi)polygon as an array of structs.

    Open rings are closed implicitly (wrap edge); the degenerate wrap
    of explicitly closed rings is dropped by the caller's filter.
    Coordinates are rounded to ``quant`` decimals so edges shared
    between neighboring polygons compare equal bit-for-bit.
    """
    rx = F.col(rings_x) if isinstance(rings_x, str) else rings_x
    ry = F.col(rings_y) if isinstance(rings_y, str) else rings_y

    def per_ring(k: Column) -> Column:
        xs = F.element_at(rx, k + 1)
        ys = F.element_at(ry, k + 1)
        n = F.size(xs)

        def edge(i: Column) -> Column:
            return F.struct(
                F.round(F.element_at(xs, i + 1), quant).alias("x1"),
                F.round(F.element_at(ys, i + 1), quant).alias("y1"),
                F.round(F.element_at(xs, (i + 1) % n + 1), quant).alias("x2"),
                F.round(F.element_at(ys, (i + 1) % n + 1), quant).alias("y2"),
            )

        return F.transform(F.sequence(F.lit(0), n - 1), edge)

    return F.flatten(
        F.transform(F.sequence(F.lit(0), F.size(rx) - 1), per_ring)
    )


def boundary_edges(
    df: DataFrame,
    group_key: str,
    rings_x: str = "rings_x",
    rings_y: str = "rings_y",
    quant: int = 9,
) -> DataFrame:
    """Directed edges of the dissolved boundary per group.

    The cancellation groupBy: undirected edges seen an even number of
    times are interior (shared by two polygons of the group) and drop;
    odd survivors keep their directed orientation. Returns
    (group_key, x1, y1, x2, y2).
    """
    e = (
        df.select(
            F.col(group_key).alias("_g"),
            F.explode(ring_edges(rings_x, rings_y, quant)).alias("_e"),
        )
        .select("_g", "_e.*")
        .filter(~((F.col("x1") == F.col("x2")) & (F.col("y1") == F.col("y2"))))
    )
    fwd = (F.col("x1") < F.col("x2")) | (
        (F.col("x1") == F.col("x2")) & (F.col("y1") < F.col("y2"))
    )
    keyed = e.select(
        "_g",
        "x1",
        "y1",
        "x2",
        "y2",
        F.when(fwd, F.struct("x1", "y1", "x2", "y2"))
        .otherwise(
            F.struct(
                F.col("x2").alias("x1"),
                F.col("y2").alias("y1"),
                F.col("x1").alias("x2"),
                F.col("y1").alias("y2"),
            )
        )
        .alias("_k"),
    )
    return (
        keyed.groupBy("_g", "_k")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.min(F.struct("x1", "y1", "x2", "y2")).alias("_d"),
        )
        .filter(F.col("_n") % 2 == 1)
        .select(F.col("_g").alias(group_key), "_d.*")
    )


def dissolve(
    df: DataFrame,
    group_key: str,
    rings_x: str = "rings_x",
    rings_y: str = "rings_y",
    quant: int = 9,
) -> DataFrame:
    """Grouped polygon union (ST_Union-by-key) for edge-matched inputs.

    Returns one row per group with the dissolved rings (open, exterior
    CCW / holes CW as inherited from the inputs), rings sorted by their
    lexicographically smallest vertex and rotated to start there —
    byte-stable output independent of partitioning.
    """
    import pandas as pd

    boundary = boundary_edges(df, group_key, rings_x, rings_y, quant)
    out_schema = StructType(
        [
            StructField(group_key, df.schema[group_key].dataType),
            StructField(rings_x, ArrayType(ArrayType(DoubleType()))),
            StructField(rings_y, ArrayType(ArrayType(DoubleType()))),
        ]
    )

    def stitch(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf[group_key].iloc[0]
        edges = sorted(zip(pdf["x1"], pdf["y1"], pdf["x2"], pdf["y2"]))
        adj: dict = defaultdict(list)
        for x1, y1, x2, y2 in edges:
            adj[(x1, y1)].append((x2, y2))
        for k in adj:
            adj[k].sort(reverse=True)  # pop() takes the smallest
        rings = []
        for x1, y1, _x2, _y2 in edges:
            if not adj[(x1, y1)]:
                continue
            start = (x1, y1)
            ring = [start]
            cur = adj[start].pop()
            while cur != start:
                ring.append(cur)
                nxt = adj.get(cur)
                if not nxt:
                    raise ValueError(
                        "dissolve: boundary edges do not close — input "
                        "polygons are not an edge-matched tiling "
                        f"(stuck at vertex {cur} in group {g!r})"
                    )
                cur = nxt.pop()
            m = min(range(len(ring)), key=lambda i: ring[i])
            rings.append(ring[m:] + ring[:m])
        rings.sort(key=lambda r: (r[0], len(r)))
        return pd.DataFrame(
            [
                {
                    group_key: g,
                    rings_x: [[p[0] for p in r] for r in rings],
                    rings_y: [[p[1] for p in r] for r in rings],
                }
            ]
        )

    return boundary.groupBy(group_key).applyInPandas(stitch, out_schema)


def grid_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    cell_deg: float = 1.0,
    id_col: str = "id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    query_id_col: str | None = None,
) -> DataFrame:
    """Grid-bucketed spatial k-nearest-neighbor join:
    ``(query_id, corpus_id, dist_km, rank)`` — for each query point,
    the ``k`` closest corpus points AMONG candidates sharing the
    query's lon/lat grid cell or one of its 8 neighbors.  The scalable
    form of "snap each asset to its nearest facilities"
    (scripts/prep-bridge.js:27-47 does the O(N·M) scan; J5's
    ``argmin_join`` is its k=1 exact twin on pre-bucketed pairs) —
    here the grid bounds the candidate set so the join never goes
    quadratic.

    Deliberately approximate at the ring boundary: a true neighbor
    farther than one cell away is unseen (standard grid-file trade;
    pick ``cell_deg`` ≳ the expected k-NN radius).  Queries with an
    empty 3×3 neighborhood emit nothing.  Deterministic: ties on
    distance break by corpus id.

    Plan shape: the corpus keys ONCE by its own cell; the query side
    explodes into its 9 candidate cells (a constant-width literal
    array — no extra shuffle source) and equi-joins on the cell key —
    ONE hash-partitioned join whose fan-in per task is the local
    point density, never |corpus|.  Top-k rides a
    ``row_number() ≤ k`` window partitioned by query id —
    WindowGroupLimit keeps per-partition heaps below the exchange.
    At 100 TB: both sides shuffle by cell/query key only; skewed
    megacity cells split under AQE; no broadcast of either side is
    required (but a dimension-sized corpus side will auto-broadcast).
    """
    if k < 1:
        raise ValueError("grid_knn_join: k must be >= 1")
    if cell_deg <= 0:
        raise ValueError("grid_knn_join: cell_deg must be > 0")
    qid = query_id_col or id_col
    cx = lambda lon: F.floor((F.col(lon) + 180.0) / F.lit(cell_deg))  # noqa: E731
    cy = lambda lat: F.floor((F.col(lat) + 90.0) / F.lit(cell_deg))  # noqa: E731
    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(lon_col).alias("_clon"),
        F.col(lat_col).alias("_clat"),
        cx(lon_col).alias("_cx"),
        cy(lat_col).alias("_cy"),
    )
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    q = (
        queries.select(
            F.col(qid).alias("query_id"),
            F.col(lon_col).alias("_qlon"),
            F.col(lat_col).alias("_qlat"),
            cx(lon_col).alias("_qx"),
            cy(lat_col).alias("_qy"),
        )
        .withColumn("_off", F.explode(offs))
        .select(
            "query_id",
            "_qlon",
            "_qlat",
            (F.col("_qx") + F.col("_off.dx")).alias("_cx"),
            (F.col("_qy") + F.col("_off.dy")).alias("_cy"),
        )
    )
    from moz_datapipeline_spark.functions.geo import haversine_km

    cand = q.join(c, ["_cx", "_cy"]).select(
        "query_id",
        "corpus_id",
        haversine_km("_qlon", "_qlat", "_clon", "_clat").alias("_d"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_d").asc(), F.col("corpus_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "corpus_id",
            F.round("_d", 6).alias("dist_km"),
            "rank",
        )
    )


def grid_density_clusters(
    points: DataFrame,
    id_col: str = "id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    cell_deg: float = 1.0,
    min_pts: int = 5,
) -> DataFrame:
    """Grid-density clustering (distributed DBSCAN on cells):
    ``(id, cluster)`` — a point belongs to the cluster of its grid
    cell when the cell is DENSE (≥ ``min_pts`` points); dense cells
    connected through their 8-neighborhood form one cluster (label =
    the smallest member cell key); points in sparse cells are noise
    (``cluster`` NULL).  The scale-safe form of spatial cluster
    discovery: point-level DBSCAN needs an ε-neighbor join per point,
    this needs one cell rollup and a component pass over the
    CELL-sized graph.

    Deterministic: cell assignment is pure floor arithmetic, the
    component label is the min cell key (``operators/components``
    min-label convention), and no distance tie-break exists to
    lottery on.  Resolution trade is explicit: clusters merge when
    dense cells touch diagonally; sub-cell structure is invisible —
    shrink ``cell_deg`` for finer grain.

    Plan shape: ONE hash aggregate to the cell rollup (map-side
    combined), an 8-offset explode + self equi join on the DENSE
    subset only (density-bounded, usually ≪ |points|), pointer-
    doubling components over the cell graph (O(log diameter) rounds,
    each cell-sized), then one broadcast-eligible join of points to
    their cell's label.  The only data-sized exchanges are the
    rollup and the final label join.
    """
    if min_pts < 1:
        raise ValueError("grid_density_clusters: min_pts must be >= 1")
    if cell_deg <= 0:
        raise ValueError("grid_density_clusters: cell_deg must be > 0")
    from moz_datapipeline_spark.operators.components import (
        connected_components,
    )

    key_span = 10_000_000
    cx = F.floor((F.col(lon_col) + 180.0) / F.lit(cell_deg))
    cy = F.floor((F.col(lat_col) + 90.0) / F.lit(cell_deg))
    pts = points.select(
        F.col(id_col).alias("id"),
        (cx * key_span + cy).cast("long").alias("_cell"),
        cx.cast("long").alias("_cx"),
        cy.cast("long").alias("_cy"),
    )
    cells = pts.groupBy("_cell", "_cx", "_cy").agg(
        F.count(F.lit(1)).alias("_n")
    )
    core = cells.filter(F.col("_n") >= min_pts)
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probe = (
        core.withColumn("_off", F.explode(offs))
        .select(
            F.col("_cell").alias("id_a"),
            (
                (F.col("_cx") + F.col("_off.dx")) * key_span
                + (F.col("_cy") + F.col("_off.dy"))
            ).cast("long").alias("id_b"),
        )
    )
    # keep only pairs whose neighbor is ALSO a core cell; the (0,0)
    # offset keeps isolated dense cells alive as self-loop singletons
    edges = probe.join(
        core.select(F.col("_cell").alias("id_b")), "id_b", "inner"
    )
    comp = connected_components(edges)
    return owned(
        pts.join(
            comp.select(
                F.col("id").alias("_cell2"),
                F.col("component").alias("cluster"),
            ),
            pts["_cell"] == F.col("_cell2"),
            "left",
        ).select("id", "cluster"),
        comp,
    )


def grid_dbscan(
    points: DataFrame,
    eps_km: float,
    min_pts: int = 4,
    id_col: str = "id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    cell_deg: float | None = None,
) -> DataFrame:
    """Point-level DBSCAN with a grid-bounded ε-neighbor join:
    ``(id, cluster, is_core)`` — the exact-ε sibling of
    ``grid_density_clusters`` (which clusters whole CELLS).  Core
    points have ≥ ``min_pts`` points within ``eps_km`` (haversine,
    self included — the sklearn convention); core points within ε of
    each other share a cluster (transitively); non-core points within
    ε of a core join that core's cluster (BORDER points — ties across
    clusters break to the smallest cluster label, deterministic where
    classic DBSCAN is scan-order-dependent); everything else is noise
    (``cluster`` NULL, ``is_core`` false).  Cluster label = smallest
    core id in the cluster (the ``operators/components`` min-label
    convention).

    ``cell_deg`` must be ≥ ε in degrees WHERE THE DATA LIVES or
    cross-cell neighbors are unseen (the ``grid_knn_join`` grid-file
    trade).  The default ``eps_km / 110.0`` is exact in latitude and
    exact in longitude at the equator; above ~60° latitude pass
    ``eps_km / (110 · cos(max_lat))``.

    Plan shape: the ε join is ONE 9-offset explode + equi join on the
    cell key (fan-in = local density, never |points|); degrees fold
    from the directed pair set (map-side combined).  Connectivity is
    solved on a CONTRACTED graph: core points collapse into cells
    whose diagonal is ≤ ε (everything in such a cell is mutually
    within ε — a clique, so the contraction is exact), inter-cell
    edges come from the actual ≤ ε core-core pairs, and pointer-
    doubling components run over the CELL graph — nodes = occupied
    cells, not points, so the iterative rounds never touch
    point-sized frames.  Border assignment is one core-neighbor join
    + min rollup.  Megacity cells skew-split under AQE.

    Reference parity: extends the snap/cluster family
    (scripts/prep-bridge.js:27-47 nearest-scan; J9 spatial join) with
    the density-clustering readout the reference computes offline.
    """
    if eps_km <= 0:
        raise ValueError("grid_dbscan: eps_km must be > 0")
    if min_pts < 1:
        raise ValueError("grid_dbscan: min_pts must be >= 1")
    cell = float(cell_deg) if cell_deg is not None else eps_km / 110.0
    if cell <= 0:
        raise ValueError("grid_dbscan: cell_deg must be > 0")
    from moz_datapipeline_spark.functions.geo import haversine_km
    from moz_datapipeline_spark.operators.components import (
        connected_components,
    )

    cx = F.floor((F.col("_lon") + 180.0) / F.lit(cell))
    cy = F.floor((F.col("_lat") + 90.0) / F.lit(cell))
    pts = points.select(
        F.col(id_col).alias("id"),
        F.col(lon_col).cast("double").alias("_lon"),
        F.col(lat_col).cast("double").alias("_lat"),
    ).select("id", "_lon", "_lat", cx.alias("_cx"), cy.alias("_cy"))
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probe = pts.withColumn("_off", F.explode(offs)).select(
        F.col("id").alias("_ida"),
        F.col("_lon").alias("_lona"),
        F.col("_lat").alias("_lata"),
        (F.col("_cx") + F.col("_off.dx")).alias("_cx"),
        (F.col("_cy") + F.col("_off.dy")).alias("_cy"),
    )
    build = pts.select(
        F.col("id").alias("_idb"),
        F.col("_lon").alias("_lonb"),
        F.col("_lat").alias("_latb"),
        "_cx",
        "_cy",
    )
    # each DIRECTED pair appears exactly once: b's home cell occurs
    # once among a's 9 probe cells.  Materialize ONCE (checkpoint
    # sever, the package's invariant-relation convention): three
    # consumers read it — the degree fold, the core-core cell edges,
    # and the border assignment — and the epsilon join is the most
    # expensive stage in the plan.
    nbrs = checkpoint_sever(
        probe.join(build, ["_cx", "_cy"])
        .filter(F.col("_ida") != F.col("_idb"))
        .filter(
            haversine_km("_lona", "_lata", "_lonb", "_latb")
            <= F.lit(float(eps_km))
        )
        .select("_ida", "_idb")
    )
    deg = nbrs.groupBy("_ida").agg(
        F.count(F.lit(1)).cast("long").alias("_nn")
    )
    flagged = pts.join(
        deg, pts["id"] == deg["_ida"], "left"
    ).select(
        "id",
        (
            F.coalesce(F.col("_nn"), F.lit(0)) + F.lit(1)
            >= F.lit(int(min_pts))
        ).alias("is_core"),
    )
    cores = flagged.filter(F.col("is_core")).select("id")
    # exact contraction: cells with diagonal <= eps (158 km/deg bounds
    # sqrt(110.57^2 + 111.32^2) ~ 156.9 at any latitude; longitude
    # degrees only shrink poleward, which tightens the bound)
    key_span = 100_000_000
    ccell = eps_km / 158.0
    pcx = F.floor((F.col("_lon") + 180.0) / F.lit(ccell))
    pcy = F.floor((F.col("_lat") + 90.0) / F.lit(ccell))
    pcell = pts.select(
        "id", (pcx * key_span + pcy).cast("long").alias("_ccell")
    )
    core_cells = cores.join(pcell, "id")
    cell_edges = (
        nbrs.join(
            core_cells.select(
                F.col("id").alias("_ida"), F.col("_ccell").alias("_ca")
            ),
            "_ida",
        )
        .join(
            core_cells.select(
                F.col("id").alias("_idb"), F.col("_ccell").alias("_cb")
            ),
            "_idb",
        )
        .filter(F.col("_ca") < F.col("_cb"))
        .select(
            F.col("_ca").alias("id_a"), F.col("_cb").alias("id_b")
        )
        .distinct()
        # self loops keep single-cell clusters alive in the component
        # pass (isolated dense cells have no inter-cell edge)
        .unionByName(
            core_cells.select(
                F.col("_ccell").alias("id_a"),
                F.col("_ccell").alias("id_b"),
            ).distinct()
        )
    )
    # the contracted graph is occupied-cell-sized: union-find on the
    # driver below 1M edges (one job), pointer doubling above
    comp = connected_components(cell_edges, driver_cap=1_000_000)
    core_comp = core_cells.join(
        comp.select(
            F.col("id").alias("_ccell"), F.col("component").alias("_cp")
        ),
        "_ccell",
    ).select("id", "_cp")
    # the public label is the smallest CORE ID in the cluster, not the
    # internal cell key
    core_label = core_comp.join(
        core_comp.groupBy("_cp").agg(F.min("id").alias("cluster")),
        "_cp",
    ).select("id", "cluster")
    # border points: nearest-by-label core neighbor (min cluster id)
    border_label = (
        nbrs.join(
            core_label.select(
                F.col("id").alias("_idb"), F.col("cluster")
            ),
            "_idb",
        )
        .join(
            flagged.filter(~F.col("is_core")).select(
                F.col("id").alias("_ida")
            ),
            "_ida",
        )
        .groupBy("_ida")
        .agg(F.min("cluster").alias("cluster"))
        .select(F.col("_ida").alias("id"), "cluster")
    )
    labels = core_label.unionByName(border_label)
    return owned(
        flagged.join(labels, "id", "left").select("id", "cluster", "is_core"),
        nbrs,
        comp,
    )


def trajectory_stats(
    points: DataFrame,
    entity_col: str = "entity",
    ts_col: str = "ts",
    lon_col: str = "lon",
    lat_col: str = "lat",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-entity trajectory rollup: ``(entity, n_points, total_km,
    max_segment_km, net_km, straightness)`` — total great-circle path
    length over the time-ordered points, the longest single hop (the
    GPS-glitch flag), net start→end displacement, and ``net/total``
    straightness in (0, 1] (1 = beeline, →0 = wandering).  The
    fleet/telemetry summary the routing kernel doesn't cover (it
    routes on a graph; this measures observed tracks).

    One entity-partitioned lag window for the segment distances
    (single hash exchange), then a plain rollup; first/last points
    ride min/max ``struct(ts, lon, lat)`` folds in the SAME
    aggregate — no second window, no self-join.  Single-point
    entities report zeros (and straightness NULL: no path).
    NULL coordinates drop their row upstream of the lag so segments
    bridge over them.
    """
    tb = F.col(tiebreak_col) if tiebreak_col else F.col(ts_col)
    base = points.filter(
        F.col(lon_col).isNotNull() & F.col(lat_col).isNotNull()
    ).select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col).alias("_ts"),
        tb.alias("_tb"),
        F.col(lon_col).cast("double").alias("_lon"),
        F.col(lat_col).cast("double").alias("_lat"),
    )
    w = Window.partitionBy("entity").orderBy(
        F.col("_ts").asc(), F.col("_tb").asc()
    )
    from moz_datapipeline_spark.functions.geo import haversine_km

    seg = haversine_km(
        F.lag("_lon").over(w),
        F.lag("_lat").over(w),
        F.col("_lon"),
        F.col("_lat"),
    )
    staged = base.withColumn("_seg", seg)
    first_pt = F.min(
        F.struct(F.col("_ts"), F.col("_tb"), F.col("_lon"), F.col("_lat"))
    )
    last_pt = F.max(
        F.struct(F.col("_ts"), F.col("_tb"), F.col("_lon"), F.col("_lat"))
    )
    agg = staged.groupBy("entity").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.coalesce(F.sum("_seg"), F.lit(0.0)).alias("_total"),
        F.coalesce(F.max("_seg"), F.lit(0.0)).alias("_maxseg"),
        first_pt.alias("_f"),
        last_pt.alias("_l"),
    )
    net = haversine_km(
        F.col("_f._lon"), F.col("_f._lat"), F.col("_l._lon"), F.col("_l._lat")
    )
    return agg.select(
        "entity",
        "n_points",
        F.round("_total", 6).alias("total_km"),
        F.round("_maxseg", 6).alias("max_segment_km"),
        F.round(net, 6).alias("net_km"),
        F.round(
            F.when(F.col("_total") > 0, net / F.col("_total")), 6
        ).alias("straightness"),
    )
