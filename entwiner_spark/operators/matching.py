"""GPS-trace map matching (reference TODO.md:56 — "GPS data (use
something like OpenLR?)" on its POI/ingest roadmap, never built).

``nearest_edge_join`` (operators/spatial.py) snaps isolated points;
a GPS TRACK snapped point-by-point flip-flops between parallel roads
whenever noise leans the wrong way.  The standard fix (Newson &
Krakauer 2009, the HMM every production matcher descends from) keeps
the whole trajectory on a coherent path: candidate edges per point are
HMM states, snap distance drives the emission probability, and
transitions penalize hops between non-adjacent edges; Viterbi picks
the jointly most likely edge sequence.

Spark decomposition — exactly two distributed stages:

1. **candidates**: ONE grid-bucketed spatial equi-join (the J5
   machinery — no cross product, AQE-salted on dense cells) finds
   every (point, edge) pair within ``max_dist_m``, then a window keyed
   by the point keeps the ``k_candidates`` nearest.  All heavy lifting
   — the 100 TB part — is here, and it is plain DataFrame algebra.
2. **viterbi**: ``applyInPandas`` keyed by trace id — the canonical
   legitimate pandas-UDF slot (keyed recurrence, the EWMA/stateful
   discipline): state is O(points × k) per trajectory, never the
   corpus.  Trajectories are independent, so parallelism = number of
   traces; a pathological multi-day track is the documented skew knob
   (split on time gaps upstream).

Costs are negative log-likelihood shaped: emission ``(d/sigma)^2``,
transition 0 on the same edge, ``trans_adjacent`` when the edges share
an endpoint, ``trans_jump`` otherwise.  Ties break deterministically
toward the smaller edge key (rows are pre-sorted), so reruns and the
catalog oracle's pure-Python replay agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from entwiner_spark.operators.spatial import spatial_join


def map_match(
    traces: DataFrame,
    edges: DataFrame,
    max_dist_m: float = 50.0,
    k_candidates: int = 5,
    sigma_m: float = 10.0,
    trans_adjacent: float = 2.0,
    trans_jump: float = 20.0,
    trace_key: str = "trace_id",
    seq_col: str = "seq",
    lon_col: str = "lon",
    lat_col: str = "lat",
    edge_key: str = "fid",
    coords_col: str = "coordinates",
    cell_deg: float | None = None,
    transition: str = "simple",
    hop_window: int = 2,
    beta_m: float = 10.0,
    banned_turns: DataFrame | None = None,
) -> DataFrame:
    """Match each GPS trace onto the edge table: one output row per
    MATCHED point — ``(trace_key, seq, edge_key, _u, _v,
    snap_dist_m)`` — where ``edge_key`` is the Viterbi-optimal edge.

    ``traces``: ``(trace_key, seq, lon, lat)`` (seq orders the fixes).
    ``edges`` must carry ``edge_key``, ``_u``, ``_v`` and
    ``coords_col`` (a LineString array) — the adjacency test reads the
    endpoint node ids, so no extra join is needed at Viterbi time.

    Points with no edge within ``max_dist_m`` are absent from the
    output (the nearest_edge_join filter semantics); the chain simply
    continues across the gap — callers wanting hard trajectory breaks
    should split the trace upstream (e.g. on time gaps).

    ``transition="route"`` upgrades the transition model to the full
    Newson-Krakauer form: cost = |route_distance − great_circle| /
    ``beta_m``, where route distance runs from the previous snap point
    to the next along the network — (len(e1) − along₁) + network
    distance(end(e1) → start(e2), bounded to ``hop_window`` hops) +
    along₂, or |along₂ − along₁| on the same edge.  The simple
    adjacent/jump model can mis-rank candidates at junction-dense
    spots (a CONNECTED side road is one cheap adjacency hop away even
    when reaching it requires doubling back); route distances expose
    that detour.  Under ``transition="simple"`` the two directed twins
    of a two-way segment tie (same distance, same endpoint set) and the
    smaller edge key is returned; only ``transition="route"``, whose
    route distance is directed, resolves the direction of travel.
    Pairs whose route exceeds the hop window fall back
    to ``trans_jump``.  Scale shape: along-offsets ride the candidate
    join (one HOF column), network distances are ONE bounded
    multi-source relaxation (``hop_window`` broadcast-joined rounds
    from the distinct candidate end-nodes — never all-pairs), and the
    per-pair costs reach Viterbi via a cogrouped ``applyInPandas``.

    ``banned_turns`` (requires ``transition="route"``): the OSM
    restriction pair frame (``sources/osm.banned_turn_pairs``) — the
    route-distance relaxation then walks the MANEUVER graph instead of
    the node graph (r15-verdict task #6): each state carries its
    arriving directed edge, every expansion and the final step onto
    the candidate edge are checked against the banned pairs, and the
    seed state's arriving edge is the previous candidate itself (so an
    immediately-adjacent banned turn prices as unreachable).  A match
    over the node graph can rank candidates by routes a real vehicle
    is forbidden to drive; the maneuver walk prices those as detour or
    ``trans_jump``."""
    pts = traces.withColumn(
        "_pid", F.struct(F.col(trace_key), F.col(seq_col))
    )
    cand = spatial_join(
        pts,
        edges,
        max_dist_m,
        "_pid",
        edge_key,
        lon_col=lon_col,
        lat_col=lat_col,
        coords_col=coords_col,
        cell_deg=cell_deg,
    )
    if transition not in ("simple", "route"):
        raise ValueError(
            f"transition must be 'simple' or 'route', got {transition!r}"
        )
    if banned_turns is not None and transition != "route":
        raise ValueError(
            "banned_turns requires transition='route' (the simple "
            "adjacent/jump model has no route to restrict)"
        )
    wk = Window.partitionBy("_pid").orderBy(
        F.col("_dist").asc(), F.col(edge_key).asc()
    )
    extra = []
    if transition == "route":
        from entwiner_spark.functions.geo import (
            linestring_length_m,
            point_linestring_along_m,
        )

        cand = cand.withColumn(
            "_along",
            point_linestring_along_m(
                F.col(lon_col), F.col(lat_col), F.col(coords_col)
            ),
        ).withColumn("_elen", linestring_length_m(F.col(coords_col)))
        extra = [lon_col, lat_col, "_along", "_elen"]
    slim = (
        cand.withColumn("_rk", F.row_number().over(wk))
        .filter(F.col("_rk") <= k_candidates)
        .select(trace_key, seq_col, edge_key, "_u", "_v", "_dist", *extra)
    )
    in_t = {f.name: f.dataType for f in slim.schema.fields}
    out_schema = T.StructType(
        [
            T.StructField(trace_key, in_t[trace_key]),
            T.StructField(seq_col, in_t[seq_col]),
            T.StructField(edge_key, in_t[edge_key]),
            T.StructField("_u", in_t["_u"]),
            T.StructField("_v", in_t["_v"]),
            T.StructField("snap_dist_m", T.DoubleType()),
        ]
    )
    sig2 = float(sigma_m) ** 2
    adj_pen, jump_pen = float(trans_adjacent), float(trans_jump)
    out_cols = [trace_key, seq_col, edge_key, "_u", "_v", "snap_dist_m"]

    def _viterbi_core(pdf, trans):
        """Shared DP.  ``trans``: None for the simple adjacent/jump
        model, else a dict ``(seq, prev_edge, edge) -> cost`` (missing
        pair -> jump_pen — outside the route hop window)."""
        import pandas as pd  # noqa: PLC0415

        if len(pdf) == 0:
            return pd.DataFrame(columns=out_cols)
        pdf = pdf.sort_values([seq_col, edge_key]).reset_index(drop=True)
        layers: list[list[list]] = []  # [cost, back_idx, row] per cand
        prev: list[list] | None = None
        for s, grp in pdf.groupby(seq_col, sort=True):
            rows = grp.to_dict("records")
            layer = []
            for r in rows:
                emis = (r["_dist"] * r["_dist"]) / sig2
                if prev is None:
                    layer.append([emis, -1, r])
                    continue
                bc, bi = None, -1
                for i, (pc, _pb, pr) in enumerate(prev):
                    if trans is not None:
                        t = trans.get(
                            (s, pr[edge_key], r[edge_key]), jump_pen
                        )
                    elif pr[edge_key] == r[edge_key]:
                        t = 0.0
                    elif {pr["_u"], pr["_v"]} & {r["_u"], r["_v"]}:
                        t = adj_pen
                    else:
                        t = jump_pen
                    c = pc + t
                    # strict <: on ties the FIRST (smallest edge key,
                    # rows pre-sorted) predecessor wins — deterministic
                    if bc is None or c < bc:
                        bc, bi = c, i
                layer.append([bc + emis, bi, r])
            layers.append(layer)
            prev = layer
        # backtrace from the cheapest terminal state (ties -> first)
        j = min(range(len(layers[-1])), key=lambda i: (layers[-1][i][0], i))
        picked = []
        for layer in reversed(layers):
            _cost, back, r = layer[j]
            picked.append(r)
            j = back
        picked.reverse()
        return pd.DataFrame(
            [
                {
                    trace_key: r[trace_key],
                    seq_col: r[seq_col],
                    edge_key: r[edge_key],
                    "_u": r["_u"],
                    "_v": r["_v"],
                    "snap_dist_m": float(r["_dist"]),
                }
                for r in picked
            ],
            columns=out_cols,
        )

    if transition == "simple":

        def viterbi(pdf):
            return _viterbi_core(pdf, None)

        return slim.groupBy(trace_key).applyInPandas(
            viterbi, schema=out_schema
        )

    # ---- transition="route": per-pair Newson-Krakauer costs ---------
    from entwiner_spark.functions.geo import haversine_m, linestring_length_m

    slim = slim.localCheckpoint()
    # dense layer index: Viterbi steps between consecutive PRESENT
    # seq values (points with zero candidates drop their layer)
    lw = Window.partitionBy(trace_key).orderBy(seq_col)
    seqs = (
        slim.select(trace_key, seq_col)
        .distinct()
        .withColumn("_ly", F.row_number().over(lw))
    )
    lay = slim.join(seqs, [trace_key, seq_col])
    c1 = lay.select(
        F.col(trace_key).alias("_tk"),
        F.col("_ly").alias("_ly1"),
        F.col(edge_key).alias("_pe"),
        F.col("_u").alias("_u1"),
        F.col("_v").alias("_v1"),
        F.col("_along").alias("_a1"),
        F.col("_elen").alias("_l1"),
        F.col(lon_col).alias("_x1"),
        F.col(lat_col).alias("_y1"),
    )
    c2 = lay.select(
        F.col(trace_key).alias("_tk"),
        F.col(seq_col).alias("_seq2"),
        F.col("_ly").alias("_ly2"),
        F.col(edge_key).alias("_ce"),
        F.col("_u").alias("_u2"),
        F.col("_v").alias("_v2"),
        F.col("_along").alias("_a2"),
        F.col(lon_col).alias("_x2"),
        F.col(lat_col).alias("_y2"),
    )
    pairs = c1.join(c2, "_tk").filter(F.col("_ly2") == F.col("_ly1") + 1)
    if banned_turns is None:
        # bounded multi-source network distances end(e1) -> start(e2):
        # hop_window rounds of frontier ⋈ edges from the DISTINCT end
        # nodes — candidate-bounded sources, never all-pairs
        step = edges.select(
            F.col("_u").alias("_node"),
            F.col("_v").alias("_next"),
            linestring_length_m(F.col(coords_col)).alias("_w"),
        )
        srcs = pairs.select(F.col("_v1").alias("_src")).distinct()
        cur = srcs.select(
            "_src", F.col("_src").alias("_node"), F.lit(0.0).alias("_d")
        )
        acc = cur
        for _ in range(max(0, int(hop_window))):
            cur = cur.join(step, "_node").select(
                "_src",
                F.col("_next").alias("_node"),
                (F.col("_d") + F.col("_w")).alias("_d"),
            )
            acc = acc.unionByName(cur)
        dnet = acc.groupBy("_src", "_node").agg(F.min("_d").alias("_dnet"))
        pairs = pairs.join(
            dnet,
            (F.col("_v1") == F.col("_src"))
            & (F.col("_u2") == F.col("_node")),
            "left",
        )
    else:
        # turn-aware variant: the walk runs over the MANEUVER graph —
        # state = (source candidate edge, arriving directed edge,
        # dist at its head); every expansion AND the final step onto
        # the next candidate are anti-joined against the banned pairs
        # (broadcast — restrictions are tiny); the seed's arriving
        # edge is the source candidate itself, so an immediately
        # adjacent banned turn is priced as unreachable, not free
        ban = banned_turns.select(
            F.col("_u1").alias("__m_u1"),
            F.col("_v1").alias("__m_v1"),
            F.col("_u2").alias("__m_u2"),
            F.col("_v2").alias("__m_v2"),
        )
        step = edges.select(
            F.col("_u").alias("_eu"),
            F.col("_v").alias("_ev"),
            linestring_length_m(F.col(coords_col)).alias("_w"),
        )
        seed = (
            pairs.select(
                F.col("_pe").alias("_spe"),
                F.col("_u1").alias("_cu"),
                F.col("_v1").alias("_cv"),
            )
            .distinct()
            .withColumn("_d", F.lit(0.0))
        )
        cur, acc = seed, seed
        for _ in range(max(0, int(hop_window))):
            cur = (
                cur.join(step, F.col("_cv") == F.col("_eu"))
                .join(
                    F.broadcast(ban),
                    (F.col("_cu") == F.col("__m_u1"))
                    & (F.col("_cv") == F.col("__m_v1"))
                    & (F.col("_eu") == F.col("__m_u2"))
                    & (F.col("_ev") == F.col("__m_v2")),
                    "left_anti",
                )
                .select(
                    "_spe",
                    F.col("_eu").alias("_cu"),
                    F.col("_ev").alias("_cv"),
                    (F.col("_d") + F.col("_w")).alias("_d"),
                )
            )
            acc = acc.unionByName(cur)
        dnet_e = acc.groupBy("_spe", "_cu", "_cv").agg(
            F.min("_d").alias("_d")
        )
        legal = (
            pairs.select("_tk", "_seq2", "_pe", "_ce", "_u2", "_v2")
            .join(
                dnet_e,
                (F.col("_pe") == F.col("_spe"))
                & (F.col("_cv") == F.col("_u2")),
            )
            .join(
                F.broadcast(ban),
                (F.col("_cu") == F.col("__m_u1"))
                & (F.col("_cv") == F.col("__m_v1"))
                & (F.col("_u2") == F.col("__m_u2"))
                & (F.col("_v2") == F.col("__m_v2")),
                "left_anti",
            )
            .groupBy("_tk", "_seq2", "_pe", "_ce")
            .agg(F.min("_d").alias("_dnet"))
        )
        pairs = pairs.join(legal, ["_tk", "_seq2", "_pe", "_ce"], "left")
    beta = float(beta_m)
    pcost = (
        pairs
        .withColumn(
            "_droute",
            F.when(
                F.col("_pe") == F.col("_ce"),
                F.abs(F.col("_a2") - F.col("_a1")),
            ).otherwise(
                F.col("_l1") - F.col("_a1") + F.col("_dnet") + F.col("_a2")
            ),
        )
        .withColumn(
            "_dgc",
            haversine_m(
                F.col("_x1"), F.col("_y1"), F.col("_x2"), F.col("_y2")
            ),
        )
        .select(
            F.col("_tk").alias(trace_key),
            "_seq2",
            "_pe",
            "_ce",
            F.when(F.col("_droute").isNull(), F.lit(jump_pen))
            .otherwise(F.abs(F.col("_droute") - F.col("_dgc")) / beta)
            .alias("_t"),
        )
    )
    pair_schema_names = [trace_key, "_seq2", "_pe", "_ce", "_t"]

    def viterbi_route(cand_pdf, pair_pdf):
        trans = {
            (r["_seq2"], r["_pe"], r["_ce"]): r["_t"]
            for r in pair_pdf[pair_schema_names[1:]].to_dict("records")
        }
        return _viterbi_core(cand_pdf, trans)

    return (
        slim.groupBy(trace_key)
        .cogroup(pcost.groupBy(trace_key))
        .applyInPandas(viterbi_route, schema=out_schema)
    )
