"""Edge-based (turn-aware) contraction hierarchies — CH over the
maneuver minor, so turn-RESTRICTED and turn-penalized routing gets CH
query speed (reference TODO.md:62-76 lists "deriving a minor
(maneuvers)" and "contraction hierarchies" as sibling roadmap bullets;
production routers contract the edge-based graph for exactly this
composition — e.g. OSRM's edge-expanded graph).

The two halves already exist and are driver-green separately:
``SparkGraph.to_linegraph(banned_turns=, turn_cost=)`` builds the
maneuver minor (every directed edge a node, every legal adjacent-edge
pair an arc weighted ``w(e2) + turn_cost(e1, e2)``), and
``ContractionHierarchy`` contracts any SparkGraph.  This module is the
composition: contract the MINOR, then answer node-to-node queries by
mapping endpoints to minor terminals —

* source node ``u``  →  every minor node ``u→x`` (edges leaving u),
  seeded with offset ``w(u→x)`` (the minor's path cost excludes the
  first edge's own weight by construction);
* target node ``v``  →  every minor node ``y→v`` (edges entering v).

A node-to-node query is then a tiny many-to-many over the hierarchy —
``out-degree × in-degree`` pairs — which is exactly the batched
:meth:`ContractionHierarchy.route_matrix` /
:meth:`~ContractionHierarchy.distance_matrix` shape, so the terminal
fan-out rides the amortized upward searches instead of multiplying
query latency.  Exactness: a shortest legal edge sequence u→…→v is a
shortest minor path from some out-terminal to some in-terminal plus
the first edge's weight (to_linegraph docstring invariant), and CH
queries over the minor are exact, so the minimum over terminal pairs
is the exact turn-aware optimum.

Scale shape: the minor has |E| nodes and Σ in·out arcs — the same
fan-out the linegraph itself has — and the hierarchy is built ONCE
(persistable via :meth:`save`); per-query work is two degree-sized
terminal lookups plus one batched CH matrix query.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from entwiner_spark.operators.ch import (
    ContractionHierarchy,
    _path_cost,
    _penalized,
    _publish,
    _resolve_store,
    _schema,
)


class EdgeBasedCH:
    """Built artifact: a :class:`ContractionHierarchy` over the
    maneuver minor plus the terminal registry ``(_n, _edge_u,
    _edge_v, _w0)`` mapping every minor node back to its directed
    original edge and that edge's own weight."""

    #: sentinel distinguishing "caller did not supply this turn-config
    #: argument" from an explicit None (None == the build default)
    _UNSET = object()

    def __init__(
        self,
        ch: ContractionHierarchy,
        terminals: DataFrame,
        base_fingerprint: str | None = None,
        turn_fingerprint: str | None = None,
    ):
        self.ch = ch
        self.spark = ch.spark
        self.terminals = terminals
        self.base_fingerprint = base_fingerprint
        self.turn_fingerprint = turn_fingerprint

    @staticmethod
    def _turn_fingerprint_of(
        banned_turns: DataFrame | None,
        turn_cost,
        allow_uturn: bool,
        via_splits: DataFrame | None = None,
    ) -> str:
        """Order-independent digest of the TURN configuration that
        shaped the minor — banned pairs (``count:bit_xor(xxhash64)``
        over the four pair columns), ``allow_uturn``, and the turn-cost
        expression.  Columns fingerprint by their expression string;
        callables by qualname (identity approximation: a same-named
        function with changed internals is NOT detected — documented
        limit, the caller owns semantic versioning of cost callables)."""
        if banned_turns is None:
            bfp = "none"
        else:
            row = (
                banned_turns.select(
                    F.xxhash64(
                        F.col("_u1").cast("string"),
                        F.col("_v1").cast("string"),
                        F.col("_u2").cast("string"),
                        F.col("_v2").cast("string"),
                    ).alias("_h")
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.expr("bit_xor(_h)").alias("h"),
                )
                .collect()[0]
            )
            bfp = f"{row['n']}:{row['h']}"
        if turn_cost is None:
            tfp = "none"
        elif callable(turn_cost):
            tfp = "fn:" + getattr(
                turn_cost, "__qualname__", type(turn_cost).__name__
            )
        else:  # a Column — its expression string is stable per-expr
            tfp = "col:" + str(turn_cost)
        if via_splits is None:
            vfp = "none"
        else:
            row = (
                via_splits.select(
                    F.xxhash64(
                        F.col("rel_id").cast("string"),
                        F.col("kind"),
                        F.col("seq").cast("string"),
                        F.col("_u").cast("string"),
                        F.col("_v").cast("string"),
                    ).alias("_h")
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.expr("bit_xor(_h)").alias("h"),
                )
                .collect()[0]
            )
            vfp = f"{row['n']}:{row['h']}"
        return (
            f"turns={bfp}|uturn={bool(allow_uturn)}|cost={tfp}|via={vfp}"
        )

    def check_fresh(
        self,
        graph,
        weight: str | None = None,
        banned_turns=_UNSET,
        turn_cost=_UNSET,
        allow_uturn=_UNSET,
        via_splits=_UNSET,
    ) -> None:
        """Raise unless ``graph``'s edge table still matches the BASE
        graph this minor hierarchy was built from (same ``weight`` as
        the build) — the ContractionHierarchy guard lifted to the
        edge-based artifact: a keyed edge update silently invalidates
        both the minor's arcs and the terminal offsets.

        The base fingerprint covers the EDGE TABLE only; the minor is
        also shaped by the turn configuration (``banned_turns``,
        ``turn_cost``, ``allow_uturn``).  Pass any of those kwargs to
        additionally verify the turn fingerprint — unset ones fill
        with the build defaults (None / None / False) — e.g. after
        re-deriving restrictions from a refreshed OSM extract.  When
        none are passed, turn semantics are NOT checked (the caller
        holds no claim about them)."""
        if self.base_fingerprint is None:
            raise ValueError(
                "artifact carries no base-graph fingerprint (pre-r15 "
                "store); rebuild to enable staleness checking"
            )
        live = ContractionHierarchy._graph_fingerprint(graph, weight)
        if live != self.base_fingerprint:
            raise RuntimeError(
                f"stale edge-based hierarchy: built from edge table "
                f"{self.base_fingerprint} but the live graph hashes "
                f"to {live} — rebuild before routing"
            )
        supplied = [
            x
            for x in (banned_turns, turn_cost, allow_uturn, via_splits)
            if x is not EdgeBasedCH._UNSET
        ]
        if not supplied:
            return
        if self.turn_fingerprint is None:
            raise ValueError(
                "artifact carries no turn fingerprint (pre-r16 store); "
                "rebuild to enable turn-config staleness checking"
            )
        live_turn = self._turn_fingerprint_of(
            None if banned_turns is EdgeBasedCH._UNSET else banned_turns,
            None if turn_cost is EdgeBasedCH._UNSET else turn_cost,
            False if allow_uturn is EdgeBasedCH._UNSET else allow_uturn,
            None if via_splits is EdgeBasedCH._UNSET else via_splits,
        )
        if live_turn != self.turn_fingerprint:
            raise RuntimeError(
                f"stale edge-based hierarchy: built with turn config "
                f"{self.turn_fingerprint} but the live config hashes "
                f"to {live_turn} — the restriction set / turn costs "
                "changed since build(); rebuild before routing"
            )

    # ----------------------------------------------------------- build
    @classmethod
    def build(
        cls,
        graph,
        weight: str | None = None,
        banned_turns: DataFrame | None = None,
        turn_cost=None,
        allow_uturn: bool = False,
        coords_col: str | None = None,
        via_splits: DataFrame | None = None,
        **ch_kwargs,
    ) -> "EdgeBasedCH":
        """Contract ``graph``'s maneuver minor.  Arguments mirror
        :meth:`SparkGraph.to_linegraph` (``allow_uturn`` defaults OFF
        — the standard maneuver-model choice for road routing;
        ``via_splits`` composes exact via-way restrictions with the
        hierarchy — the shadow minor nodes contract like any other);
        ``ch_kwargs`` pass through to
        :meth:`ContractionHierarchy.build` (strategy, max_rounds,
        local_finish)."""
        minor = graph.to_linegraph(
            weight=weight,
            turn_cost=turn_cost,
            allow_uturn=allow_uturn,
            coords_col=coords_col,
            banned_turns=banned_turns,
            via_splits=via_splits,
        )
        # One materialization each for the minor's frames: the build
        # consumes them through several independent actions (dispatch
        # count, local-build collects or the pregel seed checkpoint,
        # the terminal registry below), and every action would
        # otherwise re-execute the full linegraph derivation — the
        # base-edge self-join plus, for OSM-backed graphs, the parse
        # pipeline.  Lazy checkpoints keep plan/partitioning intact
        # (values identical); _pre_partitioned skips re-exchanging the
        # already _u-partitioned edge frame.
        from entwiner_spark.operators.graph import SparkGraph

        minor = SparkGraph(
            minor.nodes.localCheckpoint(eager=False),
            minor.edges.localCheckpoint(eager=False),
            _pre_partitioned=True,
        )
        ch = ContractionHierarchy.build(minor, weight="w", **ch_kwargs)
        w0 = (
            F.col(weight).cast("double")
            if weight is not None
            else F.lit(1.0)
        )
        terminals = (
            minor.nodes.select(
                "_n", "_edge_u", "_edge_v", w0.alias("_w0")
            )
            .localCheckpoint(eager=False)
        )
        return cls(
            ch,
            terminals,
            ContractionHierarchy._graph_fingerprint(graph, weight),
            cls._turn_fingerprint_of(
                banned_turns, turn_cost, allow_uturn, via_splits
            ),
        )

    # ------------------------------------------------------ persistence
    _META = "_chedge_meta.json"

    def save(self, store_dir: str, partitions: int | None = None) -> None:
        """Persist hierarchy + terminal registry with the same
        replace-aside temp→rename publish as
        :meth:`ContractionHierarchy.save`."""
        meta = {
            "kind": "edge_based_ch",
            "base_fingerprint": self.base_fingerprint,
            "turn_fingerprint": self.turn_fingerprint,
        }
        with _publish(store_dir, "edge-based CH store", self._META, meta) as tmp:
            self.ch.save(os.path.join(tmp, "ch"), partitions=partitions)
            n = partitions or int(
                self.spark.conf.get("spark.sql.shuffle.partitions")
            )
            (
                self.terminals.repartition(max(1, n // 4), "_edge_u")
                .sortWithinPartitions("_edge_u")
                .write.mode("overwrite")
                .parquet(f"{tmp}/terminals.parquet")
            )

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        store_dir: str,
        graph=None,
        weight: str | None = None,
    ) -> "EdgeBasedCH":
        """Reload (falling back to ``<store>.old`` after a crash inside
        ``save()``'s publish, like :meth:`ContractionHierarchy.load`);
        pass ``graph`` (and the build's ``weight``) to verify the
        artifact against the live BASE edge table before routing
        (:meth:`check_fresh`)."""
        store_dir, meta = _resolve_store(
            store_dir, cls._META, "an edge-based CH store"
        )
        eb = cls(
            ContractionHierarchy.load(spark, os.path.join(store_dir, "ch")),
            spark.read.parquet(f"{store_dir}/terminals.parquet"),
            meta.get("base_fingerprint"),
            meta.get("turn_fingerprint"),
        )
        if graph is not None:
            eb.check_fresh(graph, weight)
        return eb

    # ----------------------------------------------------------- query
    def _source_terminals(self, source) -> list[tuple]:
        return [
            (r["_n"], float(r["_w0"]))
            for r in self.terminals.filter(F.col("_edge_u") == F.lit(source))
            .select("_n", "_w0")
            .collect()
        ]

    def _target_terminals(self, target) -> list:
        return [
            r["_n"]
            for r in self.terminals.filter(F.col("_edge_v") == F.lit(target))
            .select("_n")
            .collect()
        ]

    def _decode(self, minor_path: list) -> list:
        """Minor-node path → original node path via the terminal
        registry (route-sized isin filter; no string splitting, so
        node ids containing the separator stay safe)."""
        rows = (
            self.terminals.filter(F.col("_n").isin(list(minor_path)))
            .select("_n", "_edge_u", "_edge_v")
            .collect()
        )
        m = {r["_n"]: (r["_edge_u"], r["_edge_v"]) for r in rows}
        return [m[minor_path[0]][0]] + [m[x][1] for x in minor_path]

    def route(
        self,
        source,
        target,
        strategy: str = "auto",
        max_iterations: int = 200,
    ) -> tuple[list, float] | None:
        """Turn-aware point-to-point: the raw ORIGINAL-node path and
        exact cost under the minor's metric (edge weights + turn
        costs, banned maneuvers absent), or None if no legal route
        exists.  One batched ``route_matrix`` over out-degree ×
        in-degree terminal pairs."""
        return self._route_many(
            [source], target, strategy=strategy,
            max_iterations=max_iterations,
        )[0]

    def _route_many(
        self,
        sources: list,
        target,
        strategy: str = "auto",
        max_iterations: int = 200,
    ) -> list[tuple[list, float] | None]:
        """Batch several point-to-point routes to one target into ONE
        ``route_matrix`` sweep: the underlying search state is keyed
        ``(origin, node)``, so k independent routes cost one pregel
        loop instead of k (one job cadence, shared exchanges).  Result
        i is exactly ``route(sources[i], target)`` — per-source best
        selection and tie-breaks are unchanged."""
        per_src: dict = {}
        all_terms: list[tuple] = []
        for source in dict.fromkeys(sources):
            if source == target:
                per_src[source] = "self"
                continue
            terms = self._source_terminals(source)
            per_src[source] = terms
            all_terms.extend(terms)
        tgts = self._target_terminals(target) if all_terms else []
        rows: list = []
        if all_terms and tgts:
            rm = self.ch.route_matrix(
                [s for s, _ in all_terms],
                tgts,
                strategy=strategy,
                max_iterations=max_iterations,
            )
            rows = rm.collect()
        by_term: dict = {}
        for r in rows:
            by_term.setdefault(r["src"], []).append(r)
        out: dict = {}
        for source, terms in per_src.items():
            if terms == "self":
                out[source] = ([source], 0.0)
                continue
            w0 = dict(terms)
            best = None
            for s, _ in terms:
                for r in by_term.get(s, ()):
                    c = w0[r["src"]] + r["dist"]
                    key = (c, str(r["src"]), str(r["dst"]))
                    if best is None or key < best[0]:
                        best = (key, r["path"])
            out[source] = (
                None
                if best is None
                else (self._decode(list(best[1])), best[0][0])
            )
        return [out[s] for s in sources]

    def route_matrix(
        self,
        sources: list,
        targets: list,
        strategy: str = "auto",
        max_iterations: int = 200,
    ) -> DataFrame:
        """Turn-aware many-to-many PATHS ``(src, dst, dist, path)`` —
        the path-returning companion of :meth:`distance_matrix` (the
        fleet-routing shape: restricted paths for every vehicle ×
        every job).  All sources' out-terminals and all targets'
        in-terminals ride ONE batched
        :meth:`~entwiner_spark.operators.ch.ContractionHierarchy.
        route_matrix` over the minor; per node pair the best terminal
        pair is picked driver-side (deterministic cost-then-id
        tie-break, same as :meth:`route`) and every winning minor path
        is decoded through ONE batched terminal lookup.  The output is
        driver-sized by definition (it contains the paths), so the
        driver-side assembly is not a scale compromise.  Unreachable
        pairs are absent; a node on both sides contributes its trivial
        ``(s, s, 0.0, [s])`` row."""
        if not sources or not targets:
            raise ValueError("sources and targets must be non-empty")
        sources = list(dict.fromkeys(sources))
        targets = list(dict.fromkeys(targets))
        out_schema = _schema(
            self.terminals.schema["_edge_u"].dataType,
            "src", "dst", "dist", "path",
        )
        trivial = [
            (s, s, 0.0, [s]) for s in sources if s in set(targets)
        ]
        srows = [
            (r["_n"], r["_edge_u"], float(r["_w0"]))
            for r in self.terminals.filter(F.col("_edge_u").isin(sources))
            .select("_n", "_edge_u", "_w0")
            .collect()
        ]
        trows = [
            (r["_n"], r["_edge_v"])
            for r in self.terminals.filter(F.col("_edge_v").isin(targets))
            .select("_n", "_edge_v")
            .collect()
        ]
        if not srows or not trows:
            return self.spark.createDataFrame(trivial, out_schema)
        w0 = {m: w for m, _o, w in srows}
        osrc = {m: o for m, o, _w in srows}
        odst = {m: o for m, o in trows}
        rm = self.ch.route_matrix(
            [m for m, _o, _w in srows],
            [m for m, _o in trows],
            strategy=strategy,
            max_iterations=max_iterations,
        ).collect()
        best: dict = {}
        for r in rm:
            cand = (
                w0[r["src"]] + r["dist"],
                str(r["src"]),
                str(r["dst"]),
                list(r["path"]),
            )
            key = (osrc[r["src"]], odst[r["dst"]])
            if key not in best or cand[:3] < best[key][:3]:
                best[key] = cand
        # one batched decode for every winning minor path (route-set-
        # sized isin — the same driver role as _decode, amortized)
        need = sorted(
            {m for c in best.values() for m in c[3]}, key=str
        )
        emap = {
            r["_n"]: (r["_edge_u"], r["_edge_v"])
            for r in self.terminals.filter(F.col("_n").isin(need))
            .select("_n", "_edge_u", "_edge_v")
            .collect()
        }
        rows = trivial + [
            (
                s,
                t,
                c[0],
                [emap[c[3][0]][0]] + [emap[m][1] for m in c[3]],
            )
            for (s, t), c in sorted(
                best.items(), key=lambda kv: (str(kv[0][0]), str(kv[0][1]))
            )
            if (s, t) not in {(x, x) for x in sources}
        ]
        return self.spark.createDataFrame(rows, out_schema)

    def alternatives(
        self,
        source,
        target,
        k: int = 3,
        penalty: float = 2.0,
        strategy: str = "auto",
        max_iter: int | None = None,
    ) -> list[tuple[list, float]]:
        """Turn-aware alternative routes: the penalty method over the
        CUSTOMIZABLE minor hierarchy (requires
        ``build(..., customizable=True)``) — route, multiply the
        weight of every MANEUVER on the found route by ``penalty``
        (the minor's arcs carry ``w(e2) + turn_cost``, so each road
        edge is penalized in the context of its predecessor; the
        first edge's weight, which lives in the terminal offset, is
        penalized alongside), re-customize the minor, re-route.
        Returns up to ``k`` ``(node_path, base_cost)`` pairs in
        discovery order, costs under the ORIGINAL metric; the first
        is the exact turn-aware optimum.  Composes restrictions,
        turn costs, and alternatives — Yen cannot (edge removal
        invalidates shortcuts), and road-edge-global penalties cannot
        see maneuvers."""
        if not self.ch.customizable or self.ch.orig_edges is None:
            raise ValueError(
                "alternatives() requires EdgeBasedCH.build("
                "customizable=True)"
            )
        if penalty <= 1.0:
            raise ValueError("penalty must be > 1")
        if source == target:
            return [([source], 0.0)]
        srcs = self._source_terminals(source)
        tgts = self._target_terminals(target)
        if not srcs or not tgts:
            return []
        base_minor = self.ch.orig_edges
        w0_orig = dict(srcs)
        pen_arcs: dict = {}
        pen_first: dict = {}
        cur = self.ch
        out: list[tuple[list, float]] = []
        seen: set = set()
        limit = max_iter or (4 * k)
        for _ in range(limit):
            rm = cur.route_matrix(
                [s for s, _w in srcs], tgts, strategy=strategy
            )
            best = None
            for r in rm.collect():
                c = (
                    w0_orig[r["src"]]
                    * (penalty ** pen_first.get(r["src"], 0))
                    + r["dist"]
                )
                key = (c, str(r["src"]), str(r["dst"]))
                if best is None or key < best[0]:
                    best = (key, list(r["path"]))
            if best is None:
                break
            mpath = best[1]
            node_path = self._decode(mpath)
            if tuple(node_path) not in seen:
                seen.add(tuple(node_path))
                cost = w0_orig[mpath[0]] + _path_cost(
                    base_minor, list(zip(mpath, mpath[1:]))
                )
                out.append((node_path, cost))
                if len(out) >= k:
                    break
            pen_first[mpath[0]] = pen_first.get(mpath[0], 0) + 1
            for p in zip(mpath, mpath[1:]):
                pen_arcs[p] = pen_arcs.get(p, 0) + 1
            cur = self.ch.customize(
                _penalized(base_minor, pen_arcs, penalty), strategy=strategy
            )
        return out

    def time_profiles(
        self,
        edges: DataFrame,
        buckets: dict,
        speeds: dict | None = None,
        default_kmh: float = 30.0,
        highway_col: str = "highway",
        maxspeed_col: str | None = "maxspeed",
        conditional_col: str | None = "maxspeed:conditional",
        length_col: str = "_length",
        strategy: str = "auto",
    ) -> dict:
        """Per-time-bucket metrics on the TURN-AWARE hierarchy — the
        buckets × restrictions composition (:func:`~entwiner_spark.
        sources.osm.time_profiles` re-metrics the node hierarchy; this
        re-metrics the maneuver MINOR, so banned maneuvers stay absent
        and turn costs stay priced in every bucket).  Requires
        ``build(..., customizable=True)``.

        Per bucket: the instant's per-edge traversal time
        (``maxspeed:conditional`` resolved) re-weights every minor arc
        as ``w' = w − w_build(head edge) + w_bucket(head edge)`` — the
        build weight per edge is exactly the terminal registry's
        ``_w0``, so no assumption about the build's weight column is
        needed and turn-cost components carry through unchanged — then
        ONE :meth:`~entwiner_spark.operators.ch.ContractionHierarchy.
        customize` pass re-metrics the hierarchy (no recontraction)
        and the terminal offsets swap to the bucket's first-edge
        weights.  Returns bucket name → :class:`EdgeBasedCH`."""
        from entwiner_spark.sources.osm import traversal_seconds_at

        if not self.ch.customizable or self.ch.orig_edges is None:
            raise ValueError(
                "time_profiles() requires EdgeBasedCH.build("
                "customizable=True)"
            )
        term = self.terminals.select(
            F.col("_n").alias("_tn"),
            "_edge_u",
            "_edge_v",
            F.col("_w0").alias("_wb"),
        )

        def _one_bucket(item):
            name, (dow, minute) = item
            wnew = traversal_seconds_at(
                edges,
                dow,
                minute,
                speeds=speeds,
                default_kmh=default_kmh,
                highway_col=highway_col,
                maxspeed_col=maxspeed_col,
                conditional_col=conditional_col,
                length_col=length_col,
                out_col="_wn",
            ).select(
                F.col("_u").alias("_edge_u"),
                F.col("_v").alias("_edge_v"),
                "_wn",
            )
            arcs = (
                self.ch.orig_edges.join(
                    term, F.col("_v") == F.col("_tn")
                )
                .join(wnew, ["_edge_u", "_edge_v"])
                .select(
                    "_u",
                    "_v",
                    (F.col("w") - F.col("_wb") + F.col("_wn")).alias(
                        "w"
                    ),
                )
            )
            nterm = term.join(wnew, ["_edge_u", "_edge_v"]).select(
                F.col("_tn").alias("_n"),
                "_edge_u",
                "_edge_v",
                F.col("_wn").alias("_w0"),
            )
            tfp = self.turn_fingerprint
            return name, EdgeBasedCH(
                self.ch.customize(arcs, strategy=strategy),
                nterm.localCheckpoint(eager=False),
                self.base_fingerprint,
                (tfp or "") + f"|bucket={name}:{dow}:{minute}",
            )

        # Buckets are independent re-metrics of the same hierarchy —
        # overlap their customize passes (guide §2.6: the next bucket's
        # jobs back-fill the scheduler while the previous one sits in
        # per-level driver latency).  2-3 in flight is plenty; each
        # bucket's result is identical to the serial form (customize is
        # a pure function of (arcs, hierarchy); the scoped shuffle conf
        # both threads touch derives the same value and only affects
        # partition counts of partition-invariant merges).
        from concurrent.futures import ThreadPoolExecutor

        items = list(buckets.items())
        with ThreadPoolExecutor(max_workers=min(3, max(1, len(items)))) as pool:
            results = dict(pool.map(_one_bucket, items))
        return {name: results[name] for name, _ in items}

    def isochrone(
        self,
        source,
        budget: float,
        strategy: str = "auto",
        max_iterations: int = 400,
    ) -> DataFrame:
        """Turn-aware accessibility set: every ORIGINAL node reachable
        from ``source`` within ``budget`` under the minor's metric
        (edge weights + turn costs, banned maneuvers absent) —
        ``(_n, dist)``.  One batched PHAST from the source's
        out-terminals (offsets = first-edge weights folded in
        afterwards), minor nodes folded back to their head original
        node by a groupBy-min over the terminal registry.  The
        restricted wheelchair/"how far in N minutes" query the
        maneuver model exists for."""
        srcs = self._source_terminals(source)
        out_schema = _schema(
            self.terminals.schema["_edge_u"].dataType, "_n", "dist"
        )
        self_row = [(source, 0.0)]
        if not srcs or budget < 0:
            return self.spark.createDataFrame(
                self_row if budget >= 0 else [], out_schema
            )
        d = self.ch.sssp_multi(
            [s for s, _w in srcs],
            strategy=strategy,
            max_iterations=max_iterations,
        )
        offs = self.spark.createDataFrame(
            [(s, w) for s, w in srcs],
            T.StructType(
                [
                    T.StructField("src", T.StringType(), False),
                    T.StructField("_w0", T.DoubleType(), False),
                ]
            ),
        )
        folded = (
            d.join(F.broadcast(offs), "src")
            # minor node == a directed edge; standing at it means
            # having ARRIVED at its head node (_edge_v)
            .join(
                self.terminals.select(
                    F.col("_n").alias("_mn"), "_edge_v"
                ),
                F.col("_n") == F.col("_mn"),
            )
            .groupBy(F.col("_edge_v").alias("_n"))
            .agg(F.min(F.col("_w0") + F.col("dist")).alias("dist"))
            .filter(F.col("dist") <= float(budget))
        )
        return (
            folded.unionByName(
                self.spark.createDataFrame(self_row, out_schema)
            )
            .groupBy("_n")
            .agg(F.min("dist").alias("dist"))
        )

    def distance_matrix(
        self,
        sources: list,
        targets: list,
        strategy: str = "auto",
        max_iterations: int = 200,
    ) -> DataFrame:
        """Turn-aware many-to-many distances ``(src, dst, dist)`` —
        all sources' out-terminals and all targets' in-terminals ride
        ONE batched hierarchy query (Knopp-style), then two broadcast
        map joins + a groupBy-min fold the terminal pairs back to
        node pairs.  Unreachable pairs are absent; a node appearing on
        both sides contributes its trivial ``(s, s, 0.0)`` row."""
        if not sources or not targets:
            raise ValueError("sources and targets must be non-empty")
        sources = list(dict.fromkeys(sources))
        targets = list(dict.fromkeys(targets))
        idt = self.terminals.schema["_edge_u"].dataType
        srows = [
            (r["_n"], r["_edge_u"], float(r["_w0"]))
            for r in self.terminals.filter(F.col("_edge_u").isin(sources))
            .select("_n", "_edge_u", "_w0")
            .collect()
        ]
        trows = [
            (r["_n"], r["_edge_v"])
            for r in self.terminals.filter(F.col("_edge_v").isin(targets))
            .select("_n", "_edge_v")
            .collect()
        ]
        out_schema = _schema(idt, "src", "dst", "dist")
        trivial = [
            (s, s, 0.0) for s in sources if s in set(targets)
        ]
        if not srows or not trows:
            return self.spark.createDataFrame(trivial, out_schema)
        lmat = self.ch.distance_matrix(
            [s for s, _u, _w in srows],
            [t for t, _v in trows],
            strategy=strategy,
            max_iterations=max_iterations,
        )
        smap = self.spark.createDataFrame(
            srows,
            T.StructType(
                [
                    T.StructField("src", T.StringType(), False),
                    T.StructField("_osrc", idt, False),
                    T.StructField("_w0", T.DoubleType(), False),
                ]
            ),
        )
        tmap = self.spark.createDataFrame(
            trows,
            T.StructType(
                [
                    T.StructField("dst", T.StringType(), False),
                    T.StructField("_odst", idt, False),
                ]
            ),
        )
        folded = (
            lmat.join(F.broadcast(smap), "src")
            .join(F.broadcast(tmap), "dst")
            .groupBy(
                F.col("_osrc").alias("src"), F.col("_odst").alias("dst")
            )
            .agg(F.min(F.col("_w0") + F.col("dist")).alias("dist"))
        )
        if trivial:
            folded = (
                folded.unionByName(
                    self.spark.createDataFrame(trivial, out_schema)
                )
                .groupBy("src", "dst")
                .agg(F.min("dist").alias("dist"))
            )
        return folded
