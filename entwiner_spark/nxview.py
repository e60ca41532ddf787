"""Lazy NetworkX-protocol view over a :class:`SparkGraph`.

The reference's primary query API is a NetworkX-compatible ``DiGraph``
whose dict-protocol reads are database queries
(/root/reference/entwiner/graphs/digraphdb/__init__.py:16-93,
outer_adjlists.py:14-57, inner_adjlists.py:13-51): any unmodified nx
algorithm — ``nx.dijkstra_path(G, u, v, "length")`` — runs against the
store.  This module closes that protocol gap for the Spark engine:
``G[n]``, ``n in G``, ``G.nodes``, ``G.edges``, ``G.pred`` are lazy
mappings backed by filtered point lookups on the edge and node
tables.

Scale note (by design, same as the reference): this surface is
inherently point-lookup-shaped.  A cold ``G[n]`` is ONE Spark job: the
node's edges, filtered on the pre-exchange edge plan so the filter
reaches the scan, unioned with its node-table row, which answers the
existence test in the same collect (parity with the reference's
items() fast path, "avoid two round trips", inner_adjlists.py:37-41).
The result is memoized in an LRU that bounds driver memory; a cached
``G[n]`` and ``n in G`` for a cached node run no job.  The view exists
so driver-side nx algorithms work unmodified on graphs whose edge
tables live in Spark; bulk analytics should use the distributed
SparkGraph methods (shortest_path, pagerank, connected_components,
...) instead.

By default the view is read-only: mutation methods raise
ImmutableGraphError (parity: DiGraphDBView + exceptions.py:20).  With
``mutable=True`` the view is the ``DiGraphDB`` parity surface
(graphs/digraphdb/__init__.py:96-167): ``G[u][v]["cost"] = 2`` and
``del G[u][v]["cost"]`` write through to the keyed-MERGE mutation
operators (operators/mutations.py), ``add_edge(s_from)`` /
``remove_edge(s_from)`` upsert/anti-join the edge table, and
``update_edges(ebunch)`` is the batched path (the reference's own,
graphs/digraphdb/__init__.py:164-167 — broken there, functional here).
Writes to the key columns (``_u``/``_v``) and ``fid`` silently do not
stick, matching the reference's PK protection (test_digraphdb.py
test_update_fid).  Each write replaces the backing DataFrame plan
lazily.  A write that keeps the edge schema and writes values of the
Python type Spark returns for their columns is written through to the
cached edge attrs, so every cached read stays valid; any other write
bumps a generation counter that drops the memoized adjacency.  Lineage
is truncated with localCheckpoint every ``_CHECKPOINT_EVERY`` writes.
Per-assignment writes are the reference's own perf model (one SQL
UPDATE per ``d[k]=v``); for bulk mutation use ``update_edges`` /
``add_edges_from`` (one join per batch), and call ``flush(store_dir)``
to persist the mutated graph atomically.
"""

from __future__ import annotations

from collections import OrderedDict
from collections.abc import Iterator, Mapping, MutableMapping
from weakref import WeakValueDictionary

import networkx as nx
from pyspark.sql import functions as F

from entwiner_spark.exceptions import EdgeNotFound, ImmutableGraphError

_LRU_SIZE = 10_000
_CHECKPOINT_EVERY = 50
#: columns a dict-protocol write may never touch (PK parity: the
#: reference ignores fid writes, test_digraphdb.py test_update_fid)
_PROTECTED_KEYS = frozenset({"_u", "_v", "fid"})
#: marks the node-table row a cold adjacency read unions in
_NODE_HIT = "__nxview_node_hit"
#: column type -> the Python type Spark returns for it; a write of any
#: other value type (or into any other column type) is not patched
#: into the cache, because the stored value may differ from the written
#: one (an int written into a double column reads back as a float)
_PY_TYPES = {
    "double": float,
    "long": int,
    "integer": int,
    "string": str,
    "boolean": bool,
}


def _edge_attrs(row, drop: tuple[str, ...]) -> dict:
    d = row.asDict(recursive=True)
    for k in drop:
        d.pop(k, None)
    return d


def _column_types(df) -> dict:
    return {f.name: f.dataType for f in df.schema.fields}


def _patchable(before: dict, after: dict, patch: dict) -> bool:
    """True when a write described by ``patch`` ({(u, v): {key:
    value}}) can be applied to the cached attrs verbatim: the write
    kept the schema's name -> type map, and every value is ``None`` or
    already the Python type Spark returns for its column."""
    if before != after:
        return False
    return all(
        k in before
        and (x is None or type(x) is _PY_TYPES.get(before[k].typeName()))
        for kv in patch.values()
        for k, x in kv.items()
    )


class _EdgeDict(MutableMapping):
    """Write-through edge-attr mapping for the mutable view (parity:
    EdgeDict, reference graphs/digraphdb/edges.py:7-39).

    The view keeps one live instance per edge, shared by ``G[u][v]``
    and ``G.pred[v][u]``.  Reads come from a generation-stamped
    snapshot seeded by the adjacency collect; writes through the view
    patch it in place, and a write that drops the view's cache makes it
    reload with one filtered collect.  ``d[k] = v`` routes to the keyed
    mutation operators; ``del d[k]`` sets NULL (the reference's delete
    semantics); protected keys silently do not stick.
    """

    __slots__ = ("_view", "_u", "_v", "_attrs", "_gen", "__weakref__")

    def __init__(self, view, u: str, v: str):
        self._view, self._u, self._v = view, u, v
        self._attrs, self._gen = None, -1

    def _load(self) -> dict:
        if not self._fresh():
            rows = self._view._edge_scan(self._u, self._v).collect()
            if not rows:
                raise EdgeNotFound(f"({self._u}, {self._v})")
            self._attrs = _edge_attrs(rows[0], ("_u", "_v"))
            self._gen = self._view._generation
        return self._attrs

    def __getitem__(self, k: str):
        return self._load()[k]

    def __iter__(self) -> Iterator[str]:
        return iter(self._load())

    def __len__(self) -> int:
        return len(self._load())

    def _fresh(self) -> bool:
        """True when the snapshot matches the view's current edge plan —
        the edge provably exists, so a write can skip the existence
        scan."""
        return (
            self._attrs is not None
            and self._gen == self._view._generation
        )

    def __setitem__(self, k: str, value) -> None:
        if k in _PROTECTED_KEYS:
            return  # PK columns never change via the dict protocol
        self._view._write_edge_attr(self._u, self._v, k, value)

    def __delitem__(self, k: str) -> None:
        if k in _PROTECTED_KEYS:
            return
        if k not in self._load():
            # MutableMapping contract; also prevents a misspelled delete
            # from installing a permanent void-typed column
            raise KeyError(k)
        self._view._write_edge_attr(self._u, self._v, k, None)

    def __repr__(self) -> str:
        return f"_EdgeDict({self._u!r}, {self._v!r}, {dict(self._load())!r})"


class _InnerAdj(Mapping):
    """``G._succ[n]`` / ``G._pred[n]``: neighbor -> edge-attr dict.

    Built from the single collect of the cold ``G[n]`` read that also
    proved ``n`` exists, so reading it runs no job.  On a mutable view
    the values are the view's write-through :class:`_EdgeDict`
    instances, seeded from that collect.
    """

    __slots__ = ("_n", "_succ", "_rows")

    def __init__(self, n: str, succ: bool, rows: dict):
        self._n, self._succ, self._rows = n, succ, rows

    def __getitem__(self, k: str):
        return self._rows[k]

    def __iter__(self) -> Iterator[str]:
        return iter(self._rows)

    def __len__(self) -> int:
        return len(self._rows)

    def __repr__(self) -> str:
        return f"_InnerAdj({self._n!r}, succ={self._succ})"


class _OuterAdj(Mapping):
    """``G._succ`` / ``G._pred``: node -> inner adjacency, LRU-cached."""

    __slots__ = ("_sg", "_succ", "_lru", "_view")

    def __init__(self, sg, succ: bool, view=None):
        self._sg, self._succ = sg, succ
        self._lru: OrderedDict[str, _InnerAdj] = OrderedDict()
        self._view = view

    def __getitem__(self, n: str) -> _InnerAdj:
        if n in self._lru:
            self._lru.move_to_end(n)
            return self._lru[n]
        adj = _InnerAdj(n, self._succ, self._fetch(n))
        self._lru[n] = adj
        if len(self._lru) > _LRU_SIZE:
            self._lru.popitem(last=False)
        return adj

    def _fetch(self, n: str) -> dict:
        """One job: the node's edges on the pre-exchange plan plus its
        node-table row.  nx treats missing nodes via KeyError from the
        adjacency, so a node absent from the node table raises."""
        sg = self._sg
        key, other = ("_u", "_v") if self._succ else ("_v", "_u")
        rows = (
            sg._edges_raw.filter(F.col(key) == n)
            .unionByName(
                sg.nodes.filter(F.col("_n") == n).select(
                    F.lit(True).alias(_NODE_HIT)
                ),
                allowMissingColumns=True,
            )
            .collect()
        )
        if not any(r[_NODE_HIT] for r in rows):
            raise KeyError(n)
        view = self._view
        out = {}
        for r in rows:
            if r[_NODE_HIT]:
                continue
            m, attrs = r[other], _edge_attrs(r, ("_u", "_v", _NODE_HIT))
            if view is not None and view._mutable:
                u, v = (n, m) if self._succ else (m, n)
                attrs = view._edge_dict(u, v, attrs)
            out[m] = attrs
        return out

    def __contains__(self, n: object) -> bool:
        return n in self._lru or self._sg.has_node(n)

    def __iter__(self) -> Iterator[str]:
        for r in self._sg.nodes.select("_n").toLocalIterator():
            yield r["_n"]

    def __len__(self) -> int:
        return self._sg.order()


class _NodeDict(Mapping):
    """``G._node``: node id -> node-attr dict."""

    __slots__ = ("_sg", "_adjs")

    def __init__(self, sg, adjs: tuple[_OuterAdj, ...]):
        self._sg, self._adjs = sg, adjs

    def __getitem__(self, n: str) -> dict:
        rows = self._sg.get_node(n).limit(1).collect()
        if not rows:
            raise KeyError(n)
        d = rows[0].asDict(recursive=True)
        d.pop("_n", None)
        return d

    def __contains__(self, n: object) -> bool:
        # a cached adjacency read proved the node exists
        return any(n in a._lru for a in self._adjs) or self._sg.has_node(n)

    def __iter__(self) -> Iterator[str]:
        for r in self._sg.nodes.select("_n").toLocalIterator():
            yield r["_n"]

    def __len__(self) -> int:
        return self._sg.order()


def _immutable(name: str):
    def method(self, *a, **kw):
        raise ImmutableGraphError(
            f"{name}: this NetworkX view is read-only; pass mutable=True "
            "or mutate through the SparkGraph/mutations API and rebuild"
        )

    method.__name__ = name
    return method


def _mutating(name: str, impl):
    """Dispatch: mutable views run ``impl``, read-only views raise."""

    def method(self, *a, **kw):
        if not getattr(self, "_mutable", False):
            _immutable(name)(self)
        return impl(self, *a, **kw)

    method.__name__ = name
    return method


def _normalize_ebunch(ebunch, attr) -> list[tuple[str, str, dict]]:
    out = []
    for e in ebunch:
        if len(e) == 3:
            u, v, d = e
        elif len(e) == 2:
            u, v, d = e[0], e[1], {}
        else:
            raise ValueError(f"edge tuple {e!r} must be (u, v) or (u, v, d)")
        out.append((u, v, {**attr, **d}))
    return out


class LazyDiGraphView(nx.DiGraph):
    """``nx.DiGraph`` whose adjacency reads are Spark queries.

    >>> G = LazyDiGraphView(spark_graph)
    >>> nx.dijkstra_path(G, u, v, weight="_length")   # unmodified nx

    With ``mutable=True`` the dict protocol writes through to the
    keyed-MERGE mutation operators (DiGraphDB parity — see module
    docstring):

    >>> G = LazyDiGraphView(spark_graph, mutable=True)
    >>> G[u][v]["cost"] = 2.0         # one keyed update
    >>> G.update_edges([(u, v, {"cost": 3.0}), ...])   # batched
    >>> G.flush("/path/to/store")     # atomic persist
    """

    def __init__(self, spark_graph, mutable: bool = False):
        # deliberately no super().__init__(): the dict stores are
        # replaced by lazy query-backed mappings (nx >= 3.x descriptor
        # attrs _node/_succ/_pred accept mapping assignment; setting
        # _succ also wires _adj)
        self.sg = spark_graph
        self.graph = {}
        self._mutable = mutable
        self._generation = 0
        self._writes = 0
        # (u, v) -> the one live _EdgeDict of the edge, while the LRU or
        # a caller holds it: the set a write-through patch must reach
        self._edge_dicts: WeakValueDictionary = WeakValueDictionary()
        self._succ = _OuterAdj(spark_graph, succ=True, view=self)
        self._pred = _OuterAdj(spark_graph, succ=False, view=self)
        self._node = _NodeDict(spark_graph, (self._succ, self._pred))
        self.__networkx_cache__ = {}
        # Guard the nx-internal wiring assumption: on nx >= 3.x the
        # _succ descriptor aliases _adj; if a networkx release changes
        # that layout, algorithms would silently read the wrong store.
        if getattr(self, "_adj", None) is not self._succ:
            raise RuntimeError(
                "LazyDiGraphView requires networkx >= 3 (_adj must alias "
                f"_succ; found networkx {nx.__version__})"
            )

    @property
    def mutable(self) -> bool:
        """Parity: DiGraphDB sets ``self.mutable = True`` (reference
        graphs/digraphdb/__init__.py:132)."""
        return self._mutable

    def iter_edges(self):
        """Generator of ``(u, v, d)`` with ``d`` a PLAIN dict — the
        reference's fast bulk-read path that skips the database-synced
        edge mapping (graphs/digraphdb/__init__.py:68-82).  Streams
        via ``toLocalIterator`` (one partition in driver memory at a
        time), so it walks edge tables far larger than the driver —
        unlike ``.edges``, which goes through the point-lookup
        protocol."""
        for row in self.sg.edges.toLocalIterator():
            yield (
                row["_u"],
                row["_v"],
                _edge_attrs(row, ("_u", "_v")),
            )

    @classmethod
    def create_graph(cls, spark, path: str | None = None, mutable: bool = True):
        """Create a view over a NEW empty graph (parity:
        DiGraphDB.create_graph, graphs/digraphdb/__init__.py:135-137 —
        there it initializes the SQLite tables; here the canonical
        empty edge/node DataFrames, optionally published to ``path``
        as a parquet store)."""
        from entwiner_spark.operators.graph import SparkGraph
        from entwiner_spark.schemas import EDGES_BASE_SCHEMA, NODES_SCHEMA

        edges = spark.createDataFrame([], EDGES_BASE_SCHEMA)
        nodes = spark.createDataFrame([], NODES_SCHEMA)
        if path is not None:
            from entwiner_spark.sources.parquet_store import (
                write_graph_tables,
            )

            write_graph_tables(edges, nodes, path, partitions=1)
        return cls(SparkGraph(nodes, edges), mutable=mutable)

    # ---- write plumbing (mutable views only) --------------------------

    def _swap_edges(self, new_edges, patch: dict | None = None) -> None:
        """Install a mutated edge plan and keep the read cache coherent.

        Write-through rule: ``patch`` ({(u, v): {key: value}}) is the
        write as its semantics leave the row.  When the write keeps the
        edge schema's name -> type map and every value is ``None`` or
        already the Python type Spark returns for its column, the
        cached attrs of the touched edges are patched in place and
        every other cached read stays valid; an edge absent from the
        cache is left to its next read.  Any other write (no patch, a
        new column, a widened type, a value Spark would convert) drops
        every memoized read.  Lineage is truncated periodically so
        thousands of incremental writes cannot build an unbounded plan
        tree."""
        if patch is not None and not _patchable(
            _column_types(self.sg.edges), _column_types(new_edges), patch
        ):
            patch = None
        self._writes += 1
        if self._writes % _CHECKPOINT_EVERY == 0:
            new_edges = new_edges.localCheckpoint(eager=True)
        self.sg.edges = new_edges
        self.sg._edges_raw = new_edges
        self.sg._invalidate_size_caches()
        self.__networkx_cache__.clear()
        if patch is None:
            self._generation += 1
            self._succ._lru.clear()
            self._pred._lru.clear()
            return
        for edge, kv in patch.items():
            d = self._edge_dicts.get(edge)
            if d is not None and d._fresh():
                d._attrs.update(kv)

    def _edge_dict(self, u: str, v: str, attrs: dict) -> _EdgeDict:
        """The live :class:`_EdgeDict` of ``(u, v)``, reseeded with
        ``attrs`` read from the current edge plan."""
        d = self._edge_dicts.get((u, v))
        if d is None:
            d = self._edge_dicts[(u, v)] = _EdgeDict(self, u, v)
        d._attrs, d._gen = attrs, self._generation
        return d

    def _edge_scan(self, u: str, v: str):
        """Edge ``(u, v)`` filtered on the pre-exchange plan, so the
        filter reaches the scan and a collect is one job."""
        return self.sg._edges_raw.filter(
            (F.col("_u") == u) & (F.col("_v") == v)
        )

    def _has_edge(self, u: str, v: str) -> bool:
        """Existence test; free when a fresh cached read proves it."""
        d = self._edge_dicts.get((u, v))
        if d is not None and d._fresh():
            return True
        return bool(self._edge_scan(u, v).select("_u").collect())

    def _write_edge_attr(self, u: str, v: str, key: str, value) -> None:
        from entwiner_spark.operators.mutations import set_edge_attr

        if not self._has_edge(u, v):
            raise EdgeNotFound(f"({u}, {v})")
        self._swap_edges(
            set_edge_attr(self.sg.edges, u, v, key, value),
            {(u, v): {key: value}},
        )

    def _impl_update_edges(self, ebunch) -> None:
        """Batched keyed update — the path the reference intends with
        DiGraphDB.update_edges (graphs/digraphdb/__init__.py:164-167).
        One broadcast join per call, however many edges are in the
        batch; unknown attr columns are added (schema evolution).

        A ``None`` value keeps the old one (update_columns' sparse
        semantics).  Rows for the same ``(u, v)`` are merged on the
        driver in batch order, so the result is the one sequential
        writes would leave, not whichever duplicate the join keeps."""
        from entwiner_spark.operators.mutations import update_columns

        # Dropping None values also drops keys whose values are all
        # None: schema inference cannot type them
        # (CANNOT_DETERMINE_TYPE), and under the sparse semantics they
        # are a no-op anyway (per-edge NULL-clearing goes through
        # del G[u][v][k], reference delete semantics).
        merged: dict[tuple[str, str], dict] = {}
        for u, v, d in _normalize_ebunch(ebunch, {}):
            merged.setdefault((u, v), {}).update(
                (k, x)
                for k, x in d.items()
                if k not in _PROTECTED_KEYS and x is not None
            )
        merged = {e: d for e, d in merged.items() if d}
        if not merged:
            return
        keys = sorted({k for d in merged.values() for k in d})
        rows = [
            {"_u": u, "_v": v, **{k: d.get(k) for k in keys}}
            for (u, v), d in merged.items()
        ]
        updates = self.sg.spark.createDataFrame(rows)
        self._swap_edges(
            update_columns(self.sg.edges, updates, ["_u", "_v"]), merged
        )

    def _impl_add_edges_from(self, ebunch, **attr) -> None:
        """Batched upsert (parity: DiGraphDB.add_edges_from's batched
        SQL writes, graphs/digraphdb/__init__.py:139-163).  New
        endpoints are added to the node table."""
        from entwiner_spark.operators.mutations import upsert

        edges = _normalize_ebunch(ebunch, attr)
        if not edges:
            return
        keys = sorted({k for _, _, d in edges for k in d} - _PROTECTED_KEYS)
        rows = [
            {"_u": u, "_v": v, **{k: d.get(k) for k in keys}}
            for u, v, d in edges
        ]
        incoming = self.sg.spark.createDataFrame(rows)
        new_edges = upsert(self.sg.edges, incoming, ["_u", "_v"])
        # insert only MISSING endpoints: an upsert would replace
        # existing node rows with attribute-less (_n)-only rows,
        # destroying node geometry/attrs for every touched endpoint
        node_ids = sorted({n for u, v, _ in edges for n in (u, v)})
        fresh = (
            self.sg.spark.createDataFrame([(n,) for n in node_ids], ["_n"])
            .join(self.sg.nodes.select("_n"), "_n", "left_anti")
        )
        self.sg.nodes = self.sg.nodes.unionByName(
            fresh, allowMissingColumns=True
        )
        self._swap_edges(new_edges)

    def _impl_add_edge(self, u, v, **attr) -> None:
        self._impl_add_edges_from([(u, v, dict(attr))])

    def _impl_add_weighted_edges_from(
        self, ebunch, weight: str = "weight", **attr
    ) -> None:
        # nx semantics: (u, v, w) triples; delegates to the batched add
        self._impl_add_edges_from(
            [(u, v, {**attr, weight: w}) for u, v, w in ebunch]
        )

    def _impl_remove_edges_from(self, ebunch) -> None:
        from entwiner_spark.operators.mutations import delete_keys

        pairs = [(e[0], e[1]) for e in ebunch]
        if not pairs:
            return
        keys_df = self.sg.spark.createDataFrame(pairs, ["_u", "_v"])
        self._swap_edges(delete_keys(self.sg.edges, keys_df, ["_u", "_v"]))

    def _impl_remove_edge(self, u, v) -> None:
        if not self._has_edge(u, v):
            raise nx.NetworkXError(f"The edge {u}-{v} is not in the graph.")
        self._impl_remove_edges_from([(u, v)])

    def flush(self, store_dir: str, **kwargs) -> None:
        """Persist the (possibly mutated) graph atomically to a parquet
        store (temp-dir + rename, sources/parquet_store.py)."""
        from entwiner_spark.sources.parquet_store import write_graph_tables

        write_graph_tables(self.sg.edges, self.sg.nodes, store_dir, **kwargs)

    # nx uses len(G) / iter(G) via _node; __contains__ via _node too.

    add_node = _immutable("add_node")
    add_nodes_from = _immutable("add_nodes_from")
    remove_node = _immutable("remove_node")
    remove_nodes_from = _immutable("remove_nodes_from")
    add_edge = _mutating("add_edge", _impl_add_edge)
    add_edges_from = _mutating("add_edges_from", _impl_add_edges_from)
    add_weighted_edges_from = _mutating(
        "add_weighted_edges_from", _impl_add_weighted_edges_from
    )
    remove_edge = _mutating("remove_edge", _impl_remove_edge)
    remove_edges_from = _mutating("remove_edges_from", _impl_remove_edges_from)
    update_edges = _mutating("update_edges", _impl_update_edges)
    clear = _immutable("clear")
    clear_edges = _immutable("clear_edges")
    update = _immutable("update")
