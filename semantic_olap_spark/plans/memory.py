"""Cube memory: lattice of materialized views + granularity catalog.

Re-implements the reference's two-level cube structure
(Semantic-OLAP/Agents/Components/OLAP_Memory.py — SURVEY.md §1.4):

1. a DAG of ``CubeNode``s, each a *materialized filtered subset*
   tagged with the query that produced it and its accumulated plan
   (Cube_node, OLAP_Memory.py:106-118; edges = "child ⊂ parent",
   OLAP_Memory.py:157-158);
2. per-dimension granularity hierarchies: every column is a
   dimension (Col_Views, OLAP_Memory.py:80-103) holding named
   ``GranularityView``s — an ``(OLAP_ID, label)`` mapping plus an
   optional aggregated result (Granularity_View, OLAP_Memory.py:69-77).

Spark realization: node data are cached DataFrames (unpersisted on
eviction); the lattice itself is driver-side metadata.  Reuse
semantics (OLAP_Memory.py:160-187 — the LLM classifies
Equal/Subset/...):

- an *exact* structural fast-path (normalized query text match ⇒
  Equal; plan-prefix ⇒ Subset) runs first and is deterministic;
- an optional ``classify`` hook (query_a, query_b) → one of
  ``Equal/Subset/Contain/Intersect/No_relation`` plugs in the LLM
  judgment for the semantic cases.

The disk path is the whole lattice, not a node: :func:`save_cube` /
:func:`save_cube_incremental` write node frames as parquet and
:func:`load_cube` reopens them as deferred disk scans.
"""

from __future__ import annotations

import itertools
from typing import Callable, Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantic_olap_spark.sources.loaders import OLAP_ID

Relation = str  # Equal | Subset | Contain | Intersect | No_relation


def _norm_query(q: str) -> str:
    return " ".join(q.lower().split())


def llm_relation_classifier(llm_factory=None):
    """Relation classifier backed by the LLM protocol.

    Mirrors OLAP_Memory.py:5-64 (PROMPT_GET_NODE + parse_relation):
    the model compares the data sets of two queries and answers one
    of contain/subset/equal/intersect/no_relation; any unparseable
    answer degrades to No_relation (never to a wrong reuse).
    """
    from semantic_olap_spark.llm import prompts as P
    from semantic_olap_spark.llm.client import default_llm_factory
    from semantic_olap_spark.llm.repair import parse_llm_json

    factory = llm_factory or default_llm_factory
    llm = factory()

    def classify(new_query: str, node_query: str) -> Relation:
        res = parse_llm_json(
            llm.predict(P.relation_prompt(new_query, node_query)), default={}
        )
        rel = str(res.get("relation", "")).lower()
        for key, out in (
            ("contain", "Contain"), ("subset", "Subset"), ("equal", "Equal"),
            ("intersect", "Intersect"),
        ):
            if key in rel:
                return out
        return "No_relation"

    return classify


class GranularityView:
    """(OLAP_ID → label) mapping at one granularity (OLAP_Memory.py:69-77).

    ``loader`` (catalog mode) defers the frame to first access: a
    thousands-of-nodes cube reopened from disk must not issue one
    parquet read per granularity at open time."""

    def __init__(self, name: str, df: DataFrame | None,
                 description: str = "", plan: list | None = None,
                 loader=None):
        self.name = name
        self._df = df  # columns: OLAP_ID, <name>
        self._loader = loader
        self.description = description
        self.plan = plan or []
        self.view: DataFrame | None = None  # memoized aggregate

    @property
    def df(self) -> DataFrame:
        if self._df is None and self._loader is not None:
            self._df = self._loader()
        return self._df

    @df.setter
    def df(self, value: DataFrame) -> None:
        self._df = value


class ColViews:
    """A dimension: named granularities, coarsest-to-finest
    (Col_Views, OLAP_Memory.py:80-103).  The root granularity bears
    the dimension's own column name."""

    def __init__(self, column: str):
        self.column = column
        self.granularities: dict[str, GranularityView] = {}

    def add(self, g: GranularityView) -> None:
        self.granularities[g.name] = g

    def get(self, name: str) -> GranularityView | None:
        return self.granularities.get(name)

    def names(self) -> list[str]:
        return list(self.granularities)


class CubeNode:
    """A materialized filtered subset (Cube_node, OLAP_Memory.py:106-118).

    Catalog mode: with ``loader`` (and ``df=None``) the node is pure
    metadata — query text, plan, topology — until ``.df`` is first
    touched, at which point the loader (a disk scan) resolves it.
    Opening a saved thousands-of-nodes lattice therefore costs one
    manifest read, not one parquet-footer job per node; lattice
    probes (``get_current_node`` classify calls) are metadata-only."""

    _ids = itertools.count()

    def __init__(self, query: str, df: DataFrame | None,
                 plan: list | None = None, loader=None):
        self.id = next(CubeNode._ids)
        self.query = query
        self.plan = plan or []
        self.parents: list[int] = []
        self.children: list[int] = []
        self._loader = loader
        self.col_views: dict[str, ColViews] = {}
        if df is None:
            if loader is None:
                raise ValueError("CubeNode needs df or loader")
            self._df = None
            return
        if OLAP_ID not in df.columns:
            # assigned once per node, carried thereafter
            # (OLAP_Memory.py:110-111; SURVEY.md §7.4 risk 3)
            df = df.withColumn(OLAP_ID, F.monotonically_increasing_id())
        self._df = df.cache()

    @property
    def df(self) -> DataFrame:
        if self._df is None and self._loader is not None:
            self._df = self._loader()
        return self._df

    @df.setter
    def df(self, value: DataFrame) -> None:
        self._df = value

    @property
    def is_loaded(self) -> bool:
        """Catalog mode: whether the frame has been materialized."""
        return self._df is not None

    def dimension(self, column: str) -> ColViews:
        if column not in self.col_views:
            self.col_views[column] = ColViews(column)
        return self.col_views[column]

    def dimensions(self) -> list[str]:
        return [c for c in self.df.columns if c != OLAP_ID]

    def release(self) -> None:
        if self._df is None:
            return  # catalog mode, never materialized — nothing held
        try:
            self._df.unpersist()
        except Exception:
            pass
        if self._loader is not None:
            # loader-backed frame: drop the scan object too, so a
            # released catalog node returns to pure metadata
            self._df = None


class CubeMemory:
    """The lattice (OLAP_Memory, OLAP_Memory.py:137-187).

    ``max_cached_nodes`` bounds how many non-root nodes may hold a
    *cached* frame at once: past the budget the least-recently-used
    node that is neither the root nor an ancestor of the most recent
    node is released (``unpersist`` only — metadata and lineage stay,
    so revisiting an evicted node recomputes the filter correctly).
    Long sessions therefore don't accumulate persisted frames in
    executor memory (SCALE.md "Known trade-offs").
    """

    def __init__(
        self,
        root_df: DataFrame,
        classify: Callable[[str, str], Relation] | None = None,
        max_cached_nodes: int | None = None,
    ):
        self.nodes: dict[int, CubeNode] = {}
        self.classify = classify
        self.max_cached_nodes = max_cached_nodes
        self._lru: list[int] = []
        root = CubeNode("All Data", root_df, plan=[])
        self.root_id = root.id
        self.nodes[root.id] = root

    # -- cache budget ----------------------------------------------------

    def _ancestors(self, node_id: int) -> set[int]:
        seen: set[int] = set()
        stack = [node_id]
        while stack:
            for p in self.nodes[stack.pop()].parents:
                if p not in seen:
                    seen.add(p)
                    stack.append(p)
        return seen

    def touch(self, node_id: int) -> None:
        """Record use of a node; evict past the cache budget."""
        if node_id in self._lru:
            self._lru.remove(node_id)
        self._lru.append(node_id)
        self._evict()

    def _evict(self) -> None:
        if self.max_cached_nodes is None:
            return
        protected = {self.root_id}
        if self._lru:
            recent = self._lru[-1]
            protected |= {recent} | self._ancestors(recent)
        # peek _df directly: touching .df would force-load catalog
        # nodes just to decide they hold no cache
        cached = [
            nid for nid in self._lru
            if nid != self.root_id
            and self.nodes[nid]._df is not None
            and self.nodes[nid]._df.is_cached
        ]
        overflow = len(cached) - self.max_cached_nodes
        for nid in list(self._lru):
            if overflow <= 0:
                break
            n = self.nodes[nid]
            if nid in protected or n._df is None or not n._df.is_cached:
                continue
            self.nodes[nid].release()
            overflow -= 1

    # -- lattice ---------------------------------------------------------

    def add_node(self, query: str, df: DataFrame, plan: list,
                 parent_ids: Sequence[int]) -> CubeNode:
        node = CubeNode(query, df, plan)
        self.nodes[node.id] = node
        for pid in parent_ids:
            self.add_edge(pid, node.id)
        self.touch(node.id)
        return node

    def add_edge(self, parent: int, child: int) -> None:
        if child not in self.nodes[parent].children:
            self.nodes[parent].children.append(child)
        if parent not in self.nodes[child].parents:
            self.nodes[child].parents.append(parent)

    def relation(self, new_query: str, node: CubeNode) -> Relation:
        """Structural fast-path, then the pluggable (LLM) classifier."""
        if _norm_query(new_query) == _norm_query(node.query):
            return "Equal"
        if self.classify is not None:
            return self.classify(new_query, node.query)
        return "No_relation"

    def get_current_node(self, query: str) -> tuple[CubeNode | None, list[CubeNode]]:
        """BFS from the root (OLAP_Memory.py:160-187).

        Returns ``(equal_node, deepest_subset_ancestors)`` — an Equal
        hit means full reuse; Subset ancestors are the starting data
        for incremental delta filtering (SURVEY.md §4 rewrite 5).
        """
        subset_hits: list[CubeNode] = []
        frontier = [self.root_id]
        seen = set(frontier)
        deepest: list[CubeNode] = [self.nodes[self.root_id]]
        while frontier:
            nxt: list[int] = []
            for nid in frontier:
                node = self.nodes[nid]
                rel = self.relation(query, node)
                if rel == "Equal":
                    self.touch(node.id)
                    return node, []
                if rel == "Subset" or nid == self.root_id:
                    subset_hits.append(node)
                    for c in node.children:
                        if c not in seen:
                            seen.add(c)
                            nxt.append(c)
            frontier = nxt
        if subset_hits:
            # deepest = hits none of whose children is also a hit
            hit_ids = {n.id for n in subset_hits}
            deepest = [
                n for n in subset_hits
                if not any(c in hit_ids for c in n.children)
            ]
        return None, deepest

    # -- granularity catalog --------------------------------------------

    def register_granularity(
        self, node_id: int, column: str, name: str, label_df: DataFrame,
        description: str = "", plan: list | None = None,
    ) -> GranularityView:
        """Memoize a roll-up mapping (Roll_Up_Agent.py:154-155,235-236)."""
        g = GranularityView(name, label_df, description, plan)
        self.nodes[node_id].dimension(column).add(g)
        return g

    def find_granularity(self, node_id: int, column: str, name: str):
        dim = self.nodes[node_id].col_views.get(column)
        return dim.get(name) if dim else None

    def attach_labels(self, node_id: int, g: GranularityView) -> DataFrame:
        """Join an (OLAP_ID, label) view back onto the node's rows —
        the reference's merge-on-OLAP_ID (Roll_Up_Agent.py:173,225)."""
        node = self.nodes[node_id]
        return node.df.join(g.df, on=OLAP_ID, how="left")


# -- cube persistence ----------------------------------------------------


_DELTA_NAME_RE = None  # compiled lazily (keeps re import local)


def _cube_fs(path: str, spark=None):
    """Cube-persistence instantiation of the shared state-filesystem
    seam (:mod:`semantic_olap_spark.streaming.statefs`): plain paths
    use os-level manifest I/O, ``file://``/``hdfs://`` URIs the
    Hadoop FileSystem API — so a cube directory can live on
    HDFS-class shared storage for multi-host reuse.  Object-store
    schemes are refused (the exclusive manifest commit relies on
    no-overwrite rename/link semantics).  Returns
    ``(fs, normalized_path)``."""
    from semantic_olap_spark.streaming.statefs import resolve_state_fs

    return resolve_state_fs(
        path,
        what="cube path",
        layer="cube persistence layer",
        spark=spark,
    )


def _delta_names(fs, path: str) -> list[str]:
    """Sorted ``delta-NNNNNN.json`` manifest names under ``path``."""
    import re

    global _DELTA_NAME_RE
    if _DELTA_NAME_RE is None:
        _DELTA_NAME_RE = re.compile(r"^delta-\d{6}\.json$")
    if not fs.isdir(path):
        return []
    return sorted(
        n for n in fs.listdir(path) if _DELTA_NAME_RE.match(n)
    )


def save_cube(mem: CubeMemory, path: str) -> None:
    """Persist the lattice: every node's materialized frame + the
    granularity label maps as parquet, topology/queries/plans as a
    JSON manifest.

    Cross-session reuse is the point: a nightly session reopens
    yesterday's cube with :func:`load_cube` and Equal/Subset probes
    hit disk-backed parquet (scans with pushdown) instead of
    re-filtering the root.  ``path`` goes through the shared state
    filesystem seam (r13): plain local paths use os-level manifest
    I/O, ``file://``/``hdfs://`` URIs the Hadoop FileSystem API —
    so a cube can live on HDFS-class shared storage for multi-host
    reuse; object-store schemes are refused (the exclusive manifest
    commit needs no-overwrite rename/link semantics).

    **Single-writer contract** (deliberate scope cut, mirroring the
    streaming state layer's statefs contract): a cube directory has
    ONE writer at a time — readers (``load_cube``) are always safe
    (they see the last complete base+delta manifest chain), and
    concurrent *incremental* writers are detected at the manifest
    commit (exclusive create — the loser aborts loudly instead of
    silently interleaving frames), but two concurrent FULL saves to
    one directory are undefined.  Multi-writer cube maintenance at
    cluster scale wants a transactional table format
    (Delta/Iceberg-style commit protocol); this module deliberately
    does not claim it — serialize writers instead.
    """
    import json

    root_df = mem.nodes[mem.root_id].df
    fs, path = _cube_fs(path, root_df.sparkSession)
    fs.makedirs(path)
    manifest: dict = {"root_id": mem.root_id, "nodes": []}
    for nid, node in mem.nodes.items():
        node_dir = f"{path}/nodes/{nid}"
        node.df.write.mode("overwrite").parquet(fs.spark_path(node_dir))
        grans = []
        for col, views in node.col_views.items():
            for gname, g in views.granularities.items():
                gdir = f"{path}/grans/{nid}/{col}/{gname}"
                g.df.write.mode("overwrite").parquet(fs.spark_path(gdir))
                grans.append(
                    {"column": col, "name": gname,
                     "description": g.description, "plan": g.plan}
                )
        manifest["nodes"].append(
            {"id": nid, "query": node.query, "plan": node.plan,
             "parents": node.parents, "children": node.children,
             "granularities": grans}
        )
    fs.write_text(f"{path}/cube.json", json.dumps(manifest, indent=1))
    # record what's on disk so save_cube_incremental skips it
    mem._persisted = {nid: nid for nid in mem.nodes}
    mem._persisted_grans = {
        nid: {
            (col, gname)
            for col, views in node.col_views.items()
            for gname in views.granularities
        }
        for nid, node in mem.nodes.items()
    }


def _merged_manifest(fs, path: str) -> dict:
    """Base ``cube.json`` + ordered ``delta-*.json`` overlays.

    A delta entry for an id already present merges (union) its
    granularities and edges onto the base spec; unseen ids append as
    new nodes.  Query/plan of a known id keep their first (base)
    spelling — deltas only re-state them for new nodes.
    """
    import json

    base = json.loads(fs.read_text(f"{path}/cube.json"))
    nodes: dict[int, dict] = {int(n["id"]): dict(n) for n in base["nodes"]}
    for dname in _delta_names(fs, path):
        delta = json.loads(fs.read_text(f"{path}/{dname}"))
        for n in delta.get("nodes", []):
            nid = int(n["id"])
            if nid in nodes:
                cur = nodes[nid]
                cur["granularities"] = list(
                    cur.get("granularities", [])
                ) + list(n.get("granularities", []))
                cur["parents"] = sorted(
                    set(cur.get("parents", [])) | set(n.get("parents", []))
                )
                cur["children"] = sorted(
                    set(cur.get("children", []))
                    | set(n.get("children", []))
                )
            else:
                nodes[nid] = dict(n)
    return {"root_id": base["root_id"], "nodes": list(nodes.values())}


def save_cube_incremental(mem: CubeMemory, path: str) -> None:
    """Checkpoint the lattice writing ONLY what's new since the last
    save to ``path``: frames/label maps of unseen nodes and
    granularities, plus one append-only ``delta-NNNNNN.json``.

    A long-running session can checkpoint every few queries without
    rewriting every node frame (the full :func:`save_cube` cost grows
    with lattice size; this grows with the DELTA).  First call on an
    empty directory falls back to a full save.  ``load_cube`` merges
    base + deltas transparently, and a loaded memory checkpoints
    incrementally right back into the same directory (saved-directory
    ids survive the load's in-memory id reassignment).
    """
    root_df = mem.nodes[mem.root_id].df
    fs, path = _cube_fs(path, root_df.sparkSession)
    if not fs.exists(f"{path}/cube.json"):
        save_cube(mem, path)
        return
    persisted: dict[int, int] = getattr(mem, "_persisted", {})
    persisted_grans: dict[int, set] = getattr(mem, "_persisted_grans", {})
    deltas_at_read = _delta_names(fs, path)
    merged = _merged_manifest(fs, path)
    used_dirs = {int(n["id"]) for n in merged["nodes"]} | set(
        persisted.values()
    )
    next_dir = max(used_dirs) + 1 if used_dirs else 0
    # pass 1: allocate directory ids + write frames for new nodes, so
    # pass 2 can record edges between new nodes regardless of order
    new_ids = []
    for nid, node in mem.nodes.items():
        if nid in persisted:
            continue
        dir_id = next_dir
        next_dir += 1
        persisted[nid] = dir_id
        node.df.write.mode("overwrite").parquet(
            fs.spark_path(f"{path}/nodes/{dir_id}")
        )
        new_ids.append(nid)
    delta_nodes = []
    for nid, node in mem.nodes.items():
        dir_id = persisted[nid]
        seen = persisted_grans.setdefault(nid, set())
        grans = []
        for col, views in node.col_views.items():
            for gname, g in views.granularities.items():
                if (col, gname) in seen:
                    continue
                g.df.write.mode("overwrite").parquet(
                    fs.spark_path(f"{path}/grans/{dir_id}/{col}/{gname}")
                )
                seen.add((col, gname))
                grans.append(
                    {"column": col, "name": gname,
                     "description": g.description, "plan": g.plan}
                )
        if nid in new_ids or grans:
            delta_nodes.append(
                {"id": dir_id, "query": node.query, "plan": node.plan,
                 "parents": [persisted[p] for p in node.parents
                             if p in persisted],
                 "children": [persisted[c] for c in node.children
                              if c in persisted],
                 "granularities": grans}
            )
    mem._persisted = persisted
    mem._persisted_grans = persisted_grans
    if delta_nodes:
        _commit_delta_manifest(fs, path, delta_nodes, deltas_at_read)


def _commit_delta_manifest(
    fs, path: str, delta_nodes: list, deltas_at_read: list[str]
) -> None:
    """Exclusive delta-manifest commit (single-writer contract).

    A concurrent checkpoint that started from the same directory view
    allocates the SAME next directory ids and the same manifest
    sequence number — last-wins overwrite would silently interleave
    two writers' frames under one manifest.  Two checks make exactly
    one writer commit: (1) the delta chain on disk must still equal
    ``deltas_at_read`` (the view the frame/dir-id allocation was
    computed against); (2) the final manifest is published
    exclusively (``link(2)`` locally; no-overwrite rename on
    Hadoop filesystems).  The loser aborts loudly with the remedy
    named.
    """
    import json
    import os

    def _refuse(found: str) -> None:
        raise ValueError(
            f"cube directory {path}: {found} appeared during this "
            f"checkpoint — a CONCURRENT save_cube_incremental "
            f"writer committed first. This save is aborted; its "
            f"node frames may have been overwritten by the winner "
            f"(both writers allocate the same directory ids). The "
            f"cube directory is single-writer: serialize "
            f"checkpoints, then reload with load_cube and "
            f"re-checkpoint this session's new nodes."
        )

    now = _delta_names(fs, path)
    if now != deltas_at_read:
        _refuse(
            ", ".join(sorted(set(now) ^ set(deltas_at_read)))
            or "a delta change"
        )
    seq = len(now) + 1
    final = f"{path}/delta-{seq:06d}.json"
    tmp = f"{path}/.delta-{seq:06d}.json.tmp"
    fs.write_text(tmp, json.dumps({"nodes": delta_nodes}, indent=1))
    try:
        fs.publish_exclusive(tmp, final)
    except FileExistsError:
        _refuse(os.path.basename(final))
    finally:
        try:
            fs.remove(tmp)
        except OSError:
            pass


def load_cube(
    spark,
    path: str,
    classify: Callable[[str, str], Relation] | None = None,
    max_cached_nodes: int | None = None,
) -> CubeMemory:
    """Reopen a :func:`save_cube` directory as a live lattice.

    The cube opens in catalog mode: only the manifest and the root
    frame load at open.  Every other node and granularity is metadata
    with a deferred disk-scan loader, resolved on first ``.df`` touch
    as a plain parquet scan (disk-backed, no cache; predicate
    pushdown applies on every reuse).  Open cost is O(manifest), not
    one parquet-footer job per node, and lattice probes
    (``get_current_node``'s classify calls, topology walks) never
    materialize frames (pinned by
    tests/test_cube_persistence.py::test_catalog_mode_scales).  Node
    ids are re-assigned but topology, queries, plans, and granularity
    catalogs are preserved.  Incremental checkpoints
    (``delta-*.json`` from :func:`save_cube_incremental`) merge in
    transparently, and the returned memory can keep checkpointing
    incrementally into the same directory.
    """
    fs, path = _cube_fs(path, spark)
    manifest = _merged_manifest(fs, path)
    by_old = {int(n["id"]): n for n in manifest["nodes"]}
    root_old = int(manifest["root_id"])

    root_df = spark.read.parquet(fs.spark_path(f"{path}/nodes/{root_old}"))
    mem = CubeMemory(
        root_df, classify=classify, max_cached_nodes=max_cached_nodes
    )
    # the CubeMemory constructor cached the root; swap to the
    # disk-backed scan (already has OLAP_ID)
    mem.nodes[mem.root_id].release()
    mem.nodes[mem.root_id].df = root_df
    mem.nodes[mem.root_id].query = by_old[root_old]["query"]
    id_map = {root_old: mem.root_id}

    def _scan(rel: str):
        return lambda: spark.read.parquet(fs.spark_path(f"{path}/{rel}"))

    for old_id, spec in by_old.items():
        if old_id == root_old:
            continue
        node = CubeNode(
            spec["query"], None, plan=spec["plan"],
            loader=_scan(f"nodes/{old_id}"),
        )
        mem.nodes[node.id] = node
        id_map[old_id] = node.id

    for old_id, spec in by_old.items():
        for p in spec["parents"]:
            mem.add_edge(id_map[int(p)], id_map[old_id])
        for g in spec["granularities"]:
            gv = GranularityView(
                g["name"], None, g.get("description", ""), g.get("plan"),
                loader=_scan(f"grans/{old_id}/{g['column']}/{g['name']}"),
            )
            mem.nodes[id_map[old_id]].dimension(g["column"]).add(gv)
    # everything just loaded is on disk already: seed the persisted
    # maps (new in-memory id → saved directory id) so incremental
    # checkpoints into this directory write only genuinely new work
    mem._persisted = {new: old for old, new in id_map.items()}
    mem._persisted_grans = {
        id_map[old_id]: {
            (g["column"], g["name"])
            for g in spec.get("granularities", [])
        }
        for old_id, spec in by_old.items()
    }
    return mem
