"""save_cube / load_cube: cross-session lattice reuse."""

from __future__ import annotations

from pyspark.sql import functions as F

from semantic_olap_spark.plans.memory import (
    CubeMemory,
    load_cube,
    save_cube,
)


def _build(tables):
    mem = CubeMemory(tables["documents"])
    root = mem.nodes[mem.root_id]
    spark_docs = root.df.filter(F.lower(F.col("text")).contains("spark"))
    n1 = mem.add_node(
        "mentions spark", spark_docs,
        [{"operator_name": "keyword_filter",
          "parameters": {"columns": ["text"], "keywords": ["spark"]}}],
        [mem.root_id],
    )
    labels = n1.df.select("OLAP_ID", F.col("lang").alias("lang_family"))
    mem.register_granularity(
        n1.id, "lang", "lang_family", labels, "coarser lang buckets"
    )
    return mem, n1


def test_save_load_round_trip(tables, spark, tmp_path):
    mem, n1 = _build(tables)
    d = str(tmp_path / "cube")
    save_cube(mem, d)

    mem2 = load_cube(spark, d)
    assert len(mem2.nodes) == 2
    root2 = mem2.nodes[mem2.root_id]
    assert root2.query == "All Data"
    assert root2.df.count() == mem.nodes[mem.root_id].df.count()

    # Equal probe hits the reloaded child without recomputation
    hit, _ = mem2.get_current_node("mentions spark")
    assert hit is not None
    assert hit.df.count() == n1.df.count()
    assert hit.plan[0]["operator_name"] == "keyword_filter"
    # topology preserved
    assert hit.parents == [mem2.root_id]

    # granularity catalog restored, label join works
    g = mem2.find_granularity(hit.id, "lang", "lang_family")
    assert g is not None and g.description == "coarser lang buckets"
    joined = mem2.attach_labels(hit.id, g)
    assert joined.filter(F.col("lang_family").isNull()).count() == 0


def test_loaded_frames_are_disk_backed(tables, spark, tmp_path):
    mem, _ = _build(tables)
    d = str(tmp_path / "cube2")
    save_cube(mem, d)
    mem2 = load_cube(spark, d)
    hit, _ = mem2.get_current_node("mentions spark")
    plan = hit.df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan  # scan, not an in-memory relation
    # pushdown applies to reuse-time filters on the materialized node
    filtered = hit.df.filter(F.col("doc_id") > 100)
    fplan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)]" in fplan


def test_engine_save_load(tables, spark, tmp_path):
    from semantic_olap_spark.engine import OlapEngine

    eng = OlapEngine(tables["documents"], order_by=["doc_id"])
    n = eng.run("mentions spark in text").count()
    d = str(tmp_path / "engine_cube")
    eng.save(d)

    eng2 = OlapEngine.load(spark, d)
    # Equal probe reuses the reloaded node — same rows, no recompute
    out = eng2.run("mentions spark in text")
    assert out.count() == n
    assert len(eng2.memory.nodes) == len(eng.memory.nodes)


# ---------------------------------------------------------------------------
# incremental checkpointing (save_cube_incremental + delta manifests)


def _frame_mtimes(d):
    import os

    out = {}
    nodes_dir = os.path.join(d, "nodes")
    for nid in os.listdir(nodes_dir):
        p = os.path.join(nodes_dir, nid)
        out[nid] = max(
            os.path.getmtime(os.path.join(p, f)) for f in os.listdir(p)
        )
    return out


def test_three_incremental_saves_round_trip(tables, spark, tmp_path):
    import os

    from semantic_olap_spark.plans.memory import save_cube_incremental

    mem, n1 = _build(tables)
    d = str(tmp_path / "cube_inc")

    # save 1: empty dir → full save
    save_cube_incremental(mem, d)
    assert os.path.exists(f"{d}/cube.json")
    base_mtimes = _frame_mtimes(d)

    # save 2: one new node + one new granularity on the OLD node
    root = mem.nodes[mem.root_id]
    join_docs = root.df.filter(F.lower(F.col("text")).contains("join"))
    n2 = mem.add_node(
        "mentions join", join_docs,
        [{"operator_name": "keyword_filter",
          "parameters": {"columns": ["text"], "keywords": ["join"]}}],
        [mem.root_id],
    )
    labels2 = n1.df.select("OLAP_ID", F.col("source").alias("src_kind"))
    mem.register_granularity(n1.id, "source", "src_kind", labels2, "src buckets")
    save_cube_incremental(mem, d)

    # previously saved frames were NOT rewritten
    after = _frame_mtimes(d)
    for nid, t in base_mtimes.items():
        assert after[nid] == t, f"node dir {nid} was rewritten"
    assert len(after) == len(base_mtimes) + 1  # exactly one new frame
    deltas = [f for f in os.listdir(d) if f.startswith("delta-")]
    assert len(deltas) == 1

    # save 3: nothing changed → no frames touched, no delta appended
    save_cube_incremental(mem, d)
    assert _frame_mtimes(d) == after
    assert len([f for f in os.listdir(d) if f.startswith("delta-")]) == 1

    # full reload sees the merged lattice
    mem2 = load_cube(spark, d)
    assert len(mem2.nodes) == 3
    hit, _ = mem2.get_current_node("mentions join")
    assert hit is not None and hit.df.count() == n2.df.count()
    hit1, _ = mem2.get_current_node("mentions spark")
    assert mem2.find_granularity(hit1.id, "lang", "lang_family") is not None
    assert mem2.find_granularity(hit1.id, "source", "src_kind") is not None


def test_incremental_after_load_same_directory(tables, spark, tmp_path):
    """load_cube → add a node → incremental save back into the SAME
    directory: only the new node's frame is written, and a fresh load
    sees everything (saved-dir ids survive id reassignment)."""
    import os

    from semantic_olap_spark.plans.memory import save_cube_incremental

    mem, _ = _build(tables)
    d = str(tmp_path / "cube_reload")
    save_cube_incremental(mem, d)

    mem2 = load_cube(spark, d)
    before = _frame_mtimes(d)
    root2 = mem2.nodes[mem2.root_id]
    big = root2.df.filter(F.col("n_chars") > 300)
    mem2.add_node(
        "long docs", big,
        [{"operator_name": "num_filter",
          "parameters": {"conditions": [
              {"column": "n_chars", "threshold": 300, "operator": ">"}]}}],
        [mem2.root_id],
    )
    save_cube_incremental(mem2, d)
    after = _frame_mtimes(d)
    for nid, t in before.items():
        assert after[nid] == t, f"node dir {nid} was rewritten"
    assert len(after) == len(before) + 1

    mem3 = load_cube(spark, d)
    assert len(mem3.nodes) == 3
    hit, _ = mem3.get_current_node("long docs")
    assert hit is not None
    assert hit.df.count() == big.count()
    assert hit.parents == [mem3.root_id]


def test_lazy_load_defers_frames(tables, spark, tmp_path):
    # catalog mode (load_cube's only mode): only the root materializes
    # at open; node frames and granularity maps resolve on first .df
    # touch and release() returns a catalog node to pure metadata
    mem, n1 = _build(tables)
    d = str(tmp_path / "cube_lazy")
    save_cube(mem, d)

    mem2 = load_cube(spark, d)
    root2 = mem2.nodes[mem2.root_id]
    others = [n for n in mem2.nodes.values() if n.id != mem2.root_id]
    assert root2.is_loaded
    assert all(not n.is_loaded for n in others)

    node = others[0]
    want = n1.df.count()
    assert node.df.count() == want  # first touch loads
    assert node.is_loaded
    g = mem2.find_granularity(node.id, "lang", "lang_family")
    assert g is not None and g.df.count() == want

    node.release()
    assert not node.is_loaded
    assert node.df.count() == want  # reloads transparently


def test_catalog_mode_scales(tables, spark, tmp_path):
    """Registry-operations scale test (r6 VERDICT #8): a
    2000-node manifest opens as metadata — no per-node parquet job —
    and lattice probes (get_current_node over every node) run
    without materializing a single frame.  The node dirs are
    symlinks to one real frame, so the test costs one write."""
    import json
    import os
    import time

    mem, _ = _build(tables)
    d = str(tmp_path / "cube_big")
    save_cube(mem, d)

    manifest = json.load(open(f"{d}/cube.json"))
    base = next(
        n for n in manifest["nodes"]
        if int(n["id"]) != int(manifest["root_id"])
    )
    real_dir = f"{d}/nodes/{base['id']}"
    n_extra = 2000
    next_id = max(int(n["id"]) for n in manifest["nodes"]) + 1
    for i in range(n_extra):
        nid = next_id + i
        os.symlink(real_dir, f"{d}/nodes/{nid}")
        manifest["nodes"].append(
            {"id": nid, "query": f"synthetic filter #{i}",
             "plan": [], "parents": [int(manifest["root_id"])],
             "granularities": []}
        )
    json.dump(manifest, open(f"{d}/cube.json", "w"))

    t0 = time.perf_counter()
    mem2 = load_cube(spark, d)
    open_sec = time.perf_counter() - t0
    assert len(mem2.nodes) == n_extra + 2

    # classify stub that never touches frames — probe the whole
    # lattice; nothing may materialize
    mem2.classify = lambda q, nq: "Equal" if q == nq else "Unrelated"
    hit, _ = mem2.get_current_node("synthetic filter #1777")
    assert hit is not None and not any(
        n.is_loaded for n in mem2.nodes.values()
        if n.id != mem2.root_id
    )
    # the structural guarantee is the assertion above (zero loads);
    # the wall-clock bound is a generous sanity ceiling, not a bench
    assert open_sec < 10.0
