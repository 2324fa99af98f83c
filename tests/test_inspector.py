"""Lattice inspector (reference pages/Cube.py parity, offline).

The reference inspects its cube through a Streamlit page (node DAG,
per-dimension granularity views, dataframe previews).  The Spark
engine exposes the same surface as offline artifacts:
``lattice_text`` (terminal tree) and ``lattice_html`` (one
self-contained file, no JS deps, bounded previews).  These pins
cover: metadata-only rendering triggers ZERO jobs on a lazy cube,
previews are bounded, and multi-parent/diamond topologies render
every edge.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from semantic_olap_spark.inspector import lattice_html, lattice_text
from semantic_olap_spark.plans.memory import (
    CubeMemory,
    load_cube,
    save_cube,
)


def _build(tables):
    mem = CubeMemory(tables["documents"])
    root = mem.nodes[mem.root_id]
    n1 = mem.add_node(
        "mentions spark",
        root.df.filter(F.lower(F.col("text")).contains("spark")),
        [{"operator_name": "keyword_filter",
          "parameters": {"columns": ["text"], "keywords": ["spark"]}}],
        [mem.root_id],
    )
    labels = n1.df.select("OLAP_ID", F.col("lang").alias("fam"))
    mem.register_granularity(n1.id, "lang", "fam", labels, "coarse")
    return mem, n1


def test_text_tree_shape(tables):
    mem, n1 = _build(tables)
    txt = lattice_text(mem)
    lines = txt.splitlines()
    assert lines[0].startswith(f"[{mem.root_id}] 'All Data'")
    assert any("'mentions spark'" in ln and ln.startswith("  ") for ln in lines)
    assert "dims{lang:[fam]}" in txt
    assert "plan:1" in txt


def test_diamond_renders_every_edge(tables):
    """A multi-parent node appears under each parent (marked ^ on
    repeats) and the HTML edge list carries all edges."""
    mem, n1 = _build(tables)
    root = mem.nodes[mem.root_id]
    n2 = mem.add_node(
        "mentions join",
        root.df.filter(F.lower(F.col("text")).contains("join")),
        [{"operator_name": "keyword_filter",
          "parameters": {"columns": ["text"], "keywords": ["join"]}}],
        [mem.root_id],
    )
    both = n1.df.join(
        n2.df.select("OLAP_ID"), on="OLAP_ID", how="inner"
    )
    mem.add_node(
        "mentions spark and join", both,
        [{"operator_name": "keyword_filter",
          "parameters": {"columns": ["text"],
                         "keywords": ["spark", "join"]}}],
        [n1.id, n2.id],
    )
    txt = lattice_text(mem)
    assert txt.count("'mentions spark and join'") == 2  # once per parent
    assert "^" in txt
    html = lattice_html(mem)
    # every edge in the edge list
    for a, b in [(mem.root_id, n1.id), (mem.root_id, n2.id)]:
        assert f"[{a}] → [{b}]" in html


def test_metadata_only_render_triggers_no_jobs(spark, tables, tmp_path):
    """Rendering a reopened lazy cube with preview_rows=0 must leave
    every non-root node unloaded — the inspector cannot be the thing
    that scans a thousand parquet nodes."""
    mem, _ = _build(tables)
    d = str(tmp_path / "cube")
    save_cube(mem, d)
    lazy = load_cube(spark, d)
    html = lattice_html(lazy, preview_rows=0)
    txt = lattice_text(lazy)
    assert "(unloaded)" in txt
    assert all(
        n.is_loaded is False
        for nid, n in lazy.nodes.items()
        if nid != lazy.root_id
    )
    assert "mentions spark" in html


def test_html_previews_bounded_and_written(tables, tmp_path):
    mem, _ = _build(tables)
    out = str(tmp_path / "cube.html")
    html = lattice_html(mem, out, preview_rows=3)
    assert html.startswith("<!doctype html>")
    with open(out) as fh:
        assert fh.read() == html
    # bounded: each preview table carries at most 3 body rows
    for tbl in html.split("<tbody>")[1:]:
        assert tbl.split("</tbody>")[0].count("<tr>") <= 3
    # granularity catalog + description rendered
    assert "fam" in html and "coarse" in html
