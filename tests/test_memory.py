"""Cube memory: lattice reuse, relation classification, granularities."""

from pyspark.sql import functions as F

from semantic_olap_spark.plans.memory import CubeMemory
from semantic_olap_spark.sources.loaders import OLAP_ID


def test_equal_fast_path(tables):
    mem = CubeMemory(tables["documents"])
    child = mem.add_node(
        "docs about spark",
        mem.nodes[mem.root_id].df.filter(F.col("text").contains("spark")),
        plan=[{"operator_name": "keyword_filter"}],
        parent_ids=[mem.root_id],
    )
    node, _ = mem.get_current_node("Docs  About SPARK")  # normalized match
    assert node is child


def test_subset_descent_with_classifier(tables):
    def classify(new_q, node_q):
        # toy classifier: new query is a subset of node when node's
        # text is a prefix of the new query
        return "Subset" if new_q.startswith(node_q) else "No_relation"

    mem = CubeMemory(tables["documents"], classify=classify)
    a = mem.add_node(
        "spark", mem.nodes[mem.root_id].df.filter(F.col("text").contains("spark")),
        [], [mem.root_id],
    )
    b = mem.add_node(
        "spark window", a.df.filter(F.col("text").contains("window")),
        [], [a.id],
    )
    node, deepest = mem.get_current_node("spark window join")
    assert node is None
    assert [n.id for n in deepest] == [b.id]


def test_contain_does_not_reuse_narrower_node(tables):
    # a BROADER query (Contain) must not delta-filter from a narrower
    # node — it re-filters from the root, whose rows are a superset
    def classify(new_q, node_q):
        if node_q.startswith(new_q) and new_q != node_q:
            return "Contain"
        return "No_relation"

    mem = CubeMemory(tables["documents"], classify=classify)
    narrow = mem.add_node(
        "spark window",
        mem.nodes[mem.root_id].df.filter(F.col("text").contains("window")),
        [], [mem.root_id],
    )
    node, deepest = mem.get_current_node("spark")
    assert node is None
    assert [n.id for n in deepest] == [mem.root_id]
    assert narrow.id not in [n.id for n in deepest]


def test_no_hits_returns_root(tables):
    mem = CubeMemory(tables["documents"])
    node, deepest = mem.get_current_node("unrelated query")
    assert node is None
    assert [n.id for n in deepest] == [mem.root_id]


def test_granularity_memoization(tables):
    mem = CubeMemory(tables["documents"])
    root = mem.nodes[mem.root_id]
    labels = root.df.select(
        OLAP_ID, F.substring("source", 1, 3).alias("src_family")
    )
    mem.register_granularity(root.id, "source", "src_family", labels)
    g = mem.find_granularity(root.id, "source", "src_family")
    assert g is not None
    joined = mem.attach_labels(root.id, g)
    assert joined.count() == root.df.count()
    assert "src_family" in joined.columns
    # memoized aggregate
    g.view = joined.groupBy("src_family").count()
    assert mem.find_granularity(root.id, "source", "src_family").view is not None


def test_lattice_edges(tables):
    mem = CubeMemory(tables["documents"])
    n1 = mem.add_node("q1", mem.nodes[mem.root_id].df.limit(10), [], [mem.root_id])
    n2 = mem.add_node("q2", n1.df.limit(5), [], [n1.id])
    assert n2.id in mem.nodes[n1.id].children
    assert n1.id in mem.nodes[n2.id].parents
    assert n1.id in mem.nodes[mem.root_id].children


def test_drill_down_replaces_cached_frame(tables):
    from semantic_olap_spark.plans.rollup import drill_down

    mem = CubeMemory(tables["documents"].select("doc_id", "text"))
    node = mem.nodes[mem.root_id]
    node.df.count()  # materialize the initial cache
    first = node.df
    _, df1 = drill_down(
        mem, node.id, "topic",
        "dominant topic, one of: vector, stream, window",
    )
    # the replaced frame is unpersisted, the new one is cached
    assert not first.is_cached
    assert node.df.is_cached
    second = node.df
    _, df2 = drill_down(
        mem, node.id, "workload",
        "group by workload type, one of: scan, join, sort",
    )
    assert not second.is_cached  # no stale cached lineage piles up
    assert node.df.is_cached
    assert "topic" in df2.columns and "workload" in df2.columns


def test_lru_eviction_past_budget_and_revisit(tables):
    mem = CubeMemory(tables["documents"], max_cached_nodes=1)
    root = mem.nodes[mem.root_id]
    a = mem.add_node(
        "spark docs", root.df.filter(F.col("text").contains("spark")),
        [], [mem.root_id],
    )
    a_rows = a.df.count()
    b = mem.add_node(
        "window docs", root.df.filter(F.col("text").contains("window")),
        [], [mem.root_id],
    )
    b.df.count()
    # budget 1: adding b evicted a (LRU, non-ancestor); root protected
    assert not a.df.is_cached
    assert b.df.is_cached
    assert root.df.is_cached
    # revisit of the evicted node recomputes the same rows (Equal hit)
    node, _ = mem.get_current_node("spark docs")
    assert node is a
    assert node.df.count() == a_rows
