"""Write-path tests: MERGE node/edge upsert + counters (A7-A9, A13).

Mirrors the reference's informal counter checks
(``/root/reference/src/crwling.py:61-64``): fresh keys create nodes,
re-runs create zero nodes but still set properties, and the whole thing
is idempotent (FIXTURES.md upsert counter matrix).
"""

import pytest
from pyspark.sql import functions as F

from neo4j_graphdb_spark.writer import GraphStore


@pytest.fixture()
def store(spark, tmp_path):
    return GraphStore(spark, str(tmp_path / "graph"))


def _batch(spark, rows):
    return spark.createDataFrame(rows, "link string, title string, content string")


def test_merge_nodes_create_then_update(spark, store):
    b1 = _batch(spark, [("u1", "t1", "c1"), ("u2", "t2", "c2")])
    s1 = store.merge_nodes(b1, "Article", "link", ["title", "content"])
    assert s1.nodes_created == 2
    assert s1.properties_set == 4

    # re-run same batch: zero creates, properties still set (Neo4j SET counts)
    s2 = store.merge_nodes(b1, "Article", "link", ["title", "content"])
    assert s2.nodes_created == 0
    assert s2.properties_set == 4
    assert store.nodes().count() == 2

    # update one, add one
    b2 = _batch(spark, [("u2", "t2-new", None), ("u3", "t3", "c3")])
    s3 = store.merge_nodes(b2, "Article", "link", ["title", "content"])
    assert s3.nodes_created == 1
    nodes = {r["key"]: r for r in store.nodes().collect()}
    assert nodes["u2"]["title"] == "t2-new"
    assert nodes["u2"]["content"] == "c2"  # NULL incoming keeps old (SET semantics)
    assert len(nodes) == 3


def test_merge_nodes_within_batch_dedup(spark, store):
    dup = spark.createDataFrame(
        [("u1", "first", 1), ("u1", "last", 2)], "link string, title string, seq int"
    )
    s = store.merge_nodes(dup, "Article", "link", ["title"], order_col="seq")
    assert s.nodes_created == 1
    assert store.nodes().collect()[0]["title"] == "last"


def test_merge_nodes_multi_label(spark, store):
    arts = _batch(spark, [("u1", "t1", "c1")])
    store.merge_nodes(arts, "Article", "link", ["title", "content"])
    pubs = spark.createDataFrame([("Pub A",)], "name string")
    s = store.merge_nodes(pubs, "Publisher", "name", ["name"])
    assert s.nodes_created == 1
    labels = {r["label"] for r in store.nodes().collect()}
    assert labels == {"Article", "Publisher"}
    # same key under a different label is a different node
    pubs2 = spark.createDataFrame([("u1",)], "name string")
    s2 = store.merge_nodes(pubs2, "Publisher", "name", ["name"])
    assert s2.nodes_created == 1


def test_merge_edges_idempotent(spark, store):
    arts = _batch(spark, [("u1", "t1", "c1"), ("u2", "t2", "c2")])
    store.merge_nodes(arts, "Article", "link", ["title", "content"])
    pubs = spark.createDataFrame([("P1",)], "name string")
    store.merge_nodes(pubs, "Publisher", "name", ["name"])

    rel = spark.createDataFrame(
        [("u1", "P1"), ("u2", "P1"), ("u1", "P1")], "link string, publisher string"
    )
    s1 = store.merge_edges(rel, "WRITTEN_BY", "Article", "link", "Publisher", "publisher")
    assert s1.relationships_created == 2
    s2 = store.merge_edges(rel, "WRITTEN_BY", "Article", "link", "Publisher", "publisher")
    assert s2.relationships_created == 0
    assert store.edges().count() == 2


def test_partial_rewrite_hardlinks_untouched_partitions(spark, store, tmp_path):
    """MERGE on one label must NOT rewrite other labels' files: the new
    version carries them over as hardlinks (same inode) — O(partition)
    write amplification, the 100 TB write-path contract."""
    import os

    arts = _batch(spark, [("u1", "t1", "c1"), ("u2", "t2", "c2")])
    store.merge_nodes(arts, "Article", "link", ["title", "content"])
    pubs = spark.createDataFrame([("Pub A",)], "name string")
    store.merge_nodes(pubs, "Publisher", "name", [])

    nodes_root = os.path.join(store.root, "nodes")
    v1, v2 = os.path.join(nodes_root, "v0"), os.path.join(nodes_root, "v1")

    def inodes(version_dir, part):
        d = os.path.join(version_dir, part)
        return {
            os.path.relpath(os.path.join(dp, fn), d): os.stat(
                os.path.join(dp, fn)
            ).st_ino
            for dp, _, fns in os.walk(d)
            for fn in fns
            if fn.endswith(".parquet")
        }

    # Article partition in v1 is hardlinked from v0 (same inodes);
    # the walk is recursive because each label nests _kb bucket dirs
    arts_v1 = inodes(v1, "label=Article")
    assert arts_v1 and arts_v1 == inodes(v2, "label=Article")
    # reads see both labels, with schema merged across partitions
    nodes = {r["key"]: r for r in store.nodes().collect()}
    assert set(nodes) == {"u1", "u2", "Pub A"}
    assert nodes["u1"]["title"] == "t1"
    assert nodes["Pub A"]["title"] is None  # padded by mergeSchema

    # third merge updates Articles only; Publisher files carried from v1
    store.merge_nodes(_batch(spark, [("u1", "t1x", None)]), "Article", "link", ["title", "content"])
    v3 = os.path.join(nodes_root, "v2")
    pubs_v2 = inodes(v2, "label=Publisher")
    assert pubs_v2 and pubs_v2 == inodes(v3, "label=Publisher")
    # file-pruned MERGE: only u1's bucket rewritten — every OTHER
    # Article bucket dir carries over as hardlinks too (none while the
    # label has one bucket; test_split_keeps_untouched_buckets_hardlinked
    # covers several)
    from neo4j_graphdb_spark.writer import BUCKET_COL, _bucket_of
    u1_kb = spark.createDataFrame([("Article", "u1")], "label string, key string").select(
        # buckets hash the key column, with the label's bucket count
        _bucket_of(store._nodes.layout(), "label", F.col("key")).alias("b")
    ).collect()[0]["b"]
    arts_v2, arts_v3 = inodes(v2, "label=Article"), inodes(v3, "label=Article")
    untouched_v2 = {f: i for f, i in arts_v2.items() if not f.startswith(f"{BUCKET_COL}={u1_kb}/")}
    untouched_v3 = {f: i for f, i in arts_v3.items() if not f.startswith(f"{BUCKET_COL}={u1_kb}/")}
    assert untouched_v2 == untouched_v3
    assert {r["key"]: r["title"] for r in store.nodes().collect()}["u1"] == "t1x"


def test_label_scan_partition_pruning(spark, store):
    """A1 pushdown contract: the label predicate must surface as a
    PartitionFilter on the parquet scan, not a post-scan filter."""
    arts = _batch(spark, [("u1", "t1", "c1")])
    store.merge_nodes(arts, "Article", "link", ["title", "content"])
    pubs = spark.createDataFrame([("P1",)], "name string")
    store.merge_nodes(pubs, "Publisher", "name", [])

    plan = (
        store.nodes()
        .filter(F.col("label") == "Article")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    assert "PartitionFilters" in plan
    assert re.search(r"label#\d+ = Article", plan), plan[:2000]


def test_edge_node_id_join_consistency(spark, store):
    """Edges reference nodes via the same deterministic id function."""
    arts = _batch(spark, [("u1", "t1", "c1")])
    store.merge_nodes(arts, "Article", "link", ["title", "content"])
    pubs = spark.createDataFrame([("P1",)], "name string")
    store.merge_nodes(pubs, "Publisher", "name", ["name"])
    rel = spark.createDataFrame([("u1", "P1")], "link string, publisher string")
    store.merge_edges(rel, "WRITTEN_BY", "Article", "link", "Publisher", "publisher")

    joined = (
        store.edges()
        .join(store.nodes().alias("s"), F.col("src") == F.col("s.node_id"))
        .join(store.nodes().alias("d"), F.col("dst") == F.col("d.node_id"))
    )
    rows = joined.select(F.col("s.key").alias("sk"), F.col("d.key").alias("dk")).collect()
    assert [(r["sk"], r["dk"]) for r in rows] == [("u1", "P1")]


def test_legacy_unpartitioned_store_upgrade(spark, tmp_path):
    """ADVICE r2 (medium): a store whose current version was written WITHOUT
    label partitioning must not lose other labels' rows when merged into —
    the writer detects the legacy layout and does one full rewrite that also
    upgrades it to partitioned."""
    import os

    from neo4j_graphdb_spark.model import as_nodes
    from neo4j_graphdb_spark.writer import GraphStore, _VersionedTable

    root = str(tmp_path / "graph")
    store = GraphStore(spark, root)

    # simulate a legacy store: two labels written flat (no partitionBy)
    arts = as_nodes(_batch(spark, [("u1", "t1", "c1")]), "Article", "link", ["title", "content"])
    pubs = as_nodes(
        spark.createDataFrame([("P1",)], "name string"), "Publisher", "name", []
    )
    legacy = arts.unionByName(pubs, allowMissingColumns=True)
    _VersionedTable(os.path.join(root, "nodes")).write_next(legacy)  # no partition_by
    assert not store._nodes.is_partitioned_by("label")

    # direct partial write over the legacy layout must refuse, not lose data
    with pytest.raises(ValueError, match="not partitioned"):
        store._nodes.write_next_partial(arts, "label", ["Article"])

    # merge into one label: the OTHER label must survive the rewrite
    s = store.merge_nodes(
        _batch(spark, [("u1", "t1x", "c1"), ("u3", "t3", "c3")]),
        "Article",
        "link",
        ["title", "content"],
    )
    assert s.nodes_created == 1
    rows = {r["key"]: r for r in store.nodes().collect()}
    assert set(rows) == {"u1", "u3", "P1"}  # Publisher row NOT dropped
    assert rows["u1"]["title"] == "t1x"
    assert rows["P1"]["label"] == "Publisher"
    # and the store is now upgraded to the partitioned layout
    assert store._nodes.is_partitioned_by("label")


def test_legacy_label_only_store_upgrade_to_bucketed(spark, tmp_path):
    """A store from the pre-bucketing writer (label-partitioned only,
    no _kb level) must upgrade on its next merge via one full rewrite —
    never a partial write that would mislay rows across layouts."""
    import os

    from neo4j_graphdb_spark.model import as_nodes
    from neo4j_graphdb_spark.writer import BUCKET_COL, GraphStore, _VersionedTable

    root = str(tmp_path / "graph")
    store = GraphStore(spark, root)
    arts = as_nodes(
        _batch(spark, [("u1", "t1", "c1"), ("u2", "t2", "c2")]),
        "Article", "link", ["title", "content"],
    )
    pubs = as_nodes(
        spark.createDataFrame([("P1",)], "name string"), "Publisher", "name", []
    )
    legacy = arts.unionByName(pubs, allowMissingColumns=True)
    _VersionedTable(os.path.join(root, "nodes")).write_next(legacy, partition_by="label")
    assert store._nodes.is_partitioned_by("label")
    assert not store._nodes.is_partitioned_by(["label", BUCKET_COL])

    s = store.merge_nodes(
        _batch(spark, [("u1", "t1x", None), ("u9", "t9", "c9")]),
        "Article", "link", ["title", "content"],
    )
    assert s.nodes_created == 1
    rows = {r["key"]: r for r in store.nodes().collect()}
    assert set(rows) == {"u1", "u2", "u9", "P1"}  # nothing mislaid
    assert rows["u1"]["title"] == "t1x"
    assert store._nodes.is_partitioned_by(["label", BUCKET_COL])  # upgraded
    assert BUCKET_COL not in store.nodes().columns  # still hidden


def test_legacy_unpartitioned_edges_upgrade(spark, tmp_path):
    """Same legacy-layout guard for the edges table."""
    import os

    from neo4j_graphdb_spark.model import as_edges
    from neo4j_graphdb_spark.writer import GraphStore, _VersionedTable

    root = str(tmp_path / "graph")
    store = GraphStore(spark, root)

    e1 = as_edges(
        spark.createDataFrame([("u1", "P1")], "link string, publisher string"),
        "WRITTEN_BY", "Article", "link", "Publisher", "publisher",
    )
    e2 = as_edges(
        spark.createDataFrame([("u1", "u2")], "a string, b string"),
        "LINKS_TO", "Article", "a", "Article", "b",
    )
    _VersionedTable(os.path.join(root, "edges")).write_next(e1.unionByName(e2))
    assert not store._edges.is_partitioned_by("rel_type")

    s = store.merge_edges(
        spark.createDataFrame([("u3", "P1")], "link string, publisher string"),
        "WRITTEN_BY", "Article", "link", "Publisher", "publisher",
    )
    assert s.relationships_created == 1
    by_type = {}
    for r in store.edges().collect():
        by_type.setdefault(r["rel_type"], 0)
        by_type[r["rel_type"]] += 1
    assert by_type == {"WRITTEN_BY": 2, "LINKS_TO": 1}  # LINKS_TO NOT dropped
    assert store._edges.is_partitioned_by("rel_type")


def test_compact_bounds_files_and_preserves_data(spark, store):
    """Compaction rewrites the current version with at most
    files_per_value files per (label, bucket) leaf dir, same rows, new
    version."""
    import os
    from collections import Counter

    def leaf_files(version_path):
        """parquet files per leaf dir under label=Article (leaves are
        the nested _kb bucket dirs)."""
        root = os.path.join(version_path, "label=Article")
        c = Counter()
        for dp, _, fns in os.walk(root):
            for fn in fns:
                if fn.endswith(".parquet"):
                    c[os.path.relpath(dp, root)] += 1
        return c

    # 4 merge batches -> several small files per leaf dir: a small label
    # has one bucket, and each rewrite of it writes one file unless
    # capped by maxRecordsPerFile
    key = "spark.sql.files.maxRecordsPerFile"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        for i in range(4):
            b = _batch(spark, [(f"u{i}-{j}", f"t{j}", "c") for j in range(5)])
            store.merge_nodes(b, "Article", "link", ["title", "content"])
    finally:
        spark.conf.set(key, prev)
    before = {r["key"]: r["title"] for r in store.nodes().collect()}
    v_before = store._nodes.current_version()
    assert sum(leaf_files(store._nodes.current_path()).values()) > 1

    store.compact("nodes", files_per_value=1)
    assert store._nodes.current_version() == v_before + 1
    assert store._nodes.is_partitioned_by("label")
    assert all(
        n == 1 for n in leaf_files(store._nodes.current_path()).values()
    )
    after = {r["key"]: r["title"] for r in store.nodes().collect()}
    assert after == before

    # empty edges table: no-op
    assert store.compact("edges") is None


def test_time_travel_and_vacuum(spark, store):
    """Every merge is a new readable version; vacuum reclaims old ones
    without touching hardlink-shared bytes of retained versions."""
    store.merge_nodes(_batch(spark, [("u1", "t1", "c1")]), "Article", "link", ["title", "content"])
    store.merge_nodes(_batch(spark, [("u1", "t1x", "c1")]), "Article", "link", ["title", "content"])
    store.merge_nodes(_batch(spark, [("u2", "t2", "c2")]), "Article", "link", ["title", "content"])

    # time travel: v0 has the original title, v1 the overwrite, v2 adds u2
    assert {r["key"]: r["title"] for r in store.nodes(version=0).collect()} == {"u1": "t1"}
    assert {r["key"]: r["title"] for r in store.nodes(version=1).collect()} == {"u1": "t1x"}
    assert set(r["key"] for r in store.nodes(version=2).collect()) == {"u1", "u2"}
    assert store._nodes.list_versions() == [0, 1, 2]

    gone = store.vacuum(keep_last=1)
    assert gone["nodes"] == [0, 1]
    # current data intact (v2's files were hardlink-shared with v1)
    assert {r["key"]: r["title"] for r in store.nodes().collect()} == {"u1": "t1x", "u2": "t2"}
    import pytest as _p

    with _p.raises(ValueError, match="reclaimed|not present"):
        store.nodes(version=0)
    with _p.raises(ValueError):
        store.vacuum(keep_last=0)


def test_detach_delete_removes_nodes_and_incident_edges(spark, store):
    b = spark.createDataFrame(
        [("u1", "p1"), ("u2", "p1"), ("u3", "p2")], "link string, publisher string"
    )
    store.merge_nodes(b, "Article", "link")
    store.merge_nodes(b, "Publisher", "publisher")
    store.merge_edges(b, "WRITTEN_BY", "Article", "link", "Publisher", "publisher")
    assert store.nodes().count() == 5 and store.edges().count() == 3

    doomed = spark.createDataFrame([("u1",), ("u2",)], "link string")
    s = store.delete_nodes(doomed, "Article", "link", detach=True)
    assert s.nodes_deleted == 2 and s.relationships_deleted == 2
    keys = {r["key"] for r in store.nodes().collect()}
    assert keys == {"u3", "p1", "p2"}
    assert store.edges().count() == 1

    # idempotent: deleting the same keys again is a no-op
    s2 = store.delete_nodes(doomed, "Article", "link", detach=True)
    assert s2.nodes_deleted == 0 and s2.relationships_deleted == 0


def test_plain_delete_refuses_connected_nodes(spark, store):
    b = spark.createDataFrame([("u1", "p1")], "link string, publisher string")
    store.merge_nodes(b, "Article", "link")
    store.merge_nodes(b, "Publisher", "publisher")
    store.merge_edges(b, "WRITTEN_BY", "Article", "link", "Publisher", "publisher")

    doomed = spark.createDataFrame([("u1",)], "link string")
    with pytest.raises(ValueError, match="detach"):
        store.delete_nodes(doomed, "Article", "link")
    # unconnected node deletes fine without detach; edges untouched
    lone = spark.createDataFrame([("solo", "px")], "link string, publisher string")
    store.merge_nodes(lone, "Article", "link")
    s = store.delete_nodes(
        spark.createDataFrame([("solo",)], "link string"), "Article", "link"
    )
    assert s.nodes_deleted == 1 and s.relationships_deleted == 0
    assert store.edges().count() == 1


def test_delete_only_rewrites_touched_label_partition(spark, store):
    art = spark.createDataFrame([("u1",), ("u2",)], "link string")
    pub = spark.createDataFrame([("p1",), ("p2",)], "name string")
    store.merge_nodes(art, "Article", "link")
    store.merge_nodes(pub, "Publisher", "name")
    import os

    v_before = store._nodes.current_path()
    store.delete_nodes(
        spark.createDataFrame([("u1",)], "link string"), "Article", "link"
    )
    v_after = store._nodes.current_path()
    assert v_after != v_before
    # untouched Publisher partition carried over as hardlinks (same inode);
    # its leaves sit in _kb=N/ dirs, so walk the tree
    def inodes(vdir, part):
        d = os.path.join(vdir, part)
        return {
            os.path.relpath(os.path.join(dp, fn), d): os.stat(os.path.join(dp, fn)).st_ino
            for dp, _, fns in os.walk(d)
            for fn in fns
            if fn.endswith(".parquet")
        }
    before = inodes(v_before, "label=Publisher")
    assert before
    assert inodes(v_after, "label=Publisher") == before


def test_delete_emptying_only_label_leaves_readable_store(spark, tmp_path):
    """Deleting every node of the only label must leave the store
    readable by a FRESH instance (no cached schema): empty version reads
    as None, and a later merge recreates the table."""
    root = str(tmp_path / "g2")
    store = GraphStore(spark, root)
    b = spark.createDataFrame([("u1",), ("u2",)], "link string")
    store.merge_nodes(b, "Article", "link")
    store.delete_nodes(b, "Article", "link")

    fresh = GraphStore(spark, root)
    assert fresh.nodes() is None  # empty store == never-written store
    s = fresh.merge_nodes(b, "Article", "link")
    assert s.nodes_created == 2 and fresh.nodes().count() == 2


def test_merge_edges_with_properties(spark, tmp_path):
    """MERGE (a)-[r:T]->(b) SET r.p: relationship properties upsert with
    the same coalesce semantics as node SET — create sets them, re-merge
    overwrites non-null values, NULL keeps the old value."""
    from neo4j_graphdb_spark.writer import GraphStore

    store = GraphStore(spark, str(tmp_path / "g"))
    b1 = spark.createDataFrame(
        [("u1", "P1", 0.9, "2026-01-01"), ("u2", "P1", 0.5, "2026-01-02")],
        "link string, publisher string, weight double, since string",
    )
    s1 = store.merge_edges(
        b1, "WRITTEN_BY", "Article", "link", "Publisher", "publisher",
        prop_cols=["weight", "since"],
    )
    assert s1.relationships_created == 2
    assert s1.properties_set == 4

    # overwrite one prop, NULL the other -> old value kept; no creates
    b2 = spark.createDataFrame(
        [("u1", "P1", 0.95, None)],
        "link string, publisher string, weight double, since string",
    )
    s2 = store.merge_edges(
        b2, "WRITTEN_BY", "Article", "link", "Publisher", "publisher",
        prop_cols=["weight", "since"],
    )
    assert s2.relationships_created == 0
    assert s2.properties_set == 1  # only the non-null cell
    rows = {
        (r["src"], r["dst"]): (r["weight"], r["since"])
        for r in store.edges().collect()
    }
    vals = sorted(rows.values())
    assert vals == [(0.5, "2026-01-02"), (0.95, "2026-01-01")]

    # prop-less merge of a NEW pair must not disturb existing props
    b3 = spark.createDataFrame([("u3", "P1")], "link string, publisher string")
    s3 = store.merge_edges(b3, "WRITTEN_BY", "Article", "link", "Publisher", "publisher")
    assert s3.relationships_created == 1 and s3.properties_set == 0
    assert store.edges().count() == 3
    assert sorted(
        (r["weight"], r["since"])
        for r in store.edges().collect()
        if r["weight"] is not None
    ) == [(0.5, "2026-01-02"), (0.95, "2026-01-01")]


def test_snapshot_diff_classifies_ops(spark):
    """Full-outer diff: only-new = insert, only-old = delete, changed
    compare column = update, identical rows drop; NULLs compare
    null-safely."""
    from neo4j_graphdb_spark.writer import snapshot_diff

    old = spark.createDataFrame(
        [("a", "t1"), ("b", "t2"), ("c", None), ("d", "t4")],
        "link string, title string",
    )
    new = spark.createDataFrame(
        [("a", "t1"), ("b", "T2"), ("c", None), ("e", "t5")],
        "link string, title string",
    )
    got = {
        r["link"]: (r["op"], r["old_title"], r["new_title"])
        for r in snapshot_diff(old, new, ["link"], ["title"]).collect()
    }
    assert got == {
        "b": ("update", "t2", "T2"),
        "d": ("delete", "t4", None),
        "e": ("insert", None, "t5"),
    }  # a unchanged, c unchanged (NULL == NULL null-safely)


def test_apply_changes_round_trip(spark, tmp_path):
    """apply_changes(snapshot_diff(v0, v1)) reproduces v1 on a replica
    seeded with v0 — inserts, updates, and deletes all in one pass;
    unknown op tags reject."""
    import pytest as _p
    from pyspark.sql import functions as F

    from neo4j_graphdb_spark.writer import GraphStore, snapshot_diff

    v0 = spark.createDataFrame(
        [("k1", "a"), ("k2", "b"), ("k3", "c")], "link string, title string"
    )
    src = GraphStore(spark, str(tmp_path / "src"))
    src.merge_nodes(v0, label="X", key_col="link", prop_cols=["title"])
    first = src._nodes.list_versions()[0]
    src.merge_nodes(
        spark.createDataFrame([("k2", "B")], "link string, title string"),
        label="X", key_col="link", prop_cols=["title"],
    )
    src.delete_nodes(
        spark.createDataFrame([("k3",)], "link string"), label="X", key_col="link"
    )
    src.merge_nodes(
        spark.createDataFrame([("k4", "d")], "link string, title string"),
        label="X", key_col="link", prop_cols=["title"],
    )
    old = src.nodes(version=first).select(F.col("key").alias("link"), "title")
    cur = src.nodes().select(F.col("key").alias("link"), "title")
    feed = snapshot_diff(old, cur, ["link"], ["title"]).select(
        "link", "op", F.col("new_title").alias("title")
    )

    dst = GraphStore(spark, str(tmp_path / "dst"))
    dst.merge_nodes(v0, label="X", key_col="link", prop_cols=["title"])
    s = dst.apply_changes(feed, label="X", key_col="link", prop_cols=["title"])
    assert s.nodes_created == 1 and s.nodes_deleted == 1

    got = {r["key"]: r["title"] for r in dst.nodes().collect()}
    assert got == {"k1": "a", "k2": "B", "k4": "d"}

    with _p.raises(ValueError):
        dst.apply_changes(
            spark.createDataFrame(
                [("k1", "upsert", "z")], "link string, op string, title string"
            ),
            label="X", key_col="link", prop_cols=["title"],
        )


def test_create_with_nonstring_key_agrees_with_merge_and_edges(spark, tmp_path):
    """Regression (ADVICE r7, high): every id-minting path must hash the
    key in the SAME representation. CREATE over a bigint key used to hash
    the string-cast key while as_edges/merge_nodes hashed the raw long —
    CREATE-d edges dangled and a later MERGE of the same key minted a
    duplicate instead of finding the ordinal-0 node."""
    store = GraphStore(spark, str(tmp_path / "g"))
    nodes = spark.createDataFrame([(1, "a"), (2, "b")], "k long, title string")
    store.create_nodes(nodes, label="N", key_col="k", prop_cols=["title"])

    # edges minted from the SAME raw long keys must resolve both endpoints
    edges = spark.createDataFrame([(1, 2)], "sk long, dk long")
    store.create_edges(edges, "REL", "N", "sk", "N", "dk")
    stored_n = store.nodes()
    stored_e = store.edges()
    resolved = (
        stored_e.join(stored_n.select(F.col("node_id").alias("src")), "src")
        .join(stored_n.select(F.col("node_id").alias("dst")), "dst")
    )
    assert resolved.count() == 1  # no dangling endpoint

    # MERGE of the same long key must FIND the CREATE-d node, not duplicate
    s = store.merge_nodes(
        spark.createDataFrame([(1, "a2")], "k long, title string"),
        label="N", key_col="k", prop_cols=["title"],
    )
    assert s.nodes_created == 0
    assert store.nodes().filter(F.col("key") == "1").count() == 1
    got = store.nodes().filter(F.col("key") == "1").collect()[0]["title"]
    assert got == "a2"


def test_store_records_label_key_names(spark, tmp_path):
    """The store persists each label's user-facing merge-key name
    ({label: key_col}, label_keys.json) at write time — the metadata a
    Neo4j-exact read of `p.<keyname>` needs (README key-name-collision
    divergence). Survives re-open; last writer wins per label."""
    import json
    import os

    from neo4j_graphdb_spark.writer import GraphStore

    root = str(tmp_path / "gs")
    s = GraphStore(spark, root)
    batch = spark.createDataFrame([("u1", "P1")], "link string, publisher string")
    s.merge_nodes(batch, label="Article", key_col="link")
    s.merge_nodes(
        batch.select("publisher").distinct(), label="Publisher",
        key_col="publisher",
    )
    s.create_nodes(
        spark.createDataFrame([("e1",)], "k string"), label="Evt", key_col="k"
    )
    assert s.key_names() == {
        "Article": "link", "Publisher": "publisher", "Evt": "k",
    }
    # re-open reads the sidecar from disk
    assert GraphStore(spark, root).key_names()["Publisher"] == "publisher"
    assert os.path.exists(os.path.join(root, "label_keys.json"))
    with open(os.path.join(root, "label_keys.json")) as f:
        assert json.load(f)["Article"] == "link"


def test_merge_counter_idiom(spark, tmp_path):
    """a114: ON CREATE SET n.c = 1 ON MATCH SET n.c = n.c + 1 — the
    writer's match_add_cols applies old + addend to matched rows inside
    the one merge join; created rows take the ON CREATE value; NULL
    propagates through the arithmetic Neo4j-exactly (NULL old or NULL
    addend → NULL) on BATCH rows, while matched rows outside the batch
    keep their cell; counters book every applied cell."""
    from neo4j_graphdb_spark.writer import GraphStore
    import pyspark.sql.functions as F

    s = GraphStore(spark, str(tmp_path / "ctr"))
    batch = spark.createDataFrame(
        [("a", 1, 1), ("b", 1, 1)], "k string, c int, c_add int"
    )
    r1 = s.merge_nodes(
        batch, label="T", key_col="k",
        create_prop_cols=["c"], match_add_cols={"c": "c_add"},
    )
    assert (r1.nodes_created, r1.properties_set) == (2, 2)
    r2 = s.merge_nodes(
        batch, label="T", key_col="k",
        create_prop_cols=["c"], match_add_cols={"c": "c_add"},
    )
    assert (r2.nodes_created, r2.properties_set) == (0, 2)
    rows = {x["key"]: x["c"] for x in s.nodes().collect()}
    assert rows == {"a": 2, "b": 2}
    # match_add-only prop (no ON CREATE value): created rows stay bare,
    # matched rows with a NULL old value keep NULL (NULL + 1 keeps old)
    b2 = spark.createDataFrame([("a", 5), ("zz", 5)], "k string, d_add int")
    r3 = s.merge_nodes(b2, label="T", key_col="k", match_add_cols={"d": "d_add"})
    assert r3.nodes_created == 1 and r3.properties_set == 0  # d was NULL
    rows = {x["key"]: (x["c"], x["d"]) for x in s.nodes().collect()}
    assert rows["zz"] == (None, None) and rows["a"][1] is None
    # NULL addend on a BATCH row: Neo4j's NULL-propagating arithmetic —
    # n.c + NULL = NULL, and SET-to-NULL removes the property. Matched
    # rows NOT in the batch keep their counter (ADVICE r14).
    b3 = spark.createDataFrame([("a", None)], "k string, c_add int")
    s.merge_nodes(b3, label="T", key_col="k", match_add_cols={"c": "c_add"})
    rows = {x["key"]: x["c"] for x in s.nodes().collect()}
    assert rows["a"] is None  # removed by NULL arithmetic
    assert rows["b"] == 2  # outside the batch: untouched
    # overlap validation
    import pytest
    with pytest.raises(ValueError, match="may not repeat"):
        s.merge_nodes(
            batch, label="T", key_col="k",
            prop_cols=["c"], match_add_cols={"c": "c_add"},
        )


def test_remove_unknown_prop_is_noop(spark, tmp_path):
    """Neo4j: REMOVE of a property no node stores is a silent no-op;
    mixed known+unknown still erases the known cells."""
    from neo4j_graphdb_spark.writer import GraphStore

    s = GraphStore(spark, str(tmp_path / "rm"))
    batch = spark.createDataFrame([("a", "x")], "k string, note string")
    s.merge_nodes(batch, label="T", key_col="k", prop_cols=["note"])
    r = s.remove_props(batch.select("k"), "T", "k", ["nope"])
    assert r.properties_set == 0
    r = s.remove_props(batch.select("k"), "T", "k", ["note", "nope"])
    assert r.properties_set == 1
    assert s.nodes().collect()[0]["note"] is None


def test_store_labels_listing(spark, tmp_path):
    """GraphStore.labels() reads the label= partition dirs of the
    current nodes version — pure filesystem metadata, no Spark job."""
    from neo4j_graphdb_spark.writer import GraphStore

    s = GraphStore(spark, str(tmp_path / "lbls"))
    assert s.labels() == []
    s.merge_nodes(
        spark.createDataFrame([("a",)], "k string"), label="B", key_col="k"
    )
    s.merge_nodes(
        spark.createDataFrame([("a",)], "k string"), label="A", key_col="k"
    )
    assert s.labels() == ["A", "B"]


def test_remove_unknown_edge_prop_is_noop(spark, tmp_path):
    """Neo4j: REMOVE of a property no relationship stores is a silent
    no-op (edge twin of the node-path rule above); mixed known+unknown
    still erases the known cells."""
    from neo4j_graphdb_spark.writer import GraphStore

    s = GraphStore(spark, str(tmp_path / "rme"))
    batch = spark.createDataFrame([("a", "b", 3)], "u string, t string, w int")
    s.merge_nodes(batch.select("u"), label="U", key_col="u")
    s.merge_nodes(batch.select("t"), label="T", key_col="t")
    s.merge_edges(batch, "R", "U", "u", "T", "t", prop_cols=["w"])
    r = s.remove_edge_props(batch, "R", "U", "u", "T", "t", ["nope"])
    assert r.properties_set == 0
    r = s.remove_edge_props(batch, "R", "U", "u", "T", "t", ["w", "nope"])
    assert r.properties_set == 1
    assert s.edges().collect()[0]["w"] is None
    # edge itself survives both REMOVEs
    assert s.edges().count() == 1


def test_merge_edges_match_val_cols(spark, tmp_path):
    """merge_edges match_val_cols: ON CREATE value rides the prop
    column, ON MATCH value its own batch column — created edges take
    the former, matched BATCH edges the latter, matched edges outside
    the batch keep their cell; validation refuses a match_val prop
    missing from create_prop_cols or repeated elsewhere."""
    import pytest
    from neo4j_graphdb_spark.writer import GraphStore

    s = GraphStore(spark, str(tmp_path / "mval"))
    ab = spark.createDataFrame(
        [("a", "b", 1, 2)], "u string, t string, w_c int, w_m int"
    )
    s.merge_nodes(ab.select("u"), label="U", key_col="u")
    s.merge_nodes(ab.select("t"), label="T", key_col="t")
    r = s.merge_edges(
        ab, "R", "U", "u", "T", "t",
        create_prop_cols=["w_c"], match_val_cols={"w_c": "w_m"},
    )
    assert (r.relationships_created, r.properties_set) == (1, 1)
    assert s.edges().collect()[0]["w_c"] == 1
    r = s.merge_edges(
        ab, "R", "U", "u", "T", "t",
        create_prop_cols=["w_c"], match_val_cols={"w_c": "w_m"},
    )
    assert (r.relationships_created, r.properties_set) == (0, 1)
    assert s.edges().collect()[0]["w_c"] == 2
    # an edge OUTSIDE the batch keeps its cell across someone else's merge
    cd = spark.createDataFrame(
        [("c", "d", 5, 9)], "u string, t string, w_c int, w_m int"
    )
    s.merge_nodes(cd.select("u"), label="U", key_col="u")
    s.merge_nodes(cd.select("t"), label="T", key_col="t")
    s.merge_edges(
        cd, "R", "U", "u", "T", "t",
        create_prop_cols=["w_c"], match_val_cols={"w_c": "w_m"},
    )
    got = {r["w_c"] for r in s.edges().collect()}
    assert got == {2, 5}
    with pytest.raises(ValueError, match="must also be in"):
        s.merge_edges(cd, "R", "U", "u", "T", "t", match_val_cols={"w_c": "w_m"})
    with pytest.raises(ValueError, match="may not repeat"):
        s.merge_edges(
            cd, "R", "U", "u", "T", "t",
            create_prop_cols=["w_c"], match_add_cols={"w_c": "w_m"},
            match_val_cols={"w_c": "w_m"},
        )


# ---------------------------------------------------------------------------
# Per-label bucket counts sized from the label's bytes on disk
# ---------------------------------------------------------------------------


@pytest.fixture()
def split_bytes(spark):
    """Set spark.sql.files.maxPartitionBytes (the per-bucket byte target)
    to a few KB, so a handful of small merges force bucket splits;
    restored afterwards."""
    key = "spark.sql.files.maxPartitionBytes"
    prev = spark.conf.get(key)

    def _set(nbytes):
        spark.conf.set(key, str(nbytes))
        return nbytes

    yield _set
    spark.conf.set(key, prev)


def _value_state(vt, pcol, value):
    """(bucket count, sorted bucket dir names, parquet bytes) of one
    label/rel_type in the current version."""
    import os

    from neo4j_graphdb_spark.writer import _tree_bytes

    d = os.path.join(vt.current_path() or "", f"{pcol}={value}")
    if not os.path.isdir(d):
        return (vt.layout() or {}).get(value, 1), [], 0
    return vt.layout()[value], sorted(os.listdir(d)), _tree_bytes(d)


def _size_rule(n_before, nbytes, target):
    n = 1
    while nbytes > n * target:
        n *= 2
    return max(n_before, n)


def test_bucket_count_follows_size_rule_across_doublings(spark, store, split_bytes):
    """Each write sizes the label's bucket count from the bytes it finds
    on disk (smallest power of two with bytes/n <= maxPartitionBytes,
    never shrinking); a split rewrites the whole label, so the contents
    match a plain dict model, no bucket dir of the old count survives,
    re-merged keys are found (0 created), and versions from before a
    split still read back as they were."""
    target = split_bytes(3000)
    model, snapshots, counts = {}, {}, []
    for i in range(4):
        rows = [(f"k{i}-{j}", f"t{i}-{j}", "c" * 30) for j in range(100)]
        n_before, _, nbytes = _value_state(store._nodes, "label", "Article")
        s = store.merge_nodes(_batch(spark, rows), "Article", "link", ["title", "content"])
        assert s.nodes_created == len(rows)
        model.update({k: t for k, t, _ in rows})
        n, dirs, _ = _value_state(store._nodes, "label", "Article")
        assert n == _size_rule(n_before, nbytes, target), (i, n_before, nbytes, n)
        assert set(dirs) <= {f"_kb={b}" for b in range(n)}, dirs
        snapshots[store._nodes.current_version()] = dict(model)
        counts.append(n)
    assert counts[0] == 1 and len(set(counts)) >= 3, counts  # >= 2 doublings
    assert {r["key"]: r["title"] for r in store.nodes().collect()} == model

    # re-merge every key with new titles after the splits: all found
    rows = [(k, t + "x", None) for k, t in model.items()]
    s = store.merge_nodes(_batch(spark, rows), "Article", "link", ["title", "content"])
    assert s.nodes_created == 0 and s.properties_set == len(rows)
    model = {k: t + "x" for k, t in model.items()}
    assert {r["key"]: r["title"] for r in store.nodes().collect()} == model

    # time travel to versions written under the earlier bucket counts
    for v, snap in snapshots.items():
        assert {r["key"]: r["title"] for r in store.nodes(version=v).collect()} == snap


def test_edge_bucket_split_keeps_merge_idempotent(spark, store, split_bytes):
    """Same size rule on a rel_type: after it splits, re-merging every
    edge creates none, and the edge set matches the model."""
    target = split_bytes(1200)
    arts = _batch(spark, [(f"a{j}", "t", "c") for j in range(60)])
    store.merge_nodes(arts, "Article", "link", ["title"])
    pubs = spark.createDataFrame([(f"p{j}",) for j in range(5)], "name string")
    store.merge_nodes(pubs, "Publisher", "name", [])
    pairs = set()
    counts = []
    for i in range(3):
        batch = [(f"a{j}", f"p{(j + i) % 5}") for j in range(60)]
        n_before, _, nbytes = _value_state(store._edges, "rel_type", "WRITTEN_BY")
        rel = spark.createDataFrame(batch, "link string, publisher string")
        s = store.merge_edges(rel, "WRITTEN_BY", "Article", "link", "Publisher", "publisher")
        assert s.relationships_created == len(batch)
        pairs |= set(batch)
        n, _, _ = _value_state(store._edges, "rel_type", "WRITTEN_BY")
        assert n == _size_rule(n_before, nbytes, target)
        counts.append(n)
    assert counts[-1] > 1, counts
    rel = spark.createDataFrame(sorted(pairs), "link string, publisher string")
    s = store.merge_edges(rel, "WRITTEN_BY", "Article", "link", "Publisher", "publisher")
    assert s.relationships_created == 0
    assert store.edges().count() == len(pairs)


def test_split_keeps_untouched_buckets_hardlinked(spark, store, split_bytes):
    """With several buckets, a merge touching one key rewrites only that
    key's bucket: every other bucket's files carry over as hardlinks."""
    import os

    split_bytes(1000)
    rows = [(f"u{j}", "t", "c" * 30) for j in range(150)]
    store.merge_nodes(_batch(spark, rows), "Article", "link", ["title", "content"])
    store.merge_nodes(_batch(spark, rows[:1]), "Article", "link", ["title", "content"])
    n, dirs, _ = _value_state(store._nodes, "label", "Article")
    assert n > 1 and len(dirs) > 1

    def inodes(version_dir):
        d = os.path.join(version_dir, "label=Article")
        return {
            os.path.relpath(os.path.join(dp, fn), d): os.stat(os.path.join(dp, fn)).st_ino
            for dp, _, fns in os.walk(d)
            for fn in fns
            if fn.endswith(".parquet")
        }

    before = inodes(store._nodes.current_path())
    split_bytes(128 * 1024 * 1024)  # no further split
    store.merge_nodes(_batch(spark, [("u7", "t7", None)]), "Article", "link", ["title", "content"])
    assert store._nodes.layout()["Article"] == n
    after = inodes(store._nodes.current_path())
    changed = {
        os.path.dirname(f) for f in before.keys() | after.keys()
        if before.get(f) != after.get(f)
    }
    assert len(changed) == 1, changed  # u7's bucket only
    kept = {f: i for f, i in before.items() if os.path.dirname(f) not in changed}
    assert kept and all(after[f] == i for f, i in kept.items())
    assert {r["key"]: r["title"] for r in store.nodes().collect()}["u7"] == "t7"


def test_legacy_16_bucket_version_keeps_merging(spark, tmp_path):
    """A version written before layout records (16 key buckets per label,
    no _layout.json) reads as 16 buckets for every label: merges find
    existing keys, deletes prune to the right bucket, and the next
    version records the counts."""
    import os

    from neo4j_graphdb_spark.model import as_nodes
    from neo4j_graphdb_spark.writer import (
        BUCKET_COL, LAYOUT_FILE, LEGACY_BUCKETS, GraphStore, _VersionedTable,
    )

    root = str(tmp_path / "graph")
    rows = [(f"u{j}", f"t{j}", "c") for j in range(40)]
    legacy = as_nodes(_batch(spark, rows), "Article", "link", ["title", "content"]).withColumn(
        BUCKET_COL, F.pmod(F.xxhash64(F.col("key")), F.lit(16)).cast("int")
    )
    _VersionedTable(os.path.join(root, "nodes")).write_next(
        legacy, partition_by=["label", BUCKET_COL]
    )
    store = GraphStore(spark, root)
    assert store._nodes.layout() is None
    assert not os.path.exists(os.path.join(store._nodes.current_path(), LAYOUT_FILE))

    s = store.merge_nodes(
        _batch(spark, [("u3", "t3x", None), ("u30", "t30x", None), ("n1", "tn", "c")]),
        "Article", "link", ["title", "content"],
    )
    assert s.nodes_created == 1
    assert store._nodes.layout() == {"Article": LEGACY_BUCKETS}
    model = {k: t for k, t, _ in rows} | {"u3": "t3x", "u30": "t30x", "n1": "tn"}
    assert {r["key"]: r["title"] for r in store.nodes().collect()} == model

    d = store.delete_nodes(spark.createDataFrame([("u5",)], "link string"), "Article", "link")
    assert d.nodes_deleted == 1
    store.merge_nodes(spark.createDataFrame([("P1",)], "name string"), "Publisher", "name", [])
    assert store._nodes.layout() == {"Article": LEGACY_BUCKETS, "Publisher": 1}
    assert store.nodes().count() == len(model)  # minus u5, plus P1
