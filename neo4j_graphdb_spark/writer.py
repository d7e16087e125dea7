"""Batch MERGE-upsert write path (SURVEY.md §2 A7-A9, A13).

The reference's write path is one Cypher ``MERGE … SET …`` per record over
Bolt (``/root/reference/src/crwling.py:47-60``) with write counters read
from the result summary (``:61-64``). Our semantic contract, preserved:

* **MERGE node** (A7): upsert by (label, merge-key) — create iff absent.
* **SET** (A8): overwrite properties on match *and* on create; an incoming
  NULL keeps the old value (column-wise last-writer-wins). **Intentional
  divergence from Neo4j**: Cypher ``SET a.p = null`` *removes* the
  property, while this writer's coalesce keeps the old value — batch
  pipelines use NULL for "no new value", and property removal is a
  separate tombstone concern out of scope here (the reference never sets
  a null parameter: ``src/crwling.py:49-51`` always binds crawled
  strings).
* **MERGE edge** (A9): create (src,dst,rel_type) iff absent; idempotent.
* **Counters** (A13): ``nodes_created`` / ``properties_set`` /
  ``relationships_created`` mirroring ``summary.counters``.

The architectural change (SURVEY.md §3): the per-record Bolt round-trip
loop becomes ONE batched upsert per call — a left-anti/coalesce join over
deterministic ids (model.py), i.e. a pure shuffle-join the optimizer can
plan, broadcast, and skew-split.

Storage is versioned Parquet (``v0, v1, …`` + a ``_CURRENT`` pointer):
writers never mutate in place, readers pin a version — the same
write-new-then-swap-pointer discipline object-store table formats use.
MERGE is *file-pruned*: each label/rel_type partition is hash-bucketed
on the merge key (``label=X/_kb=N`` dirs), a batch reads and rewrites
only the buckets its keys land in, and every untouched leaf carries
over as hardlinks — the manifest discipline of a Delta/Iceberg
``MERGE INTO`` expressed on hive directories. At 100 TB the drop-in
upgrade is swapping the hardlink carry-over for real manifest entries;
the join and pruning logic below is exactly what those formats execute
under the hood.

The bucket count is per label (per rel_type on edges) and sized from
the data: the smallest power of two ``n`` with the label's bytes on
disk / ``n`` ≤ ``spark.sql.files.maxPartitionBytes``, so one bucket is
at most one scan split. A label's first write gets ``n = 1`` (one leaf
file, nothing to prune); the count only grows, and the write that finds
a label over its target rewrites the whole label at the doubled count —
linear hashing (Litwin, VLDB 1980) on hive directories, amortized O(1)
rewrite per row. Each version records its counts as ``{value: n}`` in
``v{N}/_layout.json`` (written before the pointer swap, so time travel,
vacuum and crash recovery see the counts their files were hashed with;
Spark's reader skips ``_``-prefixed files). A version without the
record predates it and hashed every value into 16 buckets.
"""

from __future__ import annotations

import json
import os
import urllib.parse
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from neo4j_graphdb_spark.model import NODE_ID, as_edges, as_nodes, node_id_expr

BUCKET_COL = "_kb"
LAYOUT_FILE = "_layout.json"
# bucket count of every label/rel_type in a version written before
# layout records existed (the fixed count every store used then)
LEGACY_BUCKETS = 16


def _observed_counters(obs: Observation, names: list[str]) -> dict:
    """Read write counters off an ``observe``/CollectMetrics node after
    the write action completed.

    When Spark's adaptive empty-relation propagation proves at RUNTIME
    that the observed subtree yields zero rows (e.g. a zero-row MERGE
    batch: the anchored-write "missing anchor writes nothing" path), it
    replaces the subtree — CollectMetrics included — with an empty
    relation, and ``Observation.get`` then fails converting the absent
    metrics row (``toPyRow`` assertion). That pruning can only fire for
    a provably EMPTY observed input, where every counter here (all
    ``count(...)`` aggregates) is its zero-row value — so 0 for every
    metric is the exact answer, not an approximation."""
    try:
        return obs.get
    except Py4JJavaError as ex:
        # The absent-metrics-row failure surfaces as a Py4JJavaError
        # whose JVM cause chain holds the `java.lang.AssertionError`
        # raised inside PythonSQLUtils.toPyRow — the one case where
        # all-zero counters ARE the exact answer. Matching the JVM
        # exception class, not message text, keeps this working across
        # PySpark releases that reword messages. Any OTHER failure
        # (py4j transport error, listener race) is a real metrics
        # problem on a possibly non-empty write: propagate instead of
        # silently reporting nodes_created=0.
        if _jvm_cause_named(ex, "java.lang.AssertionError"):
            return {n: 0 for n in names}
        raise


def _jvm_cause_named(ex: Py4JJavaError, class_name: str) -> bool:
    """True iff the JVM exception ``ex`` wraps, or any exception in its
    cause chain, is of class ``class_name``."""
    jex = ex.java_exception
    seen = 0
    while jex is not None and seen < 16:  # bounded: a chain may loop
        if jex.getClass().getName() == class_name:
            return True
        jex = jex.getCause()
        seen += 1
    return False


def _hash_bucket(n: int, *cols) -> "F.Column":
    """Bucket of a key among ``n`` buckets. Same expression at write and
    at prune time, so an existing row for key K is always found in
    bucket ``_hash_bucket(n, K)`` of its label's current count ``n``."""
    if n == 1:
        return F.lit(0)
    return F.pmod(F.xxhash64(*cols), F.lit(n)).cast("int")


def _bucket_of(layout: dict[str, int], pcol: str, *cols) -> "F.Column":
    """Key→bucket for a frame holding rows of several labels (nodes,
    ``pcol="label"``) or rel_types (edges, ``pcol="rel_type"``): a CASE
    on ``pcol`` over :func:`_hash_bucket` with each value's count from
    ``layout``. Values absent from ``layout`` have one bucket."""
    by_n: dict[int, list[str]] = {}
    for value, n in layout.items():
        if n > 1:
            by_n.setdefault(n, []).append(value)
    out = None
    for n, values in sorted(by_n.items()):
        cond = F.col(pcol).isin(sorted(values))
        b = _hash_bucket(n, *cols)
        out = F.when(cond, b) if out is None else out.when(cond, b)
    return F.lit(0) if out is None else out.otherwise(F.lit(0))


def _buckets_for(nbytes: int, max_bytes: int) -> int:
    """Smallest power of two ``n`` with ``nbytes / n <= max_bytes``."""
    n = 1
    while nbytes > n * max_bytes:
        n *= 2
    return n


def _value_dirs(path: str | None, pcol: str) -> dict[str, str]:
    """``{value: dir}`` of the ``pcol=value`` partition dirs of a version."""
    if path is None or not os.path.isdir(path):
        return {}
    prefix = f"{pcol}="
    return {
        urllib.parse.unquote(e[len(prefix):]): os.path.join(path, e)
        for e in os.listdir(path)
        if e.startswith(prefix)
    }


def _tree_bytes(path: str) -> int:
    """Bytes of the parquet files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


@dataclass
class WriteSummary:
    """Mirror of the Bolt result-summary counters the reference inspects
    (``/root/reference/src/crwling.py:61-64``)."""

    nodes_created: int = 0
    properties_set: int = 0
    relationships_created: int = 0
    nodes_deleted: int = 0
    relationships_deleted: int = 0

    def __add__(self, other: "WriteSummary") -> "WriteSummary":
        return WriteSummary(
            self.nodes_created + other.nodes_created,
            self.properties_set + other.properties_set,
            self.relationships_created + other.relationships_created,
            self.nodes_deleted + other.nodes_deleted,
            self.relationships_deleted + other.relationships_deleted,
        )


class _VersionedTable:
    """Write-new + pointer-swap Parquet table (no in-place mutation)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        # schema of the current version, tracked across writes in this
        # process: a known schema lets reads skip the mergeSchema footer
        # scan entirely (a distributed job over every file) — the same
        # role a table-format catalog plays at 100 TB. None = unknown
        # (store created by an earlier process) → mergeSchema fallback.
        self._schema = None
        self._schema_version = -2

    @property
    def _pointer(self) -> str:
        return os.path.join(self.root, "_CURRENT")

    def current_version(self) -> int:
        try:
            with open(self._pointer) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def current_path(self) -> str | None:
        v = self.current_version()
        return None if v < 0 else os.path.join(self.root, f"v{v}")

    def read(self, spark: SparkSession) -> DataFrame | None:
        path = self.current_path()
        if path is None:
            return None
        # a version can legitimately hold ZERO data files (a delete that
        # emptied the only partition): treat it as "no table", the same
        # sentinel a never-written store returns — a fresh process would
        # otherwise die in schema inference on the fileless directory
        if not any(
            f.endswith(".parquet")
            for _, _, files in os.walk(path)
            for f in files
        ):
            return None
        v = self.current_version()
        if self._schema is not None and self._schema_version == v:
            # known schema: no footer-merging job; files missing newer
            # property columns surface them as NULL, same as mergeSchema
            return spark.read.schema(self._schema).parquet(path)
        # partitions written in different batches may carry different
        # property columns; schema merging pads the gaps with NULLs
        df = spark.read.option("mergeSchema", "true").parquet(path)
        self._schema, self._schema_version = df.schema, v
        return df

    def read_version(self, spark: SparkSession, version: int) -> DataFrame | None:
        """Time-travel read of one retained version (mergeSchema — the
        schema cache only tracks the current version)."""
        path = os.path.join(self.root, f"v{version}")
        if not os.path.isdir(path):
            raise ValueError(
                f"version {version} not present under {self.root} "
                "(never written, or reclaimed by vacuum)"
            )
        return spark.read.option("mergeSchema", "true").parquet(path)

    def layout(self, version: int | None = None) -> dict[str, int] | None:
        """The ``{value: bucket count}`` record of a version (default: the
        current one), or None for a version written without one."""
        v = self.current_version() if version is None else version
        try:
            with open(os.path.join(self.root, f"v{v}", LAYOUT_FILE)) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def list_versions(self) -> list[int]:
        return sorted(
            int(e[1:])
            for e in os.listdir(self.root)
            if e.startswith("v") and e[1:].isdigit()
        )

    def vacuum(self, keep_last: int = 1) -> list[int]:
        """Reclaim all but the newest ``keep_last`` versions (the current
        pointer is always kept). Safe with hardlink carry-over: links are
        per-file references, so deleting an old version's tree never
        touches bytes a retained version still links. Returns the
        reclaimed version numbers."""
        import shutil

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        versions = self.list_versions()
        cur = self.current_version()
        keep = set(versions[-keep_last:]) | {cur}
        gone = []
        for v in versions:
            if v in keep:
                continue
            shutil.rmtree(os.path.join(self.root, f"v{v}"), ignore_errors=True)
            gone.append(v)
        return gone

    def write_next(
        self,
        df: DataFrame,
        partition_by: str | list[str] | None = None,
        layout: dict[str, int] | None = None,
    ) -> str:
        v = self.current_version() + 1
        path = os.path.join(self.root, f"v{v}")
        if partition_by is not None:
            # label/rel_type (+ key-bucket) partitioning: label scans (A1)
            # become partition pruning — at 100 TB a MATCH (:Article)
            # touches only that label's files — and a MERGE batch rewrite
            # is bounded by the (label, bucket) pairs present in the batch,
            # not the whole table.
            cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
            # cluster on the partition columns first: without this every
            # shuffle task fans out one file per leaf dir it sees
            # (tasks × buckets small files per merge — the classic small-
            # files problem, and most of the merge wall-clock on many-core
            # local runs). One task per leaf writes one file; the graph
            # store sizes its per-label bucket counts so that a leaf stays
            # within one scan split (see _Rewrite).
            df = df.repartition(*[F.col(c) for c in cols])
            w = df.write.mode("overwrite").partitionBy(*cols)
        else:
            w = df.write.mode("overwrite")
        w.parquet(path)
        self._write_layout(path, layout)
        self._swap_pointer(v)
        self._schema, self._schema_version = df.schema, v
        return path

    @staticmethod
    def _write_layout(path: str, layout: dict[str, int] | None) -> None:
        """Record the version's bucket counts next to its files — before
        the pointer swap publishes it."""
        if layout is not None:
            with open(os.path.join(path, LAYOUT_FILE), "w") as f:
                json.dump(layout, f, sort_keys=True)

    def _swap_pointer(self, v: int) -> None:
        """Atomically advance ``_CURRENT`` (write temp + rename): a crash
        mid-publish leaves the pointer on the previous complete version,
        never a torn read — the commit step of the write-new-then-swap
        discipline."""
        tmp = self._pointer + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._pointer)

    def is_partitioned_by(self, partition_by: str | list[str]) -> bool:
        """True iff the current version's directory layout is hive-partitioned
        on exactly the given column chain (or the table is empty, so the next
        write establishes the layout). A version written without
        ``partitionBy`` holds plain ``part-*.parquet`` files — a partial
        rewrite over such a layout would silently drop every row outside the
        touched values, so callers must check this before choosing the
        partial path."""
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        path = self.current_path()
        if path is None:
            return True

        def _level_ok(d: str, depth: int) -> bool:
            if depth == len(cols):
                return True
            prefix = f"{cols[depth]}="
            for e in os.listdir(d):
                if e.startswith(".") or e.startswith("_"):
                    continue
                if not e.startswith(prefix):
                    return False
                if not _level_ok(os.path.join(d, e), depth + 1):
                    return False
            return True

        return _level_ok(path, 0)

    def write_next_partial(
        self,
        df: DataFrame,
        partition_by: str | list[str],
        touched_values: list,
        layout: dict[str, int] | None = None,
    ) -> str:
        """Write ``df`` (rows of the *touched* partitions only) as the next
        version and carry every untouched partition over from the current
        version as hardlinks.

        ``partition_by`` may be a single column or a chain (e.g.
        ``["label", "_kb"]``); ``touched_values`` is then a list of values
        or of tuples naming the touched partitions — a full leaf, or a
        prefix such as ``(label,)`` that covers every leaf below it (a
        label rewritten whole at a new bucket count). This bounds MERGE
        write amplification to O(touched leaves), not O(table) — the same
        file-reuse discipline Delta/Iceberg implement with manifests; on a
        shared filesystem the hardlink becomes a manifest entry referencing
        the old file.

        Raises ``ValueError`` if the current version is not partitioned on
        ``partition_by``: carrying over "untouched partitions" from an
        unpartitioned layout would carry over nothing, silently losing every
        other partition's data on upgrade of a legacy store.
        """
        cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
        prev = self.current_path()
        if prev is not None and not self.is_partitioned_by(cols):
            raise ValueError(
                f"current version at {prev} is not partitioned by "
                f"{cols!r}; a partial rewrite would drop its data — "
                "use write_next() with the full table to upgrade the layout"
            )
        prev_v = self.current_version()
        v = prev_v + 1
        path = os.path.join(self.root, f"v{v}")
        # same one-file-per-leaf clustering rationale as write_next
        df = df.repartition(*[F.col(c) for c in cols])
        df.write.mode("overwrite").partitionBy(*cols).parquet(path)
        if prev is not None:
            # hive dir values are strings — normalize touched (which may
            # carry ints, e.g. bucket ids) for comparison
            touched = {
                tuple(str(x) for x in (tv if isinstance(tv, tuple) else (tv,)))
                for tv in touched_values
            }

            def _carry(src: str, dst: str, depth: int, crumbs: tuple) -> None:
                """Hardlink every partition dir not covered by ``touched``;
                descend only into levels that contain touched leaves."""
                prefix = f"{cols[depth]}="
                for e in os.listdir(src):
                    if not e.startswith(prefix):
                        continue
                    val = crumbs + (e[len(prefix):],)
                    if val in touched:
                        continue  # rewritten whole: freshly written, no carry
                    if not any(t[: depth + 1] == val for t in touched):
                        # nothing below here was touched: link whole subtree
                        _hardlink_tree(os.path.join(src, e), os.path.join(dst, e))
                    else:
                        _carry(os.path.join(src, e), os.path.join(dst, e), depth + 1, val)

            _carry(prev, path, 0, ())
        self._write_layout(path, layout)
        self._swap_pointer(v)
        # new version's schema = this write's columns plus any carried
        # partition's extra property columns (known iff the previous
        # version's schema was)
        if prev is None:
            self._schema, self._schema_version = df.schema, v
        elif self._schema is not None and self._schema_version == prev_v:
            from pyspark.sql import types as _T

            known = {f.name for f in df.schema.fields}
            self._schema = _T.StructType(
                list(df.schema.fields)
                + [f for f in self._schema.fields if f.name not in known]
            )
            self._schema_version = v
        else:
            self._schema, self._schema_version = None, -2
        return path


def _max_partition_bytes(spark: SparkSession) -> int:
    return int(spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())


def _table_layout(spark, vt, pcol: str, bucketed: bool) -> dict[str, int]:
    """Bucket counts of the current version's values. A bucketed version
    without a layout record predates the records: every value has
    LEGACY_BUCKETS. A version without key buckets is about to be
    rewritten whole, so each value is sized from its bytes now (and a
    value without its own dir gets one bucket)."""
    dirs = _value_dirs(vt.current_path(), pcol)
    if bucketed:
        rec = vt.layout()
        return rec if rec is not None else {v: LEGACY_BUCKETS for v in dirs}
    max_bytes = _max_partition_bytes(spark)
    return {v: _buckets_for(_tree_bytes(d), max_bytes) for v, d in dirs.items()}


class _Rewrite:
    """How one write lays out the rows of one label (nodes) or rel_type
    (edges) in the next version.

    ``n`` is the value's bucket count there: its current count, raised
    (for writes that add rows, ``grow=True``) to the size rule's count
    for the value's bytes on disk now. ``whole`` is True when the count
    grew: the write then rewrites every row of the value instead of only
    the buckets its keys land in. ``bucketed`` is False when the current
    version predates key buckets (or the store is empty): the write then
    rewrites the whole table, which also upgrades its layout. ``layout``
    is the record the next version carries."""

    def __init__(self, spark, vt, pcol, value, key_cols, existing, grow):
        self.vt, self.pcol, self.value, self.key_cols = vt, pcol, value, key_cols
        self.bucketed = (
            existing is not None
            and vt.is_partitioned_by([pcol, BUCKET_COL])
            and BUCKET_COL in existing.columns
        )
        layout = (
            _table_layout(spark, vt, pcol, self.bucketed)
            if existing is not None
            else {}
        )
        n_old = layout.get(value, 1)
        self.n = n_old
        if grow and self.bucketed:
            d = _value_dirs(vt.current_path(), pcol).get(value)
            if d is not None:
                self.n = max(
                    n_old, _buckets_for(_tree_bytes(d), _max_partition_bytes(spark))
                )
        self.whole = self.bucketed and self.n != n_old
        self.layout = {**layout, value: self.n}

    def bucket(self) -> "F.Column":
        """Bucket of one of this value's rows in the next version."""
        return _hash_bucket(self.n, *[F.col(c) for c in self.key_cols])

    def buckets_of(self, rows: DataFrame) -> list[int]:
        """Bucket ids of ``rows`` (which carry BUCKET_COL). A one-bucket
        value answers ``[0]`` without a Spark job — also for zero rows,
        whose rewrite of that leaf then carries its rows unchanged."""
        if self.n == 1:
            return [0]
        return [r[BUCKET_COL] for r in rows.select(BUCKET_COL).distinct().collect()]

    def touched(self, existing: DataFrame, buckets: list[int]) -> DataFrame:
        """The current rows the write replaces: this value's rows in
        ``buckets`` (all of them when the count grew)."""
        rows = existing.filter(F.col(self.pcol) == self.value)
        if self.bucketed and not self.whole:
            rows = rows.filter(F.col(BUCKET_COL).isin(buckets))
        return rows

    def write(
        self, rows: DataFrame, existing: DataFrame | None, buckets: list[int]
    ) -> None:
        """Publish ``rows`` — the new content of :meth:`touched` — as the
        next version; every other leaf carries over."""
        rows = rows.withColumn(BUCKET_COL, self.bucket())
        cols = [self.pcol, BUCKET_COL]
        if self.bucketed:
            touched = (
                [(self.value,)]
                if self.whole
                else [(self.value, b) for b in buckets]
            )
            self.vt.write_next_partial(rows, cols, touched, layout=self.layout)
            return
        if existing is not None:
            # legacy layout (unpartitioned, or without key buckets): a
            # partial rewrite would silently drop data — one full rewrite
            # that upgrades the table to the bucketed layout
            others = existing.filter(F.col(self.pcol) != self.value).withColumn(
                BUCKET_COL,
                _bucket_of(self.layout, self.pcol, *[F.col(c) for c in self.key_cols]),
            )
            rows = others.unionByName(rows, allowMissingColumns=True)
        self.vt.write_next(rows, partition_by=cols, layout=self.layout)


# public name: the versioned-table discipline is useful beyond the graph
# store (e.g. operators/temporal.py incremental_rollup maintains a
# materialized rollup through the same write-next + pointer-swap commit)
TableVersions = _VersionedTable


class GraphStore:
    """A property-graph stored as canonical nodes/edges Parquet tables.

    Plays the role of the reference's ``Neo4jManager``
    (``/root/reference/src/database.py:4-16``): the long-lived handle that
    the ingest pipeline writes through and queries read from.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self._nodes = _VersionedTable(os.path.join(root, "nodes"))
        self._edges = _VersionedTable(os.path.join(root, "edges"))

    # ------------------------------------------------------------- metadata

    @property
    def _key_names_path(self) -> str:
        return os.path.join(self.root, "label_keys.json")

    def key_names(self) -> dict[str, str]:
        """Per-label merge-key PROPERTY names (``{label: key_col}``),
        recorded at write time. The store erases the user-facing key
        name into the unified ``key`` column; this sidecar keeps the
        Neo4j-visible name so readers can resolve ``p.publisher`` on a
        Publisher keyed by ``publisher`` even when another label claims
        a prop column of that name (the README key-name-collision
        divergence — this map is the data the read-side fix needs)."""
        try:
            with open(self._key_names_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def labels(self) -> list[str]:
        """Labels present in the current nodes version, read from the
        ``label=`` partition directory names — a pure filesystem
        listing, no Spark job (the same metadata a catalog would hold
        at 100 TB). Legacy unpartitioned layouts (no ``label=`` dirs)
        return ``[]``: the caller cannot cheaply verify those, and
        treats the sidecar as authoritative."""
        path = self._nodes.current_path()
        if path is None:
            return []
        try:
            entries = os.listdir(path)
        except FileNotFoundError:
            return []
        return sorted(
            urllib.parse.unquote(d[len("label="):])
            for d in entries
            if d.startswith("label=")
        )

    def _record_key_name(self, label: str, key_col: str) -> None:
        # internal write paths (the update/relabel/delete machinery) key
        # their batches on engine-internal column names (`_k`,
        # `__w_a_key`, …) — never record those over the user-facing
        # merge-key property; and a label's merge key is its identity,
        # so the FIRST recorded name wins (a later batch spelling it
        # differently cannot re-key the label)
        if key_col.startswith("_"):
            return
        names = self.key_names()
        if label in names:
            return
        names[label] = key_col
        tmp = self._key_names_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(names, f, sort_keys=True)
        os.replace(tmp, self._key_names_path)

    def _node_rewrite(self, label, existing, grow=True) -> _Rewrite:
        return _Rewrite(self.spark, self._nodes, "label", label, ["key"], existing, grow)

    def _edge_rewrite(self, rel_type, existing, grow=True) -> _Rewrite:
        return _Rewrite(
            self.spark, self._edges, "rel_type", rel_type, ["src", "dst"], existing, grow
        )

    # ---------------------------------------------------------------- reads

    def nodes(self, version: int | None = None) -> DataFrame | None:
        """Current nodes table, or a pinned earlier ``version`` (time
        travel — every write is a new version, so any historical state
        remains readable until :meth:`vacuum` reclaims it). The internal
        key-bucket partition column is dropped: it is storage layout, not
        graph data (consumers filtering on ``label`` still prune at the
        directory level — bucket dirs nest *inside* label dirs)."""
        if version is None:
            df = self._nodes.read(self.spark)
        else:
            df = self._nodes.read_version(self.spark, version)
        return None if df is None else _drop_bucket(df)

    def edges(self, version: int | None = None) -> DataFrame | None:
        if version is None:
            df = self._edges.read(self.spark)
        else:
            df = self._edges.read_version(self.spark, version)
        return None if df is None else _drop_bucket(df)

    # --------------------------------------------------------------- writes

    def merge_nodes(
        self,
        updates: DataFrame,
        label: str,
        key_col: str,
        prop_cols: list[str] | None = None,
        order_col: str | None = None,
        create_prop_cols: list[str] | None = None,
        match_prop_cols: list[str] | None = None,
        match_add_cols: dict[str, str] | None = None,
    ) -> WriteSummary:
        """Batch ``MERGE (n:label {key}) SET n.p1=…, n.p2=…``.

        ``order_col`` resolves duplicate keys *within* the batch (last
        writer wins, as the reference's sequential per-record loop would);
        without it the key column itself orders the tie-break
        deterministically.

        ``create_prop_cols`` / ``match_prop_cols`` are Cypher's
        ``ON CREATE SET`` / ``ON MATCH SET``: the column applies only to
        rows this merge CREATES (resp. rows that already existed) —
        first-seen stamps and update-only mutations in one batch pass.
        A column may appear in only one of the three prop lists.

        ``match_add_cols`` — ``{prop: addend_batch_column}`` — is the
        Cypher MERGE counter idiom ``ON MATCH SET n.p = n.p + <v>``:
        matched rows take ``old value + addend`` (a NULL old value or
        NULL addend keeps the old cell — Neo4j's NULL-propagating
        arithmetic composed with the writer's NULL-keeps-old SET).
        A prop here may ALSO sit in ``create_prop_cols`` (the classic
        ``ON CREATE SET n.p = 1 ON MATCH SET n.p = n.p + 1``), carried
        as two batch columns; it may not repeat in prop_cols or
        match_prop_cols.
        """
        self._record_key_name(label, key_col)
        prop_cols = prop_cols or []
        create_prop_cols = create_prop_cols or []
        match_prop_cols = match_prop_cols or []
        match_add_cols = match_add_cols or {}
        groups = [set(prop_cols), set(create_prop_cols), set(match_prop_cols)]
        for i in range(3):
            for j in range(i + 1, 3):
                if groups[i] & groups[j]:
                    raise ValueError(
                        f"prop column(s) {sorted(groups[i] & groups[j])} appear "
                        "in more than one of prop_cols/create_prop_cols/match_prop_cols"
                    )
        bad_add = set(match_add_cols) & (set(prop_cols) | set(match_prop_cols))
        if bad_add:
            raise ValueError(
                f"match_add prop(s) {sorted(bad_add)} may not repeat in "
                "prop_cols/match_prop_cols"
            )
        add_props = sorted(match_add_cols)
        add_cols = [match_add_cols[p] for p in add_props]
        all_prop_cols = prop_cols + create_prop_cols + match_prop_cols
        carry = all_prop_cols + add_cols + (
            [order_col]
            if order_col and order_col not in all_prop_cols
            else []
        )
        incoming = as_nodes(updates, label, key_col, carry)
        for p in add_props:
            if p not in incoming.columns:
                # match_add-only prop (no ON CREATE value): created rows
                # keep it absent — a typed NULL batch column gives the
                # merged schema the prop at the addend's type
                incoming = incoming.withColumn(
                    p,
                    F.lit(None).cast(
                        incoming.schema[match_add_cols[p]].dataType
                    ),
                )
                all_prop_cols = all_prop_cols + [p]

        # within-batch last-writer-wins (B8 in-batch dedup). Rows sharing a
        # node_id also share `key`, so ordering must tie-break on content
        # (a hash of the property values) to stay deterministic when no
        # order_col is given.
        content_tiebreak = F.xxhash64(
            *[F.col(c).cast("string") for c in all_prop_cols + add_cols]
        ) if (all_prop_cols or add_cols) else F.lit(0)
        order = (
            [F.col(order_col).desc()] if order_col else []
        ) + [content_tiebreak.desc()]
        w = Window.partitionBy(NODE_ID).orderBy(*order)
        incoming = (
            incoming.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if order_col and order_col not in prop_cols:
            incoming = incoming.drop(order_col)

        existing = self._nodes.read(self.spark)
        plan = self._node_rewrite(label, existing)
        # lazy checkpoint: the deduped batch is materialized ONCE (by its
        # first action) and reused by the merge join and the write,
        # instead of re-running the dedup window per action; blocks are
        # reclaimed by the ContextCleaner when the merge returns
        incoming = incoming.withColumn(BUCKET_COL, plan.bucket()).localCheckpoint(
            eager=False
        )
        if existing is None:
            # fresh store: every row is CREATED — ON CREATE props apply as
            # plain columns, ON MATCH props cannot apply (no prior row),
            # match-add addends drop unapplied
            merged = incoming.drop(*add_cols) if add_cols else incoming
            for c in match_prop_cols:
                merged = merged.withColumn(
                    c, F.lit(None).cast(incoming.schema[c].dataType)
                )
            counted = prop_cols + create_prop_cols
            # counters ride the WRITE itself (observe/CollectMetrics): the
            # old persist + separate agg action materialized the whole
            # batch into the block manager just to fuse two passes — at
            # scale that is a full extra copy of the table (guide §5);
            # observe computes the same aggregates in-flight, exactly once
            # per row of the completed write action
            obs = Observation()
            merged = merged.observe(
                obs,
                F.count(F.lit(1)).alias("_created"),
                *[F.count(F.col(c)).alias(c) for c in counted],
            )
            plan.write(merged, None, [])
            row = _observed_counters(obs, ["_created", *counted])
            created = int(row["_created"])
            props_set = int(sum(row[c] for c in counted))
            return WriteSummary(nodes_created=created, properties_set=props_set)

        # File-pruned MERGE: a batch touches exactly one label, and within
        # it only the key-hash buckets its keys land in — an existing row
        # for key K can only live in K's bucket under the label's count.
        # The read is pruned to (label, touched buckets) and the write
        # rewrites ONLY those leaf dirs (everything else carries over as
        # hardlinks) — O(touched buckets) MERGE cost instead of O(label):
        # the manifest discipline of a Delta/Iceberg MERGE INTO, on hive
        # dirs. The bucket list is driver-side metadata, bounded by the
        # label's bucket count. A write that grows the count rewrites the
        # whole label instead (plan.whole).
        buckets = plan.buckets_of(incoming)
        touched = plan.touched(existing, buckets)
        all_props = sorted(
            (set(touched.columns) | set(incoming.columns))
            - {NODE_ID, "label", "key", BUCKET_COL}
            - set(add_cols)  # addends are inputs, never stored props
        )
        old = _with_missing(touched, incoming, all_props).alias("old")
        new = _with_missing(incoming, touched, all_props + add_cols).alias("new")

        # MERGE = full outer on deterministic id; SET = column-wise coalesce.
        # The write counters ride the write action itself via
        # observe/CollectMetrics (attached below), so the join executes
        # exactly once WITHOUT being persisted — the old persist existed
        # only to fuse the counter pass with the write pass, at the cost
        # of materializing the whole merged table into the block manager
        # (a full extra copy at 100 TB; guide §5).
        joined = old.join(new, on=NODE_ID, how="full_outer")
        is_created = F.col("old.label").isNull()

        def _prop_expr(c: str):
            if c in match_add_cols:
                # counter idiom: matched BATCH rows take old + addend
                # with Neo4j's NULL-propagating arithmetic — a NULL old
                # cell or a NULL addend yields NULL, and SET-to-NULL
                # removes the property (NOT the a8 keep-old coalesce:
                # that contract covers plain SET values, not
                # arithmetic). Matched rows OUTSIDE the batch (the
                # full-outer's all-NULL new side) keep their cell —
                # new.key is non-NULL exactly on batch rows. Created
                # rows take the ON CREATE value when one rides the
                # batch, else stay bare.
                addend = F.col(f"new.{match_add_cols[c]}")
                created_val = (
                    F.col(f"new.{c}")
                    if c in create_prop_cols
                    else F.col(f"old.{c}")
                )
                return F.when(is_created, created_val).otherwise(
                    F.when(
                        F.col("new.key").isNotNull(),
                        F.col(f"old.{c}") + addend,
                    ).otherwise(F.col(f"old.{c}"))
                )
            if c in create_prop_cols:
                # ON CREATE SET: only rows this merge creates take the value
                return F.when(is_created, F.col(f"new.{c}")).otherwise(
                    F.col(f"old.{c}")
                )
            if c in match_prop_cols:
                # ON MATCH SET: only pre-existing rows take it (with the
                # usual NULL-keeps-old coalesce); created rows stay bare
                return F.when(
                    ~is_created, F.coalesce(F.col(f"new.{c}"), F.col(f"old.{c}"))
                ).otherwise(F.col(f"old.{c}"))
            return F.coalesce(F.col(f"new.{c}"), F.col(f"old.{c}"))

        def _prop_count(c: str):
            if c in match_add_cols and c not in create_prop_cols:
                return F.count(
                    F.when(
                        ~is_created,
                        F.col(f"old.{c}") + F.col(f"new.{match_add_cols[c]}"),
                    )
                )
            if c in match_add_cols:  # also ON CREATE: both branches book
                return F.count(
                    F.when(is_created, F.col(f"new.{c}")).otherwise(
                        F.col(f"old.{c}") + F.col(f"new.{match_add_cols[c]}")
                    )
                )
            if c in create_prop_cols:
                return F.count(F.when(is_created, F.col(f"new.{c}")))
            if c in match_prop_cols:
                return F.count(F.when(~is_created, F.col(f"new.{c}")))
            return F.count(F.col(f"new.{c}"))

        # both counters ride the write action via observe (the non-null
        # new.* cells equal the deduped incoming cells, so this also
        # avoids re-executing the incoming plan just to count it)
        counted = (prop_cols + match_prop_cols + add_props
                   + [c for c in create_prop_cols if c not in match_add_cols])
        obs = Observation()
        joined = joined.observe(
            obs,
            F.count(F.when(F.col("old.label").isNull(), F.lit(1))).alias("_created"),
            *[_prop_count(c).alias(c) for c in counted],
        )
        merged = joined.select(
            F.col(NODE_ID),
            F.coalesce(F.col("new.label"), F.col("old.label")).alias("label"),
            F.coalesce(F.col("new.key"), F.col("old.key")).alias("key"),
            *[_prop_expr(c).alias(c) for c in all_props],
        )
        plan.write(merged, existing, buckets)
        row = _observed_counters(obs, ["_created", *counted])
        created = int(row["_created"])
        props_set = int(sum(row[c] for c in counted))
        return WriteSummary(nodes_created=created, properties_set=props_set)

    def merge_edges(
        self,
        updates: DataFrame,
        rel_type: str,
        src_label: str,
        src_key_col: str,
        dst_label: str,
        dst_key_col: str,
        prop_cols: list[str] | None = None,
        create_prop_cols: list[str] | None = None,
        match_prop_cols: list[str] | None = None,
        match_add_cols: dict[str, str] | None = None,
        match_val_cols: dict[str, str] | None = None,
        undirected: bool = False,
    ) -> WriteSummary:
        """Batch ``MERGE (a)-[r:REL]->(b) [SET r.p = …]`` —
        create-if-absent, idempotent (``/root/reference/src/crwling.py:54``,
        ``src/ingest.py:7``), with optional relationship properties
        upserted under the same column-wise coalesce semantics as node
        SET (incoming NULL keeps the old value).

        ``create_prop_cols`` / ``match_prop_cols`` mirror
        :meth:`merge_nodes`' ``ON CREATE SET`` / ``ON MATCH SET``: the
        column applies only to edges this merge creates (resp. edges
        that already existed). A column may appear in only one of the
        three prop lists. ``match_add_cols`` is the relationship form
        of merge_nodes' counter idiom — ``ON MATCH SET r.p = r.p +
        <v>``: matched edges take old + addend.

        ``match_val_cols`` — ``{prop: match_value_batch_column}`` — is
        the ``ON CREATE SET r.p = v1 ON MATCH SET r.p = v2`` idiom
        (DISTINCT plain values per branch): the create value rides the
        prop's own batch column (the prop must therefore also sit in
        ``create_prop_cols``), the match value its own column; created
        edges take the former, matched batch edges coalesce the latter
        over their old cell. The prop may not repeat in prop_cols /
        match_prop_cols / match_add_cols.

        ``undirected=True`` is Cypher's ``MERGE (u)-[r:T]-(t)``: the
        relationship matches in EITHER orientation and creates
        left→right when absent. Incoming pairs whose exact orientation
        is absent but whose REVERSE exists normalize to the stored
        orientation before the directed merge (so they match instead of
        minting an antiparallel duplicate), and within-batch dedup keys
        on the unordered pair."""
        prop_cols = prop_cols or []
        create_prop_cols = create_prop_cols or []
        match_prop_cols = match_prop_cols or []
        match_add_cols = match_add_cols or {}
        match_val_cols = match_val_cols or {}
        groups = [set(prop_cols), set(create_prop_cols), set(match_prop_cols)]
        for i in range(3):
            for j in range(i + 1, 3):
                if groups[i] & groups[j]:
                    raise ValueError(
                        f"prop column(s) {sorted(groups[i] & groups[j])} appear "
                        "in more than one of prop_cols/create_prop_cols/match_prop_cols"
                    )
        bad_add = set(match_add_cols) & (set(prop_cols) | set(match_prop_cols))
        if bad_add:
            raise ValueError(
                f"match_add prop(s) {sorted(bad_add)} may not repeat in "
                "prop_cols/match_prop_cols"
            )
        missing_mv = set(match_val_cols) - set(create_prop_cols)
        if missing_mv:
            raise ValueError(
                f"match_val prop(s) {sorted(missing_mv)} must also be in "
                "create_prop_cols (a match-only value is plain "
                "match_prop_cols)"
            )
        bad_mv = set(match_val_cols) & (
            set(prop_cols) | set(match_prop_cols) | set(match_add_cols)
        )
        if bad_mv:
            raise ValueError(
                f"match_val prop(s) {sorted(bad_mv)} may not repeat in "
                "prop_cols/match_prop_cols/match_add_cols"
            )
        add_props = sorted(match_add_cols)
        add_cols = [match_add_cols[p] for p in add_props]
        mval_props = sorted(match_val_cols)
        mval_cols = [match_val_cols[p] for p in mval_props]
        all_prop_cols = prop_cols + create_prop_cols + match_prop_cols
        incoming = as_edges(
            updates, rel_type, src_label, src_key_col, dst_label, dst_key_col,
            all_prop_cols + add_cols + mval_cols,
        )
        for p in add_props:
            if p not in incoming.columns:
                incoming = incoming.withColumn(
                    p,
                    F.lit(None).cast(
                        incoming.schema[match_add_cols[p]].dataType
                    ),
                )
                all_prop_cols = all_prop_cols + [p]
        if undirected:
            ex0 = self._edges.read(self.spark)
            if ex0 is not None:
                exp = (
                    ex0.filter(F.col("rel_type") == rel_type)
                    .select("src", "dst")
                    .distinct()
                )
                fwd = exp.withColumn("_u_f", F.lit(True))
                rev = exp.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst")
                ).withColumn("_u_r", F.lit(True))
                incoming = incoming.join(fwd, on=["src", "dst"], how="left")
                incoming = incoming.join(rev, on=["src", "dst"], how="left")
                flip = F.col("_u_f").isNull() & F.col("_u_r").isNotNull()
                keep = [
                    c for c in incoming.columns if c not in ("_u_f", "_u_r")
                ]
                incoming = incoming.select(
                    *[
                        (
                            F.when(flip, F.col("dst"))
                            .otherwise(F.col("src"))
                            .alias("src")
                            if c == "src"
                            else F.when(flip, F.col("src"))
                            .otherwise(F.col("dst"))
                            .alias("dst")
                            if c == "dst"
                            else F.col(c)
                        )
                        for c in keep
                    ]
                )
        # within-batch last-writer-wins, deterministic via content
        # tiebreak (mirrors merge_nodes); an undirected merge keys the
        # tie-break on the UNORDERED pair — (u,t) and (t,u) in one batch
        # are one logical relationship
        content_tiebreak = F.xxhash64(
            *[F.col(c).cast("string") for c in all_prop_cols + add_cols + mval_cols]
        ) if (all_prop_cols or add_cols or mval_cols) else F.lit(0)
        pair_keys = (
            [F.least("src", "dst"), F.greatest("src", "dst"), F.col("rel_type")]
            if undirected
            else [F.col("src"), F.col("dst"), F.col("rel_type")]
        )
        w = Window.partitionBy(*pair_keys).orderBy(content_tiebreak.desc())
        existing = self._edges.read(self.spark)
        plan = self._edge_rewrite(rel_type, existing)
        incoming = (
            incoming.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .withColumn(BUCKET_COL, plan.bucket())
            .localCheckpoint(eager=False)
        )
        if existing is None:
            # fresh store: every edge is CREATED — ON CREATE props apply
            # as plain columns, ON MATCH props cannot apply (no prior
            # row), match-add addends drop unapplied
            if add_cols or mval_cols:
                incoming = incoming.drop(*add_cols, *mval_cols)
            for c in match_prop_cols:
                incoming = incoming.withColumn(
                    c, F.lit(None).cast(incoming.schema[c].dataType)
                )
            # counters ride the write via observe — no persist, no second
            # pass over the batch (same rationale as merge_nodes)
            counted = prop_cols + create_prop_cols
            obs = Observation()
            incoming = incoming.observe(
                obs,
                F.count(F.lit(1)).alias("_created"),
                *[F.count(F.col(c)).alias(c) for c in counted],
            )
            plan.write(incoming, None, [])
            row = _observed_counters(obs, ["_created", *counted])
            created = int(row["_created"])
            props_set = int(sum(row[c] for c in counted))
            return WriteSummary(
                relationships_created=created, properties_set=props_set
            )

        # same file-pruned discipline as merge_nodes: an existing copy of
        # edge (s,d) can only live in the bucket of (s,d), so the join,
        # union, and rewrite touch only this rel_type's touched buckets
        buckets = plan.buckets_of(incoming)
        touched = plan.touched(existing, buckets)
        edge_key = ["src", "dst", "rel_type"]
        all_props = sorted(
            (set(touched.columns) | set(incoming.columns))
            - set(edge_key) - {BUCKET_COL}
            # addends / branch-values are inputs, never stored props
            - set(add_cols) - set(mval_cols)
        )
        old = _with_missing_edges(touched, incoming, all_props).alias("old")
        new = _with_missing_edges(
            incoming, touched, all_props + add_cols + mval_cols
        ).alias("new")
        # counters ride the write via observe (attached below) — the join
        # executes once without a block-manager copy (see merge_nodes)
        joined = old.join(new, on=edge_key, how="full_outer")
        is_created = F.col("old._present").isNull()

        def _prop_expr(c: str):
            if c in match_add_cols:
                # counter idiom on edges: matched BATCH edges take
                # old + addend with Neo4j's NULL-propagating arithmetic
                # (NULL addend → NULL → property removed); matched edges
                # outside the batch keep their cell (same batch-row test
                # as the node path, via the _present marker)
                addend = F.col(f"new.{match_add_cols[c]}")
                created_val = (
                    F.col(f"new.{c}")
                    if c in create_prop_cols
                    else F.col(f"old.{c}")
                )
                return F.when(is_created, created_val).otherwise(
                    F.when(
                        F.col("new._present").isNotNull(),
                        F.col(f"old.{c}") + addend,
                    ).otherwise(F.col(f"old.{c}"))
                )
            if c in match_val_cols:
                # distinct plain values per branch: created edges take
                # the create value (the prop's own batch column), the
                # MATCHED BATCH edges coalesce the match value over
                # their old cell; matched edges outside the batch have
                # a NULL match column and keep theirs
                return F.when(is_created, F.col(f"new.{c}")).otherwise(
                    F.coalesce(
                        F.col(f"new.{match_val_cols[c]}"), F.col(f"old.{c}")
                    )
                )
            if c in create_prop_cols:
                # ON CREATE SET: only edges this merge creates take the value
                return F.when(is_created, F.col(f"new.{c}")).otherwise(
                    F.col(f"old.{c}")
                )
            if c in match_prop_cols:
                # ON MATCH SET: only pre-existing edges take it (with the
                # usual NULL-keeps-old coalesce); created edges stay bare
                return F.when(
                    ~is_created, F.coalesce(F.col(f"new.{c}"), F.col(f"old.{c}"))
                ).otherwise(F.col(f"old.{c}"))
            return F.coalesce(F.col(f"new.{c}"), F.col(f"old.{c}"))

        def _prop_count(c: str):
            if c in match_add_cols and c not in create_prop_cols:
                return F.count(
                    F.when(
                        ~is_created,
                        F.col(f"old.{c}") + F.col(f"new.{match_add_cols[c]}"),
                    )
                )
            if c in match_add_cols:  # also ON CREATE: both branches book
                return F.count(
                    F.when(is_created, F.col(f"new.{c}")).otherwise(
                        F.col(f"old.{c}") + F.col(f"new.{match_add_cols[c]}")
                    )
                )
            if c in match_val_cols:
                # both branches book: create value on created edges,
                # match value on matched batch edges
                return F.count(
                    F.when(is_created, F.col(f"new.{c}")).otherwise(
                        F.col(f"new.{match_val_cols[c]}")
                    )
                )
            if c in create_prop_cols:
                return F.count(F.when(is_created, F.col(f"new.{c}")))
            if c in match_prop_cols:
                return F.count(F.when(~is_created, F.col(f"new.{c}")))
            return F.count(F.col(f"new.{c}"))

        counted = (prop_cols + match_prop_cols + add_props
                   + [c for c in create_prop_cols if c not in match_add_cols])
        obs = Observation()
        joined = joined.observe(
            obs,
            F.count(F.when(is_created, F.lit(1))).alias("_created"),
            *[_prop_count(c).alias(c) for c in counted],
        )
        merged = joined.select(
            *edge_key,
            *[_prop_expr(c).alias(c) for c in all_props],
        )
        plan.write(merged, existing, buckets)
        row = _observed_counters(obs, ["_created", *counted])
        created = int(row["_created"])
        props_set = int(sum(row[c] for c in counted))
        return WriteSummary(relationships_created=created, properties_set=props_set)

    def create_nodes(
        self,
        updates: DataFrame,
        label: str,
        key_col: str,
        prop_cols: list[str] | None = None,
    ) -> WriteSummary:
        """Batch ``CREATE (n:label {key, …})`` — Neo4j's duplicate-ALLOWED
        insert, as distinct from MERGE's upsert-by-key (the reference
        writes MERGE only, /root/reference/src/crwling.py:48, but CREATE
        is the first write statement every Neo4j user types).

        Neo4j mints a fresh internal id per CREATE, so creating the same
        key twice yields two nodes where MERGE coalesces them. Under this
        engine's content-derived identity the same behavior is reproduced
        deterministically with an *instance ordinal*: the i-th copy of
        (label, key) gets ``node_id = xxhash64(label, key, i)``, and
        ordinal 0 keeps the plain ``xxhash64(label, key)`` id — the first
        CREATE of a key is indistinguishable from a MERGE-created node,
        so later MERGEs find it. Ordinals assign deterministically:
        existing copies count first, then batch rows ordered by content
        hash — any executor computes any id without coordination, and
        replays of the same batch sequence rebuild identical stores.

        Scale shape: ordinal assignment is one per-key window over the
        batch plus one key-partitioned count of the touched label's
        existing rows; the write appends into the same
        (label, key-bucket) leaf dirs as MERGE — O(touched buckets)
        write amplification, untouched leaves carry over as hardlinks.
        """
        self._record_key_name(label, key_col)
        prop_cols = prop_cols or []
        incoming = updates.select(
            F.col(key_col).cast("string").alias("key"),
            *[F.col(c) for c in prop_cols],
        )
        content_order = (
            F.xxhash64(*[F.col(c).cast("string") for c in prop_cols])
            if prop_cols
            else F.lit(0)
        )
        w = Window.partitionBy("key").orderBy(content_order.asc())
        incoming = incoming.withColumn("_ord", F.row_number().over(w) - F.lit(1))

        existing = self._nodes.read(self.spark)
        plan = self._node_rewrite(label, existing)
        if existing is not None:
            prior = (
                existing.filter(F.col("label") == label)
                .groupBy("key")
                .agg(F.count(F.lit(1)).alias("_prior"))
            )
            incoming = (
                incoming.join(prior, on="key", how="left")
                .withColumn(
                    "_ord", F.col("_ord") + F.coalesce(F.col("_prior"), F.lit(0))
                )
                .drop("_prior")
            )
        # ordinal 0 MUST mint the same id as as_nodes/as_edges
        # (node_id_expr over the stringified key) so MERGE finds the first
        # CREATE of a key and CREATE-d edges resolve their endpoints
        node_id = F.when(
            F.col("_ord") == 0, node_id_expr(label, F.col("key"))
        ).otherwise(F.xxhash64(F.lit(label), F.col("key"), F.col("_ord")))
        created_rows = (
            incoming.select(
                node_id.alias(NODE_ID),
                F.lit(label).alias("label"),
                F.col("key"),
                *[F.col(c) for c in prop_cols],
            )
            .withColumn(BUCKET_COL, plan.bucket())
            .persist()
        )
        row = created_rows.agg(
            F.count(F.lit(1)).alias("_created"),
            *[F.count(F.col(c)).alias(c) for c in prop_cols],
        ).collect()[0]
        created = int(row["_created"])
        props_set = int(sum(row[c] for c in prop_cols))
        if existing is None:
            plan.write(created_rows, None, [])
            created_rows.unpersist()
            return WriteSummary(nodes_created=created, properties_set=props_set)
        buckets = plan.buckets_of(created_rows)
        touched = plan.touched(existing, buckets)
        all_props = sorted(
            (set(touched.columns) | set(created_rows.columns))
            - {NODE_ID, "label", "key", BUCKET_COL}
        )
        merged = (
            _with_missing(touched, created_rows, all_props)
            .unionByName(_with_missing(created_rows, touched, all_props))
        )
        plan.write(merged, existing, buckets)
        created_rows.unpersist()
        return WriteSummary(nodes_created=created, properties_set=props_set)

    def create_edges(
        self,
        updates: DataFrame,
        rel_type: str,
        src_label: str,
        src_key_col: str,
        dst_label: str,
        dst_key_col: str,
        prop_cols: list[str] | None = None,
    ) -> WriteSummary:
        """Batch ``CREATE (a)-[:REL]->(b)`` — duplicate-allowed
        relationship insert: Neo4j's CREATE always adds a relationship,
        so creating the same (src, dst, type) twice yields two parallel
        edges where MERGE keeps one. Appended rows are literal duplicate
        rows in the edges table (edges carry no identity column), which
        is exactly the parallel-edge representation the expand/degree
        operators already aggregate over. Endpoint ids resolve to the
        canonical (ordinal-0) instance of each key — the node MERGE
        would see. Same O(touched buckets) append discipline as
        :meth:`create_nodes`.
        """
        prop_cols = prop_cols or []
        existing = self._edges.read(self.spark)
        plan = self._edge_rewrite(rel_type, existing)
        incoming = (
            as_edges(
                updates,
                rel_type,
                src_label,
                src_key_col,
                dst_label,
                dst_key_col,
                prop_cols,
            )
            .withColumn(BUCKET_COL, plan.bucket())
            .persist()
        )
        row = incoming.agg(
            F.count(F.lit(1)).alias("_created"),
            *[F.count(F.col(c)).alias(c) for c in prop_cols],
        ).collect()[0]
        created = int(row["_created"])
        props_set = int(sum(row[c] for c in prop_cols))
        if existing is None:
            plan.write(incoming, None, [])
            incoming.unpersist()
            return WriteSummary(
                relationships_created=created, properties_set=props_set
            )
        buckets = plan.buckets_of(incoming)
        touched = plan.touched(existing, buckets)
        edge_key = ["src", "dst", "rel_type"]
        all_props = sorted(
            (set(touched.columns) | set(incoming.columns))
            - set(edge_key)
            - {BUCKET_COL, "_present"}
        )
        merged = (
            _with_missing_edges(touched, incoming, all_props)
            .unionByName(_with_missing_edges(incoming, touched, all_props))
            .drop("_present")
        )
        plan.write(merged, existing, buckets)
        incoming.unpersist()
        return WriteSummary(relationships_created=created, properties_set=props_set)

    def delete_edges(
        self,
        pairs: DataFrame,
        rel_type: str,
        src_label: str,
        src_key_col: str,
        dst_label: str,
        dst_key_col: str,
        rel_prop_cols: dict[str, str] | None = None,
    ) -> WriteSummary:
        """Batch ``MATCH (a)-[r:REL]->(b) DELETE r`` — relationship
        deletion by endpoint keys. Without ``rel_prop_cols`` every stored
        copy of a doomed (src, dst, rel_type) goes (an unfiltered MATCH
        binds all parallel edges in Neo4j too); with ``rel_prop_cols``
        (stored edge-prop column → ``pairs`` column) the doom key extends
        to the relationship's property values, so a WHERE that matched
        only ONE of several parallel edges deletes only that one —
        identical-valued copies are indistinguishable and die together,
        exactly as an all-binding MATCH would. Props join null-safely
        (absent props are legitimate values). Nodes are untouched. Write
        amplification stays partial: only the (rel_type, bucket) leaves
        that held doomed edges rewrite, everything else carries over as
        hardlinks."""
        prop_map = rel_prop_cols or {}
        doomed = (
            as_edges(
                pairs,
                rel_type,
                src_label,
                src_key_col,
                dst_label,
                dst_key_col,
                prop_cols=list(prop_map.values()),
            )
            .select(
                "src",
                "dst",
                "rel_type",
                *[F.col(pc).alias(sc) for sc, pc in prop_map.items()],
            )
            .distinct()
        )
        return self._delete_doomed_edges(doomed, rel_type, prop_map)

    def delete_edges_by_ids(
        self,
        pairs: DataFrame,
        rel_type: str,
        src_id_col: str,
        dst_id_col: str,
        rel_prop_cols: dict[str, str] | None = None,
    ) -> WriteSummary:
        """:meth:`delete_edges` keyed on endpoint NODE IDS instead of
        (label, key) pairs — the shape an UNLABELED-endpoint read
        produces (``MATCH ()-[r:T]->() DELETE r``): the matched frame
        already carries the ids, so no per-label key resolution is
        needed. Same doom-key semantics (props extend the key,
        null-safe) and the same partial (rel_type, bucket) rewrite."""
        prop_map = rel_prop_cols or {}
        doomed = (
            pairs.select(
                F.col(src_id_col).alias("src"),
                F.col(dst_id_col).alias("dst"),
                F.lit(rel_type).alias("rel_type"),
                *[F.col(pc).alias(sc) for sc, pc in prop_map.items()],
            )
            .distinct()
        )
        return self._delete_doomed_edges(doomed, rel_type, prop_map)

    def _delete_doomed_edges(
        self, doomed: DataFrame, rel_type: str, prop_map: dict[str, str]
    ) -> WriteSummary:
        existing = self._edges.read(self.spark)
        if existing is None:
            return WriteSummary()
        plan = self._edge_rewrite(rel_type, existing, grow=False)
        doomed = doomed.withColumn(BUCKET_COL, plan.bucket()).persist()
        buckets = plan.buckets_of(doomed)
        touched = plan.touched(existing, buckets).persist()
        join_cols = ["src", "dst", "rel_type"] + [
            c for c in prop_map if c in existing.columns
        ]
        dm = doomed.select(*join_cols).alias("_doom")
        tch = touched.alias("_tch")
        survivors = tch.join(
            dm,
            # null-safe on every key: property columns legitimately hold
            # NULLs (union edge schema), and NULL = NULL must doom the row
            [
                F.col(f"_tch.{c}").eqNullSafe(F.col(f"_doom.{c}"))
                for c in join_cols
            ],
            how="left_anti",
        )
        n_del = touched.count() - survivors.count()
        plan.write(survivors, existing, buckets)
        touched.unpersist()
        doomed.unpersist()
        return WriteSummary(relationships_deleted=int(n_del))

    def delete_nodes(
        self,
        keys: DataFrame,
        label: str,
        key_col: str,
        detach: bool = False,
    ) -> WriteSummary:
        """Batch ``MATCH (n:label {key}) [DETACH] DELETE n``.

        Neo4j semantics preserved: plain ``DELETE`` raises if any doomed
        node still has incident edges (either direction, any rel_type);
        ``detach=True`` removes those edges too. Counters report
        ``nodes_deleted`` / ``relationships_deleted`` like the Bolt
        summary's deletion counters.

        Write amplification stays partial on both tables: the node
        rewrite touches only this label's partition, and the edge
        rewrite touches only the rel_type partitions that actually held
        incident edges (the touched list is a tiny distinct-collect of
        rel_type values, driver-side metadata — not data).
        """
        existing = self._nodes.read(self.spark)
        if existing is None:
            return WriteSummary()
        plan = self._node_rewrite(label, existing, grow=False)
        doomed = (
            as_nodes(keys, label, key_col)
            .select(NODE_ID, plan.bucket().alias(BUCKET_COL))
            .distinct()
            .persist()
        )
        edges = self._edges.read(self.spark)
        n_rel = 0
        if edges is not None:
            # incident-edge discovery cannot prune: a doomed node may be
            # referenced from any (rel_type, bucket) — this scan is the
            # inherent full-index lookup of a DETACH DELETE
            incident = edges.join(
                doomed.select(F.col(NODE_ID).alias("src")), on="src", how="left_semi"
            ).unionByName(
                edges.join(
                    doomed.select(F.col(NODE_ID).alias("dst")), on="dst", how="left_semi"
                )
            ).dropDuplicates(["src", "dst", "rel_type"]).persist()
            n_rel = incident.count()
            if n_rel > 0 and not detach:
                incident.unpersist()
                doomed.unpersist()
                raise ValueError(
                    f"{n_rel} relationships still reference nodes being "
                    "deleted — use detach=True (DETACH DELETE) to remove them"
                )
            if n_rel > 0:
                edges_bucketed = (
                    self._edges.is_partitioned_by(["rel_type", BUCKET_COL])
                    and BUCKET_COL in edges.columns
                )
                if edges_bucketed:
                    # the REWRITE does prune: only the (rel_type, bucket)
                    # leaves that actually held incident edges are
                    # rewritten (tiny distinct-collect of leaf metadata);
                    # every rel_type keeps its bucket count
                    touched_leaves = [
                        (r["rel_type"], r[BUCKET_COL])
                        for r in incident.select("rel_type", BUCKET_COL).distinct().collect()
                    ]
                    touched_types = sorted({t for t, _ in touched_leaves})
                    leaf_pred = F.lit(False)
                    for t in touched_types:
                        kb_for_t = [b for tt, b in touched_leaves if tt == t]
                        leaf_pred = leaf_pred | (
                            (F.col("rel_type") == t) & F.col(BUCKET_COL).isin(kb_for_t)
                        )
                    survivors = (
                        edges.filter(leaf_pred)
                        .join(doomed.select(F.col(NODE_ID).alias("src")), on="src", how="left_anti")
                        .join(doomed.select(F.col(NODE_ID).alias("dst")), on="dst", how="left_anti")
                    )
                    self._edges.write_next_partial(
                        survivors,
                        ["rel_type", BUCKET_COL],
                        touched_leaves,
                        layout=_table_layout(self.spark, self._edges, "rel_type", True),
                    )
                else:
                    # legacy layout: full rewrite, upgrading to
                    # rel_type+bucket partitioning with every rel_type
                    # sized from its bytes (no rel_type dirs: one bucket)
                    layout = _table_layout(self.spark, self._edges, "rel_type", False)
                    survivors = (
                        edges.join(doomed.select(F.col(NODE_ID).alias("src")), on="src", how="left_anti")
                        .join(doomed.select(F.col(NODE_ID).alias("dst")), on="dst", how="left_anti")
                        .withColumn(
                            BUCKET_COL,
                            _bucket_of(layout, "rel_type", F.col("src"), F.col("dst")),
                        )
                    )
                    self._edges.write_next(
                        survivors, partition_by=["rel_type", BUCKET_COL], layout=layout
                    )
            incident.unpersist()

        doomed_buckets = plan.buckets_of(doomed)
        touched = plan.touched(existing, doomed_buckets)
        kept = touched.join(
            doomed.select(NODE_ID), on=NODE_ID, how="left_anti"
        ).persist()
        n_deleted = touched.count() - kept.count()
        if n_deleted > 0:
            plan.write(kept, existing, doomed_buckets)
        kept.unpersist()
        doomed.unpersist()
        return WriteSummary(nodes_deleted=n_deleted, relationships_deleted=n_rel)

    def remove_props(
        self,
        keys: DataFrame,
        label: str,
        key_col: str,
        props: list[str],
    ) -> WriteSummary:
        """Batch ``MATCH (n:label {key}) REMOVE n.p1[, n.p2 …]``.

        REMOVE is the explicit property ERASE that Cypher pairs with
        SET's NULL-keeps-old coalesce (see :meth:`merge_nodes`): a NULL
        cell in a SET batch preserves the stored value, so erasing needs
        its own verb — exactly Neo4j's SET/REMOVE split.
        ``properties_set`` counts erased non-NULL cells (Neo4j books
        REMOVE under properties_set too). Partial rewrite: only the
        (label, touched key-bucket) leaves rewrite; everything else
        carries over as hardlinks.
        """
        if not props:
            raise ValueError("REMOVE needs at least one property")
        existing = self._nodes.read(self.spark)
        if existing is None:
            return WriteSummary()
        # Neo4j: REMOVE of a property no node stores is a silent no-op
        # (the verb erases if present) — drop unknown names rather than
        # refuse; if nothing is left the write books zero cells
        props = [p for p in props if p in existing.columns]
        if not props:
            return WriteSummary()
        plan = self._node_rewrite(label, existing, grow=False)
        target = (
            as_nodes(keys, label, key_col)
            .select(NODE_ID, plan.bucket().alias(BUCKET_COL))
            .distinct()
            .persist()
        )
        buckets = plan.buckets_of(target)
        touched = plan.touched(existing, buckets)
        flagged = touched.join(
            target.select(NODE_ID).withColumn("_hit", F.lit(True)),
            on=NODE_ID,
            how="left",
        ).persist()
        row = flagged.agg(
            *[
                F.count(
                    F.when(F.col("_hit") & F.col(p).isNotNull(), F.lit(1))
                ).alias(p)
                for p in props
            ]
        ).collect()[0]
        n_erased = int(sum(row[p] for p in props))
        cols = [
            F.when(F.col("_hit"), F.lit(None).cast(flagged.schema[c].dataType))
            .otherwise(F.col(c))
            .alias(c)
            if c in props
            else F.col(c)
            for c in touched.columns
        ]
        if buckets:
            plan.write(flagged.select(*cols), existing, buckets)
        flagged.unpersist()
        target.unpersist()
        return WriteSummary(properties_set=n_erased)

    def remove_edge_props(
        self,
        pairs: DataFrame,
        rel_type: str,
        src_label: str,
        src_key_col: str,
        dst_label: str,
        dst_key_col: str,
        props: list[str],
    ) -> WriteSummary:
        """Batch ``MATCH (a)-[r:REL]->(b) REMOVE r.p1[, r.p2 …]`` — the
        edge twin of :meth:`remove_props`: SET on relationships keeps
        old values for NULL cells (``merge_edges`` coalesce), so erasing
        an edge property needs its own verb too. ``properties_set``
        counts erased non-NULL cells (Neo4j books REMOVE there). Write
        amplification stays partial: only the (rel_type, touched
        src/dst-bucket) leaves rewrite; everything else carries over as
        hardlinks."""
        if not props:
            raise ValueError("REMOVE needs at least one property")
        existing = self._edges.read(self.spark)
        if existing is None:
            return WriteSummary()
        # Neo4j: REMOVE of a property no relationship stores is a silent
        # no-op (the verb erases if present) — drop unknown names rather
        # than refuse, exactly like the node path above; if nothing is
        # left the write books zero cells
        props = [p for p in props if p in existing.columns]
        if not props:
            return WriteSummary()
        plan = self._edge_rewrite(rel_type, existing, grow=False)
        target = (
            as_edges(
                pairs, rel_type, src_label, src_key_col, dst_label, dst_key_col
            )
            .select("src", "dst")
            .distinct()
            .withColumn(BUCKET_COL, plan.bucket())
            .persist()
        )
        buckets = plan.buckets_of(target)
        touched = plan.touched(existing, buckets)
        flagged = touched.join(
            target.select("src", "dst").withColumn("_hit", F.lit(True)),
            on=["src", "dst"],
            how="left",
        ).persist()
        row = flagged.agg(
            *[
                F.count(
                    F.when(F.col("_hit") & F.col(p).isNotNull(), F.lit(1))
                ).alias(p)
                for p in props
            ]
        ).collect()[0]
        n_erased = int(sum(row[p] for p in props))
        cols = [
            F.when(F.col("_hit"), F.lit(None).cast(flagged.schema[c].dataType))
            .otherwise(F.col(c))
            .alias(c)
            if c in props
            else F.col(c)
            for c in touched.columns
        ]
        if buckets:
            plan.write(flagged.select(*cols), existing, buckets)
        flagged.unpersist()
        target.unpersist()
        return WriteSummary(properties_set=n_erased)

    def sql(
        self,
        query: str,
        nodes_view: str = "nodes",
        edges_view: str = "edges",
    ) -> DataFrame:
        """Run Spark SQL over the store's CURRENT tables as temp views —
        the escape hatch to the full SQL surface (multi-way joins,
        window functions, rollups, joins against external tables)
        without copying the graph out of the store. Views are plain
        pointers to the versioned parquet scan, so label/bucket
        partition pruning and column pushdown apply exactly as they do
        to the DataFrame reads; re-registration per call keeps the view
        pinned to the current version (a time-traveling caller can
        register ``nodes(version=…)`` itself)."""
        n = self.nodes()
        if n is None:
            raise ValueError("store is empty")
        n.createOrReplaceTempView(nodes_view)
        e = self.edges()
        if e is not None:
            e.createOrReplaceTempView(edges_view)
        return self.spark.sql(query)

    def apply_changes(
        self,
        feed: DataFrame,
        label: str,
        key_col: str,
        prop_cols: list[str],
        op_col: str = "op",
        detach: bool = True,
    ) -> WriteSummary:
        """Apply a CDC change feed — rows tagged ``insert`` / ``update``
        / ``delete`` in ``op_col`` — to one label in a single pass: the
        upsert half (insert+update are both MERGE under last-writer-wins
        key semantics) runs as one batched merge, then the delete half
        runs as one batch delete. The inverse of :func:`snapshot_diff`:
        ``apply_changes(diff(v0, v1))`` reproduces v1 from v0, which is
        what makes store-to-store replication composable. Summary adds
        both halves' counters."""
        ops = [
            r[op_col]
            for r in feed.select(op_col).distinct().collect()
        ]
        unknown = set(ops) - {"insert", "update", "delete"}
        if unknown:
            raise ValueError(f"unknown CDC ops {sorted(unknown)}")
        summary = WriteSummary()
        upserts = feed.filter(F.col(op_col).isin("insert", "update"))
        if not upserts.isEmpty():
            summary = summary + self.merge_nodes(
                upserts, label=label, key_col=key_col, prop_cols=prop_cols
            )
        deletes = feed.filter(F.col(op_col) == "delete")
        if not deletes.isEmpty():
            summary = summary + self.delete_nodes(
                deletes, label=label, key_col=key_col, detach=detach
            )
        return summary

    # ------------------------------------------------------------ maintenance

    def vacuum(self, keep_last: int = 1) -> dict[str, list[int]]:
        """Reclaim old versions of both tables, keeping the newest
        ``keep_last`` (current pointer always retained) — the retention
        half of the compact/vacuum/time-travel lifecycle."""
        return {
            "nodes": self._nodes.vacuum(keep_last),
            "edges": self._edges.vacuum(keep_last),
        }

    def compact(self, table: str = "nodes", files_per_value: int = 1) -> str | None:
        """Small-file compaction — the OPTIMIZE of this store.

        Every MERGE batch rewrites its touched partition into fresh files,
        so a store that ingests many small batches accumulates many small
        parquet files per label/rel_type dir; at 100 TB that means
        footer-bound scans and task-launch overhead. Compaction rewrites
        the current version with at most ``files_per_value`` files per
        partition value (clustered by a deterministic id hash), as a new
        version — readers pinned to the old version are untouched, the
        pointer swap is atomic, and untouched semantics are guaranteed by
        construction (same rows, new layout).
        """
        if table == "nodes":
            vt, pcol, id_col, key_cols = self._nodes, "label", NODE_ID, ["key"]
        elif table == "edges":
            vt, pcol, id_col, key_cols = self._edges, "rel_type", "src", ["src", "dst"]
        else:
            raise ValueError(f"unknown table: {table!r}")
        df = vt.read(self.spark)
        if df is None:
            return None
        bucketed = vt.is_partitioned_by([pcol, BUCKET_COL]) and BUCKET_COL in df.columns
        layout = _table_layout(self.spark, vt, pcol, bucketed)
        if not bucketed:
            # compacting a legacy store also upgrades it to the bucketed
            # layout (the one full rewrite the upgrade needs anyway)
            df = df.withColumn(
                BUCKET_COL, _bucket_of(layout, pcol, *[F.col(c) for c in key_cols])
            )
        keys = [F.col(pcol), F.col(BUCKET_COL)]
        if files_per_value > 1:
            keys.append(F.pmod(F.xxhash64(F.col(id_col)), F.lit(files_per_value)))
        # repartition on the partition columns (+ optional intra-leaf
        # salt): every (value, bucket) leaf lands in at most
        # files_per_value tasks, so each hive dir gets at most that many
        # files
        return vt.write_next(
            df.repartition(*keys), partition_by=[pcol, BUCKET_COL], layout=layout
        )


def _hardlink_tree(src: str, dst: str) -> None:
    """Mirror a partition directory into the new version via hardlinks —
    zero data copied, the files are shared between versions (read-only by
    the write-new-then-swap discipline)."""
    for dirpath, _dirnames, filenames in os.walk(src):
        rel = os.path.relpath(dirpath, src)
        target_dir = os.path.join(dst, rel) if rel != "." else dst
        os.makedirs(target_dir, exist_ok=True)
        for fn in filenames:
            if fn.startswith("."):
                continue
            os.link(os.path.join(dirpath, fn), os.path.join(target_dir, fn))


def _drop_bucket(df: DataFrame) -> DataFrame:
    """Hide the internal key-bucket partition column from consumers."""
    return df.drop(BUCKET_COL) if BUCKET_COL in df.columns else df


def _with_missing_edges(df: DataFrame, other: DataFrame, all_props: list[str]) -> DataFrame:
    """Edge twin of :func:`_with_missing`: canonical key + a constant
    ``_present`` marker (so the full-outer join can detect side absence
    even for prop-less edges) + NULL-padded property columns."""
    cols = [F.col("src"), F.col("dst"), F.col("rel_type"), F.lit(1).alias("_present")]
    for c in all_props:
        if c in df.columns:
            cols.append(F.col(c))
        else:
            dtype = dict(other.dtypes).get(c, "string")
            cols.append(F.lit(None).cast(dtype).alias(c))
    return df.select(*cols)


def _with_missing(df: DataFrame, other: DataFrame, all_props: list[str]) -> DataFrame:
    """Add NULL columns for properties the other side has, in canonical order."""
    cols = [F.col(NODE_ID), F.col("label"), F.col("key")]
    for c in all_props:
        if c in df.columns:
            cols.append(F.col(c))
        else:
            dtype = dict(other.dtypes).get(c, "string")
            cols.append(F.lit(None).cast(dtype).alias(c))
    return df.select(*cols)




def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """A29 — CDC between two table snapshots (the consumer side of the
    store's time travel: ``diff(nodes(v_old), nodes())`` is the change
    feed a downstream system ingests instead of re-reading the table).
    One full-outer join on the key: rows only in ``new`` are inserts,
    only in ``old`` deletes, present in both with any compared column
    differing (null-safe) updates; identical rows drop out.

    Returns the key columns + ``op ∈ {insert, update, delete}`` + the
    old/new value of every compared column. At 100 TB both sides are
    the same bucketed layout, so the join co-partitions.
    """
    o = old.select(
        *[F.col(k).alias(f"_ok_{k}") for k in key_cols],
        *[F.col(c).alias(f"_ov_{c}") for c in compare_cols],
        F.lit(1).alias("_in_old"),
    )
    n = new.select(
        *[F.col(k).alias(f"_nk_{k}") for k in key_cols],
        *[F.col(c).alias(f"_nv_{c}") for c in compare_cols],
        F.lit(1).alias("_in_new"),
    )
    cond = None
    for k in key_cols:
        eq = o[f"_ok_{k}"] == n[f"_nk_{k}"]
        cond = eq if cond is None else cond & eq
    j = o.join(n, cond, "full_outer")
    changed = None
    for c in compare_cols:
        ne = ~F.col(f"_ov_{c}").eqNullSafe(F.col(f"_nv_{c}"))
        changed = ne if changed is None else changed | ne
    op = (
        F.when(F.col("_in_old").isNull(), F.lit("insert"))
        .when(F.col("_in_new").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    return (
        j.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"_nk_{k}"), F.col(f"_ok_{k}")).alias(k)
                for k in key_cols
            ],
            "op",
            *[F.col(f"_ov_{c}").alias(f"old_{c}") for c in compare_cols],
            *[F.col(f"_nv_{c}").alias(f"new_{c}") for c in compare_cols],
        )
    )
