"""The workloads. Each one generates its inputs from the seed, sets up
(session plus input preparation), warms up, then runs its operation in a
closed loop until the deadline. Every operation's output is checked against
a reference; a wrong or failed operation counts in ``failed``."""

from __future__ import annotations

import os
import statistics
import time
import traceback

import numpy as np
import pandas as pd

import gen
import refs
from tracing import dir_files


class Ctx:
    """Run state shared by a workload's phases."""

    def __init__(self, seed: int, seconds: float, tracer, work: str):
        self.seed, self.seconds, self.tr, self.work = seed, seconds, tracer, work
        self.spark = None
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.sizes: dict = {}
        self.named: dict = {}
        self._dirs = 0

    def new_dir(self, tag: str) -> str:
        self._dirs += 1
        return os.path.join(self.work, f"{tag}{self._dirs}")

    def stop_session(self) -> None:
        if self.spark is not None:
            self.tr.spark = None
            self.spark.stop()
            self.spark = None

    def new_session(self):
        from neo4j_graphdb_spark.session import get_spark

        with self.tr.span("session.get_spark"):
            self.spark = get_spark()
            self.spark.sparkContext.setLogLevel("ERROR")
        self.tr.spark = self.spark

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    def guarded(self, what: str, fn, *args):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn(*args)
        except Exception:  # a failing engine call must not end the run
            self.check(False, f"{what}: {traceback.format_exc(limit=3)}")
            return None


def run_statement(ctx: Ctx, query: str, params: dict, store, parent=None) -> list:
    """One Cypher statement: run_cypher (parse + compile), forcing the
    physical plan, then collecting the rows; each step is its own span."""
    from neo4j_graphdb_spark.operators.cypher_text import run_cypher

    tr = ctx.tr
    with tr.span("cypher_text.compile", parent):
        res = run_cypher(ctx.spark, query, params, store=store)
    with tr.span("cypher_text.plan", parent):
        res.df._jdf.queryExecution().executedPlan()
    with tr.span("cypher_text.exec", parent):
        rows = res.df.collect()
    return [r.asDict(recursive=True) for r in rows]


def median(samples: list[float]) -> float | None:
    """None when every operation failed."""
    return statistics.median(samples) if samples else None


def tail(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples above it."""
    n = len(samples)
    if n < 11:
        return {"value": None, "percentile": None, "samples": n,
                "note": "needs >= 11 samples; raise --seconds"}
    p = 100.0 * (n - 10) / n
    return {"value": float(np.percentile(samples, p)), "percentile": round(p, 1), "samples": n}


# ------------------------------------------------------------------- ingest


class Ingest:
    """Crawl-record batches -> Article MERGE -> Publisher MERGE ->
    WRITTEN_BY MERGE, then point reads, into one growing store."""

    name = "ingest"
    SETUPS, MIN_OPS = 5, 2
    BATCH = 100
    READS = 3

    def __init__(self, ctx: Ctx):
        self.ctx = ctx

    def setup(self):
        from neo4j_graphdb_spark.writer import GraphStore

        ctx = self.ctx
        self.stream = gen.CrawlStream(ctx.seed, self.BATCH)
        self.read_rng = np.random.default_rng(ctx.seed + 17)
        self.model = {"articles": {}, "pubs": set(), "edges": set()}
        self.root = ctx.new_dir("ingest")
        self.store = GraphStore(ctx.spark, self.root)
        self.batch_s, self.read_s, self.input_bytes, self.records = [], [], 0, 0

    def warmup(self):
        # the stream's first two batches, unrecorded: one creates, one also
        # matches, so every measured batch meets a warm non-empty store
        for _ in range(2):
            self.ctx.guarded("ingest warmup", self.batch, False)

    def batch(self, record: bool = True):
        from neo4j_graphdb_spark.writer import WriteSummary

        ctx, tr, m = self.ctx, self.ctx.tr, self.model
        recs = self.stream.next_batch()
        df = ctx.spark.createDataFrame(pd.DataFrame(recs)[["link", "title", "content", "publisher"]])
        new_links = {r["link"] for r in recs} - m["articles"].keys()
        pubs = {r["publisher"] for r in recs}
        pairs = {(r["link"], r["publisher"]) for r in recs}
        want = [
            WriteSummary(nodes_created=len(new_links), properties_set=2 * len(recs)),
            WriteSummary(nodes_created=len(pubs - m["pubs"])),
            WriteSummary(relationships_created=len(pairs - m["edges"])),
        ]
        before = dir_files(self.root) if tr.enabled and record else None
        with tr.span("ingest.batch", rows=len(recs)) as b:
            with tr.span("writer.merge_nodes", b):
                s1 = self.store.merge_nodes(df, "Article", "link", prop_cols=["title", "content"])
            with tr.span("writer.merge_nodes", b):
                s2 = self.store.merge_nodes(df.selectExpr("publisher AS name"), "Publisher", "name")
            with tr.span("writer.merge_edges", b):
                s3 = self.store.merge_edges(df.select("link", "publisher"), "WRITTEN_BY",
                                            "Article", "link", "Publisher", "publisher")
        for r in recs:
            m["articles"][r["link"]] = r
        m["pubs"] |= pubs
        m["edges"] |= pairs
        ctx.check([s1, s2, s3] == want, f"batch summaries {[s1, s2, s3]} != {want}")
        nbytes = sum(len(str(r[c]).encode()) for r in recs
                     for c in ("link", "title", "content", "publisher"))
        self.input_bytes += nbytes
        if record:
            self.batch_s.append(b["dur_s"])
            self.records += len(recs)
            if before is not None:
                after = dir_files(self.root)
                written = {p: s for p, s in after.items() if before.get(p) != s}
                b["files_written"] = len(written)
                b["bytes_written"] = sum(written.values())
                b["input_bytes"] = nbytes
        links = list(m["articles"])
        for j in self.read_rng.choice(len(links), size=self.READS, replace=False):
            link = links[j]
            with tr.span("ingest.read") as rd:
                rows = run_statement(ctx, "MATCH (a:Article {link:$link}) RETURN a.title",
                                     {"link": link}, self.store, rd)
            if record:
                self.read_s.append(rd["dur_s"])
            ctx.check([list(r.values()) for r in rows] == [[m["articles"][link]["title"]]],
                      f"point read {link}: {rows}")

    def op(self):
        self.ctx.guarded("ingest batch", self.batch)

    def finish(self):
        from pyspark.sql import functions as F

        ctx, m = self.ctx, self.model

        def final_contents():
            nodes = self.store.nodes()
            got = {(r["label"], r["key"], r["title"]) for r in
                   nodes.select("label", "key", "title").collect()}
            want = {("Article", k, a["title"]) for k, a in m["articles"].items()}
            want |= {("Publisher", p, None) for p in m["pubs"]}
            ids = nodes.select("node_id", "key")
            e = (self.store.edges()
                 .join(ids.select(F.col("node_id").alias("src"), F.col("key").alias("sk")), "src")
                 .join(ids.select(F.col("node_id").alias("dst"), F.col("key").alias("dk")), "dst"))
            got_e = [(r["sk"], r["dk"]) for r in e.select("sk", "dk").collect()]
            ctx.check(got == want and len(got_e) == len(m["edges"]) and set(got_e) == m["edges"],
                      "final store contents differ from the model")

        ctx.guarded("ingest final contents", final_contents)
        store_bytes = sum(dir_files(self.root).values())
        ctx.named.update({
            "ingest.batch_p50_s": {"value": median(self.batch_s), "unit": "s"},
            "ingest.batch_tail_s": {**tail(self.batch_s), "unit": "s"},
            "ingest.read_p50_s": {"value": median(self.read_s), "unit": "s"},
            "ingest.store_bytes_per_input_byte": {
                "value": store_bytes / self.input_bytes, "unit": "ratio"},
        })
        ctx.sizes.update({"batches": len(self.batch_s), "records": self.records,
                          "input_bytes": self.input_bytes, "store_bytes": store_bytes,
                          "articles": len(m["articles"]), "publishers": len(m["pubs"]),
                          "resend_share": self.stream.resend_share})
        return self.batch_s, self.records


# -------------------------------------------------------------- cypher_read


READ_KINDS = {
    "label_scan": "MATCH (a:Article) RETURN a.title AS title LIMIT 5",
    "expand_r": "MATCH (a:Article)-[r:WRITTEN_BY]->(p:Publisher {name: $pub}) RETURN a, r, p",
    "match_all_25": "MATCH (n) RETURN n LIMIT 25",
    "chained_optional": (
        "MATCH (a:Article) OPTIONAL MATCH (a)-[:WRITTEN_BY]->(p:Publisher) WHERE p.name = $pub "
        "OPTIONAL MATCH (p)<-[:WRITTEN_BY]-(o:Article) "
        "RETURN a.link AS link, p.name AS pub, count(o.link) AS n_sib"),
    "order_by_agg": (
        "MATCH (a:Article)-[:WRITTEN_BY]->(p:Publisher) RETURN p.name AS pub, count(*) AS n "
        "ORDER BY n DESC, pub ASC LIMIT $k"),
    "not_exists": (
        "MATCH (a:Article) WHERE a.link >= $lo AND NOT EXISTS { (a)-[:WRITTEN_BY]->(:Publisher) } "
        "RETURN a.link AS link"),
    "varlen_undirected": (
        "MATCH (a:Article {link: $link})-[:WRITTEN_BY*1..2]-(b:Article) "
        "RETURN b.link AS link ORDER BY link"),
}


class CypherRead:
    """A fixed mix of Cypher reads, in a seeded order with seeded
    parameters, over a store bulk-loaded in setup."""

    name = "cypher_read"
    SETUPS, MIN_OPS = 3, 2
    ARTICLES = 3000

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.articles = gen.read_store_articles(ctx.seed, self.ARTICLES)
        self.oracle = refs.ReadOracle(self.articles)
        self.rng = np.random.default_rng(ctx.seed + 29)
        self.cycle_s: list[float] = []
        self.stmt_s: list[float] = []
        self.by_kind: dict[str, list[float]] = {k: [] for k in READ_KINDS}
        a = pd.DataFrame(self.articles)
        ctx.sizes.update({"articles": len(a), "linked": int(a["linked"].sum()),
                          "publishers": int(a["publisher"].nunique()),
                          "input_bytes": int(sum(len(str(v).encode()) for v in a.values.ravel()))})

    def setup(self):
        from neo4j_graphdb_spark.writer import GraphStore, WriteSummary

        ctx, tr = self.ctx, self.ctx.tr
        a = ctx.spark.createDataFrame(pd.DataFrame(self.articles))
        self.root = ctx.new_dir("read")
        self.store = GraphStore(ctx.spark, self.root)
        before = dir_files(self.root) if tr.enabled else None
        with tr.span("read.bulk_load", rows=len(self.articles)) as b:
            got = []
            with tr.span("writer.merge_nodes", b):
                got.append(self.store.merge_nodes(a, "Article", "link", prop_cols=["title", "content"]))
            with tr.span("writer.merge_nodes", b):
                got.append(self.store.merge_nodes(a.selectExpr("publisher AS name"), "Publisher", "name"))
            with tr.span("writer.merge_edges", b):
                got.append(self.store.merge_edges(a.filter("linked"), "WRITTEN_BY", "Article", "link",
                                                  "Publisher", "publisher"))
        n = len(self.articles)
        want = [
            WriteSummary(nodes_created=n, properties_set=2 * n),
            WriteSummary(nodes_created=len({x["publisher"] for x in self.articles})),
            WriteSummary(relationships_created=sum(x["linked"] for x in self.articles)),
        ]
        ctx.check(got == want, f"bulk load summaries {got} != {want}")
        if before is not None:
            after = dir_files(self.root)
            written = {p: s for p, s in after.items() if before.get(p) != s}
            b["files_written"], b["bytes_written"] = len(written), sum(written.values())
            b["input_bytes"] = ctx.sizes["input_bytes"]

    def params(self, kind: str) -> dict:
        # publishers of Zipf rank 4-9 and links from the middle fifth keep
        # result sizes alike across seeds, so latency tracks the engine
        r = self.rng
        if kind in ("expand_r", "chained_optional"):
            return {"pub": f"Publisher {int(r.integers(4, 10)):03d}"}
        if kind == "order_by_agg":
            return {"k": int(r.integers(3, 15))}
        if kind == "not_exists":
            n = len(self.articles)
            return {"lo": self.articles[int(r.integers(2 * n // 5, 3 * n // 5))]["link"]}
        if kind == "varlen_undirected":
            pub = f"Publisher {int(r.integers(4, 10)):03d}"
            linked = [x["link"] for x in self.articles if x["linked"] and x["publisher"] == pub]
            return {"link": linked[int(r.integers(0, len(linked)))]}
        return {}

    def statement(self, kind: str, record: bool = True, parent=None):
        params = self.params(kind)
        with self.ctx.tr.span("read.stmt", parent, kind=kind) as s:
            rows = run_statement(self.ctx, READ_KINDS[kind], params, self.store, s)
        if record:
            self.stmt_s.append(s["dur_s"])
            self.by_kind[kind].append(s["dur_s"])
        self.ctx.check(self.oracle.check(kind, params, rows), f"{kind} {params}: wrong rows")

    def warmup(self):
        for kind in READ_KINDS:
            self.ctx.guarded(f"warmup {kind}", self.statement, kind, False)

    def op(self):
        # one operation is a cycle of every kind once, in a fresh seeded
        # order: each run samples the kinds in equal proportion, and the
        # cycle's latency does not jump between kinds the way a median
        # over a mix of statements does
        with self.ctx.tr.span("read.cycle") as c:
            for kind in self.rng.permutation(list(READ_KINDS)):
                self.ctx.guarded(kind, self.statement, kind, True, c)
        self.cycle_s.append(c["dur_s"])

    def finish(self):
        self.ctx.named.update({
            "read.stmt_p50_s": {"value": median(self.stmt_s), "unit": "s"},
            "read.stmt_tail_s": {**tail(self.stmt_s), "unit": "s"},
            **{f"read.{k}_p50_s": {"value": median(v), "unit": "s"} for k, v in self.by_kind.items()},
        })
        self.ctx.sizes["statements"] = len(self.stmt_s)
        return self.cycle_s, len(self.stmt_s)


# ---------------------------------------------------------------- analytics


class Analytics:
    """Passes of pagerank (fixed supersteps), connected_components and
    strongly_connected_components, each timed to a collected result."""

    name = "analytics"
    SETUPS, MIN_OPS = 5, 1
    SHAPE = dict(groups=4, blocks=3, block_size=400, extra_deg=4, sinks_per_group=40)
    WARM_SHAPE = dict(groups=1, blocks=2, block_size=50, extra_deg=4, sinks_per_group=5)
    SUPERSTEPS, DAMPING = 5, 0.85

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.graph = self.make(ctx.seed, self.SHAPE)
        self.warm = self.make(ctx.seed + 7919, self.WARM_SHAPE)
        self.pass_s: list[float] = []
        self.algo_s: dict[str, list[float]] = {"pagerank": [], "cc": [], "scc": []}
        n, e = self.graph["n"], self.graph["edges"]
        ctx.sizes.update({"vertices": n, "edges": len(e), "graph_bytes": int(e.nbytes + 8 * n),
                          "dangling": int((np.bincount(e[:, 0], minlength=n) == 0).sum()),
                          "components": len(set(self.graph["cc"].tolist())),
                          "sccs": len(set(self.graph["scc"].tolist()))})

    def make(self, seed: int, shape: dict) -> dict:
        n, e = gen.analytics_graph(seed, **shape)
        return {"n": n, "edges": e,
                "pr": refs.pagerank(n, e, self.SUPERSTEPS, self.DAMPING),
                "cc": refs.component_min_ids(n, e, strong=False),
                "scc": refs.component_min_ids(n, e, strong=True)}

    def frames(self, g: dict):
        spark = self.ctx.spark
        nodes = spark.createDataFrame(pd.DataFrame({"node_id": np.arange(g["n"], dtype=np.int64)}))
        edges = spark.createDataFrame(pd.DataFrame({"src": g["edges"][:, 0], "dst": g["edges"][:, 1]}))
        return nodes, edges

    def setup(self):
        self.dfs = self.frames(self.graph)

    def one_pass(self, g: dict, dfs, record: bool, only: tuple = ("pagerank", "cc", "scc")):
        from neo4j_graphdb_spark.graph import algorithms as A

        ctx, tr = self.ctx, self.ctx.tr
        nodes, edges = dfs
        calls = {
            "pagerank": lambda: A.pagerank(nodes, edges, max_iter=self.SUPERSTEPS, damping=self.DAMPING),
            "cc": lambda: A.connected_components(nodes, edges),
            "scc": lambda: A.strongly_connected_components(nodes, edges),
        }
        with tr.span("analytics.pass") as p:
            for name in only:
                call = calls[name]
                with tr.span(f"algorithms.{name}", p) as s:
                    out = call().toPandas()
                if record:
                    self.algo_s[name].append(s["dur_s"])
                ids = out.iloc[:, 0].to_numpy()
                vals = out.iloc[:, 1].to_numpy()
                if name == "pagerank":
                    ok = len(out) == g["n"] and np.allclose(vals, g["pr"][ids], rtol=1e-9, atol=0)
                else:
                    ok = len(out) == g["n"] and np.array_equal(vals, g[name][ids])
                ctx.check(ok and len(set(ids.tolist())) == g["n"], f"{name}: result differs")
        if record:
            self.pass_s.append(p["dur_s"])

    def warmup(self):
        # SCC alone runs the join, min-aggregate, checkpoint and collect
        # shapes the other two use, at about half a pass's cold cost
        self.ctx.guarded("analytics warmup", self.one_pass, self.warm, self.frames(self.warm),
                         False, ("scc",))

    def op(self):
        self.ctx.guarded("analytics pass", self.one_pass, self.graph, self.dfs, True)

    def finish(self):
        self.ctx.named.update({
            f"analytics.{k}_s": {"value": median(v), "unit": "s"} for k, v in self.algo_s.items()})
        self.ctx.sizes["passes"] = len(self.pass_s)
        return self.pass_s, len(self.graph["edges"]) * len(self.pass_s)


# ----------------------------------------------------------------- curation


class Curation:
    """Passes of the LLM-data curation operators over generated pages,
    documents (with planted exact and near duplicates), vectors and media."""

    name = "curation"
    SETUPS, MIN_OPS = 5, 1
    SIZES = dict(pages=200, docs=600, corpus=2000, queries=20, dim=32, media=300)
    WARM_SIZES = dict(pages=20, docs=60, corpus=100, queries=4, dim=32, media=30)
    DUP_SHARE, K = 0.2, 5

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.inputs = self.make(ctx.seed, self.SIZES)
        self.warm = self.make(ctx.seed + 7919, self.WARM_SIZES)
        self.pass_s: list[float] = []
        inp = self.inputs
        ctx.sizes.update({
            "pages": len(inp["pages"]), "docs": len(inp["docs"]), "vectors": len(inp["corpus"]),
            "queries": len(inp["queries"]), "media": len(inp["media"]),
            "dup_share": (len(inp["exact"]) + len(inp["near"])) / len(inp["docs"]),
            "corpus_bytes": int(sum(len(h) for _, h in inp["pages"]) + sum(len(d) for d in inp["docs"])
                               + inp["corpus"].nbytes + sum(len(p) for _, _, p in inp["media"])),
        })

    def make(self, seed: int, s: dict) -> dict:
        pages, articles = gen.serp_pages(seed, s["pages"])
        docs, exact, near = gen.documents(seed + 1, s["docs"], self.DUP_SHARE)
        corpus, queries = gen.vectors(seed + 2, s["corpus"], s["queries"], s["dim"])
        media = gen.media(seed + 3, s["media"])
        order, sims = refs.cosine_topk(corpus, queries, self.K)
        return {"pages": pages, "articles": set(articles), "docs": docs, "exact": exact,
                "near": near, "corpus": corpus, "queries": queries, "media": media,
                "kept": refs.exact_dedup_ids(docs), "pairs": refs.jaccard_pairs(docs, 0.7),
                "paras": refs.paragraph_dedup(docs), "topk": order, "sims": sims,
                "features": {i: refs.media_features(p) for i, _, p in media}}

    def frames(self, inp: dict) -> dict:
        spark = self.ctx.spark
        return {
            "pages": spark.createDataFrame(pd.DataFrame(inp["pages"], columns=["page_id", "html"])),
            "docs": spark.createDataFrame(pd.DataFrame(
                {"doc_id": np.arange(len(inp["docs"]), dtype=np.int64), "text": inp["docs"]})),
            "corpus": spark.createDataFrame(
                pd.DataFrame({"vec_id": np.arange(len(inp["corpus"]), dtype=np.int64),
                              "embedding": list(inp["corpus"])}),
                "vec_id long, embedding array<double>"),
            "queries": spark.createDataFrame(
                pd.DataFrame({"query_id": np.arange(len(inp["queries"]), dtype=np.int64),
                              "embedding": list(inp["queries"])}),
                "query_id long, embedding array<double>"),
            "media": spark.createDataFrame(
                pd.DataFrame(inp["media"], columns=["media_id", "kind", "payload"]),
                "media_id long, kind string, payload binary"),
        }

    def setup(self):
        self.dfs = self.frames(self.inputs)

    def one_pass(self, inp: dict, dfs: dict, record: bool):
        from neo4j_graphdb_spark.functions.text import paragraph_dedup
        from neo4j_graphdb_spark.operators.dedup import exact_dedup, minhash_lsh_pairs
        from neo4j_graphdb_spark.operators.multimodal import extract_media_features
        from neo4j_graphdb_spark.operators.similarity import cosine_topk
        from neo4j_graphdb_spark.sources.html_extract import extract_articles

        ctx, tr = self.ctx, self.ctx.tr

        def step(name, call, check):
            with tr.span(name, p, rows=None) as s:
                out = call().toPandas()
            s["rows"] = len(out)
            ctx.check(check(out), f"{name}: result differs")

        def topk_ok(out):
            ok = len(out) == len(inp["queries"]) * self.K
            for q, grp in out.groupby("query_id"):
                grp = grp.sort_values("rank")
                want = inp["sims"][q]
                ids = grp["vec_id"].to_numpy()
                ok &= np.allclose(grp["cosine"].to_numpy(), want[ids], rtol=0, atol=1e-9)
                ok &= want[ids].min() >= want[inp["topk"][q]].min() - 1e-9
            return bool(ok)

        def media_ok(out):
            return len(out) == len(inp["media"]) and all(
                np.allclose(f, inp["features"][i], rtol=0, atol=1e-12)
                for i, f in zip(out["media_id"], out["feature"]))

        def pairs_ok(out):
            got = {(int(a), int(b)): j for a, b, j in zip(out["id_a"], out["id_b"], out["jaccard"])}
            planted = {tuple(sorted(x)) for x in inp["exact"] + inp["near"]}
            sure = {k for k, j in inp["pairs"].items() if j >= 0.9} | planted
            return (sure <= got.keys() and got.keys() <= inp["pairs"].keys()
                    and all(abs(j - inp["pairs"][k]) < 1e-9 for k, j in got.items()))

        with tr.span("curation.pass") as p:
            step("html_extract.extract_articles", lambda: extract_articles(dfs["pages"]),
                 lambda o: o["_error"].isna().all() and set(
                     zip(o["page_id"], o["title"], o["link"], o["publisher"])) == inp["articles"]
                 and len(o) == len(inp["articles"]))
            step("dedup.exact_dedup", lambda: exact_dedup(dfs["docs"], "text", "doc_id"),
                 lambda o: sorted(o["doc_id"].tolist()) == sorted(inp["kept"]))
            step("dedup.minhash_lsh_pairs",
                 lambda: minhash_lsh_pairs(dfs["docs"], "text", "doc_id"), pairs_ok)
            step("text.paragraph_dedup", lambda: paragraph_dedup(dfs["docs"], "doc_id", "text"),
                 lambda o: {int(r.doc_id): (r.n_paras, r.kept, r.kept_chars)
                            for r in o.itertuples()} == inp["paras"])
            step("similarity.cosine_topk",
                 lambda: cosine_topk(dfs["corpus"], dfs["queries"], k=self.K), topk_ok)
            step("multimodal.extract_media_features",
                 lambda: extract_media_features(dfs["media"]), media_ok)
        if record:
            self.pass_s.append(p["dur_s"])

    def warmup(self):
        self.ctx.guarded("curation warmup", self.one_pass, self.warm, self.frames(self.warm), False)

    def op(self):
        self.ctx.guarded("curation pass", self.one_pass, self.inputs, self.dfs, True)

    def finish(self):
        docs = len(self.inputs["docs"])
        self.ctx.named["curation.docs_per_s"] = {
            "value": docs / median(self.pass_s) if self.pass_s else None, "unit": "1/s"}
        self.ctx.sizes["passes"] = len(self.pass_s)
        return self.pass_s, docs * len(self.pass_s)


class Batch:
    """One pass of ``analytics`` then one of ``curation``, in one process:
    the two batch workloads share a run so that each run pays the JVM
    launch and set-up once."""

    name = "batch"
    SETUPS, MIN_OPS = 5, 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.parts = (Analytics(ctx), Curation(ctx))
        self.pass_s: list[float] = []

    def setup(self):
        for p in self.parts:
            p.setup()

    def warmup(self):
        for p in self.parts:
            p.warmup()

    def op(self):
        with self.ctx.tr.span("batch.pass") as s:
            for p in self.parts:
                p.op()
        self.pass_s.append(s["dur_s"])

    def finish(self):
        items = sum(p.finish()[1] for p in self.parts)
        return self.pass_s, items


WORKLOADS = {w.name: w for w in (Ingest, CypherRead, Batch, Analytics, Curation)}
# what ``--workload all`` runs: the workloads BENCHMARK.json lists
BENCHMARKED = ("ingest", "cypher_read", "batch")


def deadline_loop(ctx: Ctx, wl) -> None:
    """Run the workload's operation until ``ctx.seconds`` have passed, and
    at least ``wl.MIN_OPS`` times."""
    end = time.perf_counter() + ctx.seconds
    n = 0
    while n < wl.MIN_OPS or time.perf_counter() < end:
        wl.op()
        n += 1
