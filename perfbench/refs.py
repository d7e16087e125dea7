"""Reference answers, computed from the same generated inputs without the
engine: DuckDB for Cypher reads, networkx for components, NumPy for
PageRank, top-k and media features, plain Python for the rest."""

from __future__ import annotations

from collections import defaultdict

import numpy as np


# -------------------------------------------------------------- cypher_read


class ReadOracle:
    """DuckDB over the articles ``cypher_read`` bulk-loads."""

    def __init__(self, articles: list[dict]):
        import duckdb
        import pandas as pd

        self.db = duckdb.connect()
        self.db.register("articles_df", pd.DataFrame(articles))
        self.db.execute("CREATE TABLE articles AS SELECT * FROM articles_df")
        self.titles = {a["title"] for a in articles}
        self.keys = {a["link"] for a in articles} | {a["publisher"] for a in articles}

    def q(self, sql: str, *params):
        return self.db.execute(sql, list(params)).fetchall()

    def check(self, kind: str, params: dict, rows: list) -> bool:
        if kind == "label_scan":
            return len(rows) == 5 and all(r["title"] in self.titles for r in rows)
        if kind == "expand_r":
            want = self.q("SELECT link, title FROM articles WHERE linked AND publisher = ? "
                          "ORDER BY link", params["pub"])
            got = sorted((r["a"]["link"], r["a"]["title"]) for r in rows)
            return got == want and all(
                r["r"] == "WRITTEN_BY" and r["p"]["name"] == params["pub"] for r in rows)
        if kind == "match_all_25":
            return len(rows) == 25 and all(r["n"]["key"] in self.keys for r in rows)
        if kind == "chained_optional":
            want = self.q(
                "SELECT a.link, p.publisher, count(o.link) FROM articles a "
                "LEFT JOIN (SELECT link, publisher FROM articles WHERE linked AND publisher = ?) p "
                "ON p.link = a.link "
                "LEFT JOIN (SELECT link, publisher FROM articles WHERE linked) o "
                "ON o.publisher = p.publisher GROUP BY a.link, p.publisher", params["pub"])
            return sorted(want) == sorted((r["link"], r["pub"], r["n_sib"]) for r in rows)
        if kind == "order_by_agg":
            want = self.q(
                "SELECT publisher, count(*) AS n FROM articles WHERE linked "
                "GROUP BY publisher ORDER BY n DESC, publisher ASC LIMIT ?", params["k"])
            return want == [(r["pub"], r["n"]) for r in rows]
        if kind == "not_exists":
            want = self.q("SELECT link FROM articles WHERE link >= ? AND NOT linked", params["lo"])
            return sorted(w for (w,) in want) == sorted(r["link"] for r in rows)
        if kind == "varlen_undirected":
            want = self.q(
                "SELECT b.link FROM articles a JOIN articles b ON a.publisher = b.publisher "
                "WHERE a.link = ? AND a.linked AND b.linked AND b.link <> a.link "
                "ORDER BY b.link", params["link"])
            return [w for (w,) in want] == [r["link"] for r in rows]
        raise ValueError(kind)


# ---------------------------------------------------------------- analytics


def pagerank(n: int, edges: np.ndarray, supersteps: int, damping: float) -> np.ndarray:
    """Power iteration with uniform teleport and dangling mass spread
    uniformly, ``supersteps`` steps from the uniform vector."""
    out_deg = np.bincount(edges[:, 0], minlength=n).astype(float)
    rank = np.full(n, 1.0 / n)
    dangling = out_deg == 0
    w = 1.0 / np.where(dangling, 1.0, out_deg)
    for _ in range(supersteps):
        contrib = np.bincount(edges[:, 1], weights=rank[edges[:, 0]] * w[edges[:, 0]], minlength=n)
        rank = (1 - damping) / n + damping * rank[dangling].sum() / n + damping * contrib
    return rank


def component_min_ids(n: int, edges: np.ndarray, strong: bool) -> np.ndarray:
    """Each vertex's component label as the smallest id in its
    (strongly or weakly) connected component."""
    import networkx as nx

    g = nx.DiGraph()
    g.add_nodes_from(range(n))
    g.add_edges_from(map(tuple, edges.tolist()))
    comps = nx.strongly_connected_components(g) if strong else nx.weakly_connected_components(g)
    label = np.empty(n, dtype=np.int64)
    for c in comps:
        ids = np.fromiter(c, dtype=np.int64)
        label[ids] = ids.min()
    return label


# ----------------------------------------------------------------- curation


def shingles(text: str, n: int = 3) -> set[str]:
    w = text.strip().lower().split()
    return {" ".join(w[i:i + n]) for i in range(max(len(w) - n, 0) + 1)}


def jaccard_pairs(docs: list[str], threshold: float) -> dict[tuple[int, int], float]:
    """Every document pair with word-3-shingle Jaccard >= threshold (pairs
    found through a shingle inverted index, then compared exactly)."""
    sh = [shingles(d) for d in docs]
    index = defaultdict(list)
    for i, s in enumerate(sh):
        for x in s:
            index[x].append(i)
    cand = set()
    for ids in index.values():
        for a in range(len(ids)):
            for b in range(a + 1, len(ids)):
                cand.add((ids[a], ids[b]))
    out = {}
    for a, b in cand:
        j = len(sh[a] & sh[b]) / len(sh[a] | sh[b])
        if j >= threshold:
            out[(a, b)] = j
    return out


def exact_dedup_ids(docs: list[str]) -> set[int]:
    first: dict[str, int] = {}
    for i, d in enumerate(docs):
        first.setdefault(d, i)
    return set(first.values())


def paragraph_dedup(docs: list[str], para_tokens: int = 20) -> dict[int, tuple[int, int, int]]:
    """doc id -> (n_paras, kept, kept_chars): a paragraph (consecutive
    ``para_tokens``-word window) survives only at its first (doc, index)."""
    seen: set[str] = set()
    out = {}
    for i, d in enumerate(docs):
        toks = d.split()
        if not toks:
            continue
        paras = [" ".join(toks[k:k + para_tokens]) for k in range(0, len(toks), para_tokens)]
        kept = [p for p in paras if p not in seen and not seen.add(p)]
        out[i] = (len(paras), len(kept), sum(len(p) for p in kept))
    return out


def cosine_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    c = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = q @ c.T
    order = np.argsort(-sims, axis=1, kind="stable")[:, :k]
    return order, sims


def media_features(payload: bytes) -> list[float]:
    b = np.frombuffer(payload, dtype=np.uint8)
    return (np.bincount(b >> 5, minlength=8) / max(len(b), 1)).tolist()
