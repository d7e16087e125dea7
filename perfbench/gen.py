"""Seeded input generators. Every input the engine sees is built here from
``numpy.random.default_rng(seed)``; the same seed gives the same inputs."""

from __future__ import annotations

import numpy as np

_WORDS = np.array(
    "graph spark node edge merge query index shard vector crawl page news "
    "model token batch stream store table join plan cache write read "
    "market policy energy climate sport health science travel music film "
    "city river bridge school garden engine signal report launch review".split()
)


def zipf_weights(n: int, a: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** a
    return w / w.sum()


def words(rng: np.random.Generator, n: int) -> str:
    return " ".join(_WORDS[rng.integers(0, len(_WORDS), n)])


# ------------------------------------------------------------ crawl records


class CrawlStream:
    """Crawl records ``(link, title, content, publisher)`` in fixed-size
    batches, the shape the reference crawler hands to its MERGE loop. A
    ``resend_share`` of every batch after the first re-sends links already
    sent, with a new title and the same publisher and content; publishers
    are Zipf-skewed."""

    def __init__(self, seed: int, batch: int, n_pub: int = 40, resend_share: float = 0.25,
                 prefix: str = "a"):
        self.rng = np.random.default_rng(seed)
        self.batch, self.resend_share, self.prefix = batch, resend_share, prefix
        self.pubs = [f"Publisher {i:03d}" for i in range(n_pub)]
        self.pub_w = zipf_weights(n_pub, 1.1)
        self.sent: dict[str, dict] = {}
        self.order: list[str] = []
        self.n_batches = 0

    def new_record(self) -> dict:
        i = len(self.order)
        link = f"https://news.example.com/{self.prefix}/{i:07d}"
        rec = {
            "link": link,
            "title": words(self.rng, 6).title(),
            "content": words(self.rng, int(self.rng.integers(20, 60))),
            "publisher": self.pubs[self.rng.choice(len(self.pubs), p=self.pub_w)],
        }
        self.order.append(link)
        return rec

    def next_batch(self) -> list[dict]:
        n_old = int(round(self.batch * self.resend_share)) if self.order else 0
        old = self.rng.choice(len(self.order), size=n_old, replace=False) if n_old else []
        out = []
        for j in old:
            rec = dict(self.sent[self.order[j]])
            rec["title"] = f"{rec['title']} (rev {self.n_batches})"
            out.append(rec)
        out += [self.new_record() for _ in range(self.batch - n_old)]
        for rec in out:
            self.sent[rec["link"]] = rec
        self.rng.shuffle(out)
        self.n_batches += 1
        return out


def read_store_articles(seed: int, n_articles: int) -> list[dict]:
    """The articles ``cypher_read`` bulk-loads, Zipf-skewed over
    publishers; every 7th article has no WRITTEN_BY edge."""
    articles = CrawlStream(seed, batch=n_articles, resend_share=0.0, prefix="r").next_batch()
    articles.sort(key=lambda r: r["link"])
    for i, a in enumerate(articles):
        a["linked"] = i % 7 != 3
    return articles


# ------------------------------------------------------------------ graphs


def analytics_graph(seed: int, groups: int, blocks: int, block_size: int, extra_deg: int,
                    sinks_per_group: int):
    """A directed power-law graph with a fixed component structure.

    ``groups`` weakly connected components, each made of ``blocks``
    strongly connected blocks (a random Hamiltonian cycle plus
    ``extra_deg`` chords per vertex with a Zipf-chosen end). Every non-hub block
    sends edges into its group's hub block (the block with the smallest
    ids), and ``sinks_per_group`` dangling vertices receive edges from
    the hub block. Component counts, the two SCC rounds (hub blocks, then
    the rest) and the dangling vertices are therefore the same for every
    seed; degrees and diameters vary."""
    rng = np.random.default_rng(seed)
    w = zipf_weights(block_size, 1.0)
    src, dst = [], []
    nid = 0
    sink_base = groups * blocks * block_size
    for g in range(groups):
        starts = []
        for _b in range(blocks):
            ids = np.arange(nid, nid + block_size)
            nid += block_size
            starts.append(ids[0])
            cyc = rng.permutation(ids)
            src.append(cyc)
            dst.append(np.roll(cyc, -1))
            # chords: half leave a Zipf-chosen vertex, half enter one, so
            # in- and out-degrees are both skewed and the diameter is short
            k = block_size * extra_deg // 2
            src += [ids[0] + rng.choice(block_size, size=k, p=w), rng.choice(ids, size=k)]
            dst += [rng.choice(ids, size=k), ids[0] + rng.choice(block_size, size=k, p=w)]
        hub = starts[0]
        for b0 in starts[1:]:
            k = block_size // 4
            src.append(b0 + rng.integers(0, block_size, k))
            dst.append(hub + rng.choice(block_size, size=k, p=w))
        sinks = sink_base + g * sinks_per_group + np.arange(sinks_per_group)
        src.append(hub + rng.integers(0, block_size, sinks_per_group))
        dst.append(sinks)
    e = np.stack([np.concatenate(src), np.concatenate(dst)], axis=1).astype(np.int64)
    e = e[e[:, 0] != e[:, 1]]
    e = np.unique(e, axis=0)
    n = sink_base + groups * sinks_per_group
    return n, e


# ---------------------------------------------------------------- curation


def serp_pages(seed: int, n_pages: int, per_page: int = 5):
    """Search-result pages in the reference crawler's markup: each
    ``div[data-ved]`` holds a link, a ``role=heading`` title and a
    publisher ``span``. One candidate per page links to google.com and
    one has a too-short title; the extractor must skip both."""
    rng = np.random.default_rng(seed)
    pages, expected = [], []
    for p in range(n_pages):
        parts = ['<html><body><div id="rso">']
        for k in range(per_page):
            link = f"https://news.example.com/p{p}/{k}"
            title = words(rng, int(rng.integers(3, 9))).title()
            pub = f"Publisher {int(rng.integers(0, 40)):03d}"
            if k == 0:
                link = f"https://www.google.com/search?q={p}"
            elif k == 1:
                title = "abc"
            else:
                expected.append((str(p), title, link, pub))
            parts.append(
                f'<div data-ved="v{p}_{k}"><span>{pub}</span>'
                f'<a href="{link}"><div role="heading">{title}</div></a>'
                f"<p>{words(rng, 12)}</p></div>"
            )
        parts.append("</div></body></html>")
        pages.append((str(p), "".join(parts)))
    return pages, expected


def documents(seed: int, n_docs: int, dup_share: float, doc_words: int = 120):
    """Text documents with ``dup_share`` planted duplicates at seeded
    positions: alternately an exact copy of an earlier document and a near
    copy with one word changed (word-3-shingle Jaccard above 0.9)."""
    rng = np.random.default_rng(seed)
    dups = set(rng.choice(np.arange(1, n_docs), size=round(dup_share * n_docs), replace=False).tolist())
    docs: list[str] = []
    exact, near = [], []
    for i in range(n_docs):
        if i in dups:
            j = int(rng.integers(0, i))
            toks = docs[j].split()
            if len(exact) == len(near):
                exact.append((j, i))
            else:
                pos = int(rng.integers(0, len(toks)))
                toks[pos] = f"w{i}x"
                near.append((j, i))
            docs.append(" ".join(toks))
        else:
            docs.append(words(rng, doc_words))
    return docs, exact, near


def vectors(seed: int, n_corpus: int, n_query: int, dim: int):
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_corpus, dim)), rng.standard_normal((n_query, dim))


def media(seed: int, n: int, max_bytes: int = 4096):
    rng = np.random.default_rng(seed)
    kinds = ("image", "audio", "video")
    return [
        (i, kinds[i % 3], rng.integers(0, 256, int(rng.integers(64, max_bytes)), dtype=np.uint8).tobytes())
        for i in range(n)
    ]
