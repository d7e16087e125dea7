"""Differential property tests (hypothesis): the Spark operators against
independent pure-Python references on randomized small inputs.

Each property uses few, small examples — every example executes real
Spark jobs, so the budget goes to input diversity, not volume.
"""

import hashlib
import os
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from neo4j_graphdb_spark.operators.dedup import simhash
from neo4j_graphdb_spark.operators.skew import salted_join
from neo4j_graphdb_spark.operators.temporal import asof_join

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_EPOCH = datetime(2026, 1, 1)


@st.composite
def event_tables(draw):
    n_left = draw(st.integers(1, 12))
    n_right = draw(st.integers(0, 12))
    keys = st.integers(1, 3)
    secs = st.integers(0, 500)

    def rows(n, start_id):
        out, seen = [], set()
        for i in range(n):
            k = draw(keys)
            s = draw(secs)
            if (k, s) in seen:  # unique (key, ts) — asof determinism contract
                continue
            seen.add((k, s))
            out.append((start_id + i, k, _EPOCH + timedelta(seconds=s), float(s)))
        return out

    return rows(n_left, 1000), rows(n_right, 2000)


@given(event_tables())
@settings(**_SETTINGS)
def test_asof_join_matches_pandas_merge_asof(spark, tables):
    lrows, rrows = tables
    schema = "event_id bigint, k bigint, ts timestamp, value double"
    left = spark.createDataFrame(lrows, schema)
    right = spark.createDataFrame(rrows, schema)
    got = {
        r["event_id"]: r["event_id_m"]
        for r in asof_join(
            left, right, ["k"], "ts", right_cols=["event_id", "value"]
        ).collect()
    }

    lp = pd.DataFrame(lrows, columns=["event_id", "k", "ts", "value"]).sort_values("ts")
    rp = pd.DataFrame(rrows, columns=["event_id", "k", "ts", "value"]).sort_values("ts")
    if len(rp):
        merged = pd.merge_asof(
            lp, rp, on="ts", by="k", direction="backward", suffixes=("", "_m")
        )
        want = {
            int(r.event_id): (None if pd.isna(r.event_id_m) else int(r.event_id_m))
            for r in merged.itertuples()
        }
    else:
        want = {int(r.event_id): None for r in lp.itertuples()}
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 4), st.floats(0, 100, allow_nan=False)),
        min_size=1,
        max_size=30,
    )
)
@settings(**_SETTINGS)
def test_salted_join_parity_random(spark, rows):
    big = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(rows)], "rid bigint, k bigint, v double"
    )
    small = big.select("k").distinct().withColumn("t", F.col("k") * 10)
    plain = sorted((r["rid"], r["t"]) for r in big.join(small, on="k").collect())
    salted = sorted(
        (r["rid"], r["t"]) for r in salted_join(big, small, ["k"], num_salts=4).collect()
    )
    assert plain == salted


def _simhash_md5_py(text: str) -> int:
    """Pure-Python reference of simhash(hash_mode='md5_60')."""
    toks = text.strip().lower().split()
    if not toks:
        toks = [""]
    votes = [0] * 60
    for tok in toks:
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        for i in range(60):
            votes[i] += 1 if (h >> i) & 1 else -1
    return sum(1 << i for i in range(60) if votes[i] > 0)


@given(
    st.lists(
        st.text(alphabet="abc XYZ09", min_size=0, max_size=40),
        min_size=1,
        max_size=10,
        unique=True,
    )
)
@settings(**_SETTINGS)
def test_simhash_md5_matches_pure_python(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash(df, "text", "doc_id", hash_mode="md5_60").collect()
    }
    want = {i: _simhash_md5_py(t) for i, t in enumerate(texts)}
    assert got == want


@given(
    st.lists(st.integers(1, 400), min_size=1, max_size=40),
    st.integers(32, 300),
    st.integers(1, 4),
)
@settings(**_SETTINGS)
def test_pack_sequences_matches_greedy_reference(spark, tokens, capacity, n_buckets):
    """Spark packing ≡ a pure-Python greedy first-fit per bucket: same
    pack ids, same positions, capacity never exceeded except singletons."""
    from neo4j_graphdb_spark.operators.sampling import pack_sequences

    rows = [(i, t) for i, t in enumerate(tokens)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    got = {
        r["doc_id"]: (r["bucket"], r["pack_id"], r["pack_pos"])
        for r in pack_sequences(df, "doc_id", "n_tokens", capacity, n_buckets).collect()
    }

    want = {}
    for b in range(n_buckets):
        bucket_rows = [(i, t) for i, t in rows if i % n_buckets == b]
        pack, pos, acc, first = 0, 0, 0, True
        for i, t in sorted(bucket_rows):
            if first:
                acc, pos, first = t, 0, False
            elif acc + t <= capacity:
                acc += t
                pos += 1
            else:
                pack += 1
                acc, pos = t, 0
            want[i] = (b, pack, pos)
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)).filter(lambda p: p[0] != p[1]),
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_near_dup_clusters_is_transitive_closure(spark, pairs):
    """Cluster assignment ≡ union-find over the pair graph; exactly one
    canonical (the min id) per cluster."""
    from neo4j_graphdb_spark.operators.dedup import near_dup_clusters

    ids = list(range(15))
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    pdf = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in pairs] or [(0, 0)], "id_a long, id_b long"
    )
    if not pairs:
        pdf = pdf.filter("id_a <> id_b")  # empty edge set
    out = {r["doc_id"]: (r["cluster"], r["is_canonical"])
           for r in near_dup_clusters(docs, pdf, "doc_id", max_rounds=15).collect()}

    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = {i: find(i) for i in ids}
    # canonical root = min member of the component
    comp_min = {}
    for i in ids:
        r = roots[i]
        comp_min[r] = min(comp_min.get(r, i), i)
    for i in ids:
        assert out[i] == (comp_min[roots[i]], i == comp_min[roots[i]])


@st.composite
def event_streams(draw):
    n = draw(st.integers(1, 30))
    dims = ["a", "b"]
    out = []
    for i in range(n):
        out.append(
            (
                draw(st.sampled_from(dims)),
                # values with <= 2 decimals, like real money-ish metrics
                draw(st.integers(-10_000, 10_000)) / 100.0,
                _EPOCH + timedelta(seconds=draw(st.integers(0, 3 * 86400))),
            )
        )
    return out


@given(event_streams())
@settings(**_SETTINGS)
def test_time_rollup_matches_pandas_direct_aggregation(spark, rows):
    """The hierarchical cascade (hour from minute, day from hour) must
    equal DIRECT per-resolution aggregation of the raw rows — the
    decimal-sum associativity contract, checked against pandas."""
    from neo4j_graphdb_spark.operators.temporal import time_rollup

    df = spark.createDataFrame(rows, "event_type string, value double, ts timestamp")
    got = {
        (r["resolution"], r["bucket"], r["event_type"]): (
            r["n_events"],
            r["sum_value"],
            r["min_value"],
            r["max_value"],
        )
        for r in time_rollup(df, "ts", ["event_type"], "value").collect()
    }

    pdf = pd.DataFrame(rows, columns=["event_type", "value", "ts"])
    want = {}
    for res, freq in [("minute", "min"), ("hour", "h"), ("day", "D")]:
        g = pdf.groupby([pdf["ts"].dt.floor(freq), "event_type"])["value"]
        for (bucket, et), s in g:
            want[(res, bucket.to_pydatetime(), et)] = (
                len(s),
                # same 6-dp round the operator applies; sums of 2-dp
                # values are exact in decimal, and float on <=30 of them
                # stays within 1e-6 of the decimal truth
                round(float(s.sum()), 6),
                round(float(s.min()), 6),
                round(float(s.max()), 6),
            )
    assert got == want


@given(
    st.lists(st.sampled_from(["x", "y", "z"] + [f"rare{i}" for i in range(20)]), min_size=1, max_size=200),
    st.sampled_from([0.05, 0.1, 0.3]),
)
@settings(**_SETTINGS)
def test_heavy_hitters_matches_exact_counting(spark, toks, frac):
    """Sketch shortlist + exact verify == plain exact counting with the
    same threshold, for any token mix and partitioning."""
    from collections import Counter

    from neo4j_graphdb_spark.operators.sketch import heavy_hitters

    df = spark.createDataFrame([(t,) for t in toks], "token string").repartition(4)
    got = {r["token"]: r["freq"] for r in heavy_hitters(df, "token", frac=frac).collect()}
    c = Counter(toks)
    want = {t: n for t, n in c.items() if n > frac * len(toks)}
    assert got == want


@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 6)),  # (owner, item)
        min_size=1,
        max_size=25,
    )
)
@settings(**_SETTINGS)
def test_node_similarity_matches_brute_force(spark, edges):
    """node_similarity == brute-force Jaccard over every co-occurring
    pair (k large enough to disable the top-k cut)."""
    from itertools import combinations

    from neo4j_graphdb_spark.graph.algorithms import node_similarity

    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in node_similarity(df, top_k=100).collect()
    }

    nbrs = {}
    for s, d in edges:
        nbrs.setdefault(s, set()).add(d)
    want = {}
    for a, b in combinations(sorted(nbrs), 2):
        inter = len(nbrs[a] & nbrs[b])
        if inter:
            j = inter / len(nbrs[a] | nbrs[b])
            want[(a, b)] = j
            want[(b, a)] = j
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-12


@given(
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 600), st.integers(-50, 50)),
        min_size=1,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_gap_fill_matches_pure_reference(spark, events):
    """gap_fill LOCF/interp against a pure-Python per-key replay
    (60s buckets; values integral so sums are exact)."""
    from collections import defaultdict
    from datetime import datetime, timedelta

    from neo4j_graphdb_spark.operators.temporal import gap_fill

    rows = [
        (str(k), _EPOCH + timedelta(seconds=s), float(v)) for k, s, v in events
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    got = {
        (r["k"], int(r["bucket"].timestamp())): (
            r["is_observed"], r["value_locf"], r["value_interp"]
        )
        for r in gap_fill(df, ["k"], "ts", "value", bucket_sec=60).collect()
    }

    obs = defaultdict(dict)
    for k, s, v in events:
        b = int((_EPOCH + timedelta(seconds=s)).timestamp()) // 60
        obs[str(k)][b] = obs[str(k)].get(b, 0.0) + float(v)
    want = {}
    for k, buckets in obs.items():
        bs = sorted(buckets)
        for b in range(bs[0], bs[-1] + 1):
            if b in buckets:
                o = round(buckets[b], 6)
                want[(k, b * 60)] = (True, o, o)
            else:
                pb = max(x for x in bs if x < b)
                nb = min(x for x in bs if x > b)
                pv, nv = round(buckets[pb], 6), round(buckets[nb], 6)
                interp = pv + (nv - pv) * (b - pb) / (nb - pb)
                want[(k, b * 60)] = (False, pv, interp)
    assert set(got) == set(want)
    for key, (o, locf, interp) in want.items():
        go, gl, gi = got[key]
        assert go == o and gl == locf
        assert abs(gi - interp) < 1e-9


@st.composite
def small_sym_graphs(draw):
    n = draw(st.integers(2, 8))
    ids = [f"n{i}" for i in range(n)]
    edges = set()
    for _ in range(draw(st.integers(1, 14))):
        a = draw(st.sampled_from(ids))
        b = draw(st.sampled_from(ids))
        if a != b:
            edges.add((a, b))
            edges.add((b, a))
    return sorted(edges)


@given(small_sym_graphs(), st.integers(1, 4))
@settings(**_SETTINGS)
def test_landmark_closeness_matches_python_bfs(spark, edges, k):
    """landmark_closeness vs a pure-Python BFS from the same md5-picked
    landmark set on random symmetric graphs."""
    from collections import defaultdict

    from neo4j_graphdb_spark.graph.algorithms import landmark_closeness

    sdf = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["id"]: (r["n_reached"], r["harmonic_x12"])
        for r in landmark_closeness(sdf, n_landmarks=k, max_hops=4).collect()
    }
    nodes = sorted({x for e in edges for x in e})
    lms = sorted(nodes, key=lambda x: (hashlib.md5(x.encode()).hexdigest(), x))[:k]
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
    exp: dict = {}
    for lm in lms:
        dist = {lm: 0}
        frontier = [lm]
        for h in range(1, 5):
            nxt = []
            for v in frontier:
                for w in adj[v]:
                    if w not in dist:
                        dist[w] = h
                        nxt.append(w)
            frontier = nxt
        for v, d in dist.items():
            if d > 0:
                n, hsum = exp.get(v, (0, 0))
                exp[v] = (n + 1, hsum + 12 // d)
    assert got == exp


@st.composite
def small_weighted_digraphs(draw):
    """A digraph on string ids with a chain through ``m`` nodes (so a
    small round cap falls below the diameter), extra random edges (cycles
    and self-loops allowed), weights that include 0, and a source set."""
    n = draw(st.integers(3, 6))
    ids = [f"v{i}" for i in draw(st.permutations(range(n)))]
    m = draw(st.integers(3, n))
    weight = st.sampled_from([0.0, 0.5, 1.0, 2.0, 3.25])
    edges = {(a, b): draw(weight) for a, b in zip(ids[: m - 1], ids[1:m])}
    for _ in range(draw(st.integers(0, 6))):
        edges[(draw(st.sampled_from(ids)), draw(st.sampled_from(ids)))] = draw(weight)
    sources = sorted(draw(st.sets(st.sampled_from(ids), min_size=1, max_size=2)))
    return ids, sorted((a, b, w) for (a, b), w in edges.items()), sources


@given(small_weighted_digraphs(), st.integers(1, 3))
@settings(**_SETTINGS)
def test_min_relaxation_loops_match_round_capped_references(spark, graph, cap):
    """Every BFS, Bellman-Ford and flooding loop equals its pure-Python
    reference run for exactly ``cap`` synchronous rounds: BFS levels,
    pairwise BFS whose seed is not known (a source re-reached through a
    cycle reports the cycle length), k-round Bellman-Ford, and min-id
    flooding over string ids."""
    from neo4j_graphdb_spark.graph.algorithms import (
        _landmark_distances,
        connected_components,
        pairwise_shortest_paths,
        shortest_paths,
        weighted_shortest_paths,
        weighted_sssp,
    )

    ids, edges, sources = graph
    edf = spark.createDataFrame(edges, "src string, dst string, weight double")
    sdf = spark.createDataFrame([(s,) for s in sources], "id string")
    adj: dict = {}
    for a, b, _ in edges:
        adj.setdefault(a, set()).add(b)

    def bfs(seeds, known):
        dist, frontier = dict(known), list(seeds)
        for h in range(1, cap + 1):
            frontier = sorted({b for a in frontier for b in adj.get(a, ())} - set(dist))
            dist.update((v, h) for v in frontier)
        return dist

    def bellman_ford(seeds):
        dist = {s: 0.0 for s in seeds}
        for _ in range(cap):
            nxt = dict(dist)
            for a, b, w in edges:
                if a in dist and dist[a] + w < nxt.get(b, float("inf")):
                    nxt[b] = dist[a] + w
            dist = nxt
        return dist

    k = 2
    nodes = spark.createDataFrame([(i,) for i in ids], "node_id string")
    runs = {
        "bfs": lambda: shortest_paths(edf, sdf, max_hops=cap),
        "landmarks": lambda: _landmark_distances(edf, k, cap),
        "pairwise": lambda: pairwise_shortest_paths(edf, sdf, max_rounds=cap),
        "bellman_ford": lambda: weighted_shortest_paths(edf, sdf, max_iter=cap),
        "sssp": lambda: weighted_sssp(edf, sdf, max_rounds=cap),
        "flooding": lambda: connected_components(
            nodes, edf, max_iter=cap, algorithm="min_propagation"
        ),
    }
    # the six driver loops are independent: submitting them from threads
    # overlaps their small Spark jobs on the local cores
    with ThreadPoolExecutor(len(runs)) as pool:
        rows = dict(zip(runs, pool.map(lambda f: f().collect(), runs.values())))

    assert {r["id"]: r["dist"] for r in rows["bfs"]} == bfs(
        sources, {s: 0 for s in sources}
    )

    on_edges = sorted({x for a, b, _ in edges for x in (a, b)})
    lms = sorted(on_edges, key=lambda x: (hashlib.md5(x.encode()).hexdigest(), x))[:k]
    assert {(r["lm"], r["id"]): r["dist"] for r in rows["landmarks"]} == {
        (lm, v): d for lm in lms for v, d in bfs([lm], {lm: 0}).items()
    }

    assert {(r["source"], r["id"]): r["hops"] for r in rows["pairwise"]} == {
        (s, v): d for s in sources for v, d in bfs([s], {}).items()
    }

    assert {r["id"]: r["dist"] for r in rows["bellman_ford"]} == bellman_ford(sources)

    assert {(r["source"], r["id"]): r["dist"] for r in rows["sssp"]} == {
        (s, v): d for s in sources for v, d in bellman_ford([s]).items()
    }

    label = {v: v for v in ids}
    for _ in range(cap):
        nxt = dict(label)
        for a, b, _w in edges:
            nxt[b] = min(nxt[b], label[a])
            nxt[a] = min(nxt[a], label[b])
        label = nxt
    assert {r["id"]: r["comp"] for r in rows["flooding"]} == label


def _py_shingles(text: str, n: int) -> set:
    import re

    w = re.split(r"\s+", text.strip().lower())
    return {" ".join(w[i : i + n]) for i in range(0, max(len(w) - n, 0) + 1)} - {""}


@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=6).map(
            " ".join
        ),
        min_size=1,
        max_size=6,
    ),
    st.integers(1, 3),
)
@settings(**_SETTINGS)
def test_containment_matches_python_reference(spark, texts, max_df):
    """containment_pairs vs a brute-force Python replay of the same
    shingling, rare-shingle blocking, and threshold."""
    from neo4j_graphdb_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id bigint, text string")
    got = {
        (r["src"], r["dst"]): (r["n_shared"], r["containment"])
        for r in containment_pairs(
            df, "text", "doc_id", shingle_n=2, max_df=max_df, threshold=0.4
        ).collect()
    }
    sets = {i: _py_shingles(t, 2) for i, t in enumerate(texts)}
    dfreq: dict = {}
    for s in sets.values():
        for sh in s:
            dfreq[sh] = dfreq.get(sh, 0) + 1
    rare = {sh for sh, c in dfreq.items() if c <= max_df}
    exp: dict = {}
    for a in sets:
        for b in sets:
            if a >= b or not (sets[a] & sets[b] & rare):
                continue
            inter = len(sets[a] & sets[b])
            for src, dst, sz in ((a, b, len(sets[a])), (b, a, len(sets[b]))):
                c = inter / sz
                if c >= 0.4:
                    exp[(src, dst)] = (inter, round(c, 6))
    assert got == exp


@given(small_sym_graphs(), st.integers(1, 3))
@settings(**_SETTINGS)
def test_modularity_matches_python_reference(spark, edges, n_comms):
    """modularity vs a direct Python evaluation of Newman's formula on
    random graphs with hash-assigned communities."""
    from neo4j_graphdb_spark.graph.algorithms import modularity

    if not edges:  # Q undefined at m=0 (all sampled pairs were loops)
        return
    sdf = spark.createDataFrame(edges, "src string, dst string")
    nodes = sorted({x for e in edges for x in e})
    assign = {v: int(hashlib.md5(v.encode()).hexdigest(), 16) % n_comms for v in nodes}
    comm = spark.createDataFrame(
        [(v, c) for v, c in assign.items()], "id string, lbl int"
    )
    row = modularity(sdf, comm).collect()[0]

    und = {tuple(sorted(e)) for e in edges}
    m = len(und)
    deg: dict = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    lc: dict = {}
    dc: dict = {}
    for a, b in und:
        if assign[a] == assign[b]:
            lc[assign[a]] = lc.get(assign[a], 0) + 1
    for v, d in deg.items():
        dc[assign[v]] = dc.get(assign[v], 0) + d
    s1 = sum(lc.values())
    s2 = sum(d * d for d in dc.values())
    q = (4 * m * s1 - s2) / (4.0 * m * m)
    assert row["m"] == m and row["intra_edges"] == s1
    assert row["modularity"] == q  # bit-identical: same integer formula


@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=5).map(" ".join),
        min_size=1,
        max_size=5,
    )
)
@settings(**_SETTINGS)
def test_bigram_lm_matches_python_reference(spark, texts):
    """bigram_lm_score vs a pure-Python bigram model over the same
    corpus (same tokenization, same prefix counts)."""
    import math

    import pytest

    from neo4j_graphdb_spark.functions.text import bigram_lm_score

    df = spark.createDataFrame(list(enumerate(texts)), "id bigint, text string")
    got = {
        r["id"]: (r["n_bigrams"], r["avg_logp"])
        for r in bigram_lm_score(df, "id", "text").collect()
    }
    toks = {
        i: [w for w in t.strip().lower().split() if w] for i, t in enumerate(texts)
    }
    c2: dict = {}
    c1: dict = {}
    for ws in toks.values():
        for a, b in zip(ws, ws[1:]):
            c2[(a, b)] = c2.get((a, b), 0) + 1
            c1[a] = c1.get(a, 0) + 1
    exp = {}
    for i, ws in toks.items():
        bis = list(zip(ws, ws[1:]))
        if not bis:
            continue
        lp = sum(math.log(c2[p] / c1[p[0]]) for p in bis) / len(bis)
        exp[i] = (len(bis), round(lp, 6))
    assert set(got) == set(exp)
    for i in exp:
        assert got[i][0] == exp[i][0]
        assert got[i][1] == pytest.approx(exp[i][1], abs=2e-6)


def _java_div(a: int, b: int) -> int:
    q = abs(a) // abs(b)
    return q if (a < 0) == (b < 0) else -q


def _java_mod(a: int, b: int) -> int:
    return a - _java_div(a, b) * b


@st.composite
def cypher_arith(draw, depth=0):
    """(expression text, pure-Python evaluator) pairs over props a.x/a.y
    with Cypher's Java semantics (trunc-toward-zero /, Java-sign %)."""
    if depth >= 3 or (depth > 0 and draw(st.booleans())):
        c = draw(st.integers(0, 2))
        if c == 0:
            v = draw(st.integers(-9, 9))
            return (str(v), lambda x, y, v=v: v)
        if c == 1:
            return ("a.x", lambda x, y: x)
        return ("a.y", lambda x, y: y)
    op = draw(st.sampled_from(["+", "-", "*", "/", "%"]))
    ls, lf = draw(cypher_arith(depth=depth + 1))
    if op in ("/", "%"):
        d = draw(st.integers(1, 9))
        rs, rf = str(d), (lambda x, y, d=d: d)
    else:
        rs, rf = draw(cypher_arith(depth=depth + 1))
    ops = {
        "+": lambda a, b: a + b,
        "-": lambda a, b: a - b,
        "*": lambda a, b: a * b,
        "/": _java_div,
        "%": _java_mod,
    }
    fn = ops[op]
    return (
        f"({ls} {op} {rs})",
        lambda x, y, lf=lf, rf=rf, fn=fn: fn(lf(x, y), rf(x, y)),
    )


@given(cypher_arith(), st.lists(
    st.tuples(st.integers(-20, 20), st.integers(-20, 20)),
    min_size=1, max_size=4, unique=True,
))
@settings(**_SETTINGS)
def test_cypher_expression_compiler_matches_python(spark, expr, rows):
    """Differential: randomized arithmetic over bound props through the
    Cypher text front-end equals a pure-Python evaluator with Java
    integer semantics (trunc-toward-zero division, Java-sign %)."""
    from neo4j_graphdb_spark.model import as_nodes
    from neo4j_graphdb_spark.operators.cypher import Graph
    from neo4j_graphdb_spark.operators.cypher_text import run_cypher

    text, pyfn = expr
    src = spark.createDataFrame(
        [(f"l{i}", x, y) for i, (x, y) in enumerate(rows)],
        "link string, x int, y int",
    )
    g = Graph(as_nodes(src, "Doc", "link", ["x", "y"]), None)
    got = {
        r["l"]: r["v"]
        for r in run_cypher(
            spark,
            f"MATCH (a:Doc) RETURN a.link AS l, {text} AS v",
            graph=g,
        ).df.collect()
    }
    want = {f"l{i}": pyfn(x, y) for i, (x, y) in enumerate(rows)}
    assert got == want


# ---------------------------------------------------------------------------
# Float-order determinism: the driver's correctness harness runs under its
# own partitioning/batching, and twice (r9, r10) it flipped a rounded-float
# entry that every fixed-partitioning local run passed (c102: order-dependent
# float64 Gram sums flipping round(·, 6) near a .5e-6 boundary). This test
# reruns every rounded-float registry entry under shuffle-partition counts
# {1, 7, 32} AND input repartitionings {1, 7, 32} (which reshapes the Arrow
# batches mapInPandas sees) and asserts the driver-style value multiset is
# identical — i.e. the result is a function of the DATA, not the plan.
# ---------------------------------------------------------------------------

_FLOAT_ORDER_ENTRIES = [
    "c102_embedding_covariance",
    "c77_time_decay",
    "c49_zipf_fit",
    "a67_text_stats_aggregates",
    # r11 additions with rounded-float outputs: the MMR greedy argmax
    # (bit-identical double comparisons) and the exact-ratio diversity
    # signals must not depend on partitioning either
    "c104_mmr_rerank",
    "c106_lexical_diversity",
    # late-r11 additions with rounded-float outputs: KN probabilities,
    # A-ES draw keys, NPMI, HLL estimates, bootstrap CI bounds — all
    # built from exact integer aggregates + fixed per-row IEEE trees,
    # which this test pins under partitioning variation
    "c113_kneser_ney",
    "c114_weighted_sample",
    "c116_term_cooccurrence",
    "c117_hll_sketch",
    "c120_bootstrap_ci",
    "c122_sax_words",
    "c124_ngram_novelty",
    # r12 additions whose hashed outputs pass through floats or whose
    # candidate generation must be plan-independent: the fixed-point
    # dataset-card mean, and the two PassJoin operators (distinct pair
    # sets must be a function of the data, not the join bucketing)
    "c132_dataset_card",
    "c133_fuzzy_join",
    "c105_levenshtein_near_dup",
    # r13 additions: the KN perplexity gate sums MICRO fixed-point
    # integers per document (order-free by construction — pin it),
    # a100's percentileCont emits an interpolated double per group, and
    # c135's margin divides rank-ordered neighborhood FOLDS (a bare
    # sum() would be partition-order sensitive — pin the fold)
    "c134_perplexity_filter",
    "a100_text_percentile_disc",
    "c135_bitext_mining",
]


def _driver_multiset(df):
    cols = df.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def canon(v):
        if isinstance(v, float):
            if v == 0:
                v = 0.0
            return f"{v:.9g}"
        if isinstance(v, list):
            return "[" + ",".join(canon(x) for x in v) + "]"
        return repr(v)

    return sorted(
        "|".join(canon(r[i]) for i in order)
        for r in (tuple(x) for x in df.collect())
    )


@pytest.mark.parametrize("name", _FLOAT_ORDER_ENTRIES)
def test_rounded_float_entries_are_partition_order_free(spark, name):
    import __spark_entry__ as e

    fn = e.queries()[name]
    sf_dir = SF_DIR
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    results = {}
    try:
        for parts in (1, 7, 32):
            spark.conf.set(key, str(parts))
            results[parts] = _driver_multiset(fn(spark, sf_dir))
    finally:
        spark.conf.set(key, prev)
    base = results[1]
    for parts, got in results.items():
        assert got == base, (
            f"{name}: result depends on shuffle partitioning "
            f"(partitions={parts} differs from partitions=1)"
        )


def test_c102_is_arrow_batch_order_free(spark):
    """c102 specifically: perturb the Arrow batch composition mapInPandas
    sees (input partitioning + maxRecordsPerBatch) — the exact axis the
    driver harness perturbed when it flipped the old float64 version."""
    from neo4j_graphdb_spark.operators.similarity import embedding_covariance

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    results = []
    try:
        for nparts, batch in ((1, 10000), (5, 64), (13, 17)):
            spark.conf.set(key, str(batch))
            results.append(
                _driver_multiset(
                    embedding_covariance(emb.repartition(nparts), "embedding", dim=64)
                )
            )
    finally:
        spark.conf.set(key, prev)
    assert results[0] == results[1] == results[2]


@st.composite
def cypher_list_algebra(draw, depth=0):
    """(expression text, expected Python list) pairs over the r13 list
    algebra: literal lists, `||` / `+` concatenation (append/prepend
    coercions), and slices with negative / open / out-of-range bounds
    (openCypher: 0-based, end-exclusive, clamped)."""
    if depth >= 3 or (depth > 0 and draw(st.booleans())):
        xs = draw(st.lists(st.integers(-9, 9), min_size=0, max_size=4))
        return ("[" + ", ".join(str(v) for v in xs) + "]", list(xs))
    kind = draw(st.sampled_from(["concat2", "append", "prepend", "slice"]))
    ls, lv = draw(cypher_list_algebra(depth=depth + 1))
    if kind == "concat2":
        rs, rv = draw(cypher_list_algebra(depth=depth + 1))
        op = draw(st.sampled_from(["||", "+"]))
        return (f"({ls} {op} {rs})", lv + rv)
    if kind == "append":
        v = draw(st.integers(-9, 9))
        return (f"({ls} + {v})", lv + [v])
    if kind == "prepend":
        v = draw(st.integers(-9, 9))
        return (f"({v} + {ls})", [v] + lv)
    lo = draw(st.one_of(st.none(), st.integers(-6, 6)))
    hi = draw(st.one_of(st.none(), st.integers(-6, 6)))
    n = len(lv)

    def norm(b, default):
        if b is None:
            return default
        return max(n + b, 0) if b < 0 else min(b, n)

    want = lv[norm(lo, 0):norm(hi, n)]
    return (
        f"{ls}[{'' if lo is None else lo}..{'' if hi is None else hi}]",
        want,
    )


@given(cypher_list_algebra())
@settings(**_SETTINGS)
def test_cypher_list_algebra_matches_python(spark, expr):
    """Differential: randomized list algebra (`||`, list `+`, slices)
    through the Cypher text front-end equals Python list semantics."""
    from neo4j_graphdb_spark.operators.cypher_text import run_cypher

    text, want = expr
    rows = run_cypher(spark, f"RETURN {text} AS v").df.collect()
    assert len(rows) == 1
    assert list(rows[0]["v"]) == want
