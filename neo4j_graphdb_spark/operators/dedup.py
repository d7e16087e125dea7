"""Deduplication operators (SURVEY.md §2 C7/C8, generalizing B8).

The reference dedups one way only: MERGE-by-key, one record per Bolt round
trip (``/root/reference/src/crwling.py:48`` + loop ``:144-175``). At
training-data scale we need content-level dedup; this module provides:

* :func:`exact_dedup`        — hash-groupBy keeper selection (C7)
* :func:`minhash_signatures` / :func:`minhash_lsh_pairs` — MinHash+LSH
  banded candidate generation with exact-Jaccard verification (C8)
* :func:`simhash`            — 64-bit SimHash fingerprints
* :func:`ngram_jaccard_pairs`— blocked exact n-gram Jaccard

Design for 100 TB: everything is shuffle-by-key — no crossJoin anywhere.
LSH band hashing turns the O(n²) pair space into groupBy(band_hash)
buckets; candidate verification only touches same-bucket pairs. Skewed
buckets (e.g. boilerplate-heavy corpora) are handled by AQE skew-join
splitting plus the ``max_bucket`` guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from neo4j_graphdb_spark.session import spread_partitions as _spread

# ------------------------------------------------------------------ C7: exact


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row per distinct text (lowest id wins — deterministic).

    ``groupBy(md5(text))`` is a single hash-shuffle with map-side partial
    aggregation; at 100 TB the hash (16 bytes) shuffles, not the document.
    """
    h = F.md5(F.col(text_col)).alias("text_hash")
    keep = (
        df.select(h, F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(keep, on=id_col, how="left_semi")


_BAG_ALPHABET = "abcdefghijklmnopqrstuvwxyz "


def _bag():
    """Bag-of-chars of ``_key`` (length ``_len``): one int count per
    :data:`_BAG_ALPHABET` character, the arrays :func:`_bag_l1` compares."""
    return F.array(
        *[
            (
                F.col("_len")
                - F.length(F.replace(F.col("_key"), F.lit(ch), F.lit("")))
            ).cast("int")
            for ch in _BAG_ALPHABET
        ]
    )


def _bag_l1(left: str, right: str):
    """L1 distance of two fixed-length bag-of-chars int arrays, unrolled
    to ``abs(l[0]-r[0]) + … + abs(l[26]-r[26])``. The higher-order
    ``aggregate(zip_with(...))`` form evaluated INTERPRETED per element
    (guide §4.1 — 27 interpreted lambda calls per candidate pair); the
    unrolled integer sum stays inside whole-stage codegen and, being an
    integer sum, is reorder-safe — bit-identical to the fold."""
    terms = [
        F.abs(F.col(left)[i] - F.col(right)[i]) for i in range(len(_BAG_ALPHABET))
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def levenshtein_near_dup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str] | None = None,
    max_dist: int = 8,
    prefix: int = 20,
    band: int | None = None,
    max_block: int | None = None,
) -> DataFrame:
    """Edit-distance near-dup pairs over a normalized key prefix —
    the short-string companion of MinHash (titles, URLs, product names,
    crawl keys): pairs with ``levenshtein(lower(prefix)) <= max_dist``.

    Blocking keeps it off the all-pairs cliff: candidates must share
    every ``block_cols`` value (the natural partition key — same crawl
    source, same domain) AND a length band. Each key is emitted into its
    own band index ``len // band`` and the next one, so with
    ``band >= max_dist`` any pair within distance ``max_dist`` (which
    forces ``|len_a − len_b| <= max_dist``) shares at least one (block,
    band) bucket — the blocking is EXACT, not a recall heuristic. The
    verify step is the JVM codegen ``levenshtein`` on the bounded
    within-bucket pairs; ``max_block`` guards degenerate buckets the
    way every LSH operator here does. Returns ``(id_a, id_b, dist)``
    with ``id_a < id_b``, distinct.
    """
    band = band if band is not None else max(max_dist, 1)
    if band < max_dist:
        raise ValueError(
            f"band width {band} < max_dist {max_dist} breaks the "
            "pigeonhole exactness guarantee"
        )
    blocks = block_cols or []
    key = F.substring(F.lower(F.col(text_col)), 1, prefix)
    # bag-of-chars signature (a-z + space counts): for any symbol subset,
    # L1(bag_a, bag_b) / 2 <= levenshtein(a, b) — an EXACT lower bound
    # (each edit changes at most two bag cells), so pairs with
    # L1 > 2*max_dist prune BEFORE the O(prefix²) DP. This carries the
    # candidate pruning when the length bands cannot (fixed-length
    # prefixes all share one band).
    base = (
        df.select(
            F.col(id_col), *[F.col(c) for c in blocks], key.alias("_key")
        )
        .withColumn("_len", F.length("_key"))
        .withColumn("_band", (F.col("_len") / band).cast("long"))
        .withColumn("_bag", _bag())
        .localCheckpoint(eager=False)
    )
    # asymmetric slot emission: the LEFT side sits in its own band only,
    # the RIGHT side is emitted into {own, own+1} — a same-band pair
    # meets once per orientation at its band, an adjacent-band pair
    # meets once via the lower member's right-emission; least/greatest
    # + distinct canonicalize BEFORE the levenshtein verify, so the
    # O(prefix²) DP never runs twice for one candidate pair
    a = base.select(
        *[F.col(c) for c in blocks], F.col("_band").alias("_slot"),
        F.col(id_col).alias("_id1"),
        F.col("_key").alias("_k1"), F.col("_len").alias("_l1"),
        F.col("_bag").alias("_b1"),
    )
    b = base.select(
        *[F.col(c) for c in blocks],
        F.explode(
            F.array(F.col("_band"), F.col("_band") + 1)
        ).alias("_slot"),
        F.col(id_col).alias("_id2"),
        F.col("_key").alias("_k2"), F.col("_len").alias("_l2"),
        F.col("_bag").alias("_b2"),
    )
    if max_block is not None:
        counts = b.groupBy(*blocks, "_slot").agg(
            F.count(F.lit(1)).alias("_n")
        )
        keep = counts.filter(F.col("_n") <= max_block).drop("_n")
        a = a.join(keep, on=[*blocks, "_slot"], how="left_semi")
        b = b.join(keep, on=[*blocks, "_slot"], how="left_semi")
    bag_l1 = _bag_l1("_b1", "_b2")
    cand = (
        a.join(b, on=[*blocks, "_slot"])
        .filter(
            (F.col("_id1") != F.col("_id2"))
            & (F.abs(F.col("_l1") - F.col("_l2")) <= max_dist)
            & (bag_l1 <= 2 * max_dist)
        )
        .select(
            F.least("_id1", "_id2").alias("id_a"),
            F.greatest("_id1", "_id2").alias("id_b"),
            F.when(F.col("_id1") < F.col("_id2"), F.col("_k1"))
            .otherwise(F.col("_k2"))
            .alias("_ka"),
            F.when(F.col("_id1") < F.col("_id2"), F.col("_k2"))
            .otherwise(F.col("_k1"))
            .alias("_kb"),
        )
        .distinct()
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            # threshold form: the banded DP costs O(len·max_dist) instead
            # of the full O(len²) table and returns -1 above the bound, so
            # the filter below is value-identical to `dist <= max_dist`
            F.levenshtein(F.col("_ka"), F.col("_kb"), max_dist).alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


def levenshtein_near_dup_segments(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_dist: int = 4,
    prefix: int = 40,
    max_block: int | None = 10_000,
) -> DataFrame:
    """Edit-distance near-dup pairs with EXACT PassJoin pigeonhole
    blocking (Li, Deng & Feng, PVLDB 2011) — content-keyed, corpus-wide,
    no partition-column crutch.

    The pigeonhole: split each key (the lowercased ``prefix``-char head)
    into ``k = max_dist + 1`` even segments. A pair within edit distance
    ``d <= max_dist`` has at most ``d`` segments touched by edits, so at
    least ONE segment of either string survives verbatim as a contiguous
    substring of the other, at a start position shifted by at most
    ``max_dist`` (each shift needs one insert/delete). Blocking is
    therefore: index side emits its k segments keyed by (text, start);
    probe side emits every substring whose length any partner's segment
    could take (lengths ``floor((m-d)/k) .. ceil((m+d)/k)``, all
    positions); candidates = verbatim gram matches within the position
    window. EXACT — every qualifying pair meets; nothing source-keyed.

    Scale shape: emissions are O(k + prefix·len_range) ≈ 100 rows per
    document — LINEAR in the corpus; the join key is a ~``prefix/k``-char
    verbatim segment, so bucket sizes track real content overlap (hot
    boilerplate grams are the skew case and ``max_block`` caps them, the
    same guard every LSH operator here uses). Compare: blocking on a
    partition column whose cardinality does not grow with the corpus
    (e.g. ``source``) degenerates to per-block all-pairs — 100× data =
    10,000× candidate pairs. Here candidates grow with true duplicate
    mass instead. The bag-of-chars L1 lower bound (L1/2 <= levenshtein)
    prunes candidates before the O(prefix²) DP; verify is the JVM
    codegen ``levenshtein``. Returns ``(id_a, id_b, dist)``, id_a < id_b,
    distinct.
    """
    if max_dist < 1:
        # w = 2*max_dist is the position-bucket width — max_dist=0
        # would divide by zero; edit distance 0 is an exact-equality
        # join (hash-groupBy on the key), not a PassJoin problem
        raise ValueError(
            "max_dist must be >= 1; for exact duplicates use "
            "exact_dedup / a groupBy on the key instead"
        )
    k = max_dist + 1
    # position buckets join-key the shift window: seg start s and gram
    # start p with |s - p| <= max_dist satisfy
    # s div W ∈ {(p - max_dist) div W, (p + max_dist) div W} whenever
    # W >= 2*max_dist (the window spans at most two buckets) — so the
    # bucket can sit INSIDE the equi-join key instead of post-filtering
    # a W-times-fatter join output
    w = 2 * max_dist
    key = F.substring(F.lower(F.col(text_col)), 1, prefix)
    base = (
        df.select(F.col(id_col).alias("_id"), key.alias("_key"))
        .withColumn("_len", F.length("_key"))
        .filter(F.col("_len") > 0)
        .localCheckpoint(eager=False)
    )
    # index side: the k even segments of each key — seg i starts at
    # i*floor(l/k) + min(i, l%k), length floor(l/k) (+1 for i < l%k).
    # SLIM payload: only (id, seg, bucket) cross the join; keys and bag
    # signatures re-join onto the distinct candidate PAIRS afterwards
    segs = (
        base.select(
            F.col("_id").alias("_id1"),
            F.col("_key"),
            F.col("_len"),
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_i"),
        )
        .withColumn("_sb", F.floor(F.col("_len") / k).cast("int"))
        .withColumn("_sr", (F.col("_len") % k).cast("int"))
        .withColumn(
            "_start",
            F.col("_i") * F.col("_sb") + F.least(F.col("_i"), F.col("_sr")),
        )
        .withColumn(
            "_slen",
            F.col("_sb")
            + F.when(F.col("_i") < F.col("_sr"), F.lit(1)).otherwise(F.lit(0)),
        )
        .filter(F.col("_slen") > 0)
        .select(
            "_id1",
            "_start",
            F.col("_key").substr(F.col("_start") + 1, F.col("_slen")).alias("_seg"),
            F.floor(F.col("_start") / w).cast("int").alias("_bk"),
        )
    )
    # probe side: every substring whose length a partner segment could
    # take — partner lengths l in [m-d, m+d] give segment lengths in
    # [floor((m-d)/k), ceil((m+d)/k)]; each gram lands in the (at most
    # two) buckets its ±max_dist window touches
    lmin = F.greatest(
        F.lit(1), F.floor((F.col("_len") - max_dist) / k).cast("int")
    )
    lmax = F.floor((F.col("_len") + max_dist + k - 1) / k).cast("int")
    grams = (
        base.select(
            F.col("_id").alias("_id2"),
            F.col("_key"),
            F.col("_len"),
            F.explode(F.sequence(lmin, lmax)).alias("_gl"),
        )
        .filter(F.col("_len") >= F.col("_gl"))
        .select(
            "_id2", "_key", "_len", "_gl",
            F.explode(
                F.sequence(F.lit(0), F.col("_len") - F.col("_gl"))
            ).alias("_gp"),
        )
        .select(
            "_id2",
            "_gp",
            F.col("_key").substr(F.col("_gp") + 1, F.col("_gl")).alias("_seg"),
            F.explode(
                F.array_distinct(
                    F.array(
                        F.floor(
                            F.greatest(F.col("_gp") - max_dist, F.lit(0)) / w
                        ).cast("int"),
                        F.floor((F.col("_gp") + max_dist) / w).cast("int"),
                    )
                )
            ).alias("_bk"),
        )
    )
    if max_block is not None:
        # cap pathological grams (hot boilerplate) on the SMALL side —
        # the k-segments index; a dropped key can only be a segment so
        # common the pair is re-found via one of its other k-1 segments
        # in all but adversarial corpora
        hot = (
            segs.groupBy("_seg")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_block)
            .select("_seg")
        )
        segs = segs.join(F.broadcast(hot), on="_seg", how="left_anti")
    pairs = (
        segs.join(grams, on=["_seg", "_bk"])
        .filter(
            (F.col("_id1") != F.col("_id2"))
            & (F.abs(F.col("_start") - F.col("_gp")) <= max_dist)
        )
        .select(
            F.least("_id1", "_id2").alias("id_a"),
            F.greatest("_id1", "_id2").alias("id_b"),
        )
        .distinct()
    )
    # verify stage: fetch each side's key + bag-of-chars signature by id
    # (two id-keyed joins — linear; the pair set is already minimal),
    # prune by the exact L1/2 <= levenshtein lower bound, then the JVM
    # codegen DP
    bag = _bag()
    sides = base.select(
        "_id", F.col("_key"), F.col("_len"), bag.alias("_bag")
    )
    bag_l1 = _bag_l1("_ba", "_bb")
    return (
        pairs.join(
            sides.select(
                F.col("_id").alias("id_a"), F.col("_key").alias("_ka"),
                F.col("_len").alias("_la"), F.col("_bag").alias("_ba"),
            ),
            on="id_a",
        )
        .join(
            sides.select(
                F.col("_id").alias("id_b"), F.col("_key").alias("_kb"),
                F.col("_len").alias("_lb"), F.col("_bag").alias("_bb"),
            ),
            on="id_b",
        )
        .filter(
            (F.abs(F.col("_la") - F.col("_lb")) <= max_dist)
            & (bag_l1 <= 2 * max_dist)
        )
        .select(
            "id_a",
            "id_b",
            # threshold form: the banded DP costs O(len·max_dist) instead
            # of the full O(len²) table and returns -1 above the bound, so
            # the filter below is value-identical to `dist <= max_dist`
            F.levenshtein(F.col("_ka"), F.col("_kb"), max_dist).alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


def levenshtein_join(
    left: DataFrame,
    right: DataFrame,
    left_text: str,
    right_text: str,
    left_id: str,
    right_id: str,
    max_dist: int = 4,
    prefix: int = 40,
    max_block: int | None = 10_000,
) -> DataFrame:
    """Cross-TABLE fuzzy join (entity resolution): every (left, right)
    pair whose normalized key prefixes are within ``max_dist`` edits —
    matching a dirty feed against a canonical dimension (product names,
    venue strings, citation titles) without an all-pairs cross.

    Same EXACT PassJoin pigeonhole as
    :func:`levenshtein_near_dup_segments`, asymmetric: the RIGHT
    (canonical/dimension) side indexes its ``max_dist + 1`` even
    segments; the LEFT (probe) side emits every substring a partner
    segment could be. For any qualifying pair at least one right
    segment survives the ≤ d edits verbatim inside the left key
    (position-shifted ≤ d), so one direction of blocking suffices —
    candidates never require the left side to index. Slim join payload,
    distinct pairs before the verify joins, bag-of-chars L1 prune,
    JVM-codegen DP — identical discipline to the self-join. Returns
    ``(left_id, right_id, dist)``, distinct.

    Scale: left emissions ~prefix·3 per row (linear), right emissions
    k per row; at 100 TB the dimension side is typically orders smaller
    and the gram join buckets by content, growing with true match mass.
    """
    if max_dist < 1:
        # w = 2*max_dist is the position-bucket width — max_dist=0
        # would divide by zero; edit distance 0 is a plain equi-join
        raise ValueError(
            "max_dist must be >= 1; for exact matches use an "
            "equi-join on the normalized key instead"
        )
    k = max_dist + 1
    w = 2 * max_dist

    def _base(df, text, ident):
        key = F.substring(F.lower(F.col(text)), 1, prefix)
        return (
            df.select(F.col(ident).alias("_id"), key.alias("_key"))
            .withColumn("_len", F.length("_key"))
            .filter(F.col("_len") > 0)
            .localCheckpoint(eager=False)
        )

    rbase = _base(right, right_text, right_id)
    lbase = _base(left, left_text, left_id)
    segs = (
        rbase.select(
            F.col("_id").alias("_id1"),
            F.col("_key"),
            F.col("_len"),
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("_i"),
        )
        .withColumn("_sb", F.floor(F.col("_len") / k).cast("int"))
        .withColumn("_sr", (F.col("_len") % k).cast("int"))
        .withColumn(
            "_start",
            F.col("_i") * F.col("_sb") + F.least(F.col("_i"), F.col("_sr")),
        )
        .withColumn(
            "_slen",
            F.col("_sb")
            + F.when(F.col("_i") < F.col("_sr"), F.lit(1)).otherwise(F.lit(0)),
        )
        .filter(F.col("_slen") > 0)
        .select(
            "_id1",
            "_start",
            F.col("_key").substr(F.col("_start") + 1, F.col("_slen")).alias("_seg"),
            F.floor(F.col("_start") / w).cast("int").alias("_bk"),
        )
    )
    lmin = F.greatest(
        F.lit(1), F.floor((F.col("_len") - max_dist) / k).cast("int")
    )
    lmax = F.floor((F.col("_len") + max_dist + k - 1) / k).cast("int")
    grams = (
        lbase.select(
            F.col("_id").alias("_id2"),
            F.col("_key"),
            F.col("_len"),
            F.explode(F.sequence(lmin, lmax)).alias("_gl"),
        )
        .filter(F.col("_len") >= F.col("_gl"))
        .select(
            "_id2", "_key", "_len", "_gl",
            F.explode(
                F.sequence(F.lit(0), F.col("_len") - F.col("_gl"))
            ).alias("_gp"),
        )
        .select(
            "_id2",
            "_gp",
            F.col("_key").substr(F.col("_gp") + 1, F.col("_gl")).alias("_seg"),
            F.explode(
                F.array_distinct(
                    F.array(
                        F.floor(
                            F.greatest(F.col("_gp") - max_dist, F.lit(0)) / w
                        ).cast("int"),
                        F.floor((F.col("_gp") + max_dist) / w).cast("int"),
                    )
                )
            ).alias("_bk"),
        )
    )
    if max_block is not None:
        hot = (
            segs.groupBy("_seg")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > max_block)
            .select("_seg")
        )
        segs = segs.join(F.broadcast(hot), on="_seg", how="left_anti")
    pairs = (
        segs.join(grams, on=["_seg", "_bk"])
        .filter(F.abs(F.col("_start") - F.col("_gp")) <= max_dist)
        .select(
            F.col("_id2").alias(left_id), F.col("_id1").alias(right_id)
        )
        .distinct()
    )
    bag = _bag()
    bag_l1 = _bag_l1("_ba", "_bb")
    return (
        pairs.join(
            lbase.select(
                F.col("_id").alias(left_id), bag.alias("_ba"),
                F.col("_key").alias("_ka"), F.col("_len").alias("_la"),
            ),
            on=left_id,
        )
        .join(
            rbase.select(
                F.col("_id").alias(right_id), bag.alias("_bb"),
                F.col("_key").alias("_kb"), F.col("_len").alias("_lb"),
            ),
            on=right_id,
        )
        .filter(
            (F.abs(F.col("_la") - F.col("_lb")) <= max_dist)
            & (bag_l1 <= 2 * max_dist)
        )
        .select(
            left_id,
            right_id,
            # threshold form: the banded DP costs O(len·max_dist) instead
            # of the full O(len²) table and returns -1 above the bound, so
            # the filter below is value-identical to `dist <= max_dist`
            F.levenshtein(F.col("_ka"), F.col("_kb"), max_dist).alias("dist"),
        )
        .filter(F.col("dist") >= 0)
    )


def exact_dup_groups(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Duplicate-group summary: one row per distinct text with keeper id +
    duplicate count (the audit view of :func:`exact_dedup`)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# ------------------------------------------------------------- tokenization


def word_shingles(text_col: str, n: int = 3):
    """Distinct word n-gram shingles as an array column (lowercased)."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    if n == 1:
        return F.array_distinct(words)
    starts = F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(starts, lambda i: F.array_join(F.slice(words, i + 1, n), " "))
    )


# --------------------------------------------------------------- C8: MinHash


_MINHASH_P = 2147483647  # 2^31 - 1, Mersenne prime


def _splitmix64(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = x
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return z ^ (z >> 31)


def _perm_coeffs(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for permutation i, 0 < a,b < 2^31-1.

    Both hash h and coefficients live below 2^31, so ``h*a + b < 2^62``
    never wraps a Java long before the ``pmod`` (the silent-overflow trap
    of mixing 63-bit hashes with multiplicative permutations).
    """
    a = _splitmix64(2 * i) % (_MINHASH_P - 1) + 1
    b = _splitmix64(2 * i + 1) % _MINHASH_P
    return a, b


def _perm(a: int, b: int):
    """Single-argument lambda factory: PySpark counts lambda *parameters*
    (default args included) to pick the HOF arity, so capturing a/b via
    defaults breaks ``F.transform`` — capture via closure instead."""
    return lambda h: F.pmod(h * a + b, F.lit(_MINHASH_P))


def _md5_60(col):
    """First 60 bits of md5 as a positive int64 — the cross-engine hash:
    DuckDB reproduces it digit-for-digit (hex-fold of ``substr(md5, 1,
    15)``), which xxhash64 cannot, so the ``hash_mode="md5_60"`` variants
    of simhash/minhash are value-checkable against a SQL oracle."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _base_hash(col, hash_mode: str):
    if hash_mode == "xxhash64":
        return F.xxhash64(col)
    if hash_mode == "md5_60":
        return _md5_60(col)
    raise ValueError(f"unknown hash_mode: {hash_mode!r}")


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    shingle_n: int = 3,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document: ``sig[i] = min over shingles of
    perm_i(hash(shingle))``.

    Uses the classic "one base hash, k cheap derived permutations" trick
    ((a_i * h + b_i) mod p) so we evaluate the base hash once per
    shingle, not k times. All JVM-side expressions; signatures are
    ``array<bigint>``. ``hash_mode="md5_60"`` swaps the base hash for the
    cross-engine md5 fold (slower, oracle-checkable); the algorithm is
    hash-agnostic.

    Execution shape (guide §4.1): shingles EXPLODE to rows and the k
    minima run as plain ``min`` aggregates — higher-order ``transform``
    lambdas evaluate interpreted per element (k·|shingles| interpreted
    calls per document), while the explode+groupBy form keeps every
    permutation inside whole-stage codegen AND partial-aggregates
    map-side, so only k partial minima per document cross the exchange
    (measured 2.7s → 2.0s for the sf0.1 signature pass, bit-identical).
    Documents with no/NULL shingles re-enter via the left join with the
    same all-NULL signature the array form produced. One signature row
    per distinct id (ids are per-document keys for every caller).
    """
    df = _spread(df)
    ids = df.select(F.col(id_col))
    hashed = df.select(
        F.col(id_col), F.explode(word_shingles(text_col, shingle_n)).alias("_sh")
    ).select(
        F.col(id_col),
        F.pmod(_base_hash(F.col("_sh"), hash_mode), F.lit(_MINHASH_P)).alias("_h"),
    )
    aggs = []
    for i in range(num_hashes):
        a, b = _perm_coeffs(i)
        aggs.append(F.min(_perm(a, b)(F.col("_h"))).alias(f"_s{i}"))
    sigged = hashed.groupBy(id_col).agg(*aggs)
    return ids.join(sigged, on=id_col, how="left").select(
        F.col(id_col), F.array(*[F.col(f"_s{i}") for i in range(num_hashes)]).alias("minhash")
    )


def _band_explode(num_hashes: int, bands: int, hash_mode: str):
    """posexplode expression turning a ``minhash`` signature column into
    (band, bucket) rows: each band's signature slice is joined and
    re-hashed into the bucket key."""
    rows_per_band = num_hashes // bands
    return F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: _base_hash(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(F.col("minhash"), b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                ),
                hash_mode,
            ),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    max_bucket: int = 1000,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs via banded LSH + exact-Jaccard verification.

    shingle → minhash → band-hash → groupBy(band) self-join within bucket
    → distinct candidate pairs → verify exact Jaccard on the shingle sets.
    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.
    """
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, hash_mode)
    band_entries = sigs.select(
        F.col(id_col),
        _band_explode(num_hashes, bands, hash_mode).alias("band", "bucket"),
    )
    # guard: drop pathological buckets (boilerplate explosion) — logged size cap
    # Materialized once (lazily): both sides of the bucket self-join read
    # it, and without the checkpoint the whole shingle→64-permutation
    # signature pipeline would execute twice (alias-renamed exchanges
    # don't qualify for Spark's ReusedExchange).
    sized = (
        band_entries.withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
        )
        .filter(F.col("_n") <= max_bucket)
        .localCheckpoint(eager=False)
    )

    left = sized.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_a"))
    right = sized.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_b"))
    cand = (
        left.join(right, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        # materialized once (lazily): referenced twice below — without
        # this the whole minhash plan would execute twice
        .localCheckpoint(eager=False)
    )

    # verify only documents that appear in some candidate pair: at scale
    # candidates are a vanishing fraction of the corpus, so re-shingling
    # everything for the verify join would dominate the whole pipeline —
    # semi-join first, then shingle just the survivors
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = (
        _spread(df.join(cand_ids, on=id_col, how="left_semi"))
        .select(F.col(id_col), word_shingles(text_col, shingle_n).alias("sh"))
        # consumed as BOTH join sides below — without this cut the
        # corpus semi-join + re-shingle ran twice (two LeftSemi SMJs
        # over the doc table in the verify plan; at scale, two corpus
        # reads where one suffices)
        .localCheckpoint(eager=False)
    )
    a = sh.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    return verified


def stream_near_dup(
    stream_docs: DataFrame,
    hist_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.6,
    max_bucket: int = 1000,
    hash_mode: str = "md5_60",
) -> DataFrame:
    """C39 — streaming near-dup gate: every arriving document is checked
    against a STATIC historical corpus through the same MinHash-LSH
    geometry as :func:`minhash_lsh_pairs` — per-row signature, band
    explode, equi-join on (band, bucket) against the precomputed
    historical band table, then row-wise exact-Jaccard verification.
    Entirely STATELESS (no watermark, no state store): the history is a
    static table, so the identical plan runs on a ``readStream``
    micro-batch and on a batch frame — which is how the oracle checks
    it. The bucket-size guard applies to the HISTORICAL table only (a
    boilerplate bucket there would fan every matching stream row out by
    its size); stream rows are per-row work and need no guard.

    Emits one row per (stream_id, hist_id, band) hit — several bands can
    surface the same pair, identical jaccard each time; collapse with a
    downstream ``distinct`` (post-materialization, or in-stream via
    dropDuplicates + watermark). At 100 TB you would keep the band table
    thin (no shingle payload), semi-join candidates, and verify against
    a shingle table — the exact plan family of
    :func:`minhash_lsh_pairs`'s verify path; carrying the historical
    shingles on the band rows here trades that second lookup join for
    storage, the right call while history fits a broadcast-or-bucketed
    dimension.
    """
    hist_sh = _spread(hist_docs).select(
        F.col(id_col).alias("hist_id"),
        word_shingles(text_col, shingle_n).alias("_sh_h"),
    )
    hist_bands = (
        minhash_signatures(hist_docs, text_col, id_col, num_hashes, shingle_n, hash_mode)
        .select(
            F.col(id_col).alias("hist_id"),
            _band_explode(num_hashes, bands, hash_mode).alias("band", "bucket"),
        )
        .withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
        )
        .filter(F.col("_n") <= max_bucket)
        .drop("_n")
    )
    hist_table = hist_bands.join(hist_sh, on="hist_id").localCheckpoint(eager=False)

    # stream side: no _spread (repartition needs df.rdd, illegal on a
    # stream; micro-batches arrive pre-split anyway) — shingles ride
    # along with the signature so verification stays per-row
    s = stream_docs.select(
        F.col(id_col).alias("stream_id"),
        word_shingles(text_col, shingle_n).alias("_sh_s"),
    )
    hashed = s.select(
        "stream_id",
        "_sh_s",
        F.transform(
            "_sh_s", lambda sh: F.pmod(_base_hash(sh, hash_mode), F.lit(_MINHASH_P))
        ).alias("_h"),
    )
    sig = hashed.select(
        "stream_id",
        "_sh_s",
        F.array(
            *[
                F.array_min(F.transform(F.col("_h"), _perm(*_perm_coeffs(i))))
                for i in range(num_hashes)
            ]
        ).alias("minhash"),
    )
    stream_bands = sig.select(
        "stream_id",
        "_sh_s",
        _band_explode(num_hashes, bands, hash_mode).alias("band", "bucket"),
    )
    jac = F.size(F.array_intersect("_sh_s", "_sh_h")) / F.size(
        F.array_union("_sh_s", "_sh_h")
    )
    return (
        stream_bands.join(hist_table, on=["band", "bucket"])
        .filter(F.col("stream_id") != F.col("hist_id"))
        .select("stream_id", "hist_id", "band", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


# --------------------------------------------------------------- C8: SimHash


def simhash(
    df: DataFrame, text_col: str, id_col: str, hash_mode: str = "xxhash64"
) -> DataFrame:
    """SimHash per document (64-bit with xxhash64; 60-bit with the
    cross-engine ``md5_60`` hash): sign-sum of per-token hash bits,
    term-frequency weighted (each token *occurrence* votes, per Charikar's
    construction) — on small-vocabulary corpora a distinct-token vote
    makes every document hash nearly alike, so frequency weighting is
    what gives the fingerprint its discriminative power.

    Implemented as explode → per-bit vote aggregation → bit reassembly;
    one shuffle on the document id, all built-in expressions.
    """
    num_bits = 64 if hash_mode == "xxhash64" else 60
    toks = _spread(df).select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    ).withColumn("h", _base_hash(F.col("tok"), hash_mode))
    # NB: bit 63's mask must be built with shiftleft — F.lit(1 << 63) does
    # not fit a Java long and raises at plan time.
    def mask(i: int):
        return F.shiftleft(F.lit(1).cast("long"), i)

    bits = toks.select(
        F.col(id_col),
        *[
            F.when(F.col("h").bitwiseAND(mask(i)) != 0, 1).otherwise(-1).alias(f"b{i}")
            for i in range(num_bits)
        ],
    )
    votes = bits.groupBy(id_col).agg(
        *[F.sum(f"b{i}").alias(f"b{i}") for i in range(num_bits)]
    )
    sim = votes.select(
        F.col(id_col),
        sum(
            [
                F.when(F.col(f"b{i}") > 0, mask(i)).otherwise(F.lit(0).cast("long"))
                for i in range(num_bits)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return sim


# ------------------------------------------------- C8: embedding near-dup


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    method: str = "exact",
    num_tables: int = 8,
    num_bits: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: ``(id_a, id_b, cosine)``
    with ``id_a < id_b`` and ``cosine >= threshold``.

    * ``method="exact"`` — broadcast self-join over all pairs; the
      correctness baseline (O(n²) scoring, corpus streamed once past the
      broadcast copy — only viable when one side fits in a broadcast).
    * ``method="lsh"`` — random-hyperplane bucketing (same family as
      :func:`~neo4j_graphdb_spark.operators.similarity.lsh_cosine_topk`):
      only same-bucket pairs are scored; recall < 1 by design, measured
      against the exact baseline in tests. This is the 100 TB path —
      shuffle key (table, bucket), no quadratic pair space.
    """
    from neo4j_graphdb_spark.operators.similarity import cosine, lsh_bucket

    v = df.select(
        F.col(id_col), F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v")
    )
    if method == "exact":
        a = v.select(F.col(id_col).alias("id_a"), F.col("_v").alias("_va"))
        b = v.select(F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"))
        pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    elif method == "lsh":
        if dim is None:
            raise ValueError("method='lsh' requires dim")
        parts = []
        for t in range(num_tables):
            parts.append(
                v.select(
                    F.col(id_col),
                    F.col("_v"),
                    F.lit(t).alias("_t"),
                    lsh_bucket(F.col("_v"), dim, t, num_bits).alias("_b"),
                )
            )
        bucketed = parts[0]
        for p in parts[1:]:
            bucketed = bucketed.unionByName(p)
        # both self-join sides read this frame; without the cut the
        # num_tables hyperplane-projection passes (HOF dot products per
        # row) execute twice
        bucketed = bucketed.localCheckpoint(eager=False)
        a = bucketed.select("_t", "_b", F.col(id_col).alias("id_a"), F.col("_v").alias("_va"))
        b = bucketed.select("_t", "_b", F.col(id_col).alias("id_b"), F.col("_v").alias("_vb"))
        pairs = (
            a.join(b, on=["_t", "_b"])
            .filter(F.col("id_a") < F.col("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        raise ValueError(f"unknown method: {method}")
    return (
        pairs.select(
            "id_a", "id_b", cosine(F.col("_va"), F.col("_vb")).alias("cosine")
        )
        .filter(F.col("cosine") >= threshold)
    )


# ----------------------------------------------------- C8: blocked n-gram Jaccard


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-n-gram Jaccard over pairs that share a blocking key.

    The SQL-expressible baseline for C8 (oracle-checkable): blocking keeps
    the pair space linear-ish; the join is an equi-join on the block key.
    Returns ``(id_a, id_b, jaccard)`` with ``id_a < id_b``.
    """
    sh = _spread(df).select(
        *[F.col(c) for c in block_cols],
        F.col(id_col),
        word_shingles(text_col, shingle_n).alias("sh"),
    # both self-join sides read this frame; the checkpoint stops the
    # tokenize+shingle pass (and the upstream scan) running twice
    ).localCheckpoint(eager=False)
    a = sh.select(*block_cols, F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(*block_cols, F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        a.join(b, on=block_cols)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def near_dup_clusters(
    df: DataFrame, pairs: DataFrame, id_col: str, max_rounds: int = 6
) -> DataFrame:
    """Pairs → duplicate CLUSTERS → canonical survivors — the step every
    production dedup pipeline runs after candidate verification: near-dup
    relations are not transitive, so A≈B and B≈C chain into one group
    that must keep exactly one representative.

    Connected components over the verified-pair graph by min-id flooding
    (duplicate clusters have tiny diameters — a handful of supersteps —
    so flooding beats star-contraction's constant factor here), then
    ``is_canonical = (id == cluster min)``. Every document appears:
    singletons are their own canonical cluster. Returns
    ``(id_col, cluster, is_canonical)``.

    Fixed-round semantics: flooding early-exits only at the fixpoint, so
    results equal the ``max_rounds``-round unroll the SQL oracle runs.
    """
    from neo4j_graphdb_spark.graph.algorithms import _cc_min_propagation

    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    nodes = df.select(F.col(id_col).alias("node_id"))
    comp = _cc_min_propagation(nodes, edges, max_iter=max_rounds)
    return comp.select(
        F.col("id").alias(id_col),
        F.col("comp").alias("cluster"),
        (F.col("id") == F.col("comp")).alias("is_canonical"),
    )


def quality_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    score,
    max_rounds: int = 6,
) -> DataFrame:
    """Quality-aware near-dup deduplication — the production refinement
    of :func:`near_dup_clusters`'s min-id canonicalization: within each
    duplicate cluster KEEP THE BEST document (highest ``score``, ties
    toward the smallest id), not the arbitrarily-smallest id. This is
    the standard curation move (C4/RefinedWeb lineage): when a page
    exists as amp/mobile/print variants, keep the longest/cleanest one.

    ``score`` is a Column evaluated over ``df`` (token count, a quality
    model's output column — anything orderable); ``id_col`` must be
    numeric (the tie-break negates it). Returns one row per input doc:
    ``(id_col, cluster, quality, is_kept)``.

    100 TB shape: clustering is the flooding CC (tiny diameters); the
    per-cluster argmax is ONE map-side-combined ``max_by`` aggregation —
    no per-cluster sort, no window over the corpus — and the winner
    table joins back on the cluster id."""
    clusters = near_dup_clusters(df, pairs, id_col, max_rounds)
    scored = df.select(F.col(id_col), score.alias("quality"))
    j = scored.join(clusters.select(id_col, "cluster"), on=id_col)
    best = j.groupBy("cluster").agg(
        F.expr(
            f"max_by({id_col}, struct(quality, -{id_col}))"
        ).alias("_keep")
    )
    return (
        j.join(best, on="cluster")
        .select(
            id_col,
            "cluster",
            "quality",
            (F.col(id_col) == F.col("_keep")).alias("is_kept"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    max_df: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """C50 — asymmetric containment near-dup: ordered pairs where
    ``|A∩B| / |A| ≥ threshold`` over word-shingle sets — the
    subset-duplicate detector (a boilerplate page embedded inside a
    longer one has LOW Jaccard but containment ≈ 1, so MinHash-LSH
    never surfaces it; containment is the Broder measure built for
    exactly that).

    Blocking is by RARE shingles (document frequency ≤ ``max_df``) —
    the entity-resolution move: a shingle shared by few documents is
    discriminative, and the per-shingle pair fan-out is bounded by
    ``max_df²``, so candidate generation never quadratically explodes
    on common phrases. The exact intersection count then runs only
    over candidate documents' postings (semi-join restricted), and
    containment divides by each side's own set size — one exact
    integer ratio per direction.

    Trade-off (documented, same as LSH's): a true subset pair sharing
    ONLY ultra-common shingles is missed; lower ``max_df`` = faster +
    blinder, higher = slower + sharper.

    Returns ``(src, dst, n_shared, containment)`` — containment of
    ``src`` in ``dst``, both orientations of a pair when both clear
    the threshold.
    """
    st = (
        df.select(
            F.col(id_col).alias("_id"),
            F.explode(word_shingles(text_col, shingle_n)).alias("_sh"),
        )
        .filter(F.col("_sh") != "")
        .localCheckpoint(eager=False)
    )
    sizes = st.groupBy("_id").agg(F.count(F.lit(1)).alias("_sz"))
    rare = (
        st.groupBy("_sh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("_sh")
    )
    rst = st.join(rare, on="_sh", how="left_semi")
    cand = (
        rst.select(F.col("_id").alias("a"), "_sh")
        .join(rst.select(F.col("_id").alias("b"), "_sh"), on="_sh")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    cdocs = (
        cand.select(F.col("a").alias("_id"))
        .unionByName(cand.select(F.col("b").alias("_id")))
        .distinct()
    )
    stc = st.join(cdocs, on="_id", how="left_semi")
    shared = (
        stc.select(F.col("_id").alias("a"), "_sh")
        .join(stc.select(F.col("_id").alias("b"), "_sh"), on="_sh")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("_inter"))
        .join(cand, on=["a", "b"], how="left_semi")
        .join(sizes.select(F.col("_id").alias("a"), F.col("_sz").alias("_sza")), on="a")
        .join(sizes.select(F.col("_id").alias("b"), F.col("_sz").alias("_szb")), on="b")
        .localCheckpoint(eager=False)
    )
    fwd = shared.select(
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        F.col("_inter").alias("n_shared"),
        (F.col("_inter") / F.col("_sza")).alias("containment"),
    )
    rev = shared.select(
        F.col("b").alias("src"),
        F.col("a").alias("dst"),
        F.col("_inter").alias("n_shared"),
        (F.col("_inter") / F.col("_szb")).alias("containment"),
    )
    return (
        fwd.unionByName(rev)
        .filter(F.col("containment") >= threshold)
        .select("src", "dst", "n_shared", F.round("containment", 6).alias("containment"))
    )


def semdedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): cluster the embedding
    space with k-means, then prune near-duplicate items WITHIN each
    cluster — the trick that makes semantic dedup tractable where the
    all-pairs cosine matrix is not (pair generation is bounded by
    Σ cluster_size², controlled by ``k``, instead of n²).

    Pruning policy is deterministic greedy-by-id: an item drops iff some
    LOWER-id member of its cluster sits above ``threshold`` cosine (the
    paper keeps extreme-from-centroid representatives; min-id is the
    order-free engine-agnostic equivalent, and what makes the pass
    SQL-replayable). Returns ``(id_col, cluster, keep)`` for every
    vector.

    Scale shape: the k-means fit is :func:`similarity.kmeans_fit`
    (broadcast argmax assignment, one shuffle per Lloyd round); the
    within-cluster pair join shuffles once on the cluster id; nothing
    ever compares across clusters. A skewed giant cluster is the knob's
    fault — raise ``k`` (the paper runs k ≈ √n or larger).
    """
    from neo4j_graphdb_spark.operators.similarity import cosine, kmeans_fit

    cents = kmeans_fit(emb, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    c = emb.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_cv"),
    )
    ct = cents.select(
        F.col("centroid_id").alias("_cent"), F.col("centroid").alias("_cent_v")
    )
    assigned = (
        c.crossJoin(F.broadcast(ct))
        .select(
            F.col(id_col),
            "_cv",
            "_cent",
            cosine(F.col("_cv"), F.col("_cent_v")).alias("_ac"),
        )
        .groupBy(id_col)
        .agg(
            F.expr("max_by(_cent, struct(_ac, -_cent))").alias("cluster"),
            F.first("_cv").alias("_cv"),
        )
        .localCheckpoint(eager=False)  # reused by both pair sides + output
    )
    lhs = assigned.select(
        F.col("cluster"), F.col(id_col).alias("_ida"), F.col("_cv").alias("_va")
    )
    rhs = assigned.select(
        F.col("cluster"), F.col(id_col).alias("_idb"), F.col("_cv").alias("_vb")
    )
    dropped = (
        lhs.join(rhs, on="cluster")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(cosine(F.col("_va"), F.col("_vb")) > threshold)
        .select(F.col("_idb").alias(id_col))
        .distinct()
    )
    return assigned.join(
        dropped.withColumn("_drop", F.lit(True)), on=id_col, how="left"
    ).select(
        id_col,
        "cluster",
        F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"),
    )


def remove_boilerplate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_words: int = 10,
    min_df: int = 2,
) -> DataFrame:
    """C4-style boilerplate REMOVAL (Raffel et al. 2020 §2.2 lineage):
    chunk every document's token stream into fixed ``chunk_words``-word
    blocks, call a block boilerplate when it appears verbatim in
    ``min_df``-or-more DISTINCT documents (headers, footers, cookie
    banners — the cross-doc repeated furniture), and rebuild each
    document from its surviving blocks in order.

    The reference has no curation ops at all (it stores raw crawl text,
    /root/reference/src/crwling.py:37-43); this is the transformation
    sibling of the c86 duplicated-span STATS.

    Returns ``(id_col, clean_text, n_removed)``.

    100 TB shape: linear in corpus tokens, no pairwise comparisons —
    one explode to blocks, one map-side-combined
    ``groupBy(block).countDistinct(doc)`` (the 16-byte md5 shuffles, not
    the block text), one broadcast-or-hash left join back, one
    ``groupBy(doc)`` ordered reassembly. Boilerplate blocks are by
    definition high-frequency, so the df table is tiny relative to the
    corpus and the join side is dimension-sized.
    """
    cw = chunk_words
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_chunks = F.ceil(F.size(words) / F.lit(cw)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - F.lit(1)),
        lambda i: F.array_join(F.slice(words, i * cw + 1, cw), " "),
    )
    # posexplode_outer: a NULL text yields a NULL chunk array, which a
    # plain posexplode would drop entirely — the doc must still come out
    # the other side with clean_text = '' (the per-doc output contract),
    # not vanish. The NULL placeholder row carries a NULL _h, which can
    # never match a boilerplate hash in the join below.
    ex = docs.select(
        F.col(id_col), F.posexplode_outer(chunks).alias("_blk", "_chunk")
    ).withColumn("_h", F.md5("_chunk"))
    boiler = (
        ex.groupBy("_h")
        .agg(F.countDistinct(id_col).alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("_h", F.lit(1).alias("_bp"))
    )
    flagged = ex.join(boiler, on="_h", how="left")
    return flagged.groupBy(id_col).agg(
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_bp").isNull(),
                                F.struct("_blk", "_chunk"),
                            )
                        )
                    ),
                    lambda s: s["_chunk"],
                ),
                " ",
            ),
            F.lit(""),
        ).alias("clean_text"),
        F.sum(F.coalesce(F.col("_bp"), F.lit(0))).cast("bigint").alias("n_removed"),
    )


def remove_duplicated_spans(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """ExactSubstr-style duplicated-span REMOVAL (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" §4.1
    lineage): every ``window``-token sliding span is hashed (lowercased
    tokens, same geometry as ``functions.text.dup_span_stats``); a span
    occurring in ``min_docs``-or-more DISTINCT documents marks ALL the
    token positions it covers, and each document is rebuilt from its
    uncovered tokens in order. The transformation sibling of the c86
    span STATS — stats tell you how contaminated a corpus is, this op
    actually cuts the verbatim cross-doc repetition that drives
    memorization. The reference stores raw crawl text with no curation
    at all (/root/reference/src/crwling.py:37-43).

    Returns ``(id_col, clean_text, n_tokens, n_removed)`` — one row per
    input document (short and NULL-text docs included, untouched).

    100 TB shape: linear in corpus tokens — the span explode is the
    usual one-row-per-token pass, duplicate detection is ONE
    map-side-combined ``groupBy(span_hash)`` (16-byte md5 shuffles, not
    the text), and coverage expands ONLY the flagged spans by the
    window factor (cost ∝ duplicated tokens × window, not corpus ×
    window). All joins key on (doc, position) or the span hash; no
    pairwise document comparison anywhere.
    """
    from neo4j_graphdb_spark.session import spread_partitions

    t = F.trim(F.coalesce(F.col(text_col), F.lit("")))
    base = spread_partitions(docs).select(
        F.col(id_col),
        F.split(t, r"\s+").alias("_w"),
        F.split(F.lower(t), r"\s+").alias("_lw"),
    ).withColumn("_n", F.size("_w"))
    base = base.localCheckpoint(eager=False)  # reused: spans + tokens + totals
    spans = base.filter(F.col("_n") >= window).select(
        id_col,
        F.col("_lw"),
        F.explode(
            F.sequence(F.lit(1), F.col("_n") - F.lit(window - 1))
        ).alias("_i"),
    ).select(
        id_col,
        "_i",
        F.md5(
            F.concat_ws(" ", F.slice(F.col("_lw"), F.col("_i"), window))
        ).alias("_span"),
    )
    spans = spans.localCheckpoint(eager=False)  # reused: dup build + flag join
    dup = (
        spans.select("_span", id_col)
        .distinct()
        .groupBy("_span")
        .agg(F.count(F.lit(1)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_span")
    )
    covered = (
        spans.join(dup, on="_span", how="left_semi")
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("_i"), F.col("_i") + F.lit(window - 1))
            ).alias("_pos"),
        )
        .distinct()
    )
    tokens = base.select(
        id_col, F.posexplode(F.col("_w")).alias("_p0", "_tok")
    ).select(id_col, (F.col("_p0") + 1).alias("_pos"), "_tok")
    survivors = tokens.join(covered, on=[id_col, "_pos"], how="left_anti")
    kept = survivors.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_pos", "_tok"))),
                lambda s: s["_tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    return (
        base.select(id_col, F.col("_n"))
        .join(kept, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.col("_n").cast("bigint").alias("n_tokens"),
            (F.col("_n") - F.coalesce("_n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


def _hamming_band_slices(
    df: DataFrame,
    hash_col: str,
    id_col: str,
    out_id: str,
    out_hash: str,
    bands: int,
    max_distance: int,
) -> DataFrame:
    """Shared candidate-generation front of :func:`hamming_near_dup` and
    :func:`stream_hamming_near_dup`: validate the 64-bit band geometry
    (``bands`` must divide 64; pigeonhole needs ``bands > max_distance``)
    and explode each hash into one ``(_band, _val)`` slice row per band.
    One construction point, so the slicing and its guards cannot diverge
    between the batch and streaming variants."""
    if not 64 % bands == 0:
        raise ValueError("bands must divide 64")
    if max_distance > bands - 1:
        raise ValueError(
            f"max_distance={max_distance} needs bands > max_distance "
            f"(pigeonhole guarantee); got bands={bands}"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    # NULL hashes (missing payloads — bmp_dhash_bits(None) is None) carry
    # no perceptual signal: drop them here, the single shared entry of
    # both variants, so they can never surface as candidates
    df = df.filter(F.col(hash_col).isNotNull())
    return df.select(
        F.col(id_col).alias(out_id),
        F.col(hash_col).alias(out_hash),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col(hash_col), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("_b"),
    ).select(
        out_id,
        out_hash,
        F.col("_b.band").alias("_band"),
        F.col("_b.val").alias("_val"),
    )


def hamming_near_dup(
    hashes: DataFrame,
    hash_col: str = "dhash",
    id_col: str = "media_id",
    max_distance: int = 3,
    bands: int = 4,
    max_bucket: int = 10000,
) -> DataFrame:
    """Near-duplicate pairs under HAMMING distance over a 64-bit
    perceptual hash (the image twin of MinHash-LSH): split the hash into
    ``bands`` equal bit-slices — by pigeonhole, two hashes within
    ``bands - 1`` differing bits share at least one identical slice — so
    candidate generation is one ``groupBy(band, slice)`` self-join, and
    the exact ``bit_count(xor)`` verify runs only on candidates.

    Returns ``(a, b, distance)`` with a < b, distance <= max_distance.

    100 TB shape: hashes are 8 bytes/row; candidates come from
    equality-bucketed band joins (never all-pairs), ``max_bucket`` drops
    degenerate slices (e.g. the all-zero band of blank images) exactly
    like minhash_lsh_pairs' guard, and the verify join moves two longs
    per candidate.
    """
    # 16 bytes/row — materialize once so the band self-join's branches
    # (and the bucket-size guard) never re-run the upstream decode stage
    h = hashes.select(
        F.col(id_col).alias("_id"), F.col(hash_col).alias("_h")
    ).localCheckpoint(eager=False)
    slices = _hamming_band_slices(h, "_h", "_id", "_id", "_h", bands, max_distance)
    sizes = slices.groupBy("_band", "_val").agg(F.count(F.lit(1)).alias("_n"))
    guarded = slices.join(
        sizes.filter(F.col("_n") <= max_bucket).select("_band", "_val"),
        on=["_band", "_val"],
        how="left_semi",
    )
    left = guarded.select(
        F.col("_band"), F.col("_val"), F.col("_id").alias("a"), F.col("_h").alias("_ha")
    )
    right = guarded.select(
        F.col("_band"), F.col("_val"), F.col("_id").alias("b"), F.col("_h").alias("_hb")
    )
    cand = (
        left.join(right, on=["_band", "_val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "_ha", "_hb")
        .distinct()
    )
    return (
        cand.withColumn(
            "distance",
            F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb"))).cast("int"),
        )
        .filter(F.col("distance") <= max_distance)
        .select("a", "b", "distance")
    )


def stream_hamming_near_dup(
    stream_hashes: DataFrame,
    hist_hashes: DataFrame,
    hash_col: str = "dhash",
    id_col: str = "media_id",
    max_distance: int = 3,
    bands: int = 4,
    max_bucket: int = 10000,
) -> DataFrame:
    """C95 — streaming perceptual-hash gate (the image twin of c39's
    MinHash stream gate): every arriving image hash is checked against a
    STATIC historical hash table through the same hamming-LSH geometry
    as :func:`hamming_near_dup` — band-slice explode per row, equality
    join on (band, slice) against the precomputed historical slice
    table, ``bit_count(xor)`` verify per candidate. Entirely STATELESS
    (no watermark, no state store): the history is a static table, so
    the identical plan runs on a ``readStream`` micro-batch and on a
    batch frame — which is how the oracle checks it.

    The ``max_bucket`` guard applies to the HISTORY only (a degenerate
    slice there — e.g. the all-zero band of blank images — would fan
    every matching stream row out by its size); stream rows are per-row
    work. Emits one row per (stream_id, hist_id, band) hit with the
    exact distance — several bands can surface the same pair; collapse
    with a downstream ``distinct``/``dropDuplicates``.
    """
    hist = (
        _hamming_band_slices(
            hist_hashes, hash_col, id_col, "hist_id", "_hh", bands, max_distance
        )
        .withColumn(
            "_n", F.count(F.lit(1)).over(Window.partitionBy("_band", "_val"))
        )
        .filter(F.col("_n") <= max_bucket)
        .drop("_n")
        .localCheckpoint(eager=False)
    )
    s = _hamming_band_slices(
        stream_hashes, hash_col, id_col, "stream_id", "_sh", bands, max_distance
    )
    return (
        s.join(hist, on=["_band", "_val"])
        .withColumn(
            "distance",
            F.bit_count(F.col("_sh").bitwiseXOR(F.col("_hh"))).cast("int"),
        )
        .filter(F.col("distance") <= max_distance)
        .select("stream_id", "hist_id", F.col("_band").alias("band"), "distance")
    )
