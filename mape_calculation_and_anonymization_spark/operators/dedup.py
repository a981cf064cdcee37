"""Deduplication operators for large-scale document corpora.

North-star extension surface (BASELINE.json): the reference itself has
only row-level dedup on tiny key tables (A4); a 100 TB training-data
pipeline needs corpus dedup. Everything here is expressed with
built-in array/hash functions so it stays inside whole-stage codegen —
the ONLY Python on a hot path is the simhash signature (bit-twiddling
over token arrays, vectorized with numpy over Arrow batches).

Operators:
  * exact dedup           — hash groupBy on content (or any key set)
  * MinHash + LSH near-dup — shingle → minhash signature → banded
    bucket join → exact-Jaccard verification
  * SimHash near-dup       — 64-bit signature + chunk banding +
    popcount Hamming verification
  * n-gram Jaccard         — exact set similarity on token shingles

Scale notes: the LSH bucket join shuffles on (band, hash) — candidate
generation is linear in corpus size, never a cross join. Pathological
buckets (a value duplicated millions of times) are capped with
``max_bucket_size`` before the pair expansion to bound the quadratic
blowup; capped buckets are all-duplicates anyway and are reported via
the exact path.
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .rebalance import ensure_min_partitions

# ---------------------------------------------------------------------------
# shingling (all JVM-side)
# ---------------------------------------------------------------------------


def tokens(col: str | Column, lowercase: bool = True) -> Column:
    """Distinct whitespace tokens as an array (unigram set)."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    return F.array_distinct(F.split(F.trim(c), r"\s+"))


def char_shingles(col: str | Column, k: int = 5, lowercase: bool = True) -> Column:
    """Distinct character k-grams. Built from sequence+transform so the
    whole shingling stays in codegen (no UDF)."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    # substring is 1-based; guard short strings with greatest(…,1)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(c) - F.lit(k - 1), F.lit(1))),
            lambda i: c.substr(i, F.lit(k)),
        )
    )


def word_ngrams(col: str | Column, n: int = 3, lowercase: bool = True) -> Column:
    """Distinct word n-grams (space-joined).

    Built as n−1 chained zip_with ops over shifted slices — one walk
    of the token array per zip (the same trick as
    ``text.word_bigrams``); the index-based form
    ``transform(sequence(0, sz−n), i → array_join(slice(toks, i+1,
    n)))`` re-slices per index and measured ~2× slower on the sf0.1
    corpus. Documents shorter than ``n`` tokens yield their whole
    text as one (short) gram — identical to the historical
    slice-takes-what-exists behavior."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    toks = F.split(F.trim(c), r"\s+")
    m = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    grams = F.slice(toks, 1, m)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, 1 + j, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.array_distinct(
        F.when(F.size(toks) >= n, grams).otherwise(
            F.array(F.array_join(toks, " "))
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact SET Jaccard over two token arrays. Inputs are
    deduplicated first: array_intersect already returns distinct
    elements, so raw |A|+|B| lengths would deflate the union term
    whenever a shingle repeats (['x','x'] vs itself would score 1/3,
    not 1 — caught by the hypothesis self-similarity property). Union
    via |A|+|B|−|A∩B| to avoid a second intersect pass."""
    da, db = F.array_distinct(a), F.array_distinct(b)
    inter = F.size(F.array_intersect(da, db))
    union = F.size(da) + F.size(db) - inter
    return F.try_divide(inter.cast("double"), union.cast("double"))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def normalized_fingerprint(col: str | Column) -> Column:
    """Content fingerprint for exact dedup: md5 over the
    whitespace-normalized, lowercased text (collapse runs of
    whitespace to one space, trim, lower). 16 bytes per document —
    the unit of both the batch fingerprint store (dedup_incremental)
    and the streaming first-seen filter
    (streaming/windows.py:streaming_fingerprint_dedup); sharing ONE
    definition here is what makes their outputs comparable."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.trim(F.regexp_replace(c, r"\s+", " "))))


def duplicated_span_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Cross-document DUPLICATED-SPAN statistics — the verbatim-
    substring dedup signal of Lee et al., "Deduplicating Training
    Data Makes Language Models Better" (2021), at word-shingle
    granularity: a position is duplicated when its ``n``-token
    shingle occurs ≥2 times in the whole corpus (counting
    multiplicity — within-doc repetition flags itself too). One row
    per document with ≥1 shingle: ``n_shingles``, ``n_dup_spans``,
    ``dup_fraction`` — the drop/trim decision surface for
    boilerplate- and template-heavy training text (near-dup document
    matching misses PARTIAL overlap entirely; this is the
    position-level complement).

    Scale shape (the corpus-scale rules): shingles are assembled by
    ONE per-row ``transform(sequence(...), i -> concat_ws(slice))``
    pass over each document's token array — a single interpreted-HOF
    walk per document (NOT the bands×rows re-walk the md5-banding
    caveat is about), chosen over the explode + per-doc ``lead()``
    window alternative because the window costs a corpus-wide
    SHUFFLE+SORT on the document key while this is shuffle-free
    (measured 8.3s → ~1s at 200 vanilla shuffle partitions). The dup
    decision is a window COUNT over the shingle key — one shuffle of
    the shingle stream and one derivation of it (the earlier
    aggregate + join-back shape paid both twice); the per-doc rollup
    re-aggregates on the id. Every primitive is engine-portable
    (split/lower/trim/concat), so a SQL oracle re-derives identical
    spans."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    shingled = docs.select(
        F.col(id_col), F.explode(grams).alias("_shingle")
    )
    # the frequency decision is a WINDOW count over the shingle key
    # (round 17), not the earlier groupBy(count) + join-back: the join
    # shape derived the corpus-scale shingle stream TWICE (the
    # aggregate side and the probe side each re-ran the split/HOF/
    # explode scan) and shuffled it twice; the window derives it once
    # and shuffles it once, paying only a partition-local sort on the
    # same key. Hot-shingle skew is identical in both shapes (a hash
    # join keys the probe side on _shingle too).
    w = Window.partitionBy("_shingle")
    return (
        shingled.withColumn("_cnt", F.count(F.lit(1)).over(w))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("_cnt") >= 2).cast("long")).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_fraction",
            F.round(
                F.col("n_dup_spans") / F.col("n_shingles").cast("double"), 6
            ),
        )
    )


def exact_substring_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Cross-document EXACT-SUBSTRING remove-span plan — the
    actionable sequel to :func:`duplicated_span_stats` and the
    word-shingle rendition of Lee et al. 2021's ExactSubstr dedup
    (the paper removes every duplicated byte span, keeping one
    occurrence): one output row per maximal token interval to CUT
    from a document. Every non-canonical occurrence of a duplicated
    shingle is covered by some span; the canonical occurrence's START
    is never one (though a merged neighbor span may clip its tail
    tokens — the same boundary fuzz the paper's byte-level cuts have).

    Semantics, deterministically: a position ``(doc, pos)`` is
    removable when its shingle occurs ≥2 times corpus-wide (within-doc
    repetition included) AND it is not the shingle's CANONICAL
    occurrence — the lexicographically minimal ``(doc_id, pos)`` —
    which is the one copy kept. Removable positions cover token
    intervals ``[pos, pos+n-1]``; overlapping/adjacent intervals merge
    (gaps-and-islands) into maximal spans. Docs with no removable
    position emit nothing.

    Scale shape: shingle assembly is the same single shuffle-free
    HOF pass as duplicated_span_stats; the canonical + frequency
    decision is ONE unordered window over the shingle key
    (``count, min(struct(doc_id, pos))`` in the same Window node) —
    a single shuffle and a single derivation of the shingle stream,
    where the earlier aggregate + join-back shape paid both twice;
    the interval merge windows on the DOCUMENT key over removable
    positions only — a stream orders of magnitude smaller than the
    corpus.
    Every primitive is engine-portable, so a SQL twin re-derives
    identical spans (window-numbered canonical + islands merge).
    """
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # 0-based token position via posexplode
    shingled = docs.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "_shingle")
    )
    # count + canonical as WINDOW aggregates over the shingle key
    # (round 17, same rationale as duplicated_span_stats): the old
    # groupBy(count, min(struct)) + join-back derived and shuffled
    # the corpus-scale shingle stream twice; one unordered window
    # computes both aggregates from a single derivation and a single
    # shuffle (both frames are unbounded, so Catalyst folds them into
    # one Window node). Skew profile unchanged — the join keyed the
    # probe side on _shingle too.
    ws = Window.partitionBy("_shingle")
    removable = (
        shingled.select(
            id_col,
            "pos",
            F.count(F.lit(1)).over(ws).alias("_cnt"),
            F.min(F.struct(F.col(id_col), F.col("pos")))
            .over(ws)
            .alias("_keep"),
        )
        .filter(
            (F.col("_cnt") >= 2)
            & ~(
                (F.col(f"_keep.{id_col}") == F.col(id_col))
                & (F.col("_keep.pos") == F.col("pos"))
            )
        )
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    # a position can carry several duplicated shingles but must merge
    # only once — deduplicate INSIDE the document window (round 17):
    # the former ``.distinct()`` paid its own exchange on (id, pos)
    # before the island windows re-exchanged on the id; after the sort
    # by pos, equal positions are adjacent, so keeping each run's
    # first row (lag(pos) != pos) is the same distinct set, computed
    # on the island windows' OWN exchange — the filter preserves the
    # (id)-partitioning and pos-ordering, so the island passes below
    # add no further shuffle or sort.
    removable = removable.withColumn(
        "_dup_pos", F.lag("pos").over(w) == F.col("pos")
    ).filter(~F.coalesce(F.col("_dup_pos"), F.lit(False))).drop("_dup_pos")
    # island break: this interval starts beyond every previous end + 1
    prev_end = F.max(F.col("pos") + F.lit(n - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = removable.withColumn(
        "_new_island",
        F.when(
            prev_end.isNull() | (F.col("pos") > prev_end + 1), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn(
        "_island",
        F.sum("_new_island").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(n - 1)).alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )


def gated_cluster_representatives(
    members: DataFrame,
    cluster_col: str = "cluster",
    id_col: str = "doc_id",
    quality_col: str = "quality",
    passed_col: str = "passed",
) -> DataFrame:
    """Quality-GATE-aware near-dup representative selection: the
    keep/drop fusion of the keep-best pick (highest ``quality_col``,
    id tie-break) with hard quality gates — a cluster's
    representative must PASS the gates, and a cluster none of whose
    members pass is an explicit whole-cluster DROP (``kept_id``
    NULL) rather than a silently-kept bad doc. The decision surface
    a curation pipeline actually applies: near-dup sets where every
    copy is boilerplate-flooded should yield nothing, not their
    least-bad copy.

    Input: one row per cluster member with a boolean ``passed_col``
    (NULLs treated as FAIL upstream) and a numeric ``quality_col``.
    Output per cluster: ``kept_id``/``kept_quality`` (NULL when no
    member passes), ``n_members``, ``n_pass``.

    Shape: ONE window partitioning (cluster) serves the rank, the
    member count, and the pass count — ordering by
    ``(passed DESC, quality DESC, id)`` makes row 1 the gated winner
    exactly when one exists, so no second pass or join-back. Cluster
    cardinality is near-dup-group-sized; the window never sees the
    corpus, only the cluster map."""
    from pyspark.sql import Window

    w = Window.partitionBy(cluster_col).orderBy(
        F.col(passed_col).desc(), F.col(quality_col).desc(), F.col(id_col)
    )
    w_all = Window.partitionBy(cluster_col)
    return (
        members.withColumn("_rn", F.row_number().over(w))
        .withColumn("n_members", F.count(F.lit(1)).over(w_all))
        .withColumn(
            "n_pass", F.sum(F.col(passed_col).cast("long")).over(w_all)
        )
        .filter(F.col("_rn") == 1)
        .select(
            cluster_col,
            F.when(F.col(passed_col), F.col(id_col)).alias("kept_id"),
            F.when(F.col(passed_col), F.col(quality_col)).alias(
                "kept_quality"
            ),
            "n_members",
            "n_pass",
        )
    )


def _bloom_probes(df: DataFrame, col: str, num_bits: int, num_hashes: int):
    """Per-row Bloom probe positions: ``num_hashes`` independent
    64-bit hashes (xxhash64 seeded by a literal salt column) mapped
    onto the ``num_bits`` bitmap, each emitted as the bitmap WORD it
    lands in plus the single-bit mask within that word. All built-in
    expressions — stays inside whole-stage codegen."""
    probes = F.array(
        *[
            F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(num_bits))
            for i in range(num_hashes)
        ]
    )
    return (
        df.select("*", F.explode(probes).alias("_pos"))
        .withColumn("_word", F.shiftright(F.col("_pos"), 6))
        .withColumn(
            "_mask",
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))"),
        )
        .drop("_pos")
    )


def bloom_bitmap(
    df: DataFrame, col: str, num_bits: int = 1 << 17, num_hashes: int = 5
) -> DataFrame:
    """Distributed Bloom-filter build as a plain DataFrame aggregate:
    one row per bitmap WORD that has at least one set bit —
    ``(_word, _bits)`` with ``_bits = bit_or`` of the members' masks.
    A commutative bit-or is partition-order independent, so the
    bitmap is deterministic; at ``num_bits = 2^17`` it is ≤ 2048 rows
    (16 KB) and broadcastable up to multi-GB history filters
    (``num_bits = 10^10`` ≈ 1.25 GB). Spark's native
    ``bloom_filter_agg``/``might_contain`` expressions are not
    SQL-registered in PySpark 4.1, and this word-table form keeps the
    probe join declarative (Catalyst broadcasts it) instead of
    smuggling a sketch blob through a scalar subquery."""
    return (
        _bloom_probes(df.select(F.col(col)), col, num_bits, num_hashes)
        .groupBy("_word")
        .agg(F.bit_or("_mask").alias("_bits"))
    )


def bloom_prefilter_anti_join(
    increment: DataFrame,
    store: DataFrame,
    fp_col: str,
    num_bits: int = 1 << 17,
    num_hashes: int = 5,
) -> DataFrame:
    """EXACTNESS-PRESERVING Bloom pre-filter for incremental dedup:
    returns exactly ``increment LEFT ANTI JOIN store ON fp_col`` —
    but only the increment rows the Bloom filter of the store cannot
    rule out ever reach the anti join. A Bloom filter has no false
    negatives (every member's bits are all set), so rows with any
    unset probe bit are DEFINITELY new and bypass the join; the
    "maybe" set (true dupes + false positives, FP-rate-sized) is the
    only traffic the anti-join shuffle carries. At a 100 TB history
    the anti join against the fingerprint store is the dominant
    shuffle of the daily dedup — this caps its probe side at
    ``n_dupes + fp_rate · n_new`` rows while the output stays
    bit-identical to the exact plan (which is why the DuckDB twin is
    a full re-derivation: plain NOT EXISTS, no Bloom modeling).

    The bitmap side is a broadcast at practical sizes (see
    bloom_bitmap); the probe join is on the word index, never a
    cross join. Increment rows must be unique (the probe rollup
    groups on all increment columns to reassemble rows — give each
    row an id if the frame can carry duplicates). False-positive
    rate pins live in tests/test_dedup.py::test_bloom_prefilter_*.
    """
    # ADVICE r13: both caveats above were docstring-only — fail fast
    # instead. The probe rollup groups on all increment columns (so a
    # duplicate increment row would silently collapse), and the probe
    # machinery claims four internal column names.
    reserved = {"_word", "_mask", "_bits", "_hit", "_maybe"}
    clash = reserved.intersection(increment.columns)
    if clash:
        raise ValueError(
            f"bloom_prefilter_anti_join: increment carries reserved "
            f"internal column name(s) {sorted(clash)}; rename them "
            f"before calling (the probe rollup would collapse or "
            f"mis-join on them)"
        )
    bitmap = bloom_bitmap(store, fp_col, num_bits, num_hashes)
    probed = (
        _bloom_probes(increment, fp_col, num_bits, num_hashes)
        .join(F.broadcast(bitmap), "_word", "left")
        .withColumn(
            "_hit",
            (
                F.coalesce(F.col("_bits"), F.lit(0)).bitwiseAND(
                    F.col("_mask")
                )
                == F.col("_mask")
            ).cast("int"),
        )
        .groupBy(*increment.columns)
        .agg((F.sum("_hit") == F.lit(num_hashes)).alias("_maybe"))
    )
    definite_new = probed.filter(~F.col("_maybe")).drop("_maybe")
    confirmed_new = (
        probed.filter(F.col("_maybe"))
        .drop("_maybe")
        .join(store.select(F.col(fp_col)).distinct(), fp_col, "left_anti")
    )
    return definite_new.unionByName(confirmed_new)


def exact_dedup_groups(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one row per distinct key with the
    kept (minimum) id and the duplicate count. Partial aggregation
    collapses duplicates map-side before the shuffle."""
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
    )


def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep exactly the min-id row per duplicate group (deterministic,
    unlike dropDuplicates). Window-free: min-id join back.

    NULL key values form their own group (groupBy keeps a NULL-key
    group), so the semi join must use null-safe equality — a plain
    equi-join would never match NULL=NULL and silently drop every
    NULL-key row."""
    left = df.alias("l")
    keep = (
        df.groupBy(*key_cols)
        .agg(F.min(id_col).alias(id_col))
        .alias("r")
    )
    cond = [
        F.col(f"l.{k}").eqNullSafe(F.col(f"r.{k}")) for k in key_cols
    ] + [F.col(f"l.{id_col}") == F.col(f"r.{id_col}")]
    return left.join(keep, on=cond, how="left_semi")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

_MERSENNE_31 = (1 << 31) - 1


def _perm_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_31), rng.randrange(0, _MERSENNE_31))
        for _ in range(num_hashes)
    ]


def minhash_signature(
    shingles: Column, num_hashes: int = 64, seed: int = 42
) -> Column:
    """MinHash signature (array<bigint>, length ``num_hashes``) as a
    single column expression.

    NOTE: higher-order functions (transform/array_min lambdas) are
    interpreted, not codegen'd, and the base-hash transform inlines
    into every permutation — fine for small frames and tests, but the
    corpus-scale path is :func:`minhash_signatures` (explode +
    hash-aggregate, fully codegen'd with map-side combine).
    """
    base = F.transform(
        shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_31))
    )
    comps = [
        F.array_min(
            F.transform(base, lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(_MERSENNE_31))
        )
        for a, b in _perm_params(num_hashes, seed)
    ]
    return F.array(*comps)


def minhash_signatures(
    docs: DataFrame,
    id_col: str,
    shingles: Column,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Corpus-scale MinHash: explode shingles → one xxhash per
    (doc, shingle) → groupBy(doc) with ``num_hashes`` min-aggregates.

    Identical signatures to :func:`minhash_signature` (same
    permutation parameters), but the whole computation is plain
    arithmetic inside whole-stage codegen, and the partial aggregation
    collapses each document's shingle set map-side — the shuffle
    carries only (id, num_hashes longs) per document.
    Documents whose shingle set is empty/null are dropped.

    Output: (id_col, sig: array<bigint>).
    """
    base = docs.select(
        F.col(id_col), F.explode(shingles).alias("_sh")
    ).select(
        id_col, F.pmod(F.xxhash64("_sh"), F.lit(_MERSENNE_31)).alias("_h")
    )
    mins = [
        F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(_MERSENNE_31)).alias(f"_m{i}")
        for i, (a, b) in enumerate(_perm_params(num_hashes, seed))
    ]
    return (
        base.groupBy(id_col)
        .agg(*mins)
        .select(id_col, F.array(*[f"_m{i}" for i in range(num_hashes)]).alias("sig"))
    )


def signature_agreement(sig_a: Column, sig_b: Column) -> Column:
    """Estimated Jaccard = fraction of agreeing signature components."""
    eq = F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int"))
    return F.try_divide(
        F.aggregate(eq, F.lit(0), lambda acc, v: acc + v).cast("double"),
        F.size(sig_a).cast("double"),
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str = "sig",
    bands: int = 16,
    max_bucket_size: int = 1000,
    sig_len: int | None = None,
) -> DataFrame:
    """Banded LSH: split each signature into ``bands`` equal slices,
    hash each slice, self-join on (band index, slice hash).

    Returns distinct candidate pairs (id_a < id_b). The join shuffles
    on the bucket key — linear scan, no cross join. Buckets larger
    than ``max_bucket_size`` are dropped before pair expansion (they
    are near-identical floods; route those through exact dedup).

    Pass ``sig_len`` (the signature length, i.e. ``num_hashes``) when
    known: probing it from the data costs an extra aggregation job
    over the whole signature plan just to read one row's array size."""
    if sig_len is None:
        sig_len_row = sigs.select(F.size(sig_col).alias("n")).first()
        if sig_len_row is None:
            return sigs.sparkSession.createDataFrame(
                [], T.StructType([T.StructField("id_a", T.LongType()),
                                  T.StructField("id_b", T.LongType())])
            )
        sig_len = sig_len_row["n"]
    rows_per_band = max(1, sig_len // bands)

    band_hash = F.posexplode(
        F.array(
            *[
                F.hash(F.slice(F.col(sig_col), j * rows_per_band + 1, rows_per_band))
                for j in range(bands)
            ]
        )
    )
    buckets = sigs.select(F.col(id_col).alias("_id"), band_hash.alias("band", "bh"))
    # ONE hash aggregate collects each bucket's member ids in-row
    # (round 17): the earlier shape paid a checkpoint job, a
    # bucket-count aggregate, an anti-join, and BOTH legs of a
    # (band, bh)-keyed self-join — four shuffles of the corpus-scale
    # bucket frame plus a materialization barrier. Grouping once and
    # expanding the C(s, 2) pairs inside the row costs a single
    # shuffle of the same frame, the flood cap becomes a plain size
    # predicate on the collected array (≤``max_bucket_size`` ids ·
    # 8 bytes per row — bounded by the cap itself), and a doc
    # appears at most once per (band, bh), so the sorted-array
    # expansion reproduces the self-join's ``a._id < b._id`` pairs
    # exactly.
    grouped = buckets.groupBy("band", "bh").agg(
        F.sort_array(F.collect_list("_id")).alias("_ids")
    )
    if max_bucket_size:
        grouped = grouped.filter(F.size("_ids") <= max_bucket_size)
    pair_structs = F.flatten(
        F.transform(
            F.col("_ids"),
            lambda x, i: F.transform(
                F.slice(F.col("_ids"), i + F.lit(2), F.size("_ids")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        grouped.filter(F.size("_ids") >= 2)
        .select(F.explode(pair_structs).alias("_p"))
        .select(F.col("_p.a").alias("id_a"), F.col("_p.b").alias("id_b"))
        .distinct()
    )


def md5_band_keys(toks: Column, bands: int = 8, rows_per_band: int = 2) -> Column:
    """Portable MinHash band keys: array of ``bands`` strings, band j =
    '|'-joined mins over the token set of ``md5('{j}-{r}:' || token)``.

    Unlike :func:`minhash_signatures` (xxhash64 + random affine
    permutations — fastest, but engine-specific), every primitive here
    (md5 hex, string min, concat) is bit-identical across SQL engines,
    so an external system (e.g. a DuckDB audit query) can re-derive the
    exact candidate set. Use this variant when the dedup decision must
    be reproducible outside Spark; use the xxhash64 path when raw
    throughput matters.

    NOTE: higher-order functions (transform/array_min) are interpreted,
    not codegen'd, and each of the bands×rows_per_band md5 transforms
    re-walks the token array — fine for small frames and tests; the
    corpus-scale path is :func:`md5_band_buckets` (explode +
    hash-aggregate, bit-identical keys, fully codegen'd).
    """
    def _minhash(j: int, r: int) -> Column:
        return F.array_min(
            F.transform(toks, lambda t: F.md5(F.concat(F.lit(f"{j}-{r}:"), t)))
        )

    return F.array(
        *[
            F.concat_ws("|", *[_minhash(j, r) for r in range(rows_per_band)])
            for j in range(bands)
        ]
    )


def md5_band_buckets(
    docs: DataFrame,
    id_col: str,
    toks_col: str,
    group_cols: list[str] | None = None,
    bands: int = 8,
    rows_per_band: int = 2,
) -> DataFrame:
    """Corpus-scale derivation of the :func:`md5_band_keys` buckets:
    explode tokens once, take bands×rows_per_band ``min(md5(...))``
    aggregates per document, then unpivot to (band_idx, band_key) rows.

    Band keys are bit-identical to :func:`md5_band_keys` (same md5
    prefixes, same '|' join), but the whole computation is plain string
    expressions inside whole-stage codegen, and partial aggregation
    collapses each document's token set map-side — the shuffle carries
    (id, bands×rows_per_band md5 strings) per document instead of
    re-walking the token array through interpreted HOF lambdas.
    Documents with an empty/null token set get no buckets (they can
    never verify above threshold anyway: jaccard(∅,·) is NULL).

    Output: (group_cols..., _id, band_idx, band_key).
    """
    group_cols = group_cols or []
    # the bands×rows_per_band md5 computations per exploded token dwarf
    # the row's bytes — spread a coarse scan across cores first
    exploded = ensure_min_partitions(docs).select(
        *group_cols,
        F.col(id_col).alias("_id"),
        F.explode(toks_col).alias("_tok"),
    )
    mins = [
        F.min(F.md5(F.concat(F.lit(f"{j}-{r}:"), F.col("_tok")))).alias(f"_m{j}_{r}")
        for j in range(bands)
        for r in range(rows_per_band)
    ]
    per_doc = exploded.groupBy(*group_cols, "_id").agg(*mins)
    band_keys = F.array(
        *[
            F.concat_ws("|", *[f"_m{j}_{r}" for r in range(rows_per_band)])
            for j in range(bands)
        ]
    )
    return per_doc.select(
        *group_cols,
        "_id",
        F.posexplode(band_keys).alias("band_idx", "band_key"),
    )


def md5_lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str,
    toks_col: str,
    group_cols: list[str] | None = None,
    bands: int = 8,
    rows_per_band: int = 2,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Candidate pairs from :func:`md5_band_buckets` buckets, optionally
    scoped to equal ``group_cols`` (e.g. per-language dedup). Linear
    bucket self-join — never all-pairs; buckets larger than
    ``max_bucket_size`` are dropped before pair expansion (same guard
    as :func:`lsh_candidate_pairs` — a hot band over boilerplate-heavy
    docs would otherwise expand quadratically; route such floods
    through exact dedup). Callers with a SQL oracle must mirror the
    cap so both engines derive the identical candidate set. Output:
    distinct (group_cols..., id_a, id_b)."""
    group_cols = group_cols or []
    bucketed = md5_band_buckets(
        docs, id_col, toks_col, group_cols, bands, rows_per_band
    )
    # ONE hash aggregate collects each bucket's member ids in-row
    # (round 17, mirroring lsh_candidate_pairs): the earlier shape
    # paid an eager checkpoint of the bucket frame, the flood-cap
    # count aggregate, an anti-join, and BOTH legs of the
    # (group, band_idx, band_key)-keyed self-join. Grouping once
    # costs a single shuffle of the same frame — and with only one
    # consumer chain left, the checkpoint barrier goes away too, so
    # the expensive md5 bucket derivation pipelines straight into
    # the aggregate. The flood cap becomes a size predicate on the
    # collected array (bounded by the cap itself), and a doc appears
    # at most once per bucket, so the sorted-array expansion
    # reproduces the self-join's ``a._id < b._id`` pairs exactly.
    grouped = bucketed.groupBy(*group_cols, "band_idx", "band_key").agg(
        F.sort_array(F.collect_list("_id")).alias("_ids")
    )
    if max_bucket_size:
        grouped = grouped.filter(F.size("_ids") <= max_bucket_size)
    pair_structs = F.flatten(
        F.transform(
            F.col("_ids"),
            lambda x, i: F.transform(
                F.slice(F.col("_ids"), i + F.lit(2), F.size("_ids")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    return (
        grouped.filter(F.size("_ids") >= 2)
        .select(*group_cols, F.explode(pair_structs).alias("_p"))
        .select(
            *group_cols,
            F.col("_p.a").alias("id_a"),
            F.col("_p.b").alias("id_b"),
        )
        .distinct()
    )


def minhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.6,
    seed: int = 42,
    shingle_mode: str = "char",
    precomputed_sigs: DataFrame | None = None,
    precomputed_shingles: DataFrame | None = None,
) -> DataFrame:
    """Full near-dup pipeline: shingle → minhash → LSH candidates →
    EXACT Jaccard verification on the candidates only.

    ``precomputed_sigs`` ((_id, sig) — the output of
    :func:`minhash_signatures` over the SAME corpus/params) switches
    to the offline-index steady state: signatures are an index
    artifact that outlives queries (like PQ codebooks), so search
    skips the full-corpus shingle+signature pass and shingles ONLY
    the candidate documents for exact verification — at 100 TB that
    is the difference between re-reading the corpus per run and
    touching answer-sized data. Results are identical by construction
    (same signatures → same candidates → same exact verify).

    Default signature width is 32 hashes / 8 bands (band width 4):
    the S-curve midpoint sits at (1/b)^(1/4) ≈ 0.59, so pairs near
    real near-dup similarity (≥0.8) are caught with >0.999
    probability per run while the signature aggregation costs half of
    the 64-hash variant. Raise num_hashes/bands together (constant
    width 4) when the decision threshold must dip toward 0.5 —
    candidate recall at sim≈threshold is what bands buy.

    ``shingle_mode``: 'char' (k-grams, robust to small edits inside
    words) or 'word' (word shingle_k-grams — the right signal for
    corpora that share vocabulary but differ in word order; char
    shingles over such corpora are dense, which floods the candidate
    set with genuinely-similar-at-char-level pairs).

    ``precomputed_shingles`` ((id_col, sh) — the same shingle space as
    ``shingler(text_col, shingle_k)`` over the SAME corpus, e.g. a
    landed shingle-table fixture): the verification stage then reads
    the materialized tokens instead of re-running the interpreted HOF
    shingling over every candidate document. Only meaningful together
    with ``precomputed_sigs`` (the from-scratch path shingles the
    whole corpus anyway to derive the signatures). Value-equality is
    the caller's contract — tokenization is deterministic, so a
    fixture derived by the same shingler is bit-identical.

    Output: (id_a, id_b, jaccard_sim) for verified pairs ≥ threshold.
    """
    shingler = char_shingles if shingle_mode == "char" else word_ngrams
    if precomputed_sigs is not None:
        cands = lsh_candidate_pairs(
            precomputed_sigs, "_id", "sig", bands, sig_len=num_hashes
        ).localCheckpoint(eager=True)  # answer-sized; feeds 2 consumers
        cand_ids = (
            cands.select(F.col("id_a").alias(id_col))
            .unionByName(cands.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        if precomputed_shingles is not None:
            shingle_src = precomputed_shingles.select(
                F.col(id_col), F.col("sh")
            )
        else:
            shingle_src = docs.select(
                F.col(id_col), shingler(text_col, shingle_k).alias("sh")
            )
        cand_sh = (
            shingle_src.join(cand_ids, id_col, "left_semi")
            .select(F.col(id_col).alias("_id"), "sh")
            .localCheckpoint(eager=True)  # shingled once, joined twice
        )
        a = cand_sh.select(F.col("_id").alias("id_a"), F.col("sh").alias("sh_a"))
        b = cand_sh.select(F.col("_id").alias("id_b"), F.col("sh").alias("sh_b"))
        return (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .select(
                "id_a",
                "id_b",
                jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim"),
            )
            .filter(F.col("jaccard_sim") >= threshold)
        )
    # Persist the shingle frame: it feeds the signature aggregation AND
    # both sides of the verification join — without it the (interpreted
    # higher-order-function) shingling runs three times. MEMORY_AND_DISK
    # so an outsized corpus spills instead of OOMing. The cache's
    # lifetime is bounded to THIS call: the verified pair set (small —
    # candidates only) is materialized via an eager localCheckpoint and
    # the shingles are unpersisted before returning, so repeated corpus
    # runs in one session don't accumulate cached shingle frames.
    # shingling is an interpreted HOF over every text — rebalance a
    # coarse scan before it so the hot loop runs on all cores
    sh = ensure_min_partitions(docs).select(
        F.col(id_col).alias("_id"), shingler(text_col, shingle_k).alias("sh")
    ).persist()
    try:
        sigs = minhash_signatures(sh, "_id", F.col("sh"), num_hashes, seed)
        cands = lsh_candidate_pairs(sigs, "_id", "sig", bands, sig_len=num_hashes)
        a = sh.select(F.col("_id").alias("id_a"), F.col("sh").alias("sh_a"))
        b = sh.select(F.col("_id").alias("id_b"), F.col("sh").alias("sh_b"))
        verified = (
            cands.join(a, "id_a")
            .join(b, "id_b")
            .select(
                "id_a",
                "id_b",
                jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim"),
            )
            .filter(F.col("jaccard_sim") >= threshold)
        )
        return verified.localCheckpoint(eager=True)
    finally:
        sh.unpersist(blocking=False)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def make_simhash64_udf(shingle_n: int = 1, feature_hash: str = "blake2b"):
    """Build a 64-bit SimHash pandas UDF over word ``shingle_n``-gram
    feature sets (``shingle_n=1`` = whitespace tokens).

    ``feature_hash`` selects the per-feature 64-bit hash:
    ``"blake2b"`` (default — keyed-family sibling of the pseudonym
    path, fastest in CPython) or ``"md5"`` (first 8 digest bytes,
    big-endian) — the PORTABLE choice: md5 is the one hash DuckDB
    shares with hashlib, so an md5-hashed signature can be re-derived
    exactly by an external SQL engine
    (``CAST(concat('0x', substr(md5(f), 1, 16)) AS UBIGINT)``), which
    is what makes dedup_simhash_md5_pairs oracle-verifiable while the
    blake2b path keeps the perf headline. Same convention as the
    portable-uniform trick in sampling (md5-prefix / 2^48).

    Feature space matters as much as the hash: over a templated corpus
    unigram feature sets overlap broadly even between unrelated
    documents, which saturates the signature (measured 473k pairs at
    Hamming ≤ 3 over the 20k-doc sf0.1 twin corpus — vocabulary, not
    duplication). Word 3-grams require shared PHRASING, the actual
    near-dup signal, and keep the bucket join answer-sized — the same
    space the MinHash/Jaccard paths shingle into.

    Python is justified here: the per-bit weighted-majority needs 64
    bitplane accumulations per document, which as built-in expressions
    would be a 64-branch aggregate per row (codegen blowup measured in
    the MAPE pipeline). Vectorized numpy over Arrow batches instead.
    Deterministic: feature hash = blake2b-8byte (stable across runs,
    unlike Python's salted hash()).
    """
    if shingle_n < 1:
        raise ValueError("shingle_n must be >= 1")
    if feature_hash not in ("blake2b", "md5"):
        raise ValueError("feature_hash must be 'blake2b' or 'md5'")

    @F.pandas_udf(T.LongType())
    def _simhash64(texts: pd.Series) -> pd.Series:
        import hashlib

        import numpy as np
        import pandas as pd

        # feature → 64 unpacked hash bits, memoized across the batch
        # (real corpora have far fewer distinct features than feature
        # instances, and templated near-dups share almost all of them)
        memo: dict[str, "np.ndarray"] = {}
        shifts = np.arange(64, dtype=np.uint64)

        if feature_hash == "md5":
            def hash8(data: bytes) -> bytes:
                return hashlib.md5(data).digest()[:8]
        else:
            def hash8(data: bytes) -> bytes:
                return hashlib.blake2b(data, digest_size=8).digest()

        def bits_of(feat: str) -> "np.ndarray":
            b = memo.get(feat)
            if b is None:
                h = np.uint64(int.from_bytes(hash8(feat.encode()), "big"))
                b = ((h >> shifts) & np.uint64(1)).astype(np.int32)
                memo[feat] = b
            return b

        def features(text: str) -> set:
            toks = text.lower().split()
            if shingle_n == 1 or len(toks) < shingle_n:
                # short docs: whole text as one feature, mirroring
                # word_ngrams' short-document behavior
                if shingle_n > 1:
                    return {" ".join(toks)} if toks else set()
                return set(toks)
            return {
                " ".join(toks[i : i + shingle_n])
                for i in range(len(toks) - shingle_n + 1)
            }

        def one(text):
            if text is None:
                return None
            feats = features(text)
            if not feats:
                return 0
            votes = np.zeros(64, dtype=np.int64)
            for t in feats:
                votes += bits_of(t)
            votes = votes * 2 - len(feats)  # (+1/-1 majority per bitplane)
            sim = 0
            for i in np.nonzero(votes > 0)[0]:
                sim |= 1 << int(i)
            return sim - (1 << 64) if sim >= (1 << 63) else sim  # signed long

        return pd.Series([one(t) for t in texts])

    return _simhash64


# token-level instance (the historical surface; tests pin its digest
# behavior) — near-dup detection should prefer the 3-gram space via
# simhash_near_duplicates' default
simhash64_udf = make_simhash64_udf(1)


def simhash_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    chunks: int | None = None,
    shingle_n: int = 3,
    feature_hash: str = "blake2b",
    precomputed_sigs: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup: by pigeonhole, two signatures within Hamming
    distance ``chunks-1`` share at least one identical chunk — so
    bucket-join on chunks, then verify with bit_count(xor) ≤ max.

    ``chunks`` defaults to ``max_hamming+1`` (the smallest count with
    guaranteed recall). Narrow chunks mean bigger buckets — keep
    max_hamming small (≤3 typical) at corpus scale, where 4 chunks of
    16 bits keep bucket-join fan-out tiny.

    ``shingle_n=3`` hashes word-3-gram feature sets (shared PHRASING);
    pass 1 for the historical unigram space — see make_simhash64_udf
    for why unigrams saturate on templated corpora. ``feature_hash``
    passes through to make_simhash64_udf ("md5" = the
    external-engine-portable signature).

    Recall note the oracle relies on: with ``chunks = max_hamming+1``
    (the default) the pigeonhole guarantee makes the bucketed output
    EQUAL to the brute-force all-pairs Hamming filter — so a quadratic
    SQL twin can verify the linear banded plan exactly.

    ``precomputed_sigs`` — a ``(_id, sim)`` frame (the offline-index
    posture: signatures are an artifact that outlives queries, same
    as minhash_near_duplicates' option). When provided, the pandas-UDF
    signature pass is skipped entirely and ``docs``/``text_col``/
    ``shingle_n``/``feature_hash`` are ignored; the frame must carry
    exactly the columns ``_id`` (doc key) and ``sim`` (signed 64-bit
    signature). The UDF is deterministic, so a landed fixture is
    value-equal to a fresh derivation (pinned by
    tests/test_dedup.py::test_simhash_precomputed_sigs_equivalent).
    """
    if chunks is None:
        chunks = min(64, max_hamming + 1)
    if max_hamming >= chunks:
        raise ValueError("guaranteed recall requires max_hamming < chunks")
    # nearly-equal chunk widths covering all 64 bits
    base_w, extra = divmod(64, chunks)
    widths = [base_w + (1 if j < extra else 0) for j in range(chunks)]
    offsets = [sum(widths[:j]) for j in range(chunks)]
    if precomputed_sigs is not None:
        sigs = precomputed_sigs.select("_id", "sim")
    else:
        # the pandas-UDF signature is the hot loop — parallelize a
        # coarse scan before shipping Arrow batches to the workers
        sig_udf = make_simhash64_udf(shingle_n, feature_hash)
        # materialize the signature table (id + one long per doc —
        # tiny): both sides of the bucket self-join consume it, and
        # without the barrier each side would re-run the pandas-UDF
        # projection
        sigs = (
            ensure_min_partitions(docs)
            .select(
                F.col(id_col).alias("_id"),
                sig_udf(F.col(text_col)).alias("sim"),
            )
            .localCheckpoint(eager=True)
        )
    def _chunk(j: int):
        c = F.shiftrightunsigned(F.col("sim"), offsets[j])
        # width 64 (chunks=1): the mask is the identity and 1<<64
        # overflows a signed-long literal — skip it.
        if widths[j] < 64:
            # bitmask, NOT `%`: Spark's % is a sign-preserving
            # remainder, so for the offset-0 chunk of a NEGATIVE
            # signature (bit 63 set) `sim % 65536` came out negative
            # while the same low bits of a positive partner came out
            # positive — bucket equality silently failed and the
            # pigeonhole recall guarantee with it (found by the
            # round-12 md5 oracle: 3 hamming-3 twin pairs whose only
            # shared chunk was chunk 0 across a sign boundary).
            c = c.bitwiseAND(F.lit((1 << widths[j]) - 1))
        return c

    chunk = F.posexplode(F.array(*[_chunk(j) for j in range(chunks)]))
    buckets = sigs.select("_id", "sim", chunk.alias("chunk_idx", "chunk_val"))
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(
            b,
            on=[
                F.col("a.chunk_idx") == F.col("b.chunk_idx"),
                F.col("a.chunk_val") == F.col("b.chunk_val"),
                F.col("a._id") < F.col("b._id"),
            ],
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim"))).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)


def apply_remove_spans(
    docs: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """APPLY an ExactSubstr remove-span plan — the deduped corpus
    :func:`exact_substring_spans` only *plans* (round-15-ready; the
    Lee et al. 2021 pipeline's second half: the paper cuts every
    planned byte span and trains on what remains; here the spans are
    token intervals over the same whitespace tokenization the planner
    used). One row per input doc WITH non-NULL text — NULL-text docs
    are excluded up front (they carry no tokens to cut; a caller
    auditing row conservation over a corpus containing NULL texts
    must count them separately — same exclusion as
    :func:`text.decontaminate_corpus`): the post-cut token count, the
    cut ledger, and ``clean_md5`` — the md5 of the space-joined surviving
    (lowercased) tokens, the same portable value-level pin
    ``text.decontaminate_corpus`` uses, so a SQL twin can verify the
    reconstructed text without hauling it through a compare.

    ``spans`` rows are ``(id, span_start, span_end)`` inclusive token
    intervals (exactly the planner's output — overlapping or adjacent
    intervals are fine: positions collapse through a per-doc covered
    set before cutting). Docs with no spans pass through with their
    original token stream ('kept').

    Scale shape: spans explode to covered token indices (output
    bounded by total cut volume — answer-proportional, never corpus
    × corpus), ONE document-key rollup collects the per-doc removal
    array (bounded by doc length), and the cut itself is a per-row
    array filter on the joined frame — no window, one shuffle on the
    document key plus the docs-side join."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    # one document-key aggregate (round 17): the former
    # explode→distinct→groupBy chain hash-partitioned the covered
    # index stream TWICE — once on (id, idx) for the distinct, once
    # on id for the rollup. collect_set dedups inside a single
    # aggregation (with map-side partials), and
    # sort_array(collect_set(x)) equals the old
    # sort_array(collect_list(distinct x)) value exactly.
    covered = spans.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("span_start"), F.col("span_end"))
        ).alias("_idx"),
    )
    removed = covered.groupBy(id_col).agg(
        F.sort_array(F.collect_set("_idx")).alias("_rm")
    )
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("_toks")
    )
    joined = base.join(removed, id_col, "left")
    rm = F.coalesce(F.col("_rm"), F.array().cast("array<int>"))
    clean = F.filter(F.col("_toks"), lambda x, i: ~F.array_contains(rm, i))
    gaps = F.zip_with(
        F.slice(rm, 2, F.greatest(F.size(rm) - 1, F.lit(0))),
        F.slice(rm, 1, F.greatest(F.size(rm) - 1, F.lit(0))),
        lambda a, b: (a - b) > 1,
    )
    n_spans = F.when(F.size(rm) == 0, F.lit(0)).otherwise(
        F.size(F.filter(gaps, lambda x: x)) + F.lit(1)
    )
    return joined.select(
        F.col(id_col),
        F.when(F.size(rm) > 0, F.lit("cut"))
        .otherwise(F.lit("kept"))
        .alias("action"),
        n_spans.cast("int").alias("n_spans_applied"),
        F.size(rm).cast("int").alias("tokens_removed"),
        F.size(clean).cast("int").alias("n_tokens_clean"),
        F.md5(F.concat_ws(" ", clean)).alias("clean_md5"),
    )


def minhash_incremental_pairs(
    new_docs: DataFrame,
    standing_docs: DataFrame,
    standing_sigs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.6,
    seed: int = 42,
    shingle_mode: str = "char",
    max_bucket_size: int = 1000,
    precomputed_new_sigs: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL near-dup — the daily-drop path (round-15-ready):
    verified pairs TOUCHING the new drop only. The standing corpus's
    signatures are the offline index (``standing_sigs`` =
    :func:`minhash_signatures` output, the artifact
    dedup_minhash_pairs already lands); the new drop is signed fresh,
    both signature sets bucket together, and the pair expansion joins
    the NEW side against ALL buckets — so (new, new) and
    (new, standing) candidates appear while standing × standing pairs
    (already known from the index build) are never re-expanded. At
    100 TB standing + 100 GB drops this is the difference between a
    corpus-quadratic nightly job and one proportional to
    drop × bucket-density.

    Exactness: minhash signatures are per-doc deterministic, so the
    buckets here equal the full-corpus pipeline's buckets exactly,
    and with the flood cap applied over the UNION (mirroring the full
    pipeline) the output equals ``minhash_near_duplicates(standing ∪
    new)`` restricted to new-touching pairs — pinned by
    test_minhash_incremental_equals_full_restriction. Verification
    shingles the new drop plus ONLY the candidate standing docs
    (answer-sized semi-join, the precomputed_sigs discipline).

    Output: (id_a, id_b, jaccard_sim, pair_type ∈ new_new |
    new_standing), id_a < id_b.

    Banding convention (ADVICE r14, adjudicated no-action): buckets
    key on the 32-bit ``F.hash`` of each signature slice while the
    DuckDB twin bands by exact slice equality, so a band-hash
    collision between distinct band keys (~2^-32 per colliding band
    pair) could admit a Spark-side candidate the oracle lacks — the
    same pre-existing convention as the full pipeline
    (:func:`minhash_near_duplicates`). If it ever flakes, band by the
    slice value itself (array grouping) on the Spark side.
    """
    shingler = char_shingles if shingle_mode == "char" else word_ngrams
    # persisted even when signatures are precomputed: the verify leg
    # re-reads the shingle frame once per candidate-join stage, and an
    # un-persisted frame re-runs the shingle explode per read (measured
    # 9.9 s → 17.7 s per streaming drain when left lazy — round 17
    # tried and reverted the "lazy lets the semi-join push below the
    # shingle projection" variant).
    new_sh = (
        ensure_min_partitions(new_docs)
        .select(
            F.col(id_col).alias("_id"),
            shingler(text_col, shingle_k).alias("sh"),
        )
        .persist()
    )
    try:
        # ``precomputed_new_sigs`` ((_id, sig) — minhash_signatures
        # over the SAME drop/params, round 17): a caller that also
        # lands the drop's signatures into a standing index (the
        # streaming ingest) otherwise pays the signature aggregation
        # twice per batch — once here for banding, once for the index
        # append. Same value-equality contract as
        # minhash_near_duplicates' precomputed_sigs.
        new_sigs = (
            precomputed_new_sigs
            if precomputed_new_sigs is not None
            else minhash_signatures(
                new_sh, "_id", F.col("sh"), num_hashes, seed
            )
        )
        sigs_all = (
            standing_sigs.select("_id", "sig").withColumn(
                "_new", F.lit(False)
            )
        ).unionByName(new_sigs.select("_id", "sig").withColumn("_new", F.lit(True)))
        rows_per_band = max(1, num_hashes // bands)
        band_hash = F.posexplode(
            F.array(
                *[
                    F.hash(
                        F.slice(
                            F.col("sig"),
                            j * rows_per_band + 1,
                            rows_per_band,
                        )
                    )
                    for j in range(bands)
                ]
            )
        )
        # ONE hash aggregate collects each bucket's (id, new) members
        # in-row (round 17, mirroring lsh_candidate_pairs): the
        # earlier shape paid a checkpoint job, the flood-cap
        # aggregate, an anti-join, and a (band, bh)-keyed join of the
        # new-side against all members — four shuffles of the
        # bucket frame plus a barrier. Grouping once costs a single
        # shuffle; the cap is a size predicate on the collected array
        # (bounded by the cap itself), and the new×other expansion
        # runs inside the row: each NEW member pairs against every
        # OTHER member, so (new, new) pairs surface from both
        # directions and (new, standing) once — exactly the old
        # join's emission, folded stable by the MAX below.
        buckets = sigs_all.select(
            "_id", "_new", band_hash.alias("band", "bh")
        )
        grouped = buckets.groupBy("band", "bh").agg(
            F.collect_list(F.struct("_id", "_new")).alias("_ms")
        )
        if max_bucket_size:
            grouped = grouped.filter(
                F.size("_ms") <= max_bucket_size
            )
        news = F.filter("_ms", lambda m: m["_new"])
        pair_structs = F.flatten(
            F.transform(
                news,
                lambda a: F.transform(
                    F.filter("_ms", lambda b: b["_id"] != a["_id"]),
                    lambda b: F.struct(
                        F.least(a["_id"], b["_id"]).alias("id_a"),
                        F.greatest(a["_id"], b["_id"]).alias("id_b"),
                        b["_new"].alias("_other_new"),
                    ),
                ),
            )
        )
        cands = (
            grouped.select(F.explode(pair_structs).alias("_p"))
            .select("_p.id_a", "_p.id_b", "_p._other_new")
            .groupBy("id_a", "id_b")
            # a (new, new) pair surfaces from both directions — one
            # with _other_new true; MAX-fold makes the type stable
            .agg(F.max("_other_new").alias("_both_new"))
            .localCheckpoint(eager=True)  # answer-sized; feeds 2 joins
        )
        cand_ids = (
            cands.select(F.col("id_a").alias(id_col))
            .unionByName(cands.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        standing_cand_sh = (
            standing_docs.join(cand_ids, id_col, "left_semi")
            .select(
                F.col(id_col).alias("_id"),
                shingler(text_col, shingle_k).alias("sh"),
            )
        )
        new_cand_sh = new_sh.join(
            cand_ids.withColumnRenamed(id_col, "_id"), "_id", "left_semi"
        )
        all_sh = new_cand_sh.unionByName(standing_cand_sh).localCheckpoint(
            eager=True
        )  # candidates only — answer-sized, not drop-sized
        av = all_sh.select(F.col("_id").alias("id_a"), F.col("sh").alias("sh_a"))
        bv = all_sh.select(F.col("_id").alias("id_b"), F.col("sh").alias("sh_b"))
        verified = (
            cands.join(av, "id_a")
            .join(bv, "id_b")
            .select(
                "id_a",
                "id_b",
                jaccard(F.col("sh_a"), F.col("sh_b")).alias("jaccard_sim"),
                F.when(F.col("_both_new"), F.lit("new_new"))
                .otherwise(F.lit("new_standing"))
                .alias("pair_type"),
            )
            .filter(F.col("jaccard_sim") >= threshold)
        )
        # returned LAZY (round 18): after the cands and all_sh
        # barriers, the verify join's lineage depends only on those
        # two checkpointed frames — never on new_sh — so the
        # unpersist below cannot force a shingle re-derivation and
        # the former verified.localCheckpoint(eager=True) only added
        # a materialization job plus a serialization round-trip
        # between the verify join and its single consumer.
        return verified
    finally:
        new_sh.unpersist()
