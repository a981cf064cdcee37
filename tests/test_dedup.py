"""Dedup operators: planted-duplicate corpora checked against
brute-force ground truth computed in plain Python."""

import itertools
import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mape_calculation_and_anonymization_spark.operators.dedup import (
    char_shingles,
    exact_dedup,
    exact_dedup_groups,
    jaccard,
    minhash_near_duplicates,
    minhash_signature,
    signature_agreement,
    simhash_near_duplicates,
    tokens,
    word_ngrams,
)

WORDS = (
    "spark data query join filter group window stream batch table row column "
    "hash sort merge scan agg vector key value fast slow small large"
).split() + [f"tok{i}" for i in range(300)]


def _corpus(n=60, seed=7, dup_every=10):
    """Random word docs; every dup_every-th doc is a light edit of its
    predecessor (one word changed) → known near-dup pairs."""
    rng = random.Random(seed)
    docs = []
    for i in range(n):
        if i % dup_every == 1 and i > 0:
            base = docs[-1][1].split()
            base[rng.randrange(len(base))] = rng.choice(WORDS)
            docs.append((i, " ".join(base)))
        else:
            docs.append((i, " ".join(rng.choice(WORDS) for _ in range(60))))
    return docs


def _brute_jaccard_pairs(docs, threshold=0.6):
    """Exact Jaccard over word 3-gram sets, the minhash pipelines'
    shingle space."""

    def sh(t):
        toks = t.lower().split()
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {i: sh(t) for i, t in docs}
    out = {}
    for (a, ta), (b, tb) in itertools.combinations(docs, 2):
        inter = len(sets[a] & sets[b])
        j = inter / (len(sets[a]) + len(sets[b]) - inter)
        if j >= threshold:
            out[(a, b)] = j
    return out


def test_exact_dedup(spark):
    df = spark.createDataFrame(
        [(1, "x", "a"), (2, "x", "a"), (3, "y", "a"), (4, "x", "b")],
        ["doc_id", "lang", "source"],
    )
    groups = {
        (r["lang"], r["source"]): (r["keep_id"], r["n_dups"])
        for r in exact_dedup_groups(df).collect()
    }
    assert groups == {("x", "a"): (1, 2), ("y", "a"): (3, 1), ("x", "b"): (4, 1)}
    kept = sorted(r["doc_id"] for r in exact_dedup(df, ["lang", "source"]).collect())
    assert kept == [1, 3, 4]


def test_exact_dedup_null_keys(spark):
    # NULL key values form their own duplicate group — the null-safe
    # semi join must keep exactly one row for it, not drop them all
    df = spark.createDataFrame(
        [(1, None, "a"), (2, None, "a"), (3, "y", None), (4, "y", None), (5, "y", "b")],
        ["doc_id", "lang", "source"],
    )
    kept = sorted(r["doc_id"] for r in exact_dedup(df, ["lang", "source"]).collect())
    assert kept == [1, 3, 5]
    groups = {
        (r["lang"], r["source"]): (r["keep_id"], r["n_dups"])
        for r in exact_dedup_groups(df).collect()
    }
    assert groups[(None, "a")] == (1, 2)
    assert groups[("y", None)] == (3, 2)


def test_shingles_and_jaccard(spark):
    df = spark.createDataFrame([Row(text="the cat sat", b="the cat sat here")])
    row = df.select(
        tokens("text").alias("ta"),
        char_shingles().alias("ca"),
        word_ngrams(2).alias("wa"),
        jaccard(tokens("text"), tokens("b")).alias("j"),
    ).collect()[0]
    assert sorted(row["ta"]) == ["cat", "sat", "the"]
    assert sorted(row["ca"]) == [" cat ", "at sa", "cat s", "e cat", "he ca", "t sat", "the c"]
    assert sorted(row["wa"]) == ["cat sat", "the cat"]
    assert row["j"] == pytest.approx(3 / 4)


def test_minhash_estimates_jaccard(spark):
    # signature agreement should approximate true jaccard
    docs = _corpus()
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    sh = df.select("doc_id", word_ngrams(3).alias("sh"))
    sigs = sh.select("doc_id", minhash_signature(F.col("sh"), 128).alias("sig"))
    a = sigs.alias("a")
    b = sigs.alias("b")
    est = {
        (r["ia"], r["ib"]): r["est"]
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("ia"),
            F.col("b.doc_id").alias("ib"),
            signature_agreement(F.col("a.sig"), F.col("b.sig")).alias("est"),
        )
        .collect()
    }
    truth = _brute_jaccard_pairs(docs, threshold=0.0)
    for pair, true_j in truth.items():
        if true_j >= 0.5:  # planted near-dups
            assert est[pair] == pytest.approx(true_j, abs=0.15)


def test_minhash_near_duplicates_finds_planted(spark):
    docs = _corpus()
    truth = set(_brute_jaccard_pairs(docs, threshold=0.6))
    assert truth, "corpus must contain planted near-dups"
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    found = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(df).collect()
    }
    # verification step makes precision exact; LSH recall on ~0.9+
    # jaccard planted pairs with 16 bands × 4 rows is ≈1
    assert found == truth


def test_minhash_precomputed_sigs_equivalent(spark):
    """The offline-index path (precomputed_sigs + candidate-only
    shingling) must return byte-identical pairs to the from-scratch
    pipeline — same signatures -> same candidates -> same exact
    verify."""
    docs = _corpus()
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    from mape_calculation_and_anonymization_spark.operators.dedup import (
        minhash_signatures,
    )

    sh = df.select(F.col("doc_id").alias("_id"), word_ngrams(3).alias("sh"))
    sigs = minhash_signatures(sh, F.col("sh"))
    fresh = {
        (r["id_a"], r["id_b"], round(r["jaccard_sim"], 9))
        for r in minhash_near_duplicates(df).collect()
    }
    cached = {
        (r["id_a"], r["id_b"], round(r["jaccard_sim"], 9))
        for r in minhash_near_duplicates(df, precomputed_sigs=sigs).collect()
    }
    assert cached == fresh


def test_simhash_precomputed_sigs_equivalent(spark):
    """The offline-index path (precomputed_sigs) must return
    byte-identical pairs to the from-scratch pipeline — the blake2b
    signature UDF is deterministic, so a landed (_id, sim) frame is
    value-equal to a fresh derivation, and banding + verify downstream
    are pure functions of the signatures. This is the pin the
    dedup_simhash_pairs fixture-artifact oracle leans on (the DuckDB
    twin reads the landed signatures; this test proves the landing
    step loses nothing)."""
    docs = _corpus()
    # exact twin of doc 0 → hamming 0, guaranteeing a non-empty answer
    docs.append((1_000_000, docs[0][1]))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    from mape_calculation_and_anonymization_spark.operators.dedup import (
        make_simhash64_udf,
        simhash_near_duplicates,
    )

    sig_udf = make_simhash64_udf(3, "blake2b")
    sigs = df.select(
        F.col("doc_id").alias("_id"), sig_udf(F.col("text")).alias("sim")
    )
    fresh = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_duplicates(df).collect()
    }
    cached = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_duplicates(df, precomputed_sigs=sigs).collect()
    }
    assert cached == fresh
    assert fresh, "planted corpus must produce at least one pair"


def test_simhash_finds_planted(spark, monkeypatch):
    docs = _corpus()
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    from mape_calculation_and_anonymization_spark.operators import dedup
    from mape_calculation_and_anonymization_spark.operators.dedup import simhash64_udf

    sigs = {
        r["doc_id"]: r["h"] & 0xFFFFFFFFFFFFFFFF
        for r in df.select("doc_id", simhash64_udf("text").alias("h")).collect()
    }
    # exact ground truth: every pair within hamming ≤ 12
    truth = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= 12
    }
    monkeypatch.setattr(dedup, "_SIMHASH_MAX_HAMMING", 12)
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_duplicates(df).collect()
    }
    assert got == truth
    # the corpus's planted one-word edits must be among them
    planted = {(i - 1, i) for i in range(len(docs)) if i % 10 == 1 and i > 0}
    assert planted <= truth


def test_simhash_sign_boundary_recall(spark, monkeypatch):
    """Regression for the round-12 chunk-0 bug: Spark's % is a
    sign-preserving remainder, so the offset-0 chunk of a NEGATIVE
    signature (bit 63 set) came out negative while the identical low
    bits of a positive partner came out positive — bucket equality
    failed and hamming≤max pairs straddling the sign boundary were
    silently dropped (the md5 oracle caught 3 such twin pairs at
    sf0.01). Banded output must equal brute force over a corpus that
    PROVABLY contains sign-straddling near-dup pairs."""
    from mape_calculation_and_anonymization_spark.operators import dedup
    from mape_calculation_and_anonymization_spark.operators.dedup import (
        make_simhash64_udf,
    )

    # seed 5: pair (0, 1) is a hamming≤12 near-dup whose signatures
    # straddle the sign boundary (searched; the straddling assert
    # below keeps the choice honest)
    docs = _corpus(n=120, seed=5)
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    udf = make_simhash64_udf(1, "md5")
    sigs = {
        r["doc_id"]: r["h"]
        for r in df.select("doc_id", udf("text").alias("h")).collect()
    }
    truth = {
        (a, b)
        for a in sigs
        for b in sigs
        if a < b
        and bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= 12
    }
    straddling = [
        (a, b) for a, b in truth if (sigs[a] < 0) != (sigs[b] < 0)
    ]
    assert straddling, (
        "corpus no longer exercises the sign boundary — reseed _corpus"
    )
    monkeypatch.setattr(dedup, "_SIMHASH_SHINGLE_N", 1)
    monkeypatch.setattr(dedup, "_SIMHASH_MAX_HAMMING", 12)
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_duplicates(df, feature_hash="md5").collect()
    }
    assert got == truth


def test_simhash_deterministic(spark):
    from mape_calculation_and_anonymization_spark.operators.dedup import simhash64_udf

    df = spark.createDataFrame([("a b c",), ("a b c",), (None,)], ["t"])
    vals = [r["h"] for r in df.select(simhash64_udf("t").alias("h")).collect()]
    assert vals[0] == vals[1]
    assert vals[2] is None


def test_md5_band_buckets_match_hof_form(spark):
    """The corpus-scale explode+agg banding must produce bit-identical
    (id, band_idx, band_key) buckets to the per-row HOF expression —
    only documents with an empty token set may differ (the agg form
    drops them; they can never verify above threshold)."""
    from mape_calculation_and_anonymization_spark.operators.dedup import (
        md5_band_buckets,
        md5_band_keys,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in _corpus(n=30)], ["doc_id", "text"]
    ).select("doc_id", tokens("text").alias("toks"), F.lit("en").alias("lang"),
             F.lit("web").alias("source"))

    hof = docs.select(
        "lang",
        "source",
        F.col("doc_id").alias("_id"),
        F.posexplode(md5_band_keys(F.col("toks"), 4, 2)).alias(
            "band_idx", "band_key"
        ),
    )
    agg = md5_band_buckets(docs)
    got = {tuple(r) for r in agg.collect()}
    want = {tuple(r) for r in hof.collect()}
    assert got == want and len(got) == 30 * 4


def test_gated_cluster_representatives(spark):
    """Decision-surface pin: best PASSING member wins (not the best
    overall), quality ties break on id, and a cluster with zero
    passing members is an explicit drop (NULL kept_id) with its
    ledger intact."""
    from mape_calculation_and_anonymization_spark.operators.dedup import (
        gated_cluster_representatives,
    )

    rows = [
        # cluster 1: the highest-quality member FAILS the gate —
        # the best passing one (doc 11, 0.7) must win instead
        (1, 10, 0.9, False),
        (1, 11, 0.7, True),
        (1, 12, 0.5, True),
        # cluster 2: nobody passes -> whole-cluster drop
        (2, 20, 0.8, False),
        (2, 21, 0.6, False),
        # cluster 3: quality tie among passers -> min doc_id
        (3, 31, 0.4, True),
        (3, 30, 0.4, True),
        # cluster 4: singleton pass-through
        (4, 40, 0.2, True),
    ]
    df = spark.createDataFrame(
        rows, ["cluster", "doc_id", "quality", "passed"]
    )
    got = {
        r["cluster"]: (
            r["kept_id"], r["kept_quality"], r["n_members"], r["n_pass"]
        )
        for r in gated_cluster_representatives(df).collect()
    }
    assert got == {
        1: (11, 0.7, 3, 2),
        2: (None, None, 2, 0),
        3: (30, 0.4, 2, 2),
        4: (40, 0.2, 1, 1),
    }


def test_bloom_prefilter_exact_equivalence(spark):
    """bloom_prefilter_anti_join must return EXACTLY the plain
    left-anti join (the exactness-preserving contract the
    dedup_bloom_prefilter oracle leans on) — including when the
    Bloom filter is deliberately tiny and saturated with false
    positives (64 bits for 200 keys: nearly every probe reports
    maybe, so the confirm join does all the work)."""
    from mape_calculation_and_anonymization_spark.operators.dedup import (
        bloom_prefilter_anti_join,
    )

    store = spark.range(0, 200).selectExpr("md5(cast(id as string)) AS fp")
    inc = spark.range(100, 400).selectExpr(
        "id AS row_id", "md5(cast(id as string)) AS fp"
    )
    expected = {
        r["row_id"]
        for r in inc.join(store, "fp", "left_anti").collect()
    }
    assert expected == set(range(200, 400))
    for num_bits in (64, 1 << 17):
        got = {
            r["row_id"]
            for r in bloom_prefilter_anti_join(inc, store, num_bits=num_bits).collect()
        }
        assert got == expected, f"num_bits={num_bits}"


def test_bloom_prefilter_reserved_columns_fail_fast(spark):
    """ADVICE r13: an increment frame carrying one of the probe
    machinery's internal column names (_word/_mask/_bits/_hit/_maybe)
    must raise immediately instead of silently collapsing or
    mis-joining rows."""
    import pytest

    from mape_calculation_and_anonymization_spark.operators.dedup import (
        bloom_prefilter_anti_join,
    )

    store = spark.range(0, 10).selectExpr("md5(cast(id as string)) AS fp")
    inc = spark.range(0, 10).selectExpr(
        "md5(cast(id as string)) AS fp", "id AS _mask"
    )
    with pytest.raises(ValueError, match="_mask"):
        bloom_prefilter_anti_join(inc, store)


def test_bloom_prefilter_no_false_negatives_and_split(spark):
    """Every store member must test maybe (no false negatives — the
    property that makes the pre-filter safe), and at a sanely sized
    bitmap the definite-new path carries the bulk of genuinely new
    rows (false-positive rate under a loose 5% bound)."""
    from mape_calculation_and_anonymization_spark.operators.dedup import (
        _BLOOM_HASHES,
        bloom_bitmap,
        _bloom_probes,
    )

    num_bits, k = 1 << 17, _BLOOM_HASHES
    store = spark.range(0, 2000).selectExpr("md5(cast(id as string)) AS fp")
    bitmap = bloom_bitmap(store, num_bits)
    # probe members + 2000 disjoint non-members through the bitmap
    members = store.withColumn("is_member", F.lit(True))
    others = spark.range(10_000, 12_000).selectExpr(
        "md5(cast(id as string)) AS fp", "false AS is_member"
    )
    probed = (
        _bloom_probes(members.unionByName(others), num_bits)
        .join(bitmap, "_word", "left")
        .withColumn(
            "_hit",
            (
                F.coalesce(F.col("_bits"), F.lit(0)).bitwiseAND(
                    F.col("_mask")
                )
                == F.col("_mask")
            ).cast("int"),
        )
        .groupBy("fp", "is_member")
        .agg((F.sum("_hit") == F.lit(k)).alias("maybe"))
    )
    rows = probed.collect()
    false_negatives = [r for r in rows if r["is_member"] and not r["maybe"]]
    assert not false_negatives
    fp_count = sum(1 for r in rows if not r["is_member"] and r["maybe"])
    assert fp_count / 2000 < 0.05, fp_count


def test_exact_substring_spans_semantics(spark):
    """Hand-built corpus pinning the remove-span plan: canonical
    (first) occurrences keep their span starts, non-canonical ones
    are covered, overlapping removable positions merge into maximal
    intervals, and within-doc repetition flags itself."""
    from mape_calculation_and_anonymization_spark.operators.dedup import (
        exact_substring_spans,
    )

    docs = [
        (1, "a b c d e f g h"),                               # all canonical
        (2, "x x a b c d e f y y z w q"),                     # middle copy
        (3, "a b c d e q1 q2 q3 q4 b c d e f"),               # two cuts
        (4, "m n o p q m n o p q m n o p q"),                 # self-repeat
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in exact_substring_spans(df).collect()
    }
    assert got == {
        # doc2: shingles at pos 2,3 duplicate doc1 pos 0,1 -> [2, 7]
        (2, 2, 7, 6),
        # doc3: "a b c d e"@0 and "b c d e f"@9 removable, disjoint
        (3, 0, 4, 5),
        (3, 9, 13, 5),
        # doc4: the 5 rotations' first occurrences (pos 0-4) are
        # canonical; pos 5-10 removable -> one merged span [5, 14]
        (4, 5, 14, 10),
    }


def test_incremental_dedup_ledger_semantics(spark):
    """The dedup_incremental registry query on a hand-built corpus:
    evens = history, odds = increment (plus the query's synthesized
    copies); whitespace-only variants must hash equal (normalization
    before fingerprinting) and the ledger identities must hold."""
    import __spark_entry__ as e
    import os
    import tempfile

    rows = [
        (0, "en", "alpha beta"),      # history
        (2, "en", "gamma  delta"),    # history (internal dbl space)
        (1, "en", "unique one"),      # increment: kept
        (3, "en", "alpha   beta"),    # increment: dup of history 0
        (5, "fr", "seul"),            # increment: kept
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows, "doc_id long, lang string, text string"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(d, "documents.parquet")
        )
        got = {
            r["lang"]: r.asDict()
            for r in e._q_dedup_incremental(spark, d).collect()
        }
    # en increment = odds {1,3} + even-copies {0+1M,2+1M} + odd-copies
    # {1+2M,3+2M} = 6 rows. firsts: 1, 3, (0+1M and 2+1M are new fps?
    # no — 3 shares 0's fp, so 0+1M dups 3's fp group → first is 3;
    # 2+1M first of its fp; 1 first; dup copies 1+2M/3+2M dropped
    # within. kept: fp(unique one)=1 only — 3 and 2+1M hit the store.
    en = got["en"]
    assert en["n_increment"] == 6
    assert en["n_kept"] == 1
    assert en["n_dropped_history"] == 2
    assert en["n_dropped_within"] == 3
    # fr: increment = {5, 5+2M}; store empty for fr's fp → kept 5
    fr = got["fr"]
    assert fr["n_increment"] == 2
    assert fr["n_kept"] == 1
    assert fr["n_dropped_history"] == 0
    assert fr["n_dropped_within"] == 1
    # ledger identity: every increment row has exactly one fate
    for row in got.values():
        assert (
            row["n_kept"] + row["n_dropped_history"] + row["n_dropped_within"]
            == row["n_increment"]
        )


def test_jaccard_index_fixture_matches_live_derivation(spark):
    """The near-dup index fixture must be value-equal to a fresh
    derivation from the (tokenized) corpus — the stale-fixture failure
    mode that version-keyed paths guard against (a semantics change in
    the pair derivation with an unbumped _JACCARD_INDEX_VERSION
    surfaces here before it can silently serve stale values; the
    sf0.01 DuckDB oracle, which re-derives from raw text, is the
    second line of defense)."""
    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    fixture = {
        (r["id_a"], r["id_b"], r["jaccard_sim"])
        for r in e._q_dedup_jaccard_pairs(spark, sf).collect()
    }
    live = {
        (r["id_a"], r["id_b"], r["jaccard_sim"])
        for r in e._jaccard_verified_pairs(e._jaccard_corpus(spark, sf)).collect()
    }
    assert fixture == live and fixture


def test_jaccard_index_cluster_fixture_matches_live_derivation(spark):
    """Same stale-fixture guard for the OTHER half of the index: the
    clusters parquet must be value-equal to a fresh
    duplicate_clusters() run over the same corpus+pairs. A semantics
    change in the component labeling with an unbumped
    _JACCARD_INDEX_VERSION would otherwise serve a stale cluster map
    to dedup_keep_best/dedup_clusters at every sf the oracle doesn't
    cover (the pairs-half test above cannot see it)."""
    import os

    from mape_calculation_and_anonymization_spark.operators.graph import (
        duplicate_clusters,
    )

    import __spark_entry__ as e

    sf = "/root/testdata/sf0.001"
    root = e._jaccard_index(spark, sf)
    fixture_df = spark.read.parquet(os.path.join(root, "clusters"))
    cols = sorted(fixture_df.columns)
    fixture = {
        tuple(r[c] for c in cols) for r in fixture_df.collect()
    }
    corpus = e._jaccard_corpus(spark, sf)
    pairs = spark.read.parquet(os.path.join(root, "pairs"))
    live = {
        tuple(r[c] for c in cols)
        for r in duplicate_clusters(corpus, pairs).collect()
    }
    assert fixture == live and fixture


def test_duplicated_span_stats_hand_example(spark, monkeypatch):
    """5 docs, n=2: duplicated spans counted with corpus-wide
    multiplicity (cross-doc AND within-doc), short docs absent."""
    from mape_calculation_and_anonymization_spark.operators import dedup
    from mape_calculation_and_anonymization_spark.operators.dedup import (
        duplicated_span_stats,
    )

    monkeypatch.setattr(dedup, "_SPAN_N", 2)

    rows = [
        (1, "a b c"),        # shingles: 'a b', 'b c'
        (2, "a b x"),        # shingles: 'a b', 'b x'   -> 'a b' cross-doc dup
        (3, "q q q"),        # shingles: 'q q', 'q q'   -> within-doc dup
        (4, "solo"),         # 1 token: no shingles -> absent
        (5, ""),             # empty -> absent
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_dup_spans"], r["dup_fraction"])
        for r in duplicated_span_stats(df).collect()
    }
    assert got == {
        1: (2, 1, 0.5),   # 'a b' dup, 'b c' unique
        2: (2, 1, 0.5),   # 'a b' dup, 'b x' unique
        3: (2, 2, 1.0),   # 'q q' occurs twice (same doc)
    }


def test_duplicated_span_stats_whitespace_normalization(spark, monkeypatch):
    """Multi-space and case differences must not split shingles —
    normalization (trim/lower/\\s+) runs before shingling on both
    engines."""
    from mape_calculation_and_anonymization_spark.operators import dedup
    from mape_calculation_and_anonymization_spark.operators.dedup import (
        duplicated_span_stats,
    )

    monkeypatch.setattr(dedup, "_SPAN_N", 2)

    rows = [(1, "Foo  Bar baz"), (2, "foo bar   qux")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_dup_spans"])
        for r in duplicated_span_stats(df).collect()
    }
    assert got == {1: (2, 1), 2: (2, 1)}  # 'foo bar' shared


def test_apply_remove_spans_basic(spark):
    """apply_remove_spans cuts exactly the planned inclusive token
    intervals, collapses overlaps, counts islands, and passes
    span-free docs through with their original (lowercased) token
    md5."""
    import hashlib

    from mape_calculation_and_anonymization_spark.operators.dedup import (
        apply_remove_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "clean doc stays whole"),
        ],
        ["doc_id", "text"],
    )
    spans = spark.createDataFrame(
        # overlapping 2-4 and 3-6 merge into one cut; 8-9 is a second
        [(1, 2, 4), (1, 3, 6), (1, 8, 9)],
        ["doc_id", "span_start", "span_end"],
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in apply_remove_spans(docs, spans).collect()
    }
    assert (
        got[1]["action"],
        got[1]["n_spans_applied"],
        got[1]["tokens_removed"],
        got[1]["n_tokens_clean"],
    ) == ("cut", 2, 7, 3)
    assert got[1]["clean_md5"] == hashlib.md5(b"a b h").hexdigest()
    assert (
        got[2]["action"],
        got[2]["tokens_removed"],
        got[2]["clean_md5"],
    ) == ("kept", 0, hashlib.md5(b"clean doc stays whole").hexdigest())


def test_apply_remove_spans_closes_exactsubstr_loop(spark):
    """Planner → applier end to end (the Lee et al. pipeline): after
    applying exact_substring_spans' plan, re-planning on the CUT
    token streams finds no removable duplicate span whose shingle
    survives in two places — i.e. the canonical occurrence is the
    only intact copy of every formerly-duplicated 5-gram (modulo the
    documented boundary fuzz, which only ever removes EXTRA tokens,
    never preserves a duplicate)."""
    from mape_calculation_and_anonymization_spark.operators.dedup import (
        apply_remove_spans,
        exact_substring_spans,
    )

    shared = "one two three four five six seven"
    docs = spark.createDataFrame(
        [
            (1, f"intro {shared} outro"),
            (2, f"{shared} trailing words here"),
            (3, "totally unrelated content with no overlap at all"),
        ],
        ["doc_id", "text"],
    )
    spans = exact_substring_spans(docs)
    cleaned = apply_remove_spans(docs, spans)
    rows = {r["doc_id"]: r.asDict() for r in cleaned.collect()}
    # doc 1 holds the canonical (min (doc_id, pos)) occurrences? No:
    # canonical is lexicographic min over (doc_id, pos) per shingle —
    # doc 1's copy starts at pos 1, doc 2's at pos 0; (1, x) < (2, y)
    # always, so doc 1 keeps the shared run and doc 2 loses it.
    assert rows[1]["action"] == "kept"
    assert rows[2]["action"] == "cut"
    assert rows[2]["tokens_removed"] >= 7  # the whole shared run
    assert rows[3]["action"] == "kept"
    # no duplicated 5-gram survives in two intact copies: rebuild
    # texts from the surviving token count logic by re-planning over
    # the cut streams — zero removable spans expected
    from pyspark.sql import functions as F

    rebuilt = spark.createDataFrame(
        [
            (1, f"intro {shared} outro"),
            (2, " ".join(
                t for i, t in enumerate(
                    f"{shared} trailing words here".split()
                )
                # doc 2's cut covers the shared run's positions
                if i > rows[2]["tokens_removed"] - 1
            )),
            (3, "totally unrelated content with no overlap at all"),
        ],
        ["doc_id", "text"],
    )
    assert exact_substring_spans(rebuilt).count() == 0


def test_minhash_incremental_equals_full_restriction(spark):
    """minhash_incremental_pairs (round-15-ready) == the full-corpus
    pipeline restricted to pairs touching the new drop — same
    signatures, same buckets, same flood cap, same exact verify; only
    the standing x standing expansion is skipped. pair_type labels
    check out against the split."""
    docs = _corpus(n=60)
    # split: standing = first 40, new drop = rest, PLUS a near-dup of
    # a standing doc planted in the drop so new_standing is non-empty
    standing = docs[:40]
    drop = docs[40:] + [(9001, docs[5][1] + " tail")]
    full = standing + drop
    df_standing = spark.createDataFrame(standing, ["doc_id", "text"])
    df_drop = spark.createDataFrame(drop, ["doc_id", "text"])
    df_full = spark.createDataFrame(full, ["doc_id", "text"])

    from mape_calculation_and_anonymization_spark.operators.dedup import (
        minhash_incremental_pairs,
        minhash_signatures,
    )

    standing_sigs = minhash_signatures(
        df_standing.select(F.col("doc_id").alias("_id"), word_ngrams(3).alias("sh")),
        F.col("sh"),
    )
    got = {
        (r["id_a"], r["id_b"]): (round(r["jaccard_sim"], 9), r["pair_type"])
        for r in minhash_incremental_pairs(
            df_drop, df_standing, standing_sigs, word_ngrams(3)
        ).collect()
    }
    new_ids = {d for d, _ in drop}
    expected = {
        (r["id_a"], r["id_b"]): round(r["jaccard_sim"], 9)
        for r in minhash_near_duplicates(df_full).collect()
        if r["id_a"] in new_ids or r["id_b"] in new_ids
    }
    assert {k: v[0] for k, v in got.items()} == expected
    assert expected, "planted drop near-dup missing from ground truth"
    for (ia, ib), (_, ptype) in got.items():
        both_new = ia in new_ids and ib in new_ids
        assert ptype == ("new_new" if both_new else "new_standing")
    # the planted (standing doc 5, drop doc 9001) pair is the
    # guaranteed new_standing detection
    assert any(t == "new_standing" for _, t in got.values())


def test_exactsubstr_cut_conservation(spark):
    """Per-doc conservation + answer sanity at sf0.001: removed +
    clean == original token count, and the planted dup density of the
    testdata yields at least one cut document."""
    import __spark_entry__ as e

    sf = e.SF0001

    rows = e._q_exactsubstr_cut(spark, sf).collect()
    docs = {
        r["doc_id"]: len(r["text"].strip().lower().split())
        for r in e.load_table(spark, sf, "documents")
        .select("doc_id", "text")
        .collect()
        if r["text"] is not None
    }
    assert len(rows) == len(docs)
    assert any(r["action"] == "cut" for r in rows)
    for r in rows:
        # re.split-vs-str.split parity only diverges on empty text,
        # which this fixture does not contain
        assert r["tokens_removed"] + r["n_tokens_clean"] == docs[r["doc_id"]]


def test_minhash_incremental_answer_shape(spark):
    """Every planted twin pairs with its original as new_standing
    (jaccard well above 0.6 for multi-gram docs), and the answer is
    exactly the registered full-pipeline query's pairs restricted to
    twin-touching ones."""
    import __spark_entry__ as e

    sf = e.SF0001

    rows = e._q_minhash_incremental(spark, sf).collect()
    assert rows
    got = {(r["id_a"], r["id_b"]): r["pair_type"] for r in rows}
    full = {
        (r["id_a"], r["id_b"])
        for r in e._q_dedup_minhash_pairs(spark, sf).collect()
        if r["id_a"] >= 1_000_000 or r["id_b"] >= 1_000_000
    }
    assert set(got) == full
    for (ia, ib), t in got.items():
        assert t == (
            "new_new" if ia >= 1_000_000 and ib >= 1_000_000
            else "new_standing"
        )
