"""Text analysis operators: hand-computed expectations + edge cases."""

import pytest
from pyspark.sql import functions as F

from mape_calculation_and_anonymization_spark.operators.text import (
    bpeish_token_count,
    fingerprint,
    language_id,
    mean_token_length,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
)


def _one(spark, text, expr):
    df = spark.createDataFrame([(text,)], ["text"])
    return df.select(expr.alias("v")).collect()[0]["v"]


def test_token_counts(spark):
    assert _one(spark, "the cat  sat", token_count("text")) == 3
    assert _one(spark, "", token_count("text")) == 0
    assert _one(spark, "   ", token_count("text")) == 0
    # BPE-ish: words + punctuation marks separately
    assert _one(spark, "hi, world!", bpeish_token_count()) == 4
    assert _one(spark, "", bpeish_token_count()) == 0


def test_ratios(spark):
    assert _one(spark, "ab,!", punct_ratio("text")) == pytest.approx(0.5)
    # 'the' and 'a' are stopwords; 4 tokens
    assert _one(spark, "the cat a dog", stopword_ratio("text")) == pytest.approx(0.5)
    assert _one(spark, "ab cdef", mean_token_length("text")) == pytest.approx(3.0)


def test_quality_monotonic(spark):
    clean = "the quick brown fox jumps over the lazy dog and runs far away " * 10
    noisy = "!!! ### $$$ %% ^^ && " * 20
    q_clean = _one(spark, clean, quality_score("text"))
    q_noisy = _one(spark, noisy, quality_score("text"))
    assert q_clean > q_noisy


def test_language_id(spark):
    assert _one(spark, "the cat is in the house", language_id()) == "en"
    assert _one(spark, "der hund ist nicht auf der straße", language_id()) == "de"
    assert _one(spark, "el perro es un animal que vive en la casa", language_id()) == "es"
    assert _one(spark, "xyzzy qwerty", language_id()) == "und"


def test_fingerprint_deterministic_and_sensitive(spark):
    f1 = _one(spark, "hello world", fingerprint())
    f2 = _one(spark, "hello world", fingerprint())
    f3 = _one(spark, "hello worle", fingerprint())
    assert f1 == f2 != f3
    # matches the straightforward Python reduction
    expect = 0
    for ch in "hello world":
        expect = (expect * 31 + ord(ch)) % ((1 << 31) - 1)
    assert f1 == expect
    assert _one(spark, "", fingerprint()) == 0


def test_pack_sequences_matches_serial_prefix_sum(spark):
    from pyspark.sql import Row

    from mape_calculation_and_anonymization_spark.operators.text import (
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=i, text=" ".join(["tok"] * ((i * 7) % 13 + 1))) for i in range(600)]
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["seq_id"])
        for r in pack_sequences(docs).collect()
    }
    # independent serial reference: exclusive running sum over id order
    off = 0
    for i in range(600):
        n = (i * 7) % 13 + 1
        assert got[i] == (n, off // 512), f"doc {i}"
        off += n
    # seq ids are contiguous from 0
    seqs = sorted({s for _, s in got.values()})
    assert seqs == list(range(len(seqs)))


def test_contamination_check_planted_overlap(spark):
    from pyspark.sql import Row

    from mape_calculation_and_anonymization_spark.operators.text import (
        contamination_check,
    )

    secret = "alpha bravo charlie delta echo foxtrot golf hotel"
    bench = spark.createDataFrame(
        [Row(doc_id=1, text=f"prefix {secret} suffix")]
    )
    train = spark.createDataFrame(
        [
            Row(doc_id=100, text=f"leading words then {secret} trailing"),
            Row(doc_id=101, text="entirely different content with no overlap at all here"),
        ]
    )
    got = {
        r["doc_id"]: r["n_shared_shingles"]
        for r in contamination_check(train, bench).collect()
    }
    assert 100 in got and got[100] >= 1
    assert 101 not in got


def test_pack_and_contamination_empty_inputs(spark):
    from pyspark.sql import types as T

    from mape_calculation_and_anonymization_spark.operators.text import (
        contamination_check,
        pack_sequences,
    )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    empty = spark.createDataFrame([], schema)
    assert pack_sequences(empty).count() == 0
    some = spark.createDataFrame([(1, "hello world")], schema)
    # empty bench → nothing is contaminated; empty train → no rows
    assert contamination_check(some, empty).count() == 0
    assert contamination_check(empty, some).count() == 0


def test_normalize_text_canonical_forms(spark):
    from mape_calculation_and_anonymization_spark.operators.text import (
        normalize_text,
    )

    n = lambda t: _one(spark, t, normalize_text())  # noqa: E731
    # case / punctuation / whitespace-layout variants converge
    assert n("Hello,   World!") == n("hello world") == "hello world"
    assert n("a-b_c") == "a b c"
    assert n("") == ""
    assert n("!!!") == ""
    # CJK and accented text SURVIVES normalization — an ASCII-only
    # class would collapse whole non-Latin corpora into one giant
    # false duplicate group
    assert n("你好，世界！") == "你好 世界"
    assert n("Café   déjà-vu") == "café déjà vu"
    assert n("数字123与abc") == "数字123与abc"


def test_word_bigrams_edges(spark):
    from mape_calculation_and_anonymization_spark.operators.text import (
        word_bigrams,
    )

    b = lambda t: _one(spark, t, word_bigrams())  # noqa: E731
    assert b("The cat  sat down") == ["the cat", "cat sat", "sat down"]
    assert b("solo") == []
    assert b("") == []
    assert b("   ") == []
    assert b("A B") == ["a b"]


def test_language_id_bulk_equals_per_row_expression(spark):
    """language_id_bulk (explode + broadcast join + argmax) must
    return the EXACT predictions of the per-row language_id
    expression on every document — including ties (first-max-wins by
    language order) and zero-hit docs ('und')."""
    from mape_calculation_and_anonymization_spark.fixtures import load_table
    from mape_calculation_and_anonymization_spark.operators.text import (
        language_id,
        language_id_bulk,
    )

    docs = load_table(spark, "/root/testdata/sf0.01", "documents").select(
        "doc_id", "text"
    )
    per_row = {
        r["doc_id"]: r["p"]
        for r in docs.select(
            "doc_id", language_id().alias("p")
        ).collect()
    }
    bulk = {
        r["doc_id"]: r["predicted"]
        for r in language_id_bulk(docs).collect()
    }
    assert per_row == bulk
    # synthetic corpus exercises both branches
    assert set(per_row.values()) & {"en", "de", "es", "fr"}


def test_language_id_bulk_tie_and_und_cases(spark):
    from mape_calculation_and_anonymization_spark.operators.text import (
        STOPWORDS,
        language_id,
        language_id_bulk,
    )

    rows = [
        (1, "the und la"),        # en 1 hit, de 1 ('und'), es 1, fr 1 → tie → en (first)
        (2, "zzz qqq"),           # zero hits → 'und'
        (3, "der der die the"),   # de 3, en 1 → de
        (4, ""),                  # empty → 'und'
        (5, "de de de"),          # 'de' word is es+fr stopword (not German!) → tie es/fr → es
        (6, None),                # NULL text → NULL, not 'und' (ADVICE r9)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    per_row = {
        r["doc_id"]: r["p"]
        for r in df.select("doc_id", language_id().alias("p")).collect()
    }
    bulk = {
        r["doc_id"]: r["predicted"]
        for r in language_id_bulk(df).collect()
    }
    assert bulk == per_row
    assert bulk[2] == "und" and bulk[4] == "und"
    assert bulk[6] is None  # NULL-in → NULL-out on both paths


def test_quality_gate_funnel_hand_example(spark):
    """Chained gates: each stage's n_in is the previous n_pass, NULL
    text fails conservatively, and a doc failing an early gate never
    reaches later ones."""
    from mape_calculation_and_anonymization_spark.operators.text import (
        quality_gate_funnel,
    )

    rows = [
        (1, "the cat sat on the mat with a dog today"),  # passes all
        (2, "hi"),                                        # fails min_tokens
        (3, None),                                        # NULL → fails gate 1
        (4, "the " + "!!!! " * 20),                       # punct flood
        (5, "zz qq ww ee rr tt yy uu"),                   # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["gate"]: (r["stage"], r["n_in"], r["n_pass"], r["pass_rate"])
        for r in quality_gate_funnel(df).collect()
    }
    assert got["min_tokens"] == (1, 5, 3, 0.6)   # docs 1, 4, 5 pass
    assert got["max_tokens"][1:3] == (3, 3)
    assert got["punct_ratio"][1:3] == (3, 2)     # doc 4 drops
    assert got["stopword_ratio"][1:3] == (2, 1)  # doc 5 drops
    assert got["mean_token_len"][1:3] == (1, 1)  # doc 1 survives
    # funnel chaining: each n_in equals the previous gate's n_pass
    ordered = sorted(got.values())
    assert all(
        ordered[i + 1][1] == ordered[i][2] for i in range(len(ordered) - 1)
    )


def test_ngram_novelty_hand_example(spark):
    """First-occurrence attribution by ascending doc id; repeats are
    not novel; short docs contribute their whole text as one gram."""
    from mape_calculation_and_anonymization_spark.operators.text import (
        ngram_novelty,
    )

    s = "alpha bravo charlie delta echo"  # exactly one 5-gram
    rows = [
        (1, s),                       # novel: first to ship the gram
        (2, s),                       # 0 novel: re-ships doc 1's gram
        (3, s + " foxtrot"),          # 2 grams: one old, one new
        (4, "tiny doc"),              # short: whole text, novel
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_distinct_shingles"], r["n_novel"], r["novelty_rate"])
        for r in ngram_novelty(df).collect()
    }
    assert got[1] == (1, 1, 1.0)
    assert got[2] == (1, 0, 0.0)
    assert got[3] == (2, 1, 0.5)
    assert got[4] == (1, 1, 1.0)


def test_corpus_datacard(spark):
    """Hand-checkable card: 2 groups, one exact duplicate pair that
    CROSSES groups (global fingerprint), a NULL doc and a blank doc
    (counted, excluded from dup/quality arithmetic)."""
    from mape_calculation_and_anonymization_spark.operators.text import (
        corpus_datacard,
    )

    rows = [
        ("a", "en", "the quick brown fox jumps over the lazy dog"),
        ("a", "en", "shared boilerplate header text"),
        ("b", "en", "shared boilerplate header text"),  # cross-group dup
        ("a", "en", None),
        ("b", "en", ""),
        ("b", "en", "another perfectly ordinary document body"),
    ]
    df = spark.createDataFrame(rows, "source string, lang string, text string")
    got = {
        (r["source"], r["lang"]): r
        for r in corpus_datacard(df).collect()
    }
    a, b = got[("a", "en")], got[("b", "en")]
    assert a["n_docs"] == 3 and b["n_docs"] == 3
    assert a["n_null_text"] == 1 and b["n_null_text"] == 0
    # the duplicate pair is split across groups — each side counts 1
    assert a["exact_dup_docs"] == 1 and b["exact_dup_docs"] == 1
    assert a["dup_rate"] == pytest.approx(1 / 3, abs=1e-6)
    # chars/tokens skip NULL; blank doc contributes 0 tokens, 0 chars
    assert a["total_chars"] == len(rows[0][2]) + len(rows[1][2])
    assert a["total_tokens"] == 9 + 4
    assert b["total_tokens"] == 0 + 4 + 5
    # quality: NULL doc and blank doc contribute NULL (skipped by avg)
    assert a["mean_quality"] is not None
    assert 0.0 < b["mean_quality"] <= 1.0


def test_vocab_coverage_curve(spark, monkeypatch):
    """Known Zipf-toy corpus: a:3 b:2 c:1 (total 6). Coverage at
    k=1/2/10 must be 3/6, 5/6, 6/6 with n_terms capped by the
    actual vocabulary; frequency ties (none here) break on the term
    per the deterministic ordering contract."""
    from mape_calculation_and_anonymization_spark.operators import text

    df = spark.createDataFrame(
        [("a a a b",), ("b c",)], ["text"]
    )
    monkeypatch.setattr(text, "_COVERAGE_KS", (1, 2, 10))
    got = {
        r["vocab_k"]: (
            r["n_terms"], r["covered_tokens"], r["total_tokens"],
            r["coverage"],
        )
        for r in text.vocab_coverage_curve(df).collect()
    }
    assert got == {
        1: (1, 3, 6, 0.5),
        2: (2, 5, 6, 0.833333),
        10: (3, 6, 6, 1.0),
    }


def test_source_overlap_matrix(spark, monkeypatch):
    """Hand-built provenance pin (n=3): shared distinct shingles per
    source pair, overlap coefficient over FULL per-source totals, and
    the sources-per-shingle flood cap dropping a shingle from the
    pair expansion entirely."""
    from mape_calculation_and_anonymization_spark.operators import text
    from mape_calculation_and_anonymization_spark.operators.text import (
        source_overlap_matrix,
    )

    monkeypatch.setattr(text, "_OVERLAP_N", 3)
    docs = spark.createDataFrame(
        [
            ("A", "a b c d e"),   # {abc, bcd, cde}
            ("B", "a b c x y"),   # {abc, bcx, cxy}
            ("C", "p q r s"),     # {pqr, qrs} — disjoint
            ("D", "a b c d q"),   # {abc, bcd, cdq}
        ],
        ["source", "text"],
    )
    got = {
        (r["source_a"], r["source_b"]): (
            r["shared_shingles"], r["overlap_coeff"]
        )
        for r in source_overlap_matrix(docs).collect()
    }
    assert got == {
        ("A", "B"): (1, 0.333333),
        ("A", "D"): (2, 0.666667),
        ("B", "D"): (1, 0.333333),
    }
    # cap=2: 'a b c' lives in 3 sources -> dropped before the join
    monkeypatch.setattr(text, "_MAX_SOURCES_PER_SHINGLE", 2)
    capped = {
        (r["source_a"], r["source_b"]): r["shared_shingles"]
        for r in source_overlap_matrix(docs).collect()
    }
    assert capped == {("A", "D"): 1}


def test_contamination_near_dup(spark, monkeypatch):
    """Near-dup decontamination pin: a lightly-edited train copy of a
    benchmark doc is flagged with its exact Jaccard; an unrelated doc
    and a one-shared-shingle doc (the case contamination_check WOULD
    flag) stay below the threshold."""
    from mape_calculation_and_anonymization_spark.operators import text
    from mape_calculation_and_anonymization_spark.operators.text import (
        contamination_near_dup,
    )

    monkeypatch.setattr(text, "_NEAR_DUP_THRESHOLD", 0.4)
    bench = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            # one word changed -> high jaccard, must be flagged
            (10, "the quick brown fox leaps over the lazy dog today"),
            # shares exactly one 3-gram ("the quick brown") -> tiny
            # jaccard, must NOT be flagged at 0.4
            (11, "the quick brown bear sleeps in a very deep cave"),
            (12, "completely unrelated text about parquet files"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["train_id"], r["bench_id"]): r["jaccard_sim"]
        for r in contamination_near_dup(train, bench).collect()
    }
    assert set(got) == {(10, 1)}
    # 8 shingles each; the changed word breaks the 3 grams covering
    # it: 5 shared -> 5 / (8 + 8 - 5)
    assert got[(10, 1)] == pytest.approx(5 / 11, abs=1e-6)


def test_decontaminate_corpus_decision_surface(spark):
    """Round-14 pin for decontaminate_corpus: a near-dup of a
    benchmark doc is dropped whole; a doc sharing one benchmark
    3-gram gets exactly that span cut (islands-merged when matches
    overlap); a clean doc passes through with its original tokens'
    md5. Hand-computed expectations."""
    import hashlib

    from mape_calculation_and_anonymization_spark.operators.text import (
        decontaminate_corpus,
    )

    bench = spark.createDataFrame(
        [
            (100, "a quick brown fox appears"),
            (101, "exam question is what is two plus two"),
        ],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [
            # one benchmark 3-gram ("quick brown fox") at tokens 1-3
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely clean document with novel words only"),
            # two overlapping matches at 0 and 3 -> ONE merged span
            (3, "quick brown fox quick brown fox again and again"),
            # near-dup of bench 101 -> dropped whole
            (4, "the exam question is what is two plus two answer"),
            (5, None),  # null text contributes nothing
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r.asDict()
        for r in decontaminate_corpus(train, bench).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    assert (
        got[1]["action"],
        got[1]["n_spans_cut"],
        got[1]["tokens_removed"],
        got[1]["n_tokens_clean"],
    ) == ("cut", 1, 3, 6)
    assert got[1]["clean_md5"] == hashlib.md5(
        b"the jumps over the lazy dog"
    ).hexdigest()
    assert (
        got[2]["action"],
        got[2]["tokens_removed"],
        got[2]["clean_md5"],
    ) == (
        "kept",
        0,
        hashlib.md5(
            b"completely clean document with novel words only"
        ).hexdigest(),
    )
    # overlapping covered ranges 0-2 and 3-5 merge into one span
    assert (
        got[3]["action"],
        got[3]["n_spans_cut"],
        got[3]["tokens_removed"],
        got[3]["n_tokens_clean"],
    ) == ("cut", 1, 6, 3)
    assert (
        got[4]["action"],
        got[4]["tokens_removed"],
        got[4]["n_tokens_clean"],
        got[4]["clean_md5"],
    ) == ("dropped", 10, 0, None)
    # conservation: removed + clean == original token count for
    # every surviving doc
    for d, n_tok in ((1, 9), (2, 7), (3, 9)):
        assert got[d]["tokens_removed"] + got[d]["n_tokens_clean"] == n_tok


def test_decontaminate_corpus_two_spans(spark):
    """Two non-adjacent benchmark matches produce TWO spans; adjacent
    coverage (gap == 1 token between covered ranges is still a break
    only when the gap exceeds one index) merges."""
    from mape_calculation_and_anonymization_spark.operators.text import (
        decontaminate_corpus,
    )

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma"), (101, "delta epsilon zeta")],
        ["doc_id", "text"],
    )
    # matches at pos 0 (alpha beta gamma -> covers 0-2) and pos 5
    # (delta epsilon zeta -> covers 5-7): gap at indices 3-4 -> 2 spans
    train = spark.createDataFrame(
        [(1, "alpha beta gamma filler words delta epsilon zeta tail")],
        ["doc_id", "text"],
    )
    r = decontaminate_corpus(train, bench).collect()[0]
    assert (r["action"], r["n_spans_cut"], r["tokens_removed"]) == ("cut", 2, 6)
    assert r["n_tokens_clean"] == 3  # filler words tail


def test_repetition_stats_columns_and_ratios(spark):
    """ngram_repetition_stats returns (id, rep{n}) for every input row:
    1 - distinct/total over the exploded grams, 0 for docs shorter
    than ``n`` tokens and for NULL text."""
    from mape_calculation_and_anonymization_spark.operators.text import (
        ngram_repetition_stats,
    )

    df = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "x y"), (3, None)], ["doc_id", "text"]
    )
    out = ngram_repetition_stats(df)
    assert out.columns == ["doc_id", "rep3"]
    rows = {r["doc_id"]: r["rep3"] for r in out.collect()}
    # "a b c a b c": grams [abc,bca,cab,abc] → 1 - 3/4
    assert abs(rows[1] - 0.25) < 1e-9
    assert rows[2] == 0.0 and rows[3] == 0.0
