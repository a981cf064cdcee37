"""BPE induction: Spark vs pure-Python reference equivalence."""

from __future__ import annotations

from pyspark.sql import functions as F

from mape_calculation_and_anonymization_spark.operators.bpe import (
    bpe_merges,
    word_frequencies,
)


def _py_bpe(word_freqs: dict[str, int], n: int):
    """Reference implementation (Sennrich 2016 greedy loop, ties
    broken lexicographically, merges applied left-to-right)."""
    syms = {w: list(w) for w in word_freqs}
    merges = []
    for rank in range(n):
        counts: dict[tuple[str, str], int] = {}
        for w, f in word_freqs.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (l, r), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, l, r, l + r, c))
        for w, s in syms.items():
            new: list[str] = []
            for x in s:
                if new and new[-1] == l and x == r:
                    new[-1] = l + r
                else:
                    new.append(x)
            syms[w] = new
    return merges


def test_bpe_matches_python_reference(spark):
    freqs = {
        "low": 5, "lower": 2, "newest": 6, "widest": 3,
        "lowest": 4, "new": 7, "wider": 2, "lll": 3,
    }
    words = spark.createDataFrame(list(freqs.items()), ["word", "freq"])
    got = [
        (r["rank"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_merges(words, 10).orderBy("rank").collect()
    ]
    assert got == _py_bpe(freqs, 10)


def test_bpe_left_to_right_same_symbol_merge(spark):
    # 'aaa' with merge (a,a): left-to-right gives ['aa','a'], so the
    # second round's top pair is ('aa','a'), never ('a','aa')
    words = spark.createDataFrame([("aaa", 10)], ["word", "freq"])
    got = [
        (r["left"], r["right"]) for r in bpe_merges(words, 2).collect()
    ]
    assert got == [("a", "a"), ("aa", "a")]


def test_bpe_early_stop(spark):
    words = spark.createDataFrame([("a", 3), ("b", 2)], ["word", "freq"])
    assert bpe_merges(words, 5).count() == 0  # no adjacent pairs at all


def test_word_frequencies_cap_deterministic(spark, monkeypatch):
    from mape_calculation_and_anonymization_spark.operators import bpe

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the cat ran"), (3, "a dog ran")],
        ["doc_id", "text"],
    )
    wf = {r["word"]: r["freq"] for r in word_frequencies(docs).collect()}
    assert wf == {"the": 2, "cat": 2, "sat": 1, "ran": 2, "a": 1, "dog": 1}
    monkeypatch.setattr(bpe, "_VOCAB_WORDS", 3)
    top = word_frequencies(docs).collect()
    # freq desc then word asc: cat(2), ran(2), the(2)
    assert sorted(r["word"] for r in top) == ["cat", "ran", "the"]


def test_bpe_local_equals_distributed(spark):
    from mape_calculation_and_anonymization_spark.operators.bpe import (
        bpe_merges_local,
    )

    freqs = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "new": 7}
    words = spark.createDataFrame(list(freqs.items()), ["word", "freq"])
    dist = [tuple(r) for r in bpe_merges(words, 12).orderBy("rank").collect()]
    loc = [tuple(r) for r in bpe_merges_local(words).orderBy("rank").collect()]
    assert dist == loc


def test_bpe_local_max_words_guard(spark, monkeypatch):
    import pytest

    from mape_calculation_and_anonymization_spark.operators import bpe
    from mape_calculation_and_anonymization_spark.operators.bpe import (
        bpe_merges_local,
    )

    words = spark.createDataFrame(
        [(f"w{i}", 1) for i in range(20)], ["word", "freq"]
    )
    monkeypatch.setattr(bpe, "_MAX_WORDS", 10)
    with pytest.raises(ValueError, match="max_words"):
        bpe_merges_local(words)


def test_encode_reproduces_training_symbol_table(spark):
    """Replaying the merge list over the training words must leave
    each word in exactly the symbol sequence the trainer's folds
    produced — encode and train share one semantics."""
    from mape_calculation_and_anonymization_spark.operators.bpe import (
        _apply_merge,
        bpe_encode_words,
        bpe_merges_local,
        word_frequencies,
    )
    from mape_calculation_and_anonymization_spark.fixtures import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    words = word_frequencies(docs)
    merges = bpe_merges_local(words)

    # trainer-side: fold the merges over the word table exactly as
    # bpe_merges does internally
    tbl = words.select("word", F.split("word", "").alias("syms"))
    for r in merges.orderBy("rank").collect():
        tbl = tbl.select(
            "word", _apply_merge(F.col("syms"), r["left"], r["right"]).alias("syms")
        )
    trained = {r["word"]: r["syms"] for r in tbl.collect()}

    encoded = {
        r["word"]: r["tokens"]
        for r in bpe_encode_words(words.select("word"), merges).collect()
    }
    assert encoded == trained
    assert any(len(t) < len(w) for w, t in encoded.items() if len(w) > 2)


def test_token_stats_hand_example(spark):
    from mape_calculation_and_anonymization_spark.operators.bpe import (
        bpe_token_stats,
    )

    docs = spark.createDataFrame(
        [(1, "aa aa b"), (2, "AA!"), (3, "123 ...")],
        "doc_id long, text string",
    )
    merges = spark.createDataFrame(
        [(0, "a", "a", "aa", 2)],
        "rank int, left string, right string, merged string, pair_count bigint",
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_subword_tokens"])
        for r in bpe_token_stats(docs, merges).collect()
    }
    # doc1: 'aa'x2 -> 1 token each, 'b' -> 1 token: 3 words, 3 tokens
    # doc2: 'aa' -> 1 token; doc3: no alphabetic words -> zeros
    assert got == {1: (3, 3), 2: (1, 1), 3: (0, 0)}


def test_encode_null_word_yields_null(spark):
    """ADVICE r9: the public encode surface must map NULL words to
    NULL token arrays instead of crashing in the executor
    (list(None) inside the Arrow batch)."""
    from mape_calculation_and_anonymization_spark.operators.bpe import (
        bpe_encode_words,
    )

    merges = spark.createDataFrame(
        [(0, "a", "b", "ab", 2)],
        "rank int, left string, right string, merged string, pair_count bigint",
    )
    words = spark.createDataFrame(
        [("abba",), (None,), ("",)], "word string"
    )
    got = {
        r["word"]: (r["tokens"], r["n_tokens"])
        for r in bpe_encode_words(words, merges).collect()
    }
    assert got["abba"] == (["ab", "b", "a"], 3)
    assert got[None] == (None, None)  # NULL-in -> NULL-out, size(NULL)=NULL
    assert got[""] == ([], 0)
