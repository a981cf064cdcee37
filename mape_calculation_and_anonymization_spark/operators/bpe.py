"""Distributed BPE vocabulary induction (Sennrich et al., "Neural
Machine Translation of Rare Words with Subword Units", ACL 2016).

Training a subword tokenizer is a corpus job every LLM data pipeline
runs once per release. The classic algorithm is greedy: repeatedly
find the most frequent adjacent symbol pair across the corpus and fuse
it. The scale-critical observation is that after the FIRST aggregate,
nothing ever touches the corpus again:

  1. one corpus pass builds the word-frequency table (vocabulary-sized
     — Heaps' law puts it orders of magnitude under the corpus);
  2. each merge iteration is a pair-count aggregate + a per-word fold,
     both over the word table, with pair counts weighted by word
     frequency. A 100 TB corpus and a 100 GB corpus with the same
     vocabulary train at the SAME per-iteration cost.

Per iteration exactly one answer-sized driver action happens (the
argmax pair — one row), mirroring the pagerank/IVF convention: driver
traffic is O(merges), never O(data). The fold that applies a merge is
a JVM-side higher-order function over symbol arrays (left-to-right,
the reference semantics); the word table is localCheckpointed each
iteration to truncate the growing lineage, same as pagerank's
power-iteration loop.

Determinism: ties on pair count break lexicographically, so the merge
list is a pure function of the corpus. Equivalence with a pure-Python
reference implementation is pinned in tests/test_bpe.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .rebalance import checkpoint


def word_frequencies(docs: DataFrame) -> DataFrame:
    """Corpus → (word, freq) table: lowercase, split on non-letters,
    keeping the top ``_VOCAB_WORDS`` words by (freq desc, word asc) — a
    deterministic, DECLARED training parameter (rare words can shift
    late merges; choose the cap like any tokenizer-trainer vocab
    bound), planned as top-k, never a full sort."""
    words = (
        docs.select(
            F.explode(
                F.split(F.lower(F.col("text")), "[^a-z]+")
            ).alias("word")
        )
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # top-k, not a silent runtime drop: the cap is a declared training
    # parameter (every production tokenizer trainer has one),
    # deterministic via the (freq desc, word asc) tie-break, and plans
    # as TakeOrderedAndProject — no full sort
    return words.orderBy(F.desc("freq"), F.asc("word")).limit(_VOCAB_WORDS)


def _apply_merge(syms, left: str, right: str):
    """Left-to-right single-merge fold: rebuild the symbol array,
    fusing every (left, right) adjacency. JVM-side higher-order
    aggregate — no Python in the loop."""
    merged = left + right
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


# vocabulary rows bpe_merges_local may collect to the driver
_MAX_WORDS = 100_000

# the tokenizer trainer's declared vocabulary cap (word_frequencies'
# top-N words) and its merge count (bpe_merges_local)
_VOCAB_WORDS = 2000
_MERGES = 12


def bpe_merges_local(words: DataFrame) -> DataFrame:
    """``_MERGES`` BPE merges with the greedy loop on the driver — the production
    steady state (HuggingFace/SentencePiece trainers do exactly this):
    the corpus-sized work is the ONE distributed word-frequency
    aggregate upstream; the loop's input is the vocabulary-sized word
    table, bounded here by ``_MAX_WORDS`` (fail-loudly guard, same
    discipline as pq.py's ``_MAX_QUERIES`` — a corpus-sized frame must
    never be collected). Identical output to :func:`bpe_merges`
    (pinned in tests/test_bpe.py); use the distributed variant when
    the symbol table genuinely exceeds driver memory."""
    rows = (
        words.select(F.col("word"), F.col("freq"))
        .limit(_MAX_WORDS + 1)
        .collect()
    )
    if len(rows) > _MAX_WORDS:
        raise ValueError(
            f"word table exceeds max_words={_MAX_WORDS}: the merge loop "
            "collects the vocabulary to the driver; cap it upstream "
            "(word_frequencies' _VOCAB_WORDS) or use bpe_merges()"
        )
    freqs = [(list(r[0]), int(r[1])) for r in rows]
    out = []
    for rank in range(_MERGES):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in freqs:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((rank, left, right, left + right, cnt))
        for i, (syms, f) in enumerate(freqs):
            new: list[str] = []
            for s in syms:
                if new and new[-1] == left and s == right:
                    new[-1] = left + right
                else:
                    new.append(s)
            freqs[i] = (new, f)
    return words.sparkSession.createDataFrame(
        out, "rank int, left string, right string, merged string, pair_count bigint"
    )


def bpe_merges(
    words: DataFrame,
    n_merges: int,
    word_col: str = "word",
    freq_col: str = "freq",
) -> DataFrame:
    """Learn ``n_merges`` BPE merges from a (word, freq) table.

    Returns (rank, left, right, merged, pair_count) — the ordered
    merge list a tokenizer replays at encode time. Stops early if no
    adjacent pair remains (tiny vocabularies)."""
    spark = words.sparkSession
    tbl = checkpoint(
        words.select(
            F.col(freq_col).alias("freq"),
            F.split(F.col(word_col), "").alias("syms"),
        ),
        "bpe.bpe_merges.words",
    )

    out = []
    for rank in range(n_merges):
        pairs = (
            tbl.filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.arrays_zip(
                        F.slice(F.col("syms"), 1, F.size("syms") - 1).alias("l"),
                        F.slice(F.col("syms"), 2, F.size("syms") - 1).alias("r"),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("pair_count"))
        )
        top = pairs.orderBy(
            F.desc("pair_count"), F.asc("l"), F.asc("r")
        ).first()  # answer-sized driver action: ONE row per iteration
        if top is None:
            break
        left, right, cnt = top["l"], top["r"], top["pair_count"]
        out.append((rank, left, right, left + right, cnt))
        tbl = checkpoint(  # truncate per-iteration lineage
            tbl.select(
                "freq", _apply_merge(F.col("syms"), left, right).alias("syms")
            ),
            "bpe.bpe_merges.merged",
        )

    return spark.createDataFrame(
        out, "rank int, left string, right string, merged string, pair_count bigint"
    )


def _encode_word(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Pure-Python single-word encode: replay the merge list IN RANK
    ORDER with the same left-to-right fold training used
    (:func:`_apply_merge`'s semantics) — so encoding a training word
    reproduces exactly the symbol sequence the trainer left it with
    (pinned in tests/test_bpe.py)."""
    syms = list(word)
    for left, right in merges:
        if len(syms) < 2:
            break
        out: list[str] = []
        for s in syms:
            if out and out[-1] == left and s == right:
                out[-1] = left + right
            else:
                out.append(s)
        syms = out
    return syms


def bpe_encode_words(words: DataFrame, merges: DataFrame) -> DataFrame:
    """Encode a DISTINCT word table against a learned merge list:
    adds ``tokens`` (array<string>) and ``n_tokens``.

    Scale shape — the tokenize-a-corpus pattern: the Python encode
    loop (unbounded greedy fusion — not expressible as a bounded JVM
    expression) runs ONLY over the vocabulary-sized word table, as an
    Arrow-batched pandas UDF with the answer-sized merge list carried
    in the closure (O(merges) driver traffic, same convention as the
    trainer's per-iteration argmax). Corpus-sized text never meets
    Python: callers join their exploded corpus against this encoded
    vocabulary (see :func:`bpe_token_stats`) — encode-each-occurrence
    would re-run the loop per token instead of per distinct word."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    merge_rows = [
        (r["left"], r["right"])
        for r in merges.orderBy("rank").select("rank", "left", "right").collect()
    ]  # answer-sized by construction: one row per learned merge

    # no signature type hints: `from __future__ import annotations`
    # stringifies them and the locally-imported pd can't resolve at
    # inference time — the explicit returnType carries the contract
    @pandas_udf(T.ArrayType(T.StringType()))
    def _encode(batch):
        # NULL-in → NULL-out (ADVICE r9): a null word arrives as
        # None/NaN in the Arrow batch and list(None) would raise
        # inside the executor; the public encode surface must not
        # crash on nullable word columns
        return batch.map(
            lambda w: _encode_word(w, merge_rows)
            if isinstance(w, str)
            else None
        )

    out = words.withColumn("tokens", _encode(F.col("word")))
    return out.withColumn("n_tokens", F.size("tokens"))


def bpe_token_stats(docs: DataFrame, merges: DataFrame) -> DataFrame:
    """Per-document subword token counts under a learned BPE merge
    list — the sizing pass every packing/costing stage needs after
    tokenizer training. One corpus explode to (doc, word) counts, one
    vocabulary-sized encode (:func:`bpe_encode_words` over the
    DISTINCT words), one data-proportional join, one per-doc rollup;
    documents with no alphabetic words report zero.

    Word segmentation matches :func:`word_frequencies` (lowercase,
    split on non-letters), so stats computed here agree with the
    table the merges were trained on."""
    doc_words = (
        docs.select(
            F.col("doc_id"),
            F.explode(
                F.split(F.lower(F.col("text")), "[^a-z]+")
            ).alias("word"),
        )
        .filter(F.length("word") > 0)
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    vocab = bpe_encode_words(
        doc_words.select("word").distinct(), merges
    ).select("word", "n_tokens")
    per_doc = (
        doc_words.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_occ").alias("n_words"),
            F.sum(F.col("n_occ") * F.col("n_tokens")).alias("n_subword_tokens"),
        )
    )
    # left join back so word-free documents report zeros, not absence
    return (
        docs.select("doc_id")
        .distinct()
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_subword_tokens", F.lit(0)).alias("n_subword_tokens"),
        )
    )
