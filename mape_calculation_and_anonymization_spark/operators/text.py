"""Text analysis operators for document corpora.

North-star extension: language-ID (stopword-hit heuristic), quality
scoring (length/punctuation/stopword ratios), token counting
(whitespace + BPE-ish regex), and document fingerprinting (polynomial
rolling hash). Every operator is a pure column expression — regexp,
array ops, arithmetic — so the whole surface is SQL-expressible for
the DuckDB oracle and shuffle-free (per-row map work only, embedded
in whatever scan/projection pipeline the caller composes).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish pre-tokenization: word runs OR single non-word-non-space
# marks (the common GPT-2-style first split).
BPEISH_PATTERN = r"\w+|[^\w\s]"

# Tiny per-language stopword lists for the n-gram/stopword-hit
# heuristic. Order fixes the argmax tie-break (first max wins).
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "for", "with"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht", "mit", "auf", "für"],
    "es": ["el", "la", "los", "de", "que", "y", "en", "un", "es", "por"],
    "fr": ["le", "la", "les", "de", "et", "un", "est", "que", "pour", "dans"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "个"],
}

_FP_PRIME = (1 << 31) - 1  # keeps acc*31+c < 2^36: overflow-safe in
# both Spark (silent wrap) and DuckDB (errors on BIGINT overflow)


def _tokens(col: Column) -> Column:
    return F.split(F.trim(F.lower(col)), r"\s+")


def token_count(col: str | Column) -> Column:
    """Whitespace token count (empty/blank text → 0)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(c), r"\s+"))
    )


def bpeish_token_count(col: str | Column) -> Column:
    """BPE-ish pre-token count: word runs + individual punctuation."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(BPEISH_PATTERN), 0))


def punct_ratio(col: str | Column) -> Column:
    """Punctuation chars / total chars."""
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.length(F.regexp_replace(c, r"[\w\s]", ""))
    return F.try_divide(n_punct.cast("double"), F.length(c).cast("double"))


def stopword_ratio(col: str | Column, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords (duplicates counted)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = _tokens(c)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.try_divide(hits.cast("double"), F.size(toks).cast("double"))


def mean_token_length(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    toks = _tokens(c)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, b: a + b
    )
    return F.try_divide(total.cast("double"), F.size(toks).cast("double"))


def quality_score(col: str | Column, lang: str = "en") -> Column:
    """Composite [0,1]-ish quality heuristic: reward moderate length
    and healthy stopword density, penalize punctuation floods and
    degenerate token lengths. Deterministic arithmetic only."""
    c = F.col(col) if isinstance(col, str) else col
    length_term = F.least(F.length(c).cast("double") / F.lit(500.0), F.lit(1.0))
    sw_term = F.least(stopword_ratio(c, lang) * F.lit(4.0), F.lit(1.0))
    punct_term = F.greatest(
        F.lit(1.0) - punct_ratio(c) * F.lit(5.0), F.lit(0.0)
    )
    mlen = mean_token_length(c)
    len_shape = F.when((mlen >= 3.0) & (mlen <= 10.0), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    return (
        length_term * F.lit(0.3)
        + sw_term * F.lit(0.2)
        + punct_term * F.lit(0.3)
        + len_shape * F.lit(0.2)
    )


def stopword_hits(col: str | Column, lang: str) -> Column:
    """Raw stopword hit count for one language."""
    c = F.col(col) if isinstance(col, str) else col
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(_tokens(c), lambda t: F.array_contains(sw, t)))


def language_id(col: str | Column, langs: list[str] | None = None) -> Column:
    """Heuristic language ID: argmax of per-language stopword hits
    (first max wins; zero hits everywhere → 'und'; NULL text → NULL
    — without the explicit isNull branch the all-NULL score array
    fell through when(NULL <= 0)'s NULL condition into otherwise()
    and mislabeled NULL docs as the LAST language (ADVICE r9 found
    the bulk/per-row divergence; the per-row arm was the buggy one,
    matching neither the oracle's NULL nor anything sensible)."""
    c = F.col(col) if isinstance(col, str) else col
    langs = langs or list(STOPWORDS)
    scores = F.array(*[stopword_hits(c, lang) for lang in langs])
    best = F.array_max(scores)
    idx = F.array_position(scores, best)  # 1-based, first occurrence
    lang_arr = F.array(*[F.lit(lang) for lang in langs])
    return (
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(best <= 0, F.lit("und"))
        .otherwise(F.element_at(lang_arr, idx.cast("int")))
    )


def language_id_bulk(
    df,
    text_col: str,
    id_cols: list[str],
    langs: list[str] | None = None,
    out_col: str = "predicted",
):
    """Corpus-scale :func:`language_id`: identical VALUES, explode +
    broadcast-join + argmax shape instead of per-row higher-order
    functions.

    The per-row expression recomputes the token array once per
    language and runs interpreted HOF lambdas (the repo-wide caveat:
    transform/filter are not codegen'd) — fine for a projection over
    a sample, ~0.3ms/doc over a corpus. Here the tokens explode ONCE,
    join a broadcast (word, lang_idx, lang) stopword dim (hits keep
    multiplicity — explode, never array_intersect), one hash
    aggregate counts per (doc, lang), and the per-doc argmax is a
    second map-side-combinable aggregate over
    ``max(struct(hits, -lang_idx, lang))`` — maximize hits, break
    ties on the SMALLEST language index, exactly
    ``array_position(scores, array_max(scores))``'s first-max-wins.
    Docs with zero stopword hits never reach the join output and come
    back 'und' through the left join — the ``best <= 0`` branch.
    Equality with the per-row expression is pinned in
    tests/test_text.py.

    Scale: one stateless explode, one broadcast (the dim is
    |langs|×|stopwords| ≈ 50 rows), two hash aggregates keyed by doc
    id — no corpus-wide shuffle beyond the doc-keyed counts."""
    from pyspark.sql import DataFrame as _DF  # local, avoids cycle at import

    langs = langs or list(STOPWORDS)
    spark = df.sparkSession
    dim_rows = [
        (i, lang, w)
        for i, lang in enumerate(langs)
        for w in STOPWORDS[lang]
    ]
    dim = spark.createDataFrame(
        dim_rows, "lang_idx int, lang string, word string"
    )
    toks = df.select(
        *id_cols, F.explode(_tokens(F.col(text_col))).alias("word")
    )
    per_lang = (
        toks.join(F.broadcast(dim), "word")
        .groupBy(*id_cols, "lang_idx", "lang")
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    best = per_lang.groupBy(*id_cols).agg(
        F.max(
            F.struct(
                F.col("_hits"),
                (-F.col("lang_idx")).alias("_neg_idx"),
                F.col("lang"),
            )
        )["lang"].alias(out_col)
    )
    # NULL-in → NULL-out, matching the per-row language_id expression
    # and the DuckDB oracle (ADVICE r9): explode drops NULL-text rows,
    # so an unconditional coalesce would label them 'und' here while
    # the per-row path yields NULL — only docs with actual text fall
    # back to the unknown bucket.
    return df.join(best, on=id_cols, how="left").withColumn(
        out_col,
        F.when(
            F.col(text_col).isNotNull(), F.coalesce(out_col, F.lit("und"))
        ),
    )


def fingerprint(col: str | Column, base: int = 31, mod: int = _FP_PRIME) -> Column:
    """Polynomial rolling hash over the character stream:
    ``acc = (acc*base + ascii(ch)) % mod`` — a stable document
    fingerprint reproducible in any engine (same arithmetic, no
    overflow: acc < 2³¹ so acc·31+c < 2³⁶)."""
    c = F.col(col) if isinstance(col, str) else col
    chars = F.filter(F.split(c, ""), lambda ch: F.length(ch) > 0)
    codes = F.transform(chars, lambda ch: F.ascii(ch))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, v: (acc * F.lit(base) + v) % F.lit(mod),
    )


# ---------------------------------------------------------------------------
# PII redaction / repetition filter / chunking
# ---------------------------------------------------------------------------

# Patterns stay inside the Java-regex ∩ RE2 subset (no lookaround) so
# the DuckDB oracle can run the identical expressions. Order matters:
# SSN (3-2-4) before phone (3-3-4), email before IP (dots).
PII_PATTERNS: list[tuple[str, str]] = [
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    # no leading \b: a word boundary never holds before '(' or '+'
    (r"(\+?\d{1,2}[ .-])?(\(\d{3}\)|\d{3})[ .-]?\d{3}[ .-]\d{4}\b", "<PHONE>"),
]


def redact_pii(col: str | Column) -> Column:
    """Regex PII scrub (emails, SSNs, IPv4s, US-style phone numbers)
    — a chained regexp_replace projection, shuffle-free and
    whole-stage-codegen'd. The pattern list is the module constant so
    the oracle SQL is generated from the same source of truth."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def ngram_repetition_ratio(col: str | Column, n: int = 3) -> Column:
    """Within-document duplicate n-gram fraction
    (1 − distinct/total word n-grams) — the Gopher-style repetition
    quality signal. Pure higher-order-function arithmetic; documents
    shorter than ``n`` tokens score 0."""
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(F.trim(F.lower(c)), r"\s+")
    n_grams = F.size(toks) - F.lit(n - 1)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(n_grams - 1, F.lit(-1))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.when(n_grams <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0)
        - F.size(F.array_distinct(grams)).cast("double")
        / F.size(grams).cast("double")
    )


def chunk_documents(
    df, id_col: str, text_col: str, chunk_tokens: int = 64, overlap: int = 16
):
    """Split documents into fixed-token-budget chunks with overlap —
    the training-sequence preparation step. One posexplode projection
    per input row (no shuffle); chunk_idx is deterministic.

    Output: (id_col, chunk_idx, chunk_text, n_tokens)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    step = chunk_tokens - overlap
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    starts = F.sequence(
        F.lit(0), F.greatest(F.size(toks) - F.lit(1), F.lit(0)), F.lit(step)
    )
    chunks = F.transform(
        starts, lambda s: F.array_join(F.slice(toks, s + 1, chunk_tokens), " ")
    )
    out = df.select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_idx", "chunk_text"),
    )
    return out.withColumn(
        "n_tokens",
        F.when(F.length("chunk_text") == 0, F.lit(0)).otherwise(
            F.size(F.split(F.col("chunk_text"), " "))
        ),
    )


def ngram_repetition_stats(df, id_col: str, text_col: str, n: int = 3):
    """Corpus-scale form of :func:`ngram_repetition_ratio`: explode the
    n-grams and hash-aggregate count vs distinct-count per document,
    then join back (docs shorter than ``n`` tokens score 0).

    The inline column form builds the gram list with interpreted
    higher-order functions and re-evaluates it per consuming
    expression; this form materializes each gram exactly once into
    codegen'd aggregation with map-side partials — the same
    inline-vs-explode duality as minhash_signature/minhash_signatures.

    Output: (id_col, rep{n}: double)."""
    from .rebalance import ensure_min_partitions

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")

    # n−1 chained zip_with ops over shifted slices (one array walk per
    # zip) — the transform(sequence(...), i -> slice) form re-slices
    # per index (see dedup.word_ngrams). Duplicates kept: repetition
    # is the signal here.
    def _grams(tk):
        m = F.size(tk) - F.lit(n - 1)
        g = F.slice(tk, 1, m)
        for j in range(1, n):
            g = F.zip_with(
                g,
                F.slice(tk, 1 + j, m),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        return g

    exploded = (
        ensure_min_partitions(df).select(F.col(id_col), toks.alias("_toks"))
        .filter(F.size("_toks") >= n)
        .select(id_col, F.explode(_grams(F.col("_toks"))).alias("_gram"))
    )
    agg = exploded.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("_total"),
        F.countDistinct("_gram").alias("_distinct"),
    )
    return (
        df.select(id_col)
        .join(agg, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce(
                F.lit(1.0) - F.col("_distinct").cast("double") / F.col("_total"),
                F.lit(0.0),
            ).alias(f"rep{n}"),
        )
    )


def pack_sequences(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    budget: int = 512,
    shard_size: int = 256,
):
    """Concatenate-and-chunk sequence packing: assign every document to
    the training sequence (of ``budget`` tokens) in which its first
    token lands when the corpus is laid out as one id-ordered token
    stream — the GPT-style packing layout where documents may cross
    sequence boundaries.

    The global prefix sum is computed DISTRIBUTED, never through a
    single-partition window: a within-shard cumulative sum (window
    partitioned by ``id div shard_size`` — parallel across shards)
    plus a cumulative offset over the per-shard totals (a frame of
    n_docs/shard_size rows, the only global-ordered window — at 100 TB
    with shard_size tuned up, millions of rows, not the corpus).

    Output: (id_col, n_tokens, seq_id).
    """
    from pyspark.sql import Window

    with_counts = docs.select(
        F.col(id_col),
        token_count(text_col).alias("n_tokens"),
        F.floor(F.col(id_col) / F.lit(shard_size)).alias("_shard"),
    )
    w_local = (
        Window.partitionBy("_shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = with_counts.withColumn(
        "_local_off", F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    )
    shard_totals = with_counts.groupBy("_shard").agg(
        F.sum("n_tokens").alias("_shard_tokens")
    )
    w_shard = Window.orderBy("_shard").rowsBetween(Window.unboundedPreceding, -1)
    offsets = shard_totals.select(
        "_shard",
        F.coalesce(F.sum("_shard_tokens").over(w_shard), F.lit(0)).alias(
            "_shard_off"
        ),
    )
    return (
        local.join(offsets, on="_shard")
        .select(
            id_col,
            "n_tokens",
            F.floor(
                (F.col("_shard_off") + F.col("_local_off")) / F.lit(budget)
            ).alias("seq_id"),
        )
    )


def contamination_check(
    train,
    bench,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
):
    """Benchmark-contamination scan: training documents sharing at
    least one distinct word ``n``-gram with any benchmark document,
    with the count of shared distinct n-grams.

    The benchmark shingle set is eval-suite-sized (thousands of docs,
    not the corpus), so it broadcasts; the training side explodes its
    shingles into a codegen'd hash join + per-doc aggregate — no
    all-pairs document comparison ever happens.

    Output: (id_col, n_shared_shingles), contaminated docs only.
    """
    from mape_calculation_and_anonymization_spark.operators.dedup import word_ngrams

    from .rebalance import ensure_min_partitions

    t = ensure_min_partitions(train).select(
        F.col(id_col), F.explode(word_ngrams(text_col, n=n)).alias("_shingle")
    )
    b = (
        bench.select(F.explode(word_ngrams(text_col, n=n)).alias("_shingle"))
        .distinct()
    )
    return (
        t.join(F.broadcast(b), on="_shingle")
        .groupBy(id_col)
        .agg(F.countDistinct("_shingle").alias("n_shared_shingles"))
    )


def normalize_text(col: str | Column) -> Column:
    """Canonical text form for normalization-aware dedup: lowercase,
    every run of non-letter/non-digit characters collapsed to one
    space, trimmed. Two documents differing only in case, punctuation,
    or whitespace layout normalize to identical strings. The character
    classes are UNICODE (\\p{L}\\p{N}, supported identically by Java
    regex and RE2): an ASCII-only class would delete every CJK/accented
    character and collapse whole non-Latin corpora into one giant
    false "duplicate" group. Pure column expression (codegen)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"[^\p{L}\p{N}]+", " "))


def word_bigrams(col: str | Column) -> Column:
    """Adjacent lowercase word pairs ("a b") as an array — the n=2
    slice of the n-gram family, kept as a dedicated helper because
    bigram frequency is the workhorse of corpus-quality dashboards.
    Documents with fewer than two tokens yield an empty array (the
    sequence() guard matters: Spark's sequence(1, 0) counts DOWN, it
    is not empty)."""
    c = F.col(col) if isinstance(col, str) else col
    w = F.split(F.trim(c), r"\s+")
    # zip_with over two shifted slices walks the array once; the
    # index-based alternative (transform(sequence(1, n-1), i ->
    # element_at(w, i) || element_at(w, i+1))) measured ~9x slower at
    # sf0.1 — sequence materialization + per-index element access
    # dominate. greatest(.., 0) keeps the slice length legal under
    # ANSI for empty token arrays (the when() still guards output).
    lw = F.transform(w, lambda x: F.lower(x))
    n = F.greatest(F.size(w) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(lw, 1, n),
        F.slice(lw, 2, n),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.when(
        (F.trim(c) == "") | (F.size(w) < 2), F.array().cast("array<string>")
    ).otherwise(pairs)


def quality_gate_funnel(
    docs: DataFrame,
    text_col: str = "text",
    gates: list[tuple[str, Column]] | None = None,
) -> DataFrame:
    """C4-style document-quality filtering funnel: chain the quality
    gates in order and report per-gate attrition — ``(stage, gate,
    n_in, n_pass, pass_rate)``, where each gate's ``n_in`` is the
    previous gate's ``n_pass``. The report every corpus-cleaning
    pipeline publishes before training: WHICH gate is eating the
    corpus, not just the end-to-end keep rate.

    Default gates (all deterministic expressions shared with
    :func:`quality_score` / the text_quality oracle): a token-count
    floor and ceiling, a punctuation-flood ceiling, a stopword-density
    floor, and a mean-token-length band. A NULL/failing-to-evaluate
    gate counts as FAIL (filters must be conservative).

    Scale shape: ONE corpus pass computes every gate boolean and the
    cumulative conjunctions in a single projection; ONE
    map-side-combinable aggregate produces the (1-row) cumulative
    counts; the funnel rows unpivot from that answer-sized row — no
    per-gate re-scan, no shuffle beyond the count's partial-agg
    exchange. Adding a gate costs one more conditional sum, never
    another pass over 100 TB."""
    c = F.col(text_col)
    if gates is None:
        toks = token_count(c)
        mlen = mean_token_length(c)
        gates = [
            ("min_tokens", toks >= 5),
            ("max_tokens", toks <= 5000),
            ("punct_ratio", punct_ratio(c) < 0.3),
            ("stopword_ratio", stopword_ratio(c) >= 0.02),
            ("mean_token_len", (mlen >= 2.0) & (mlen <= 12.0)),
        ]
    cum = None
    sums = []
    for i, (_, g) in enumerate(gates):
        passed = F.coalesce(g, F.lit(False))  # NULL gate = FAIL
        cum = passed if cum is None else (cum & passed)
        sums.append(F.sum(cum.cast("long")).alias(f"_n{i + 1}"))
    agg = docs.agg(F.count(F.lit(1)).alias("_n0"), *sums)
    stages = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("stage"),
                F.lit(name).alias("gate"),
                F.col(f"_n{i}").alias("n_in"),
                F.col(f"_n{i + 1}").alias("n_pass"),
            )
            for i, (name, _) in enumerate(gates)
        ]
    )
    return (
        agg.select(F.explode(stages).alias("_s"))
        .select("_s.*")
        .withColumn(
            "pass_rate",
            F.round(
                F.try_divide(
                    F.col("n_pass").cast("double"),
                    F.col("n_in").cast("double"),
                ),
                6,
            ),
        )
    )


def ngram_novelty(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Per-document n-gram NOVELTY against everything that came
    before it (by ascending id — ingestion order): the fraction of
    the doc's distinct n-token shingles whose FIRST corpus occurrence
    is this doc. The forward-looking complement of the duplicated-
    span statistic: dup_spans asks "how much of this doc appears
    elsewhere", novelty asks "how much NEW text does this doc
    contribute" — the signal an incremental corpus-growth pipeline
    ranks new drops by (near-zero novelty → the drop re-ships what
    the corpus already has).

    Semantics: shingles are :func:`~...operators.dedup.word_ngrams`
    (distinct per doc, lowercased, short docs contribute their whole
    text as one gram); a shingle is NOVEL in the doc with the
    minimal id containing it. Ties cannot occur (min is unique per
    shingle).

    Scale shape — NO corpus-sized join back: because each doc's
    shingles are distinct, ``n_novel(doc) = |{shingles whose min id
    == doc}|`` is derivable from the min-aggregate ALONE (count its
    rows per winner). The tf-idf-style shingle-keyed join back of
    (doc, shingle) rows would reshuffle the exploded corpus a second
    time for nothing. The two aggregates (per-doc totals, per-shingle
    min) DO each re-scan and re-explode the source — a deliberate
    trade: shingles are ~n× the text, so re-reading columnar parquet
    twice beats materializing the exploded corpus to checkpoint
    storage; callers holding ``docs`` cached pay the explode twice
    but the scan once. NULL-text docs are excluded (no shingles to
    attribute — and a NULL gram would otherwise award phantom
    novelty to the lowest-id NULL doc)."""
    from mape_calculation_and_anonymization_spark.operators.dedup import (
        word_ngrams,
    )

    sh = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), F.explode(word_ngrams(text_col, n=n)).alias("_sh")
    )
    totals = sh.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_distinct_shingles")
    )
    novel = (
        sh.groupBy("_sh")
        .agg(F.min(id_col).alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("_n_novel"))
    )
    return totals.join(novel, id_col, "left").select(
        id_col,
        "n_distinct_shingles",
        F.coalesce("_n_novel", F.lit(0)).alias("n_novel"),
        F.round(
            F.coalesce("_n_novel", F.lit(0)).cast("double")
            / F.col("n_distinct_shingles").cast("double"),
            6,
        ).alias("novelty_rate"),
    )


def contamination_near_dup(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """NEAR-DUP benchmark decontamination — the fuzzy sequel to
    :func:`contamination_check` (which flags ANY shared shingle):
    training docs whose word-``n``-gram set Jaccard against some
    benchmark doc reaches ``threshold`` — the lightly-paraphrased /
    reformatted leakage an any-shared-shingle test over-flags and a
    whole-doc exact match misses. One row per contaminated
    (train, benchmark) pair with the EXACT similarity.

    Scale shape — no LSH needed, by asymmetry: benchmark suites are
    tiny (10^3-10^5 docs) next to a training corpus, so the
    benchmark shingle table is a BROADCAST; candidate generation is
    the train shingle stream hash-joining that broadcast on the
    shingle key (linear in train size, output bounded by shared
    occurrences), the intersection count is one (train, bench)
    aggregate, and set sizes decorate via one more broadcast. Exact
    Jaccard — not banded — so recall is 1.0 by construction; the
    self-join LSH family (dedup_jaccard_pairs) is for the symmetric
    corpus-vs-itself case where neither side broadcasts."""
    from mape_calculation_and_anonymization_spark.operators.dedup import (
        word_ngrams,
    )

    def shingled(df: DataFrame, alias: str) -> DataFrame:
        return df.filter(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias(alias),
            F.explode(word_ngrams(text_col, n=n)).alias("_g"),
        )

    # The train shingle stream feeds BOTH the size aggregate and the
    # intersection join, so the tokenize+explode runs twice — and
    # MEASUREMENT says leave it: a localCheckpoint barrier here (the
    # source_overlap_matrix r13 trim) was tried in r14 and LOST
    # (2.7→3.1 s decontamination, 2.75→3.9 s curation_fates at sf0.1)
    # because this stream is the NON-distinct corpus×shingles explosion
    # — far larger than overlap's distinct (source, shingle) frame —
    # and writing it to checkpoint storage costs more than re-running
    # the codegen'd explode off the parquet scan.
    tr = shingled(train, "train_id")
    be = shingled(benchmark, "bench_id")
    tr_sizes = tr.groupBy("train_id").agg(F.count(F.lit(1)).alias("_ta"))
    be_sizes = be.groupBy("bench_id").agg(F.count(F.lit(1)).alias("_tb"))
    inter = (
        tr.join(F.broadcast(be), "_g")
        .groupBy("train_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    jac = F.col("_inter").cast("double") / (
        F.col("_ta") + F.col("_tb") - F.col("_inter")
    ).cast("double")
    return (
        inter.join(tr_sizes, "train_id")
        .join(F.broadcast(be_sizes), "bench_id")
        .filter(jac >= F.lit(threshold))
        .select(
            "train_id",
            "bench_id",
            F.round(jac, 6).alias("jaccard_sim"),
        )
    )


def source_overlap_matrix(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n: int = 8,
    max_sources_per_shingle: int = 16,
) -> DataFrame:
    """Cross-source BOILERPLATE-FLOW matrix: for every source pair,
    how many distinct ``n``-token shingles appear in BOTH — the
    provenance-leakage diagnostic a corpus curator reads before
    trusting per-source dedup or mixture weights (two "independent"
    sources sharing thousands of 8-gram shingles are mirroring the
    same upstream template, and near-dup rates between them will be
    correlated, not independent). One row per unordered pair with
    ``shared_shingles`` and the overlap COEFFICIENT
    (shared / min(|A|, |B|) over each source's full distinct shingle
    set — 1.0 means the smaller source's phrasing is entirely
    contained in the larger's).

    Scale shape (round 17): ONE corpus-scale shuffle total. The raw
    exploded (source, shingle) stream hash-aggregates straight to a
    per-shingle SORTED SOURCE SET (``collect_set`` dedups, so the
    separate explode→distinct pass is gone), and the pair expansion
    happens IN-ROW over those ≤``max_sources_per_shingle``-element
    arrays instead of self-joining the corpus-scale frame on the
    shingle string — the earlier shape paid five shingle-keyed
    corpus-scale shuffles (distinct, cap aggregate, cap join, both
    self-join legs); this one pays exactly one, and the shingle
    string itself is dropped before the materialization barrier, so
    everything downstream is source-arity-sized. Fan-out per shingle
    is still C(s, 2), bounded by the cap (at web scale a shingle
    present in thousands of sources is universal boilerplate whose
    pair expansion would be quadratic in source count while adding
    no pairwise signal — the cap must be mirrored by any twin or the
    matrices diverge). Per-source totals are one aggregate over the
    exploded source sets, broadcast onto the source-pair-sized
    matrix.

    Contract: ``source_col`` must be non-null (``collect_set`` drops
    NULLs, so a NULL source would neither count toward the cap nor
    the totals — the testdata and every registered caller satisfy
    this)."""
    from mape_calculation_and_anonymization_spark.operators.dedup import (
        word_ngrams,
    )

    # one hash aggregate keyed by the shingle string: partial
    # collect_set collapses per-task duplicates map-side, and the
    # shingle key is dropped immediately after — the checkpointed
    # frame is just the per-shingle sorted source arrays, which every
    # consumer below (totals, cap filter, pair expansion) reads
    # without touching the corpus again
    per_g = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.col(source_col).alias("_src"),
            F.explode(word_ngrams(text_col, n=n)).alias("_g"),
        )
        .groupBy("_g")
        .agg(F.sort_array(F.collect_set("_src")).alias("_srcs"))
        .select("_srcs")
        .localCheckpoint(eager=True)
    )
    totals = (
        per_g.select(F.explode("_srcs").alias("_src"))
        .groupBy("_src")
        .agg(F.count(F.lit(1)).alias("_total"))
    )
    # in-row unordered pair expansion over the sorted set: element i
    # pairs with every later element, so source_a < source_b exactly
    # like the old self-join's a._src < b._src condition
    pair_structs = F.flatten(
        F.transform(
            F.col("_srcs"),
            lambda x, i: F.transform(
                F.slice(F.col("_srcs"), i + F.lit(2), F.size("_srcs")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    pairs = (
        per_g.filter(
            (F.size("_srcs") >= 2)
            & (F.size("_srcs") <= max_sources_per_shingle)
        )
        .select(F.explode(pair_structs).alias("_p"))
        .groupBy(
            F.col("_p.a").alias("source_a"),
            F.col("_p.b").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
    )
    ta = totals.select(
        F.col("_src").alias("source_a"), F.col("_total").alias("_ta")
    )
    tb = totals.select(
        F.col("_src").alias("source_b"), F.col("_total").alias("_tb")
    )
    return (
        pairs.join(F.broadcast(ta), "source_a")
        .join(F.broadcast(tb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_shingles",
            F.round(
                F.col("shared_shingles").cast("double")
                / F.least("_ta", "_tb").cast("double"),
                6,
            ).alias("overlap_coeff"),
        )
    )


def vocab_coverage_curve(
    docs: DataFrame,
    text_col: str = "text",
    ks: tuple[int, ...] = (100, 1000, 10000),
) -> DataFrame:
    """Tokenizer-sizing COVERAGE CURVE: for each candidate vocabulary
    size ``k``, the fraction of all corpus token OCCURRENCES covered
    by the ``k`` most frequent terms — the table that answers "what
    vocab size covers 95% of the corpus" before committing to a
    tokenizer budget (the Zipf head is steep: the curve typically
    saturates orders of magnitude below the full vocabulary).

    One row per ``k``: ``(vocab_k, n_terms, covered_tokens,
    total_tokens, coverage)`` — ``n_terms`` < ``k`` when the corpus
    vocabulary is smaller than the candidate size. Ties in term
    frequency break on the term itself, so the ranking (and the
    curve) is deterministic cross-engine.

    Scale shape: term frequencies are ONE explode → map-side-combined
    hash aggregate; the ranking never globally sorts the vocabulary —
    ``orderBy().limit(max(ks))`` plans TakeOrderedAndProject
    (distributed per-partition top-k, merge on the driver-side heap),
    and the row_number window + per-k conditional sums then run over
    that ANSWER-SIZED top-``max(ks)`` frame only (same posture as the
    BPE driver loop). ``total_tokens`` is a second 1-row aggregate of
    the frequency table, joined in as a 1-row scalar broadcast.
    Empty-corpus input yields NULL-count rows (the SQL twin yields
    none) — callers gate on non-empty corpora."""
    from pyspark.sql import Window

    c = F.col(text_col)
    freqs = (
        docs.select(
            F.explode(F.split(F.trim(F.lower(c)), r"\s+")).alias("tok")
        )
        .filter(F.length("tok") > 0)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    max_k = max(ks)
    topk = freqs.orderBy(F.col("freq").desc(), F.col("tok")).limit(max_k)
    # answer-sized frame: single-partition window over <= max(ks) rows
    w = Window.orderBy(F.col("freq").desc(), F.col("tok"))
    ranked = topk.withColumn("_rn", F.row_number().over(w))
    aggs = []
    for k in ks:
        aggs += [
            F.sum(F.when(F.col("_rn") <= k, 1).otherwise(0))
            .cast("long")
            .alias(f"_nt{k}"),
            F.coalesce(
                F.sum(F.when(F.col("_rn") <= k, F.col("freq"))), F.lit(0)
            )
            .cast("long")
            .alias(f"_cov{k}"),
        ]
    one = ranked.agg(*aggs).crossJoin(
        freqs.agg(F.sum("freq").cast("long").alias("total_tokens"))
    )
    stack_args = ", ".join(f"{k}, _nt{k}, _cov{k}" for k in ks)
    return one.selectExpr(
        f"stack({len(ks)}, {stack_args})"
        " AS (vocab_k, n_terms, covered_tokens)",
        "total_tokens",
    ).withColumn(
        "coverage",
        F.round(
            F.col("covered_tokens").cast("double")
            / F.col("total_tokens").cast("double"),
            6,
        ),
    )


def corpus_datacard(
    df,
    group_cols: tuple[str, ...] = ("source", "lang"),
    text_col: str = "text",
):
    """Per-group corpus DATA CARD: the one-table curation summary a
    training-data release publishes per (source, language) slice —
    volume (docs/chars/tokens), hygiene (NULL docs, exact-duplicate
    docs via global md5 fingerprint), and the mean composite
    :func:`quality_score`.

    Shape: one doc-level projection (fingerprint + per-doc stats),
    ONE corpus shuffle for the GLOBAL fingerprint counts (a window
    over md5(text) — duplicates must be detected across group
    boundaries, same cost class as exact_dedup_groups), then one
    group aggregate over the decorated rows. Adding a metric is one
    more aggregate expression, never another corpus pass.

    NULL-text docs are counted (n_null_text) but excluded from the
    duplicate logic (md5(NULL) is NULL; a NULL fingerprint is absent
    data, not sameness) and contribute NULL to the char/token/quality
    aggregates (skipped by SUM/AVG in both engines).

    Output: (group_cols..., n_docs, n_null_text, total_chars,
    total_tokens, exact_dup_docs, dup_rate, mean_quality), rounded 6.
    """
    from pyspark.sql import Window

    per_doc = df.select(
        *group_cols,
        F.col(text_col).alias("_t"),
        F.md5(F.col(text_col)).alias("_fp"),
        F.length(F.col(text_col)).alias("_chars"),
        token_count(F.col(text_col)).alias("_toks"),
        quality_score(F.col(text_col)).alias("_q"),
    )
    gc = F.count(F.lit(1)).over(Window.partitionBy("_fp"))
    flagged = per_doc.withColumn(
        "_dup", F.col("_fp").isNotNull() & (gc >= 2)
    )
    n_docs = F.count(F.lit(1))
    dup_docs = F.sum(F.col("_dup").cast("long"))
    return (
        flagged.groupBy(*group_cols)
        .agg(
            n_docs.alias("n_docs"),
            F.sum(F.col("_t").isNull().cast("long")).alias("n_null_text"),
            F.sum("_chars").alias("total_chars"),
            F.sum(F.col("_toks").cast("long")).alias("total_tokens"),
            dup_docs.alias("exact_dup_docs"),
            F.round(
                dup_docs.cast("double") / n_docs.cast("double"), 6
            ).alias("dup_rate"),
            F.round(F.avg("_q"), 6).alias("mean_quality"),
        )
    )


def decontaminate_corpus(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    drop_threshold: float = 0.5,
) -> DataFrame:
    """Decontamination as REMOVAL (round 14; VERDICT r13 item 4a) —
    the operator a pipeline actually runs after the flagging passes:
    emit the cleaned training corpus, not just the contamination
    report. Fuses :func:`contamination_near_dup` (doc-level drops)
    with the span-cut machinery of
    ``dedup.exact_substring_spans`` (position islands), applied
    against the BENCHMARK shingle set instead of the corpus's own
    duplicated shingles:

      * a train doc whose word-``n``-gram Jaccard against some
        benchmark doc reaches ``drop_threshold`` is DROPPED whole
        (paraphrased leakage — no span cut can save it);
      * every other train doc has each token position covered by a
        benchmark-matching ``n``-gram CUT (the Lee-et-al-style
        remove-span plan, but exact-match against the benchmark set
        — recall 1.0 on verbatim leakage by construction);
      * untouched docs pass through as ``kept``.

    One row per input train doc WITH non-NULL text (NULL-text docs
    carry no tokens and are excluded up front — a caller auditing row
    conservation over a corpus containing NULL texts must count them
    separately; same exclusion as ``dedup.apply_remove_spans``) — the
    full decision surface:
    ``(id, action ∈ dropped|cut|kept, n_spans_cut, tokens_removed,
    n_tokens_clean, clean_md5)`` with ``clean_md5 = md5`` of the
    space-joined surviving (lowercased) tokens — a portable
    value-level pin of the cleaned text without hauling full text
    through a compare; NULL for dropped docs.

    Scale shape: the benchmark side BROADCASTS twice (the Jaccard
    probe and the distinct strict-``n``-gram set — benchmark suites
    are dimension-sized next to a 100 TB corpus); the span pass is
    one positional-shingle stream hash-joining that broadcast
    (linear in train tokens, output bounded by matches), the covered
    index rollup groups on the DOCUMENT key over matched positions
    only, and the island count / token filter are per-row array ops
    (zip_with over the sorted removed-index array — no window, no
    second shuffle). Spans merge implicitly: covered indices are
    deduplicated per doc, so overlapping matches collapse before
    counting islands.

    Note the two passes deliberately differ on short docs: the
    Jaccard probe uses :func:`dedup.word_ngrams` (docs shorter than
    ``n`` tokens contribute their whole text as one gram — short
    benchmark docs can still trigger drops), while the span pass
    uses strict ``n``-token positional grams (a cut shorter than the
    shingle would be meaningless).
    """
    from mape_calculation_and_anonymization_spark.operators.dedup import (
        word_ngrams,  # noqa: F401  (doc-level probe via contamination_near_dup)
    )

    dropped_ids = (
        contamination_near_dup(
            train, benchmark, id_col, text_col, n, drop_threshold
        )
        .select(F.col("train_id").alias(id_col))
        .distinct()
    )
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = train.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("_toks")
    )
    strict_grams = F.when(
        F.size("_toks") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - n + 1),
            lambda i: F.concat_ws(" ", F.slice("_toks", i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bench_set = (
        benchmark.filter(F.col(text_col).isNotNull())
        .select(toks.alias("_toks"))
        .select(F.explode(strict_grams).alias("_g"))
        .distinct()
    )
    cont_pos = (
        base.select(
            F.col(id_col), F.posexplode(strict_grams).alias("pos", "_g")
        )
        .join(F.broadcast(bench_set), "_g")
        .select(id_col, "pos")
    )
    # one document-key aggregate (round 17): explode→distinct→groupBy
    # shuffled the covered index stream twice ((id, idx) then id);
    # collect_set dedups inside a single aggregation and
    # sort_array(collect_set) equals sort_array(collect_list(distinct))
    # exactly (same rewrite as dedup.apply_remove_spans).
    covered = cont_pos.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
        ).alias("_idx"),
    )
    removed = covered.groupBy(id_col).agg(
        F.sort_array(F.collect_set("_idx")).alias("_rm")
    )
    # ONE output pass, no per-action branch unions: a
    # cleaned ∪ dropped union would re-derive the contamination probe
    # and re-scan the corpus once per branch (the re-derivation tax
    # training_pipeline's stage materialization exists to avoid) —
    # instead both decision sets join in as flags and a CASE folds
    # them into the action.
    flagged = (
        base.join(
            dropped_ids.withColumn("_dropped", F.lit(True)),
            id_col,
            "left",
        )
        .join(removed, id_col, "left")
    )
    rm = F.coalesce(F.col("_rm"), F.array().cast("array<int>"))
    clean = F.filter(
        F.col("_toks"), lambda x, i: ~F.array_contains(rm, i)
    )
    # island count without a window: pairwise gaps over the sorted
    # removed-index array (zip of tail vs head), +1 for the first span
    gaps = F.zip_with(
        F.slice(rm, 2, F.greatest(F.size(rm) - 1, F.lit(0))),
        F.slice(rm, 1, F.greatest(F.size(rm) - 1, F.lit(0))),
        lambda a, b: (a - b) > 1,
    )
    n_spans = F.when(F.size(rm) == 0, F.lit(0)).otherwise(
        F.size(F.filter(gaps, lambda x: x)) + F.lit(1)
    )
    dropped = F.coalesce(F.col("_dropped"), F.lit(False))
    return flagged.select(
        F.col(id_col),
        F.when(dropped, F.lit("dropped"))
        .when(F.size(rm) > 0, F.lit("cut"))
        .otherwise(F.lit("kept"))
        .alias("action"),
        F.when(dropped, F.lit(0))
        .otherwise(n_spans)
        .cast("int")
        .alias("n_spans_cut"),
        F.when(dropped, F.size("_toks"))
        .otherwise(F.size(rm))
        .cast("int")
        .alias("tokens_removed"),
        F.when(dropped, F.lit(0))
        .otherwise(F.size(clean))
        .cast("int")
        .alias("n_tokens_clean"),
        F.when(dropped, F.lit(None).cast("string"))
        .otherwise(F.md5(F.concat_ws(" ", clean)))
        .alias("clean_md5"),
    )
