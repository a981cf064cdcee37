"""Deterministic corpus sampling for training-data mixtures.

A 100 TB pretraining pipeline samples by CONTENT-STABLE hash, never by
`rand()`: re-runs, retries, and incremental refreshes must keep the
same rows, and the sample decision must be auditable outside Spark.
The primitive here compares a salted md5 of the row key against a hex
threshold — md5 hex + string compare are bit-identical across engines
(DuckDB, Trino, Spark), so the exact sample is re-derivable anywhere.
Everything is a filter projection: no shuffle, no RNG state, and the
predicate pushes down to the scan when the key is a column.

North-star extension (no reference analogue — single-node pandas has
`df.sample`, which is neither stable nor distributed).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_HEX_DIGITS = 4  # 16^4 = 65536 buckets → rate granularity 1/65536

# hash_split's bands, in band order
_SPLIT_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}

# pps_sample's expected sample size
_PPS_EXPECTED_K = 500

# mixture temperature of mixture_weights and token_budget_allocation
_MIXTURE_ALPHA = 0.7

# token_budget_allocation's total token budget
_TOKEN_BUDGET = 1_000_000

# token_budget_repetition's budget, as a multiple of the corpus tokens,
# and its per-group repetition ceiling in epochs
_REPETITION_BUDGET_MULTIPLE = 2.0
_REPETITION_MAX_EPOCHS = 2.0


def rate_to_hex_threshold(rate: float) -> str:
    """Map a sample rate in [0, 1] to the md5-prefix hex threshold the
    portable predicate compares against (4 hex chars, zero-padded)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1]")
    return format(int(rate * (16 ** _HEX_DIGITS)), f"0{_HEX_DIGITS}x")


def hash_split(key: str | Column) -> Column:
    """Deterministic dataset-split assignment (train/val/test): maps
    the md5-prefix of the salted key into cumulative-fraction hex
    bands. Content-stable — a document keeps its split across re-runs
    and incremental refreshes, which is what keeps eval sets
    uncontaminated when the corpus is rebuilt. Pure projection: no
    shuffle, no RNG.

    The bands are ``_SPLIT_FRACTIONS`` (name → fraction, summing to
    1.0), in its insertion order."""
    fractions = _SPLIT_FRACTIONS
    c = F.col(key) if isinstance(key, str) else key
    prefix = F.substring(
        F.md5(F.concat(F.lit("split:"), c.cast("string"))), 1, _HEX_DIGITS
    )
    expr = None
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        thr = F.lit(rate_to_hex_threshold(min(cum, 1.0)))
        expr = (
            F.when(prefix < thr, name)
            if expr is None
            else expr.when(prefix < thr, name)
        )
    # last band absorbs the remainder so the assignment is total
    return expr.otherwise(names[-1])


def stratified_sample(df: DataFrame) -> DataFrame:
    """Per-language deterministic sampling of ``doc_id`` rows: keep 60%
    of 'en' docs, 25% of 'de' and 5% of everything else — the
    mixture-weighting step of a training corpus. One
    CASE-over-threshold filter, no shuffle; each stratum's sample is
    independent of every other's (the salt includes the stratum, so
    identical keys across strata decorrelate)."""
    c = F.col("lang")
    thr = F.lit(rate_to_hex_threshold(0.05))
    for stratum, rate in sorted({"en": 0.6, "de": 0.25}.items()):
        thr = F.when(c == stratum, F.lit(rate_to_hex_threshold(rate))).otherwise(thr)
    prefix = F.substring(
        F.md5(
            F.concat(
                F.lit("sample:"),
                c.cast("string"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
            )
        ),
        1,
        _HEX_DIGITS,
    )
    return df.filter(prefix < thr)


# 48-bit uniform: 12 hex chars parse exactly into a double (2^48 <
# 2^53), so u is BIT-IDENTICAL in any engine that has md5 + hex parse
_U_HEX_DIGITS = 12
_U_DENOM = float(16 ** _U_HEX_DIGITS)

# hash_uniform's salt; pps_sample is its one caller
_UNIFORM_SALT = "pps"


def hash_uniform() -> Column:
    """Portable deterministic uniform in [0, 1): the first 12 hex
    chars of ``md5(_UNIFORM_SALT || ':' || doc_id)`` as a 48-bit integer over
    2^48. Content-stable (same key → same u forever) and exactly
    re-derivable outside Spark — DuckDB:
    ``CAST(concat('0x', substr(md5(...), 1, 12)) AS BIGINT) /
    281474976710656.0``. The numerator is an exact integer and the
    denominator a power of two, so the division itself is exact IEEE
    — no cross-engine rounding drift enters before the caller's own
    arithmetic."""
    n = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{_UNIFORM_SALT}:"), F.col("doc_id").cast("string"))),
            1,
            _U_HEX_DIGITS,
        ),
        16,
        10,
    ).cast("double")
    return n / F.lit(_U_DENOM)


def pps_sample(df: DataFrame) -> DataFrame:
    """Probability-proportional-to-size Bernoulli sample of ``doc_id``
    rows weighted by ``n_chars``: row ``i`` is kept with ``p_i = min(1,
    k·w_i / Σw)``, ``k = _PPS_EXPECTED_K``, giving an expected
    sample size of ~``k`` with long/high-weight rows preferred — the
    corpus-subsampling pattern when quality or length should bias
    selection (weighted by tokens, not uniform by doc). Adds
    ``incl_p`` (the inclusion probability) so downstream estimators
    can Horvitz-Thompson reweight (estimate Σf(x) over the FULL
    corpus as Σ f(x)/incl_p over the sample).

    Scale shape: ONE map-side-combinable aggregate for Σw (exact —
    integer weights sum as BIGINT, so the total is bit-identical in
    any engine before the single double division), broadcast back as
    a 1-row frame, then a pure filter projection: no shuffle of the
    fact table, no RNG state, decision re-derivable row-by-row
    outside Spark (see :func:`hash_uniform`)."""
    # NULL weights carry no size information: EXCLUDE those rows
    # outright (they are also invisible to Σw). Without this filter,
    # F.least(1.0, NULL) would return 1.0 — Spark's least SKIPS NULLs
    # — silently keeping every unknown-weight row at incl_p = 1.0 and
    # biasing any Horvitz-Thompson estimate built on the sample.
    known = df.filter(F.col("n_chars").isNotNull())
    w = F.col("n_chars").cast("double")
    tot = known.agg(F.sum("n_chars").cast("double").alias("_tot"))
    p = F.least(F.lit(1.0), F.lit(float(_PPS_EXPECTED_K)) * w / F.col("_tot"))
    return (
        known.join(F.broadcast(tot))
        .withColumn("incl_p", p)
        .filter(hash_uniform() < F.col("incl_p"))
        .drop("_tot")
    )


def _group_weights_unrounded(
    df: DataFrame,
    group_col: str,
    alpha: float,
    count_col: str | None,
    count_alias: str,
) -> DataFrame:
    """Shared core of :func:`mixture_weights` and
    :func:`token_budget_allocation`: the |groups|-row frame with the
    UNROUNDED total / share / pow / normalizer columns (``_n``,
    ``_share``, ``_pw``, ``_z``) — callers project and round at their
    own precision, so the weighting arithmetic lives in exactly one
    place. The corpus is aggregated once; the total and the normalizer
    are window sums over the |groups| rows of that one aggregate."""
    n = (
        F.sum(count_col).alias(count_alias)
        if count_col
        else F.count(F.lit(1)).alias(count_alias)
    )
    every = Window.partitionBy()
    return (
        df.groupBy(group_col)
        .agg(n)
        .withColumn("_n", F.sum(count_alias).over(every).cast("double"))
        .withColumn("_share", F.col(count_alias).cast("double") / F.col("_n"))
        .withColumn("_pw", F.pow("_share", F.lit(float(alpha))))
        .withColumn("_z", F.sum("_pw").over(every))
    )


def mixture_weights(df: DataFrame) -> DataFrame:
    """Temperature-based mixture reweighting over ``source``:
    ``share_g = n_g / N``, ``weight_g ∝ share_g^alpha`` (alpha =
    ``_MIXTURE_ALPHA``) normalized to 1 — the exponential-smoothing
    up/down-sampling rule multilingual and multi-source pretraining
    mixtures use (alpha < 1 upsamples the tail, alpha = 1 keeps raw
    shares, alpha = 0 is uniform). Output per group: ``n_docs``,
    ``raw_share``, ``weight``, and ``boost`` (= weight/raw_share, the
    per-group sampling factor a pipeline feeds to
    :func:`stratified_sample`-style rate maps).

    Scale shape: one map-side-combinable count aggregate collapses
    the corpus to |groups| rows; everything after is arithmetic over
    that answer-sized frame (two window sums over the |groups| rows,
    zero extra passes over the data)."""
    s = _group_weights_unrounded(df, "source", _MIXTURE_ALPHA, None, "n_docs")
    return s.select(
        "source",
        "n_docs",
        F.round("_share", 6).alias("raw_share"),
        F.round(F.col("_pw") / F.col("_z"), 6).alias("weight"),
        F.round(
            (F.col("_pw") / F.col("_z")) / F.col("_share"), 6
        ).alias("boost"),
    )


# shuffle_manifest's shard count: the first md5 byte, at most 256 ways
_SHUFFLE_SHARDS = 256


def shuffle_manifest(df: DataFrame) -> DataFrame:
    """Deterministic, content-stable GLOBAL training order: every row
    gets a dense ``shuffle_rank`` (0-based) in md5 order of ``doc_id``
    salted with ``shuffle:`` — the reproducible corpus shuffle a
    training run consumes (same order forever, on any engine).

    Scale shape — global ranking WITHOUT a global window: a bare
    ``row_number() OVER (ORDER BY hash)`` collapses the corpus into
    ONE partition. Instead the hash's first byte shards the corpus
    (``_SHUFFLE_SHARDS`` ways), ranks are assigned within each shard (window
    partitioned BY shard — parallel), and each shard adds the total
    count of all preceding shards (an answer-sized 256-row cumulative
    offset, broadcast back). Because the shard id is a PREFIX of the
    sort key, (shard asc, hash asc) IS global hash order — the
    per-shard ranks plus offsets reproduce the exact global
    row_number at any corpus size."""
    # NULL keys have no hash → no position in the order: exclude them
    # (same contract as pps_sample). Left in, they would corrupt EVERY
    # rank: md5(concat(..NULL)) is NULL, the NULL shard sorts FIRST in
    # the offset window (inflating all real offsets by the NULL count)
    # while the equi-join back drops the NULL rows themselves.
    df = df.filter(F.col("doc_id").isNotNull())
    c = F.col("doc_id")
    h = F.md5(F.concat(F.lit("shuffle:"), c.cast("string")))
    # MONOTONE bucketing of the first hash byte (floor-scaled, never
    # modulo): the global-order reconstruction REQUIRES shard id to be
    # non-decreasing in the sort key — `byte % n` would interleave
    # shards across the hash range and silently break the rank math
    # for any shard count below 256
    byte = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    shard = F.floor(byte * _SHUFFLE_SHARDS / F.lit(256)).cast("int")
    keyed = df.withColumn("_h", h).withColumn("_shard", shard)
    w = Window.partitionBy("_shard").orderBy("_h", "doc_id")
    ranked = keyed.withColumn("_rk", F.row_number().over(w))
    counts = (
        keyed.groupBy("_shard")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            # running offset over the 256-row shard-count frame: the
            # unpartitioned window is ANSWER-SIZED by construction
            # (_SHUFFLE_SHARDS rows), never corpus-sized
            "_offset",
            F.coalesce(
                F.sum("_n").over(
                    Window.orderBy("_shard").rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("_shard", "_offset")
    )
    return (
        ranked.join(F.broadcast(counts), "_shard")
        .withColumn(
            "shuffle_rank", (F.col("_offset") + F.col("_rk") - 1).cast("long")
        )
        .drop("_h", "_shard", "_rk", "_offset")
    )


def token_budget_allocation(df: DataFrame) -> DataFrame:
    """Training-mixture PLANNING table: given a total token budget
    (``_TOKEN_BUDGET``) and the temperature-reweighted mixture
    (:func:`mixture_weights` on ``n_chars`` TOKEN counts), how many
    tokens to draw from each source and what
    sampling rate that implies — the artifact a data-mixture config
    is generated from. ``planned_tokens = budget · weight`` capped at
    the group's actual tokens (you cannot draw more than exists
    without repetition; the cap is reported via ``sampling_rate = 1``
    so the repeat factor is visible downstream).

    One corpus-sized token-sum aggregate; everything after is
    arithmetic over the |groups|-row frame. The plan derives from the
    UNROUNDED weight (same arithmetic as :func:`mixture_weights`,
    recomputed inline) — flooring budget × an already-rounded weight
    would put the integer boundary within rounding distance and make
    ``planned_tokens`` engine-fragile."""
    s = _group_weights_unrounded(df, "source", _MIXTURE_ALPHA, "n_chars", "n_tokens")
    w = F.col("_pw") / F.col("_z")
    # association matches the oracle EXACTLY: (budget · pw) / z, never
    # budget · (pw/z) — the two rounding sequences can differ by an
    # ulp, and FLOOR below amplifies an ulp into an off-by-one for a
    # plan that lands near an integer
    planned = F.least(
        F.col("n_tokens").cast("double"),
        F.lit(float(_TOKEN_BUDGET)) * F.col("_pw") / F.col("_z"),
    )
    return s.select(
        "source",
        "n_tokens",
        F.round("_share", 6).alias("raw_share"),
        F.round(w, 6).alias("weight"),
        F.floor(planned).cast("long").alias("planned_tokens"),
        F.round(
            planned / F.col("n_tokens").cast("double"), 6
        ).alias("sampling_rate"),
    )


def token_budget_repetition(df: DataFrame) -> DataFrame:
    """Data-constrained mixture planning (Muennighoff et al. 2023,
    arXiv:2305.16264): :func:`token_budget_allocation` extended with
    a REPETITION ceiling for the over-budget regime, over ``lang``
    groups of ``n_chars`` tokens at mixture temperature 0.5. When the
    budget asks a group for more tokens than it has, the plan may
    repeat the group's data up to ``_REPETITION_MAX_EPOCHS`` passes
    (the paper's finding: value decays gently to ~4 epochs, sharply
    after), so the per-group cap becomes ``n_tokens · _REPETITION_MAX_EPOCHS``
    instead of ``n_tokens``.

    ``epochs`` (planned/n_tokens, the repeat factor — ≤ 1 means
    subsampling, > 1 means repetition) and ``deficit_tokens`` (budget
    the ceiling left unplaced — what a rebalancer redistributes) make
    the regime explicit. With a ceiling of 1.0 epochs the plan is exactly
    token_budget_allocation's (property-pinned in
    tests/test_graph_sampling.py).

    ``_REPETITION_BUDGET_MULTIPLE`` sizes the budget RELATIVE to the corpus
    (budget = multiple · Σ n_tokens) inside the plan itself — the
    over-budget regime then survives any scale factor without a
    driver-side total lookup; the ``_n`` total from the shared
    weights frame is reused, so this costs nothing extra.

    Same scale shape as the sibling: one corpus-sized sum aggregate,
    then arithmetic over the |groups|-row frame. Float discipline:
    ``(budget · pw) / z`` association preserved (never
    ``budget · (pw/z)``), and the FLOOR/LEAST operands keep the same
    expression shape the DuckDB oracle uses."""
    s = _group_weights_unrounded(df, "lang", 0.5, "n_chars", "n_tokens")
    target = (
        F.lit(float(_REPETITION_BUDGET_MULTIPLE)) * F.col("_n") * F.col("_pw")
    ) / F.col("_z")
    cap = F.col("n_tokens").cast("double") * F.lit(float(_REPETITION_MAX_EPOCHS))
    planned = F.least(cap, target)
    return s.select(
        "lang",
        "n_tokens",
        F.round("_share", 6).alias("raw_share"),
        F.round(F.col("_pw") / F.col("_z"), 6).alias("weight"),
        F.floor(target).cast("long").alias("target_tokens"),
        F.floor(planned).cast("long").alias("planned_tokens"),
        F.round(
            planned / F.col("n_tokens").cast("double"), 6
        ).alias("epochs"),
        (F.floor(target) - F.floor(planned)).cast("long").alias(
            "deficit_tokens"
        ),
    )


def leakage_safe_split(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """Near-dup-leakage-safe train/val/test split (round-16-ready):
    assign every document by the md5 band of its NEAR-DUP CLUSTER id
    (:func:`hash_split` keyed on the cluster representative instead
    of the doc), so no near-duplicate pair can ever straddle splits —
    the contamination mode a doc-keyed split is blind to: a doc in
    train and its 0.95-Jaccard twin in test is train-test leakage
    even though both "passed dedup" individually (Lee et al. 2021's
    eval-set finding).

    ``clusters`` is the offline near-dup cluster map
    ((id, cluster) — ``graph.duplicate_clusters`` output, cluster =
    component-min id; the same artifact keep-best consumes). Docs
    absent from the map split by their own id (singleton semantics,
    matching the map's COALESCE convention). Pure projection past the
    map join: content-stable across corpus rebuilds, no RNG, no new
    shuffle beyond the broadcast-or-hash map join.

    Output: docs + (cluster, split)."""
    c = clusters.select(
        F.col("doc_id"), F.col("cluster").alias("_leak_cluster")
    )
    joined = docs.join(c, "doc_id", "left").withColumn(
        "_leak_cluster", F.coalesce(F.col("_leak_cluster"), F.col("doc_id"))
    )
    return joined.withColumn(
        "split", hash_split(F.col("_leak_cluster"))
    ).withColumnRenamed("_leak_cluster", "cluster")
