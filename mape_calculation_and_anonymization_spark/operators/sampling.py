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


def rate_to_hex_threshold(rate: float) -> str:
    """Map a sample rate in [0, 1] to the md5-prefix hex threshold the
    portable predicate compares against (4 hex chars, zero-padded)."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError("rate must be in [0, 1]")
    return format(int(rate * (16 ** _HEX_DIGITS)), f"0{_HEX_DIGITS}x")


def hash_sample_predicate(
    key: str | Column, rate: float, salt: str = "sample"
) -> Column:
    """True iff the row is in the sample: the first 4 hex chars of
    ``md5(salt || ':' || key)`` fall below the rate's threshold."""
    c = F.col(key) if isinstance(key, str) else key
    prefix = F.substring(F.md5(F.concat(F.lit(f"{salt}:"), c.cast("string"))), 1, _HEX_DIGITS)
    return prefix < F.lit(rate_to_hex_threshold(rate))


def hash_split(
    key: str | Column, fractions: dict[str, float], salt: str = "split"
) -> Column:
    """Deterministic dataset-split assignment (train/val/test): maps
    the md5-prefix of the salted key into cumulative-fraction hex
    bands. Content-stable — a document keeps its split across re-runs
    and incremental refreshes, which is what keeps eval sets
    uncontaminated when the corpus is rebuilt. Pure projection: no
    shuffle, no RNG.

    ``fractions`` are name → fraction; they must sum to 1.0 (within
    1/65536). Iteration order of the dict defines the band order, so
    pass an ordered mapping (dicts preserve insertion order)."""
    total = sum(fractions.values())
    if not 0.999984 <= total <= 1.000016:  # 1/65536 tolerance
        raise ValueError(f"fractions must sum to 1.0, got {total}")
    c = F.col(key) if isinstance(key, str) else key
    prefix = F.substring(
        F.md5(F.concat(F.lit(f"{salt}:"), c.cast("string"))), 1, _HEX_DIGITS
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
    return F.lit(names[0]) if expr is None else expr.otherwise(names[-1])


def stratified_sample(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    salt: str = "sample",
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. keep 50% of 'en' docs,
    10% of everything else) — the mixture-weighting step of a training
    corpus. One CASE-over-threshold filter, no shuffle; each stratum's
    sample is independent of every other's (the salt includes the
    stratum, so identical keys across strata decorrelate)."""
    c = F.col(strata_col)
    thr = F.lit(rate_to_hex_threshold(default_rate))
    for stratum, rate in sorted(rates.items()):
        thr = F.when(c == stratum, F.lit(rate_to_hex_threshold(rate))).otherwise(thr)
    prefix = F.substring(
        F.md5(
            F.concat(
                F.lit(f"{salt}:"),
                c.cast("string"),
                F.lit(":"),
                F.col(key_col).cast("string"),
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


def hash_uniform(key: str | Column, salt: str = "u") -> Column:
    """Portable deterministic uniform in [0, 1): the first 12 hex
    chars of ``md5(salt || ':' || key)`` as a 48-bit integer over
    2^48. Content-stable (same key → same u forever) and exactly
    re-derivable outside Spark — DuckDB:
    ``CAST(concat('0x', substr(md5(...), 1, 12)) AS BIGINT) /
    281474976710656.0``. The numerator is an exact integer and the
    denominator a power of two, so the division itself is exact IEEE
    — no cross-engine rounding drift enters before the caller's own
    arithmetic."""
    c = F.col(key) if isinstance(key, str) else key
    n = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{salt}:"), c.cast("string"))),
            1,
            _U_HEX_DIGITS,
        ),
        16,
        10,
    ).cast("double")
    return n / F.lit(_U_DENOM)


def pps_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    expected_k: int,
    salt: str = "pps",
) -> DataFrame:
    """Probability-proportional-to-size Bernoulli sample: row ``i``
    is kept with ``p_i = min(1, k·w_i / Σw)``, giving an expected
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
    known = df.filter(F.col(weight_col).isNotNull())
    w = F.col(weight_col).cast("double")
    tot = known.agg(F.sum(weight_col).cast("double").alias("_tot"))
    p = F.least(F.lit(1.0), F.lit(float(expected_k)) * w / F.col("_tot"))
    return (
        known.join(F.broadcast(tot))
        .withColumn("incl_p", p)
        .filter(hash_uniform(key_col, salt) < F.col("incl_p"))
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
    UNROUNDED share / pow / normalizer columns (``_share``, ``_pw``,
    ``_z``) — callers project and round at their own precision, so the
    weighting arithmetic lives in exactly one place."""
    n = (
        F.sum(count_col).alias(count_alias)
        if count_col
        else F.count(F.lit(1)).alias(count_alias)
    )
    counts = df.groupBy(group_col).agg(n)
    total = counts.agg(F.sum(count_alias).cast("double").alias("_n"))
    s = (
        counts.join(F.broadcast(total))
        .withColumn(
            "_share", F.col(count_alias).cast("double") / F.col("_n")
        )
        .withColumn("_pw", F.pow("_share", F.lit(float(alpha))))
    )
    z = s.agg(F.sum("_pw").alias("_z"))
    return s.join(F.broadcast(z))


def mixture_weights(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.7,
    count_col: str | None = None,
) -> DataFrame:
    """Temperature-based mixture reweighting over a grouping column
    (source, language): ``share_g = n_g / N``, ``weight_g ∝
    share_g^alpha`` normalized to 1 — the exponential-smoothing
    up/down-sampling rule multilingual and multi-source pretraining
    mixtures use (alpha < 1 upsamples the tail, alpha = 1 keeps raw
    shares, alpha = 0 is uniform). Output per group: ``n_docs``,
    ``raw_share``, ``weight``, and ``boost`` (= weight/raw_share, the
    per-group sampling factor a pipeline feeds to
    :func:`stratified_sample`-style rate maps).

    Scale shape: one map-side-combinable count aggregate collapses
    the corpus to |groups| rows; everything after is arithmetic over
    that answer-sized frame (two scalar broadcasts, zero extra passes
    over the data)."""
    s = _group_weights_unrounded(df, group_col, alpha, count_col, "n_docs")
    return s.select(
        group_col,
        "n_docs",
        F.round("_share", 6).alias("raw_share"),
        F.round(F.col("_pw") / F.col("_z"), 6).alias("weight"),
        F.round(
            (F.col("_pw") / F.col("_z")) / F.col("_share"), 6
        ).alias("boost"),
    )


def shuffle_manifest(
    df: DataFrame,
    key_col: str,
    salt: str = "shuffle",
    n_shards: int = 256,
) -> DataFrame:
    """Deterministic, content-stable GLOBAL training order: every row
    gets a dense ``shuffle_rank`` (0-based) in salted-md5 order — the
    reproducible corpus shuffle a training run consumes (same salt →
    same order forever, on any engine; change the salt to reshuffle).

    Scale shape — global ranking WITHOUT a global window: a bare
    ``row_number() OVER (ORDER BY hash)`` collapses the corpus into
    ONE partition. Instead the hash's first byte shards the corpus
    (256 ways), ranks are assigned within each shard (window
    partitioned BY shard — parallel), and each shard adds the total
    count of all preceding shards (an answer-sized 256-row cumulative
    offset, broadcast back). Because the shard id is a PREFIX of the
    sort key, (shard asc, hash asc) IS global hash order — the
    per-shard ranks plus offsets reproduce the exact global
    row_number at any corpus size."""
    if not 1 <= n_shards <= 256:
        raise ValueError(f"n_shards must be in [1, 256], got {n_shards}")
    # NULL keys have no hash → no position in the order: exclude them
    # (same contract as pps_sample). Left in, they would corrupt EVERY
    # rank: md5(concat(..NULL)) is NULL, the NULL shard sorts FIRST in
    # the offset window (inflating all real offsets by the NULL count)
    # while the equi-join back drops the NULL rows themselves.
    df = df.filter(F.col(key_col).isNotNull())
    c = F.col(key_col)
    h = F.md5(F.concat(F.lit(f"{salt}:"), c.cast("string")))
    # MONOTONE bucketing of the first hash byte (floor-scaled, never
    # modulo): the global-order reconstruction REQUIRES shard id to be
    # non-decreasing in the sort key — `byte % n` would interleave
    # shards across the hash range and silently break the rank math
    # for any n_shards < 256
    byte = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    shard = F.floor(byte * n_shards / F.lit(256)).cast("int")
    keyed = df.withColumn("_h", h).withColumn("_shard", shard)
    w = Window.partitionBy("_shard").orderBy("_h", key_col)
    ranked = keyed.withColumn("_rk", F.row_number().over(w))
    counts = (
        keyed.groupBy("_shard")
        .agg(F.count(F.lit(1)).alias("_n"))
        .withColumn(
            # running offset over the 256-row shard-count frame: the
            # unpartitioned window is ANSWER-SIZED by construction
            # (n_shards rows), never corpus-sized
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


def token_budget_allocation(
    df: DataFrame,
    group_col: str,
    token_col: str,
    budget_tokens: int,
    alpha: float = 0.7,
) -> DataFrame:
    """Training-mixture PLANNING table: given a total token budget and
    the temperature-reweighted mixture (:func:`mixture_weights` on
    TOKEN counts), how many tokens to draw from each source and what
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
    s = _group_weights_unrounded(df, group_col, alpha, token_col, "n_tokens")
    w = F.col("_pw") / F.col("_z")
    # association matches the oracle EXACTLY: (budget · pw) / z, never
    # budget · (pw/z) — the two rounding sequences can differ by an
    # ulp, and FLOOR below amplifies an ulp into an off-by-one for a
    # plan that lands near an integer
    planned = F.least(
        F.col("n_tokens").cast("double"),
        F.lit(float(budget_tokens)) * F.col("_pw") / F.col("_z"),
    )
    return s.select(
        group_col,
        "n_tokens",
        F.round("_share", 6).alias("raw_share"),
        F.round(w, 6).alias("weight"),
        F.floor(planned).cast("long").alias("planned_tokens"),
        F.round(
            planned / F.col("n_tokens").cast("double"), 6
        ).alias("sampling_rate"),
    )


def token_budget_repetition(
    df: DataFrame,
    group_col: str,
    token_col: str,
    budget_tokens: int | None = None,
    budget_multiple: float | None = None,
    alpha: float = 0.7,
    max_epochs: float = 1.0,
) -> DataFrame:
    """Data-constrained mixture planning (Muennighoff et al. 2023,
    arXiv:2305.16264): :func:`token_budget_allocation` extended with
    a REPETITION ceiling for the over-budget regime. When the budget
    asks a group for more tokens than it has, the plan may repeat the
    group's data up to ``max_epochs`` passes (the paper's finding:
    value decays gently to ~4 epochs, sharply after), so the per-group
    cap becomes ``n_tokens · max_epochs`` instead of ``n_tokens``.

    ``epochs`` (planned/n_tokens, the repeat factor — ≤ 1 means
    subsampling, > 1 means repetition) and ``deficit_tokens`` (budget
    the ceiling left unplaced — what a rebalancer redistributes) make
    the regime explicit. With ``max_epochs=1.0`` the plan is exactly
    token_budget_allocation's (property-pinned in
    tests/test_graph_sampling.py:535).

    ``budget_multiple`` sizes the budget RELATIVE to the corpus
    (budget = multiple · Σ n_tokens) inside the plan itself — the
    over-budget regime then survives any scale factor without a
    driver-side total lookup; the ``_n`` total from the shared
    weights frame is reused, so this costs nothing extra. Exactly one
    of ``budget_tokens`` / ``budget_multiple`` must be given.

    Same scale shape as the sibling: one corpus-sized sum aggregate,
    then arithmetic over the |groups|-row frame. Float discipline:
    ``(budget · pw) / z`` association preserved (never
    ``budget · (pw/z)``), and the FLOOR/LEAST operands keep the same
    expression shape the DuckDB oracle uses."""
    if (budget_tokens is None) == (budget_multiple is None):
        raise ValueError(
            "exactly one of budget_tokens / budget_multiple required"
        )
    if max_epochs <= 0:
        raise ValueError("max_epochs must be positive")
    s = _group_weights_unrounded(df, group_col, alpha, token_col, "n_tokens")
    if budget_multiple is not None:
        target = (
            F.lit(float(budget_multiple)) * F.col("_n") * F.col("_pw")
        ) / F.col("_z")
    else:
        target = (F.lit(float(budget_tokens)) * F.col("_pw")) / F.col("_z")
    cap = F.col("n_tokens").cast("double") * F.lit(float(max_epochs))
    planned = F.least(cap, target)
    return s.select(
        group_col,
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


def leakage_safe_split(
    docs: DataFrame,
    clusters: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    cluster_col: str = "cluster",
    salt: str = "split",
) -> DataFrame:
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
        F.col(id_col), F.col(cluster_col).alias("_leak_cluster")
    )
    joined = docs.join(c, id_col, "left").withColumn(
        "_leak_cluster", F.coalesce(F.col("_leak_cluster"), F.col(id_col))
    )
    return joined.withColumn(
        "split", hash_split(F.col("_leak_cluster"), fractions, salt=salt)
    ).withColumnRenamed("_leak_cluster", cluster_col)
