"""Formal-privacy operators: k-anonymity, l-diversity, DP aggregates.

The reference's anonymization surface (reference/anonymize_datasets.py
— label replacement :86-110, uid pseudonymization :27-84, value
perturbation :118-124) is syntactic: it hides WHO a row is about but
publishes exact group structure. This module adds the formal-privacy
layer a 100-TB training-data pipeline publishes data under:

  * **k-anonymity** (Sweeney, "k-anonymity: a model for protecting
    privacy", IJUFKS 2002): generalize quasi-identifiers (banding,
    truncation), then suppress every equivalence class smaller than
    ``k`` so no record is distinguishable from fewer than k-1 others.
  * **l-diversity audit** (Machanavajjhala et al., "l-diversity:
    privacy beyond k-anonymity", ICDE 2006): a k-anonymous class whose
    sensitive attribute is constant still leaks it; report per-class
    sensitive-value diversity.
  * **re-identification risk profile**: the equivalence-class size
    histogram (share of records at risk 1/size) — the journalist/
    prosecutor risk summary privacy reviews ask for.
  * **differential privacy** (Dwork et al., "Calibrating noise to
    sensitivity", TCC 2006): Laplace-mechanism noisy aggregates. The
    noise here is a DETERMINISTIC function of (seed, group key) via a
    portable md5 → uniform → inverse-CDF construction, so results are
    reproducible across engines and test runs — swap the seed per
    release in production (a fixed seed across releases would let an
    observer difference the noise away; determinism is a test/oracle
    property, not a privacy recommendation).

Scale shape: every operator is one hash aggregate plus (for
suppression) one shuffled equi join on the quasi-identifier key —
map-side combinable, no windows over global orderings, no driver
collects. The class-count frame is answer-sized (bounded by the
generalized quasi-identifier domain), so AQE typically broadcasts the
suppression join's count side at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# k of k_anonymize: the smallest class size published
_K_ANONYMITY = 8

# the Laplace mechanism of dp_noisy_counts: privacy budget and the
# reproducible test seed its noise is keyed on
_DP_EPSILON = 1.0
_DP_SEED = 42


def band(width: float) -> Column:
    """Generalize ``c_acctbal`` to the lower edge of its
    ``width``-sized band (floor semantics, so negatives band down).
    Integer widths return bigint edges (publishing exact band
    arithmetic in doubles would just re-leak the value); fractional
    widths keep the double edge — truncating the multiplier would
    produce wrong (width<1: all-zero) bands."""
    w = float(width)
    edge = F.floor(F.col("c_acctbal") / F.lit(w)) * F.lit(w)
    return edge.cast("long") if w.is_integer() else edge


def k_anonymize(df: DataFrame) -> DataFrame:
    """Suppress every row whose quasi-identifier equivalence class
    (``c_nationkey``, ``c_mktsegment``) has fewer than
    ``_K_ANONYMITY`` members. Input must already carry GENERALIZED
    quasi columns (see :func:`band`); generalize-then-suppress is the
    standard k-anonymity recipe.

    One aggregate derives class sizes; a left-semi join on the quasi
    key keeps qualifying rows — no row data moves through the
    aggregate, and the semi join's right side is class-count-sized.

    NULL handling (deliberate): rows whose quasi-identifier contains a
    NULL are ALWAYS suppressed, whatever the size of the all-NULL
    class — the class-count aggregate groups NULLs together, but the
    null-unsafe equi semi join never matches them back. This is the
    privacy-safe default (an unparseable/absent quasi value gives no
    anonymity-set guarantee, so publishing the row cannot be justified
    by a class count); callers who want NULL classes to qualify should
    fill a sentinel generalization bucket BEFORE calling, making the
    choice explicit rather than a join-semantics accident.
    """
    quasi_cols = ["c_nationkey", "c_mktsegment"]
    ok = (
        df.groupBy(*quasi_cols)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= _K_ANONYMITY)
        .drop("_n")
    )
    return df.join(ok, quasi_cols, "left_semi")


def l_diversity_report(df: DataFrame) -> DataFrame:
    """Per equivalence class (``c_nationkey``, ``bal_band``): size,
    distinct sensitive ``c_mktsegment`` values, and whether the class
    meets distinct-3-diversity. Single hash aggregate (count + count
    distinct over the same grouping)."""
    return df.groupBy("c_nationkey", "bal_band").agg(
        F.count(F.lit(1)).alias("class_size"),
        F.countDistinct("c_mktsegment").alias("n_sensitive"),
        (F.countDistinct("c_mktsegment") >= F.lit(3)).alias("l_diverse"),
    )


def equivalence_class_histogram(df: DataFrame) -> DataFrame:
    """Re-identification risk profile over the (``c_nationkey``,
    ``c_mktsegment``, ``bal_band``) classes: for each equivalence-class size,
    how many classes and records sit at that size. A record in a class
    of size s is re-identified with probability 1/s by an adversary who
    knows the quasi-identifiers — the ``class_size = 1`` row is the
    population of unique, fully-exposed records. Two stacked hash
    aggregates; the second runs over the answer-sized class frame."""
    sizes = df.groupBy("c_nationkey", "c_mktsegment", "bal_band").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    return (
        sizes.groupBy("class_size")
        .agg(F.count(F.lit(1)).alias("n_classes"))
        .select(
            "class_size",
            "n_classes",
            (F.col("class_size") * F.col("n_classes")).alias("n_records"),
            F.round(1.0 / F.col("class_size"), 6).alias("reident_risk"),
        )
    )


def laplace_noise(key: Column) -> Column:
    """Deterministic Laplace(1/``_DP_EPSILON``) draw (sensitivity 1)
    keyed on ``(_DP_SEED, key)`` — REPRODUCIBLE TEST-ORACLE NOISE, NOT PRODUCTION
    DP. Anyone who knows (or guesses) the seed can recompute and
    subtract the noise exactly, and a float inverse-CDF draw is
    subject to the Mironov floating-point attack (CCS 2012: the
    double-precision Laplace CDF's gaps leak low-order bits of the
    true count). Use this to pin mechanism SHAPE in cross-engine
    tests; a real release needs a secret per-release seed at minimum
    and a discrete/secure mechanism (e.g. the discrete Laplace /
    Canonne-Kamath-Steinke construction) to claim epsilon.

    Construction (portable across engines, used by the DuckDB oracles
    too): md5 of the seeded key → first 8 hex digits → 32-bit integer
    ``x`` → centered odd integer ``m = 2·(x − 2³¹) + 1`` (never zero,
    so the log argument below never hits 0 or 1 exactly) → uniform
    ``|m|/2³² ∈ (0, 1)`` → inverse CDF ``−b·sign(m)·ln(1 − |m|/2³²)``.
    All arithmetic is exact integer until the final log/multiply, so
    Spark and any SQL engine that agrees on md5 and IEEE doubles draw
    the SAME noise. Runs entirely inside whole-stage codegen."""
    h = F.md5(F.concat(F.lit(f"{_DP_SEED}:"), key.cast("string")))
    x = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    m = (x - F.lit(2**31)) * F.lit(2) + F.lit(1)
    t = F.abs(m).cast("double") / F.lit(float(2**32))
    b = 1.0 / _DP_EPSILON
    return -F.lit(b) * F.signum(m.cast("double")) * F.log(F.lit(1.0) - t)


def noise_key() -> Column:
    """Collision-free noise key of the ``event_type`` group: the value
    is md5-hashed (fixed 32-hex width) and NULL maps to the sentinel
    ``'-'`` (one char, so it can never collide with a digest), so every
    distinct group value, NULL included, is a distinct key. Mirrored
    digit-for-digit by the DuckDB oracle (``md5``, ``COALESCE`` and
    ``concat_ws`` are engine-portable)."""
    return F.concat_ws(
        "|", F.coalesce(F.md5(F.col("event_type").cast("string")), F.lit("-"))
    )


def dp_noisy_counts(df: DataFrame) -> DataFrame:
    """Differentially-private ``event_type`` counts: COUNT(*) per group
    plus Laplace(1/``_DP_EPSILON``) noise (count queries have
    sensitivity 1 under add/remove-one-record adjacency). Noise is
    keyed on the collision-free :func:`noise_key` encoding of the group
    value — one draw per published cell. Output: ``event_type`` +
    ``noisy_count`` (double; negative values are NOT clamped —
    post-processing is the consumer's choice and clamping
    asymmetrically would bias sums) + ``epsilon``.

    See :func:`laplace_noise`: keyed on the fixed ``_DP_SEED`` this is
    reproducible test-oracle noise, not a production DP release."""
    return (
        df.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "event_type",
            (
                F.col("_n").cast("double")
                + laplace_noise(noise_key())
            ).alias("noisy_count"),
            F.lit(float(_DP_EPSILON)).alias("epsilon"),
        )
    )


def t_closeness_report(df: DataFrame) -> DataFrame:
    """Per equivalence class (``c_nationkey``, ``c_mktsegment``): the
    TOTAL VARIATION DISTANCE between the class's sensitive ``bal_band``
    distribution and the global one, plus the t-closeness verdict at
    t = 0.2 — the third leg of the disclosure-risk stack
    (k-anonymity bounds re-identification, l-diversity bounds
    value-homogeneity, t-closeness bounds ATTRIBUTE INFERENCE: a
    class whose sensitive distribution diverges from the population's
    leaks information even when it is large and diverse). For a
    categorical sensitive attribute the Earth Mover's Distance of the
    original paper (Li et al., ICDE 2007) reduces to TVD =
    ``0.5 · Σ_v |p_cv − q_v|``.

    Shape — the domain-completion trick keeps it to two aggregates
    and one broadcast: the sum over the FULL sensitive domain splits
    into class-present values plus absent ones, and the absent terms
    are just ``0.5 · (1 − Σ_present q_v)``, so no (class × domain)
    completion join ever materializes:

        tvd_c = 0.5 · Σ_present |p_cv − q_v| + 0.5 · (1 − Σ_present q_v)

    One hash aggregate to (class, value) cells, a broadcast join of
    the answer-sized global value distribution, one class-keyed
    rollup. At 100 TB the only corpus-sized pass is the first
    aggregate; everything after is |classes|·|domain|-bounded."""
    quasi_cols = ["c_nationkey", "c_mktsegment"]
    sensitive_col = "bal_band"
    cells = df.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).alias("_n_cv")
    )
    # the global distribution derives from the CELLS frame (second
    # stacked aggregate over the answer-sized cells — no second corpus
    # pass), and N stays in-plan: no driver action anywhere
    glob = cells.groupBy(sensitive_col).agg(F.sum("_n_cv").alias("_n_v"))
    tot = glob.agg(F.sum("_n_v").cast("double").alias("_N"))
    glob_q = (
        glob.join(F.broadcast(tot))
        .select(
            F.col(sensitive_col).alias("_sv"),
            (F.col("_n_v").cast("double") / F.col("_N")).alias("_q"),
        )
    )
    # NULL-SAFE join: a NULL sensitive value is a real category for a
    # disclosure audit (it appears in the global distribution and in
    # class sizes) — a bare equi-join would silently drop NULL cells,
    # undercount class_size, renormalize p over non-NULL values, and
    # misattribute the NULL mass to the absent-value term.
    cells_q = cells.join(
        F.broadcast(glob_q), F.col(sensitive_col).eqNullSafe(F.col("_sv"))
    ).drop("_sv")
    w = Window.partitionBy(*quasi_cols)
    with_p = cells_q.withColumn(
        "_n_c", F.sum("_n_cv").over(w)
    ).withColumn("_p", F.col("_n_cv").cast("double") / F.col("_n_c"))
    per_class = with_p.groupBy(*quasi_cols, "_n_c").agg(
        F.count(F.lit(1)).alias("n_sensitive"),
        (
            0.5 * F.sum(F.abs(F.col("_p") - F.col("_q")))
            + 0.5 * (1.0 - F.sum("_q"))
        ).alias("_tvd"),
    )
    return per_class.select(
        *quasi_cols,
        F.col("_n_c").alias("class_size"),
        "n_sensitive",
        F.round("_tvd", 6).alias("tvd"),
        (F.round("_tvd", 6) > F.lit(0.2)).alias("t_violation"),
    )
