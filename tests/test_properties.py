"""Property-based invariants (hypothesis) for text/dedup/packing
operators: generated inputs catch the edge shapes example-based tests
don't enumerate (exotic whitespace, unicode planes, empty/singleton
token sets). Each property evaluates a BATCH of generated rows in one
DataFrame so the per-example Spark overhead stays bounded."""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

# printable-ish unicode including CJK/accents; exclude surrogates
_TEXT = st.text(
    alphabet=st.characters(
        exclude_categories=("Cs", "Cc"), max_codepoint=0x2FFFF
    ),
    max_size=60,
)
_TEXTS = st.lists(_TEXT, min_size=1, max_size=12)

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    # Deterministic examples: a randomized run discovering a NEW latent
    # counterexample mid-CI reads as a broken build (it is how the r8
    # jaccard set-semantics bug surfaced — fixed, then the suite was
    # fuzzed green across 5 seeds). Discovery stays available via
    # explicit randomized runs: HYPOTHESIS_RANDOMIZE=1 pytest ...
    # (NOT --hypothesis-seed=random: settings.derandomize takes
    # precedence over pytest's forced seed in hypothesis.core.
    # get_random_for_wrapped_test, so the env toggle must clear
    # derandomize itself).
    derandomize=not os.environ.get("HYPOTHESIS_RANDOMIZE"),
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(texts=_TEXTS)
@_SETTINGS
def test_normalize_text_idempotent(spark, texts):
    from mape_calculation_and_anonymization_spark.operators.text import (
        normalize_text,
    )

    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    once = df.select(normalize_text().alias("text"))
    twice = once.select(normalize_text().alias("n2"))
    pairs = zip(
        [r["text"] for r in once.collect()],
        [r["n2"] for r in twice.collect()],
    )
    for a, b in pairs:
        assert a == b, f"not idempotent: {a!r} -> {b!r}"


@given(texts=_TEXTS)
@_SETTINGS
def test_word_bigrams_count_invariant(spark, texts):
    """len(bigrams) == max(0, token_count - 1), evaluated with the same
    tokenizer on both sides of the assertion."""
    from mape_calculation_and_anonymization_spark.operators.text import (
        token_count,
        word_bigrams,
    )

    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    rows = df.select(
        F.size(word_bigrams()).alias("nb"),
        token_count("text").alias("nt"),
    ).collect()
    for r in rows:
        assert r["nb"] == max(0, r["nt"] - 1), (r["nb"], r["nt"])


@given(toks=st.lists(st.text(min_size=1, max_size=8), min_size=1, max_size=20))
@_SETTINGS
def test_jaccard_self_similarity_and_bounds(spark, toks):
    from mape_calculation_and_anonymization_spark.operators.dedup import jaccard

    df = spark.createDataFrame([(toks, toks)], ["a", "b"])
    sim = df.select(jaccard(F.col("a"), F.col("b")).alias("s")).collect()[0]["s"]
    assert sim == 1.0


@given(
    toks_a=st.lists(st.text(min_size=1, max_size=6), min_size=0, max_size=15),
    toks_b=st.lists(st.text(min_size=1, max_size=6), min_size=0, max_size=15),
)
@_SETTINGS
def test_jaccard_symmetric_within_unit_interval(spark, toks_a, toks_b):
    from mape_calculation_and_anonymization_spark.operators.dedup import jaccard

    df = spark.createDataFrame(
        [(toks_a, toks_b)], "a array<string>, b array<string>"
    )
    row = df.select(
        jaccard(F.col("a"), F.col("b")).alias("ab"),
        jaccard(F.col("b"), F.col("a")).alias("ba"),
    ).collect()[0]
    if row["ab"] is None:
        assert not toks_a or not toks_b
    else:
        assert 0.0 <= row["ab"] <= 1.0
        assert row["ab"] == row["ba"]


@given(
    texts=st.lists(_TEXT, min_size=1, max_size=10),
    budget=st.integers(min_value=1, max_value=64),
)
@_SETTINGS
def test_pack_sequences_partition_invariants(spark, texts, budget):
    """Packing is a PARTITION of the corpus: every doc assigned exactly
    once, seq ids non-negative and equal to floor(prefix/budget) under
    id order, n_tokens faithful to the tokenizer."""
    from unittest import mock

    from mape_calculation_and_anonymization_spark.operators import text
    from mape_calculation_and_anonymization_spark.operators.text import (
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    with mock.patch.object(text, "_PACK_BUDGET", budget), mock.patch.object(
        text, "_PACK_SHARD_SIZE", 3
    ):
        rows = sorted(
            (r["doc_id"], r["n_tokens"], r["seq_id"])
            for r in pack_sequences(docs).collect()
        )
    assert [d for d, _, _ in rows] == list(range(len(texts)))
    prefix = 0
    for _, n_tokens, seq_id in rows:
        assert seq_id == prefix // budget
        assert n_tokens >= 0
        prefix += n_tokens


@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_zvalue_injective_and_bounded(spark, pairs):
    """Morton interleave must be a bijection on its bit domain:
    distinct (x, y) pairs map to distinct z values, and every z fits
    in bits*2 bits."""
    from mape_calculation_and_anonymization_spark.operators.layout import zvalue

    df = spark.createDataFrame(pairs, ["x", "y"])
    zs = [
        r["z"] for r in df.select(zvalue(["x", "y"]).alias("z")).collect()
    ]
    assert len(set(zs)) == len(pairs)  # injective
    assert all(0 <= z < (1 << 16) for z in zs)


@given(
    fracs=st.lists(
        st.floats(min_value=0.05, max_value=1.0), min_size=2, max_size=5
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_hash_split_total_for_arbitrary_fractions(spark, fracs):
    """Any normalized fraction vector yields a TOTAL assignment: every
    row lands in exactly one band, band names exhaust the input."""
    from unittest import mock

    from mape_calculation_and_anonymization_spark.operators import sampling
    from mape_calculation_and_anonymization_spark.operators.sampling import (
        hash_split,
    )

    total = sum(fracs)
    names = [f"b{i}" for i in range(len(fracs))]
    fractions = {n: f / total for n, f in zip(names, fracs)}
    df = spark.range(2000).withColumnRenamed("id", "k")
    with mock.patch.object(sampling, "_SPLIT_FRACTIONS", fractions):
        out = df.withColumn("split", hash_split("k"))
    counts = {
        r["split"]: r["n"]
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert sum(counts.values()) == 2000
    assert set(counts) <= set(names)


@given(
    data=st.data(),
    tol_s=st.sampled_from([None, 3, 10]),
)
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_asof_join_matches_pandas_on_random_frames(spark, data, tol_s):
    """asof_join must equal pandas merge_asof (backward) on ARBITRARY
    frames: random per-key timestamp sets on both sides, with and
    without tolerance."""
    import pandas as pd

    from mape_calculation_and_anonymization_spark.operators.joins import asof_join

    base = pd.Timestamp("2024-01-01")
    keys = ["a", "b"]
    left_rows = data.draw(
        st.lists(
            st.tuples(
                st.sampled_from(keys), st.integers(min_value=0, max_value=60)
            ),
            min_size=1,
            max_size=12,
        )
    )
    right_rows = data.draw(
        st.lists(
            st.tuples(
                st.sampled_from(keys), st.integers(min_value=0, max_value=60)
            ),
            min_size=1,
            max_size=12,
            unique=True,  # right (ts, key) must be unique for a well-defined match value
        )
    )
    left = pd.DataFrame(
        {
            "zone": [k for k, _ in left_rows],
            "ts": [base + pd.Timedelta(seconds=s) for _, s in left_rows],
            "qty": list(range(len(left_rows))),
        }
    )
    right = pd.DataFrame(
        {
            "zone": [k for k, _ in right_rows],
            "ts": [base + pd.Timedelta(seconds=s) for _, s in right_rows],
            "hourly_volume": [float(100 + s) for _, s in right_rows],
        }
    )
    got = {
        (r["zone"], r["ts"], r["qty"]): r["hourly_volume"]
        for r in asof_join(
            spark.createDataFrame(left),
            spark.createDataFrame(right),
            tolerance=None if tol_s is None else f"{tol_s} SECONDS",
        ).collect()
    }
    expect = pd.merge_asof(
        left.sort_values(["ts", "qty"]),
        right.sort_values("ts"),
        on="ts",
        by="zone",
        direction="backward",
        tolerance=None if tol_s is None else pd.Timedelta(seconds=tol_s),
    )
    assert len(got) == len(expect)
    for _, e in expect.iterrows():
        g = got[(e["zone"], e["ts"], e["qty"])]
        if pd.isna(e["hourly_volume"]):
            assert g is None, (e["zone"], e["ts"], g)
        else:
            assert g == e["hourly_volume"], (e["zone"], e["ts"], g, e["hourly_volume"])


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 6),  # quasi A
            st.integers(0, 2),  # quasi B
            st.sampled_from(["x", "y", "z"]),  # sensitive
        ),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(1, 5),
)
@_SETTINGS
def test_k_anonymize_never_emits_small_class(spark, rows, k):
    """Every surviving quasi class has >= k members, and survivors are
    exactly the input rows of qualifying classes (no mutation)."""
    from collections import Counter

    from unittest import mock

    from mape_calculation_and_anonymization_spark.operators import privacy
    from mape_calculation_and_anonymization_spark.operators.privacy import (
        k_anonymize,
    )

    df = spark.createDataFrame(rows, ["c_nationkey", "c_mktsegment", "s"])
    with mock.patch.object(privacy, "_K_ANONYMITY", k):
        out = [tuple(r) for r in k_anonymize(df).collect()]
    sizes = Counter((qa, qb) for qa, qb, _ in out)
    assert all(n >= k for n in sizes.values())
    expected_classes = {
        c for c, n in Counter((qa, qb) for qa, qb, _ in rows).items() if n >= k
    }
    assert sorted(out) == sorted(
        t for t in rows if (t[0], t[1]) in expected_classes
    )


@given(seed=st.integers(0, 2**31 - 1), eps=st.sampled_from([0.5, 1.0, 2.0]))
@_SETTINGS
def test_laplace_noise_bounded_and_seeded(spark, seed, eps):
    """Draws are finite, nonzero (the odd-m construction can't hit the
    CDF endpoints), and keyed deterministically on (seed, key)."""
    import math

    from unittest import mock

    from mape_calculation_and_anonymization_spark.operators import privacy
    from mape_calculation_and_anonymization_spark.operators.privacy import (
        laplace_noise,
    )

    df = spark.createDataFrame([(f"k{i}",) for i in range(16)], ["k"])
    with mock.patch.object(privacy, "_DP_EPSILON", eps), mock.patch.object(
        privacy, "_DP_SEED", seed
    ):
        col = laplace_noise(F.col("k"))
    a = [r["n"] for r in df.select(col.alias("n")).collect()]
    b = [r["n"] for r in df.select(col.alias("n")).collect()]
    assert a == b
    assert all(math.isfinite(v) and v != 0.0 for v in a)


_HIST = st.lists(
    st.tuples(
        st.integers(min_value=-5, max_value=5),   # bin index
        st.integers(min_value=0, max_value=20),   # ref count
        st.integers(min_value=0, max_value=20),   # cur count
    ),
    min_size=1,
    max_size=8,
    unique_by=lambda t: t[0],
)


@given(hist=_HIST)
@_SETTINGS
def test_drift_folds_match_numpy_model(spark, hist):
    """smoothed_psi and ks_statistic vs a direct numpy evaluation of
    the published formulas over arbitrary zero-inflated histograms —
    the generated shapes (one-sided bins, empty windows, single-bin
    groups) are exactly the guards the Jeffreys smoothing and
    try_divide exist for."""
    import math
    from unittest import mock

    from mape_calculation_and_anonymization_spark.operators import drift
    from mape_calculation_and_anonymization_spark.operators.drift import (
        ks_statistic,
        population_stability,
    )

    # materialize the histogram as raw value rows (bin b -> value b*w)
    w = 10.0
    ref_rows = [("g", b * w) for b, nr, _ in hist for _ in range(nr)]
    cur_rows = [("g", b * w) for b, _, nc in hist for _ in range(nc)]
    # keep the group present on both sides: guarantee one row each
    if not ref_rows:
        ref_rows = [("g", None)]
    if not cur_rows:
        cur_rows = [("g", None)]
    ref = spark.createDataFrame(ref_rows, "dim string, val double")
    cur = spark.createDataFrame(cur_rows, "dim string, val double")

    live = [(b, nr, nc) for b, nr, nc in hist if nr + nc > 0]
    psi_of = mock.patch.object(drift, "_PSI_BIN_WIDTH", w)
    if not live:
        # both windows empty -> no cells at all -> empty results
        with psi_of:
            assert population_stability(ref, cur).count() == 0
        assert ks_statistic(ref, cur, ["dim"], "val", w).count() == 0
        return

    nrt = sum(nr for _, nr, _ in live)
    nct = sum(nc for _, _, nc in live)
    nb = len(live)
    s = 0.5
    psi_exp = sum(
        ((nr + s) / (nrt + s * nb) - (nc + s) / (nct + s * nb))
        * math.log(((nr + s) / (nrt + s * nb)) / ((nc + s) / (nct + s * nb)))
        for _, nr, nc in live
    )
    with psi_of:
        r = population_stability(ref, cur).collect()[0]
    assert (r["n_ref"], r["n_cur"], r["n_bins"]) == (nrt, nct, nb)
    assert r["psi"] == round(psi_exp, 6)

    k = ks_statistic(ref, cur, ["dim"], "val", w).collect()[0]
    if nrt == 0 or nct == 0:
        assert k["ks"] is None and k["drift_flag"] is None
    else:
        cum_r = cum_c = 0
        gaps = []
        for _, nr, nc in sorted(live):
            cum_r += nr
            cum_c += nc
            gaps.append(abs(cum_r / nrt - cum_c / nct))
        assert k["ks"] == round(max(gaps), 6)


@given(
    tgt=st.lists(
        st.tuples(st.integers(0, 30), st.floats(-100, 100, allow_nan=False)),
        min_size=1,
        max_size=20,
        unique_by=lambda t: t[0],
    ),
    upd=st.lists(
        st.tuples(st.integers(0, 40), st.floats(-100, 100, allow_nan=False)),
        min_size=0,
        max_size=20,
        unique_by=lambda t: t[0],
    ),
)
@_SETTINGS
def test_merge_upsert_key_set_and_action_invariants(spark, tgt, upd):
    """For any unique-keyed target and update batch: merged key set =
    target ∪ update keys (each exactly once), action partition counts
    add up, updated rows carry update values, unchanged rows carry
    target values."""
    from mape_calculation_and_anonymization_spark.operators.joins import (
        merge_upsert,
    )

    t = spark.createDataFrame(tgt, "c_custkey long, v double")
    u = spark.createDataFrame(upd, "c_custkey long, v double") if upd else (
        spark.createDataFrame([], "c_custkey long, v double")
    )
    got = {r["c_custkey"]: r for r in merge_upsert(t, u).collect()}
    tk, uk = {k for k, _ in tgt}, {k for k, _ in upd}
    assert set(got) == tk | uk
    tv, uv = dict(tgt), dict(upd)
    for k, r in got.items():
        if k in tk and k in uk:
            assert r["action"] == "updated" and r["v"] == uv[k]
        elif k in uk:
            assert r["action"] == "inserted" and r["v"] == uv[k]
        else:
            assert r["action"] == "unchanged" and r["v"] == tv[k]


@given(
    weights=st.lists(st.integers(0, 50), min_size=1, max_size=30),
    k=st.integers(1, 20),
)
@_SETTINGS
def test_pps_sample_subset_probability_invariants(spark, weights, k):
    """Sample ⊆ corpus, NULL/zero weights never sampled, incl_p ∈
    (0, 1], and the sample is identical on rerun (content-stable)."""
    from unittest import mock

    from mape_calculation_and_anonymization_spark.operators import sampling
    from mape_calculation_and_anonymization_spark.operators.sampling import (
        pps_sample,
    )

    rows = [(i, w if w > 0 else None) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    patch = mock.patch.object(sampling, "_PPS_EXPECTED_K", k)
    with patch:
        got = pps_sample(df).collect()
    ids = sorted(r["doc_id"] for r in got)
    assert len(set(ids)) == len(ids)
    valid = {i for i, w in rows if w is not None}
    assert set(ids) <= valid
    assert all(0.0 < r["incl_p"] <= 1.0 for r in got)
    with patch:
        again = sorted(r["doc_id"] for r in pps_sample(df).collect())
    assert ids == again


@given(
    counts=st.lists(st.integers(1, 500), min_size=1, max_size=8),
    alpha=st.sampled_from([0.0, 0.3, 0.5, 0.7, 1.0]),
)
@_SETTINGS
def test_mixture_weights_normalization_and_monotonicity(spark, counts, alpha):
    """Weights form a distribution (sum 1 within rounding); alpha=1
    reproduces raw shares; alpha=0 is uniform; alpha<1 never DOWN-
    boosts the smallest group below the largest's boost."""
    from unittest import mock

    from mape_calculation_and_anonymization_spark.operators import sampling
    from mape_calculation_and_anonymization_spark.operators.sampling import (
        mixture_weights,
    )

    rows = [(f"s{i}",) for i, n in enumerate(counts) for _ in range(n)]
    df = spark.createDataFrame(rows, "source string")
    with mock.patch.object(sampling, "_MIXTURE_ALPHA", alpha):
        got = {r["source"]: r for r in mixture_weights(df).collect()}
    assert abs(sum(r["weight"] for r in got.values()) - 1.0) < 1e-4
    if alpha == 1.0:
        for r in got.values():
            assert abs(r["weight"] - r["raw_share"]) < 1e-6
    if alpha == 0.0:
        for r in got.values():
            assert abs(r["weight"] - 1.0 / len(counts)) < 1e-4
    smallest = min(got.values(), key=lambda r: r["n_docs"])
    largest = max(got.values(), key=lambda r: r["n_docs"])
    if alpha < 1.0 and smallest["n_docs"] < largest["n_docs"]:
        assert smallest["boost"] >= largest["boost"]


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["g1", "g2", "g3"]),
                  st.sampled_from(["a", "b", "c", None])),
        min_size=2,
        max_size=40,
    )
)
@_SETTINGS
def test_t_closeness_tvd_bounds_and_identity(spark, rows):
    """TVD ∈ [0, 1] for every class; a corpus with ONE class always
    reports tvd 0 (its distribution IS the global one)."""
    from mape_calculation_and_anonymization_spark.operators.privacy import (
        t_closeness_report,
    )

    schema = "c_nationkey string, c_mktsegment string, bal_band string"
    df = spark.createDataFrame([(g, "m", s) for g, s in rows], schema)
    got = t_closeness_report(df).collect()
    assert all(-1e-9 <= r["tvd"] <= 1.0 + 1e-9 for r in got)
    one = spark.createDataFrame([("g", "m", s) for _, s in rows], schema)
    got1 = t_closeness_report(one).collect()
    assert len(got1) == 1 and abs(got1[0]["tvd"]) < 1e-9


_WORD = st.sampled_from(["alpha", "beta", "gamma", "delta", "xi"])
_WORD_DOCS = st.lists(
    st.lists(_WORD, min_size=0, max_size=20), min_size=1, max_size=8
)


@given(docs=_WORD_DOCS)
@_SETTINGS
def test_exact_substring_spans_matches_bruteforce(spark, docs):
    """exact_substring_spans == a pure-Python reference on random
    small-alphabet corpora (tiny vocabulary forces dense cross-doc
    and within-doc shingle collisions — the merge/canonical logic's
    hard cases). Docs are single-space word joins so both tokenizers
    agree by construction; tokenizer edge semantics are pinned by the
    example tests."""
    from unittest import mock

    from mape_calculation_and_anonymization_spark.operators import dedup
    from mape_calculation_and_anonymization_spark.operators.dedup import (
        exact_substring_spans,
    )

    n = 3
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]

    occ: dict = {}
    for d, text in rows:
        tk = text.split()
        for i in range(max(len(tk) - n + 1, 0)):
            occ.setdefault(" ".join(tk[i : i + n]), []).append((d, i))
    removable: set = set()
    for positions in occ.values():
        if len(positions) >= 2:
            keep = min(positions)
            removable.update(p for p in positions if p != keep)
    by_doc: dict = {}
    for d, p in removable:
        by_doc.setdefault(d, []).append(p)
    expected = set()
    for d, ps in by_doc.items():
        ps.sort()
        start, prev_end = None, None
        for p in ps:
            if start is None:
                start, prev_end = p, p + n - 1
            elif p <= prev_end + 1:
                prev_end = max(prev_end, p + n - 1)
            else:
                expected.add((d, start, prev_end, prev_end - start + 1))
                start, prev_end = p, p + n - 1
        if start is not None:
            expected.add((d, start, prev_end, prev_end - start + 1))

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    with mock.patch.object(dedup, "_SPAN_N", n):
        got = {
            (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
            for r in exact_substring_spans(df).collect()
        }
    assert got == expected


_MEMBERS = st.lists(
    st.tuples(
        st.integers(0, 3),                      # cluster
        st.floats(0.0, 1.0, allow_nan=False),   # quality
        st.booleans(),                          # passed
    ),
    min_size=1,
    max_size=16,
)


@given(members=_MEMBERS)
@_SETTINGS
def test_gated_representatives_match_reference(spark, members):
    """gated_cluster_representatives == a pure-Python reference on
    random memberships: best PASSING member by (quality desc, id),
    NULL kept when no member passes, exact ledgers. Random qualities
    exercise float ties and the NULLS-after-passers ordering."""
    from mape_calculation_and_anonymization_spark.operators.dedup import (
        gated_cluster_representatives,
    )

    rows = [
        (c, i, round(q, 6), p) for i, (c, q, p) in enumerate(members)
    ]
    expected = {}
    for c in {r[0] for r in rows}:
        mem = [r for r in rows if r[0] == c]
        passing = sorted(
            (r for r in mem if r[3]), key=lambda r: (-r[2], r[1])
        )
        kept = (passing[0][1], passing[0][2]) if passing else (None, None)
        expected[c] = (kept[0], kept[1], len(mem), sum(r[3] for r in mem))

    df = spark.createDataFrame(
        rows, "cluster int, doc_id int, quality double, passed boolean"
    )
    got = {
        r["cluster"]: (
            r["kept_id"], r["kept_quality"], r["n_members"], r["n_pass"]
        )
        for r in gated_cluster_representatives(df).collect()
    }
    assert got == expected


@given(
    bench_docs=st.lists(
        st.lists(_WORD, min_size=0, max_size=12), min_size=1, max_size=3
    ),
    train_docs=st.lists(
        st.lists(_WORD, min_size=0, max_size=12), min_size=1, max_size=6
    ),
)
@_SETTINGS
def test_contamination_near_dup_matches_bruteforce(
    spark, bench_docs, train_docs
):
    """contamination_near_dup == quadratic exact 3-gram Jaccard on
    random small-alphabet corpora (dense collisions; whole-text
    fallback grams for sub-3-token docs exercised by the size-0..2
    word lists)."""
    from unittest import mock

    from mape_calculation_and_anonymization_spark.operators import text
    from mape_calculation_and_anonymization_spark.operators.text import (
        contamination_near_dup,
    )

    n, thr = 3, 0.4
    bench = [(i, " ".join(w)) for i, w in enumerate(bench_docs)]
    train = [(100 + i, " ".join(w)) for i, w in enumerate(train_docs)]

    def grams(text):
        tk = text.split()
        if not text.strip():
            # split(trim('')) -> [''] -> whole-text fallback gram ''
            return {""}
        if len(tk) < n:
            return {" ".join(tk)}
        return {" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)}

    expected = {}
    for td, tt in train:
        for bd, bt in bench:
            a, b = grams(tt), grams(bt)
            inter = len(a & b)
            j = inter / (len(a) + len(b) - inter)
            if j >= thr:
                expected[(td, bd)] = round(j, 6)

    with mock.patch.object(text, "_NEAR_DUP_THRESHOLD", thr):
        got = {
            (r["train_id"], r["bench_id"]): r["jaccard_sim"]
            for r in contamination_near_dup(
                spark.createDataFrame(train, ["doc_id", "text"]),
                spark.createDataFrame(bench, ["doc_id", "text"]),
            ).collect()
        }
    assert got == expected


@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["sA", "sB", "sC"]),
            st.lists(_WORD, min_size=0, max_size=12),
        ),
        min_size=1,
        max_size=10,
    )
)
@_SETTINGS
def test_source_overlap_matrix_matches_bruteforce(spark, docs):
    """source_overlap_matrix == set-arithmetic reference on random
    corpora (n=3, cap inert at 3 sources): shared distinct shingles
    per pair, coefficient over full per-source sets."""
    from unittest import mock

    from mape_calculation_and_anonymization_spark.operators import text
    from mape_calculation_and_anonymization_spark.operators.text import (
        source_overlap_matrix,
    )

    n = 3
    rows = [(s, " ".join(w)) for s, w in docs]

    def grams(text):
        tk = text.split()
        if not text.strip():
            return {""}
        if len(tk) < n:
            return {" ".join(tk)}
        return {" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)}

    by_src: dict = {}
    for s, t in rows:
        by_src.setdefault(s, set()).update(grams(t))
    srcs = sorted(by_src)
    # eligibility: shingle in >= 2 sources (cap 16 inert here)
    src_count: dict = {}
    for s in srcs:
        for g in by_src[s]:
            src_count[g] = src_count.get(g, 0) + 1
    eligible = {g for g, c in src_count.items() if 2 <= c <= 16}
    expected = {}
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            shared = len(by_src[a] & by_src[b] & eligible)
            if shared:
                expected[(a, b)] = (
                    shared,
                    round(shared / min(len(by_src[a]), len(by_src[b])), 6),
                )

    df = spark.createDataFrame(rows, ["source", "text"])
    with mock.patch.object(text, "_OVERLAP_N", n):
        got = {
            (r["source_a"], r["source_b"]): (
                r["shared_shingles"], r["overlap_coeff"]
            )
            for r in source_overlap_matrix(df).collect()
        }
    assert got == expected


@given(
    docs=st.lists(
        st.lists(_WORD, min_size=1, max_size=15), min_size=1, max_size=8
    )
)
@_SETTINGS
def test_vocab_coverage_matches_bruteforce(spark, docs):
    """vocab_coverage_curve == a sorted-counter reference, including
    the deterministic (freq desc, term asc) tie-break a 5-word
    alphabet exercises constantly."""
    from collections import Counter
    from unittest import mock

    from mape_calculation_and_anonymization_spark.operators import text

    ks = (1, 3, 10)
    counts = Counter(w for words in docs for w in words)
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(counts.values())
    expected = {}
    for k in ks:
        head = ranked[:k]
        cov = sum(c for _, c in head)
        expected[k] = (len(head), cov, total, round(cov / total, 6))

    df = spark.createDataFrame(
        [(" ".join(words),) for words in docs], ["text"]
    )
    with mock.patch.object(text, "_COVERAGE_KS", ks):
        rows = text.vocab_coverage_curve(df).collect()
    got = {
        r["vocab_k"]: (
            r["n_terms"], r["covered_tokens"], r["total_tokens"],
            r["coverage"],
        )
        for r in rows
    }
    assert got == expected


def test_curation_fates_partition_and_bench_twins(spark):
    """curation_fates (round-14 debut) composition invariants at
    sf0.001: every non-null-text train doc appears EXACTLY once with
    one of the five fates; every gate-passing twin of a benchmark doc
    (doc_id 1_000_000..1_000_019 — near-dup of a doc the benchmark
    slice holds) is removed as contaminated (stage 4 catches what
    stages 1-3 let through); at least one doc survives to 'kept'."""
    import __spark_entry__ as e

    sf_dir = "/root/testdata/sf0.001"
    rows = e._q_curation_fates(spark, sf_dir).collect()
    fates = {r["doc_id"]: r["fate"] for r in rows}
    assert len(rows) == len(fates)  # exactly-once attribution
    assert set(fates.values()) <= {
        "low_quality", "exact_dup", "near_dup_loser", "contaminated",
        "kept",
    }
    n_train = (
        e._docs_with_planted_twins(spark, sf_dir)
        .filter("doc_id >= 20 AND text IS NOT NULL")
        .count()
    )
    assert len(fates) == n_train  # no doc dropped from the surface
    bench_twins = {
        d: f for d, f in fates.items() if 1_000_000 <= d < 1_000_020
    }
    assert bench_twins, "benchmark twins missing from the train slice"
    for d, f in bench_twins.items():
        # a benchmark twin never survives: gates may reject it first,
        # but if it reaches stage 4 the contamination probe must fire
        assert f != "kept", f"benchmark twin {d} leaked through as kept"
    assert "contaminated" in set(bench_twins.values())
    assert any(f == "kept" for f in fates.values())


_WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]
_WORD_DOC = st.lists(st.sampled_from(_WORDS), min_size=0, max_size=10).map(
    " ".join
)


@given(
    train=st.lists(_WORD_DOC, min_size=1, max_size=8),
    bench=st.lists(_WORD_DOC, min_size=1, max_size=3),
)
@_SETTINGS
def test_decontaminate_corpus_matches_python_reference(spark, train, bench):
    """decontaminate_corpus == a direct pure-Python rendition of its
    contract (word_ngrams Jaccard drop; strict positional-gram span
    cover; islands count; cleaned-token md5) on random small-alphabet
    corpora — the overlap-rich shapes that exercise every fate.
    Tokenization mirrored via re.split on the trimmed lowered text
    (Spark's split(trim(lower(..)), '\\s+') yields [''] for empty
    text, unlike str.split)."""
    import hashlib
    import re

    from mape_calculation_and_anonymization_spark.operators.text import (
        decontaminate_corpus,
    )

    n, thr = 3, 0.5

    def toks(t):
        return re.split(r"\s+", t.strip().lower())

    def ngr_set(ts):
        if len(ts) < n:
            return {" ".join(ts)}
        return {" ".join(ts[i : i + n]) for i in range(len(ts) - n + 1)}

    bench_rows = [(100 + i, t) for i, t in enumerate(bench)]
    train_rows = [(10 + i, t) for i, t in enumerate(train)]
    bench_sets = [ngr_set(toks(t)) for _, t in bench_rows]
    bench_strict = set()
    for _, t in bench_rows:
        ts = toks(t)
        for i in range(len(ts) - n + 1):
            bench_strict.add(" ".join(ts[i : i + n]))
    expected = {}
    for d, t in train_rows:
        ts = toks(t)
        tset = ngr_set(ts)
        dropped = any(
            len(tset & bs) / len(tset | bs) >= thr for bs in bench_sets
        )
        if dropped:
            expected[d] = ("dropped", 0, len(ts), 0, None)
            continue
        covered = set()
        for p in range(len(ts) - n + 1):
            if " ".join(ts[p : p + n]) in bench_strict:
                covered.update(range(p, p + n))
        rm = sorted(covered)
        spans = 0
        for j, x in enumerate(rm):
            if j == 0 or x - rm[j - 1] > 1:
                spans += 1
        clean = [ts[i] for i in range(len(ts)) if i not in covered]
        expected[d] = (
            "cut" if rm else "kept",
            spans,
            len(rm),
            len(clean),
            hashlib.md5(" ".join(clean).encode()).hexdigest(),
        )

    got = {
        r["doc_id"]: (
            r["action"],
            r["n_spans_cut"],
            r["tokens_removed"],
            r["n_tokens_clean"],
            r["clean_md5"],
        )
        for r in decontaminate_corpus(
            spark.createDataFrame(train_rows, ["doc_id", "text"]),
            spark.createDataFrame(bench_rows, ["doc_id", "text"]),
        ).collect()
    }
    assert got == expected
