"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": N, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query executes via a noop-format write so timing covers the full
distributed plan without driver-side result transfer.

Methodology — how to read the numbers (VERDICT r11 item 2):

* Compare PER-QUERY medians, never headline-to-headline. The headline
  total is the sum of ~169 per-query medians and carries roughly ±15%
  machine-load variance between otherwise identical runs on this
  shared container — round 11 "improved" 13% with ZERO
  performance-relevant code changes, which is the proof case. A real
  regression shows up as a specific query's median moving >30% across
  runs with the same plan; chase those, ignore headline drift.
* Each sample is a median of N passes (SPARK_GRAFT_BENCH_RUNS,
  default 3) over a warmed session: JVM codegen, parquet footers,
  the noop sink, broadcast machinery, and the Arrow Python worker
  pool are all touched before the first timed region, so pass 1
  is not structurally slower than pass N.
* Registry ORDER is part of the measurement context: a query that
  runs immediately after a block of streaming drains absorbs the
  state-store/checkpoint cleanup those drains leave settling
  (measured round 13: text_dup_spans times ~1.5s isolated but
  ~3.5-7s right behind four stream queries, decaying over the next
  few queries). A window rotation can therefore move this tax
  between queries — another reason per-query deltas across a
  rotation are only meaningful when the neighborhood is unchanged;
  confirm a suspected regression with an isolated-session timing
  before chasing the plan.
* Output files: every run lands the full payload in BENCH_LATEST.json
  AND a cpu-stamped BENCH_LATEST_c{cpus}.json (both untracked scratch
  — safe for driver runs and sanity runs at any sf; the stamped copy
  means the driver's 8-core scaling run can't clobber the 32-core
  per-query map). The COMMITTED artifacts BENCH_LOCAL.json /
  BENCH_DRIFT.json / BENCH_HISTORY.jsonl move only under an explicit
  `python bench.py --refresh-local`, which refuses any sf other than
  0.1 and any core count other than 32 (they are 32-core sf0.1
  artifacts) — so a driver-context run or a sanity check can never
  dirty the committed copies (the r10/r11 footgun; VERDICT r17
  item 3). Plain sf0.1/32-core runs still compute the
  load-normalized drift report (the r14 noise-vs-regression
  discriminator) — to the untracked BENCH_DRIFT_LATEST.json, with
  the verdict on stderr; non-32-core runs skip drift entirely (the
  history they'd be judged against is a 32-core artifact).
* `--drift-report [path]` re-judges a landed payload offline (no
  Spark). `--scale-stress` runs the 10×-dup-dense-corpus growth
  check and exits non-zero on an envelope violation (see the
  scale-stress section below).
"""

from __future__ import annotations

import gc
import json
import os
import re
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _sf_from_dir(d: str) -> float:
    m = re.search(r"sf([0-9.]+)", d)
    return float(m.group(1)) if m else -1.0


# ---------------------------------------------------------------------------
# Per-query timing history + drift discrimination (VERDICT r13 item 2).
#
# The problem this solves: the committed BENCH_LOCAL.json is one
# median-of-3 snapshot, and two snapshots on different machine-load
# baselines differ by a roughly UNIFORM per-query ratio (±15% headline
# band, measured across r9-r13) — so a single-number comparison cannot
# distinguish a real 15% regression from ambient load (r13's 1.15×
# drift was exactly the ambiguous case). The discrimination that works
# is RELATIVE: load scales every query together, a regression moves ONE
# query against its siblings. So:
#   1. BENCH_HISTORY.jsonl keeps every --refresh-local run (append-only
#      JSONL: ts, commit, sf, runs, total, per-query medians; seeded
#      from the git history of BENCH_LOCAL.json back to round 9).
#   2. drift_report() first estimates the CURRENT run's session-load
#      ratio as the median over queries of current/history-median —
#      the uniform component — then flags only queries whose
#      load-NORMALIZED time exceeds their own history median by BOTH
#      a ratio floor (default 1.3×) and `iqr_mult` × their history
#      IQR (default 2, absolute-scaled) — the departure-from-siblings
#      signature of a real regression.
# The report is informational output (printed + BENCH_DRIFT.json), not
# a pytest gate: failing CI on ambient machine load would be flaky by
# construction. tests/test_bench_drift.py pins the LOGIC (uniform load
# shift flags nothing; a single-query jump flags exactly that query).
# ---------------------------------------------------------------------------

HISTORY_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_HISTORY.jsonl"
)


def load_history(path: str = HISTORY_PATH) -> list[dict]:
    """Append-only history records, oldest first; missing file → []."""
    out = []
    try:
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    out.append(json.loads(line))
    except OSError:
        pass
    return out


def append_history(payload: dict, commit: str, path: str = HISTORY_PATH) -> None:
    rec = {
        "ts": int(time.time()),
        "commit": commit,
        "sf": payload["sf"],
        "runs": payload["runs"],
        "total": payload["value"],
        "queries": payload["queries"],
    }
    with open(path, "a") as fh:
        fh.write(json.dumps(rec) + "\n")


def _median(vals: list[float]) -> float:
    import statistics

    return statistics.median(vals)


def _iqr(vals: list[float]) -> float:
    s = sorted(vals)
    n = len(s)
    if n < 2:
        return 0.0
    if n == 2:
        return s[1] - s[0]
    # interpolated quartiles (ADVICE r14): the old n<4 branch used
    # max-min, which at min_history=3 made the iqr_mult=2 gate span
    # the full sample range — freshly-debuted queries were effectively
    # unflaggable until several history rows accumulated. Inclusive
    # percentile interpolation is meaningful from n=3 up.
    import statistics

    q1, _, q3 = statistics.quantiles(s, n=4, method="inclusive")
    return q3 - q1


# Per-query history epochs (round 16): when a query's IMPLEMENTATION
# SHAPE intentionally changes (an oracle upgrade that makes the query
# do strictly more work, a registered-plan rewrite), its pre-change
# timings describe a different computation — with a deep history the
# median takes dozens of refreshes to roll forward, so the per-query
# flag would cry wolf for many rounds (x5: 38 rows-only-shape records
# vs 5 post-upgrade ones at r16 open; normalized_ratio 4.5× against a
# baseline the query can never return to). A reset entry drops that
# query's history records OLDER than the shape-change timestamp from
# drift comparison — an explicit, committed adjudication, reviewed
# like code. It does NOT touch the history file itself.
HISTORY_RESETS: dict[str, int] = {
    # r14 Class-B oracle upgrade: x5 recomputes every blake2b digest
    # (0.28s rows-only shape → ~1.2-2.5s); first new-shape record
    # landed at this ts (commit 7b78b673).
    "x5_uid_pseudonym": 1786875623,
}


def drift_report(
    current: dict[str, float],
    history: list[dict],
    min_history: int = 3,
    ratio_floor: float = 1.3,
    iqr_mult: float = 2.0,
    abs_floor: float = 0.15,
    resets: dict[str, int] | None = None,
) -> dict:
    """Load-vs-regression discrimination for one bench run against the
    per-query history (see the module-section comment for the model).

    Returns {"session_ratio", "n_compared", "flags": [per-query dicts,
    worst first], "insufficient_history": [names]}. A query is flagged
    when its load-normalized time exceeds its history median by the
    ratio floor AND by ``iqr_mult`` × its history IQR AND by an
    absolute floor (sub-0.15 s excursions are scheduler noise even
    when their ratio is large)."""
    if resets is None:
        resets = HISTORY_RESETS
    hist_by_q: dict[str, list[float]] = {}
    for rec in history:
        for q, v in rec.get("queries", {}).items():
            if q in resets and rec.get("ts", 0) < resets[q]:
                continue  # pre-shape-change record (HISTORY_RESETS)
            hist_by_q.setdefault(q, []).append(float(v))
    comparable = {
        q: v
        for q, v in current.items()
        if len(hist_by_q.get(q, ())) >= min_history
    }
    insufficient = sorted(set(current) - set(comparable))
    if not comparable:
        return {
            "session_ratio": None,
            "session_band": None,
            "session_ratio_alert": False,
            "n_compared": 0,
            "flags": [],
            "insufficient_history": insufficient,
        }
    ratios = [
        v / _median(hist_by_q[q]) for q, v in comparable.items()
        if _median(hist_by_q[q]) > 0
    ]
    session_ratio = _median(ratios) if ratios else 1.0
    # Session-ratio alert (ADVICE r14; band robustified per ADVICE
    # r15): a change that regresses MOST of the suite uniformly is
    # absorbed into session_ratio by design (per-query flags only
    # catch single-query departures), so surface the ratio itself
    # against a band of HISTORICAL load ratios. Two fixes over the
    # first cut: (a) each history record's load is measured the same
    # way the current run's is — median per-query ratio against the
    # cross-history medians — not by run totals, which grow whenever
    # the registry grows and inflated the band for a non-load reason;
    # (b) the band is the max of the QUIET-run subset (records whose
    # own load ratio stayed ≤1.15), not the all-time max — a single
    # loaded past run (history holds several: the adjudicated r15
    # ambient-load refreshes) no longer permanently blunts the alert
    # the change was meant to add. An alert is "suspicious,
    # adjudicate by isolated re-timing", not a verdict: genuine
    # ambient load still trips it.
    rec_ratios = []
    for rec in history:
        rs = [
            float(v) / _median(hist_by_q[q])
            for q, v in rec.get("queries", {}).items()
            if len(hist_by_q.get(q, ())) >= min_history
            and _median(hist_by_q[q]) > 0
            # a reset-excluded (query, record) pair describes the old
            # shape — keep it out of the record's load estimate too
            and not (q in resets and rec.get("ts", 0) < resets[q])
        ]
        if rs:
            rec_ratios.append(_median(rs))
    session_band = None
    session_ratio_alert = False
    if len(rec_ratios) >= min_history:
        quiet = [r for r in rec_ratios if r <= 1.15]
        if len(quiet) < min_history:
            # pathological history (everything loaded): fall back to
            # the least-loaded min_history records so the band stays
            # defined and conservative.
            quiet = sorted(rec_ratios)[:min_history]
        session_band = max(quiet)
        session_ratio_alert = session_ratio > max(
            session_band * 1.1, 1.25
        )
    flags = []
    for q, v in comparable.items():
        med = _median(hist_by_q[q])
        if med <= 0:
            continue
        norm = v / session_ratio
        iqr = _iqr(hist_by_q[q])
        excess = norm - med
        if (
            norm / med >= ratio_floor
            and excess >= iqr_mult * iqr
            and excess >= abs_floor
        ):
            flags.append(
                {
                    "query": q,
                    "current": round(v, 3),
                    "normalized": round(norm, 3),
                    "history_median": round(med, 3),
                    "history_iqr": round(iqr, 3),
                    "normalized_ratio": round(norm / med, 3),
                    "n_history": len(hist_by_q[q]),
                }
            )
    flags.sort(key=lambda f: -f["normalized_ratio"])
    return {
        "session_ratio": round(session_ratio, 4),
        "session_band": round(session_band, 4) if session_band else None,
        "session_ratio_alert": session_ratio_alert,
        "n_compared": len(comparable),
        "flags": flags,
        "insufficient_history": insufficient,
    }


# ---------------------------------------------------------------------------
# Scale-stress harness (VERDICT r13 item 5): the round-13 10×-corpus
# spot check — re-run the scale-sensitive operators on a deterministic
# maximally-dup-dense replica corpus and assert no operator has gone
# super-linear — promoted from a one-off manual run to a repeatable
# mode: `python bench.py --scale-stress` (uses $SPARK_GRAFT_SF_DIR,
# default sf0.1). Writes BENCH_STRESS.json and exits non-zero on an
# envelope violation. The envelopes are deliberately GENEROUS (2× the
# recorded r13 ratios or more) so ambient load cannot flake the check:
# a violation means an order-of-growth change, not a slow machine.
# ---------------------------------------------------------------------------

STRESS_FACTOR = 10
# operator -> max allowed wall ratio at STRESS_FACTOR× corpus size.
# Recorded r13 ratios: substring_spans ~7.7× (grows with its answer —
# dup density rises with replication), simhash ~4.8×, overlap ~0.9×
# (replication-invariant), vocab ~1.0×, bloom linear in probe side.
STRESS_ENVELOPE = {
    "exact_substring_spans": 16.0,
    "simhash_pairs": 16.0,
    # the DISTINCT (source, shingle) stream the overlap matrix
    # checkpoints grows ~linearly with replica count here (each
    # replica's trailing " repK" shingle is novel), so the honest
    # bound is sub-linear-in-10×, not replication-invariant: the
    # r13 "0.9×" was a warm same-corpus re-run, not this workload
    "source_overlap_matrix": 8.0,
    "vocab_coverage_curve": 4.0,
    "bloom_prefilter": 16.0,
    # round 16 — the incremental daily-drop pair joins the stress set
    # (VERDICT r15: "precisely the 100 TB steady-state shape" needs a
    # growth envelope, not just a plan audit). Both workloads are
    # ANSWER-quadratic by construction (every replica pair is a
    # genuine near/semantic dup): minhash recorded 13.7× wall for a
    # >5000× answer (4 → 22,900 pairs on the 1/5-family subsample) —
    # wall tracks drop+answer, never standing²; semdedup recorded
    # 2.0× for a 19× answer (cell-confined compare).
    "minhash_incremental": 28.0,
    "semantic_dedup_incremental": 8.0,
}


def stress_corpus(spark, sf_dir: str, factor: int):
    """Deterministic ``factor``× replica corpus: every document
    appears once verbatim plus ``factor-1`` per-replica-perturbed
    copies (distinct ids and texts, so exact collapse can't hide the
    cost, while every interior shingle becomes ≥``factor``×-duplicated
    — a maximally dup-dense workload for the dedup family). Pure
    function of (sf_dir, factor): no randomness, no timestamps."""
    from pyspark.sql import functions as F

    from mape_calculation_and_anonymization_spark.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    if factor <= 1:
        return docs
    reps = spark.range(factor).withColumnRenamed("id", "_k")
    return docs.crossJoin(F.broadcast(reps)).select(
        (F.col("doc_id") + F.col("_k") * F.lit(10_000_000)).alias("doc_id"),
        "lang",
        "source",
        F.when(F.col("_k") == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" rep"), F.col("_k")))
        .alias("text"),
    )


def stress_embeddings(spark, sf_dir: str, factor: int):
    """Deterministic ``factor``× replica embedding corpus (round 16):
    every vector once verbatim plus ``factor-1`` scaled copies
    (×(1 + k/1000) — cosine-identical to the original, so every
    replica family is a genuine semantic near-dup set and the
    SemDeDup cells grow maximally dense with replication). Distinct
    ids; pure function of (sf_dir, factor)."""
    from pyspark.sql import functions as F

    from mape_calculation_and_anonymization_spark.fixtures import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    if factor <= 1:
        return emb
    reps = spark.range(factor).withColumnRenamed("id", "_k")
    scale = F.lit(1.0) + F.col("_k").cast("double") / F.lit(1000.0)
    return emb.crossJoin(F.broadcast(reps)).select(
        (F.col("vec_id") + F.col("_k") * F.lit(10_000_000)).alias("vec_id"),
        F.when(F.col("_k") == 0, F.col("embedding"))
        .otherwise(
            F.transform(F.col("embedding"), lambda x: x * scale)
        )
        .alias("embedding"),
    )


def _stress_ops():
    """name -> corpus-frame -> DataFrame, for the scale-sensitive set."""
    from pyspark.sql import functions as F

    from mape_calculation_and_anonymization_spark.operators.dedup import (
        bloom_prefilter_anti_join,
        char_shingles,
        exact_substring_spans,
        minhash_incremental_pairs,
        minhash_signatures,
        simhash_near_duplicates,
    )
    from mape_calculation_and_anonymization_spark.operators.text import (
        source_overlap_matrix,
        vocab_coverage_curve,
    )

    def bloom(corpus):
        fps = corpus.select(
            "doc_id", F.md5(F.coalesce("text", F.lit(""))).alias("fp")
        )
        # store = even ids, increment = all rows (half dup, half new)
        store = fps.filter(F.col("doc_id") % 2 == 0).select("fp")
        return bloom_prefilter_anti_join(
            fps, store, "fp", num_bits=1 << 21
        )

    def minhash_inc(corpus):
        # the daily-drop path under dup-dense growth (round 16):
        # standing = even ids, drop = odd ids — both sides scale with
        # the factor, every replica family straddles the halves, so
        # the banded new×all expansion faces maximal bucket density.
        # The answer itself grows ~quadratically in the factor (every
        # replica pair IS a near-dup pair; measured 189 → 131,400
        # pairs on the full sf0.1 replica corpus) while the wall held
        # ~10× — the envelope bounds answer-proportional growth, not
        # corpus-quadratic work: standing×standing is never
        # re-expanded by construction. Subsampled to every 5th
        # replica FAMILY (base-id predicate keeps each family intact,
        # so per-bucket density is unchanged) to keep the stress run
        # minutes, not tens of minutes.
        fam = F.pmod(F.col("doc_id"), F.lit(10_000_000))
        corpus = corpus.filter(fam % 5 == 0)
        standing = corpus.filter(F.col("doc_id") % 2 == 0)
        drop = corpus.filter(F.col("doc_id") % 2 == 1)
        sigs = minhash_signatures(
            standing.select(
                F.col("doc_id").alias("_id"),
                char_shingles("text", 5).alias("sh"),
            ),
            "_id",
            F.col("sh"),
            32,
            42,
        )
        return minhash_incremental_pairs(drop, standing, sigs)

    return {
        "exact_substring_spans": lambda c: exact_substring_spans(c, n=5),
        "simhash_pairs": lambda c: simhash_near_duplicates(c, max_hamming=3),
        "source_overlap_matrix": lambda c: source_overlap_matrix(c, n=8),
        "vocab_coverage_curve": lambda c: vocab_coverage_curve(c),
        "bloom_prefilter": bloom,
        "minhash_incremental": minhash_inc,
    }


def _stress_embedding_ops():
    """name -> embedding-corpus-frame -> DataFrame (round 16): the
    embeddings-side incremental operator, stressed on the replica
    embedding corpus. Kept separate from _stress_ops because the
    corpus builder differs."""
    from pyspark.sql import functions as F

    from mape_calculation_and_anonymization_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_incremental,
    )

    def semdedup_inc(corpus):
        # standing = even base ids with their day-0 verdict, drop =
        # everything else (all replicas + odd base ids). Centroids are
        # 48 fixed base vectors — routing needs a fixed table, not a
        # trained one, and a deterministic pick keeps the stress a
        # pure function. Cells grow maximally dense with replication
        # (every replica family shares a cell), so the cell-local
        # compare faces its worst case while standing² never re-runs.
        cents = (
            corpus.filter(
                (F.col("vec_id") < 10_000_000)
                & (F.col("vec_id") % 10 == 0)
            )
            .orderBy("vec_id")
            .limit(48)
            .select(
                (F.col("vec_id") / F.lit(10)).cast("long").alias("cluster"),
                F.col("embedding").alias("centroid"),
            )
        )
        standing_emb = corpus.filter(
            (F.col("vec_id") < 10_000_000) & (F.col("vec_id") % 2 == 0)
        )
        day0 = semantic_dedup(standing_emb, cents, threshold=0.98).select(
            "vec_id", "kept"
        )
        standing = standing_emb.join(day0, "vec_id")
        drop = corpus.join(
            standing_emb.select("vec_id"), "vec_id", "left_anti"
        )
        return semantic_dedup_incremental(
            standing, drop, cents, threshold=0.98
        )

    return {"semantic_dedup_incremental": semdedup_inc}


def check_stress_envelope(
    results: dict[str, dict], envelope: dict[str, float] = None
) -> list[str]:
    """Violation list for a stress-results dict ({op: {"ratio": r}});
    empty means every operator stayed inside its envelope."""
    env = envelope if envelope is not None else STRESS_ENVELOPE
    out = []
    for op, bound in env.items():
        r = results.get(op, {}).get("ratio")
        if r is None:
            out.append(f"{op}: missing from results")
        elif r > bound:
            out.append(f"{op}: wall ratio {r} exceeds envelope {bound}")
    return out


def run_scale_stress(spark, sf_dir: str, factor: int = STRESS_FACTOR) -> dict:
    results = {}
    op_sets = [
        (stress_corpus, _stress_ops()),
        (stress_embeddings, _stress_embedding_ops()),
    ]
    for build_corpus, ops in op_sets:
        for op_name, make in ops.items():
            entry = {}
            # untimed warm pass: Janino/whole-stage codegen and the
            # Arrow worker pool otherwise land entirely in the 1×
            # number and BIAS THE RATIO LOW (first measured run:
            # simhash "ratio" 0.66 — the 10× pass looked faster than
            # 1× purely because 1× paid worker spawn) — the
            # denominator must be steady-state
            make(build_corpus(spark, sf_dir, 1)).count()
            spark.catalog.clearCache()
            gc.collect()
            for tag, f in (("1x", 1), (f"{factor}x", factor)):
                corpus = build_corpus(spark, sf_dir, f)
                t0 = time.perf_counter()
                n = make(corpus).count()
                entry[f"wall_{tag}"] = round(time.perf_counter() - t0, 2)
                entry[f"rows_{tag}"] = n
                spark.catalog.clearCache()
                gc.collect()
            entry["ratio"] = round(
                entry[f"wall_{factor}x"] / max(entry["wall_1x"], 1e-9), 2
            )
            results[op_name] = entry
    return results


def _git_head() -> str:
    import subprocess

    try:
        return subprocess.run(
            ["git", "rev-parse", "--short=12", "HEAD"],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
            timeout=10,
        ).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def main() -> None:
    if "--drift-report" in sys.argv:
        # offline: re-judge the last landed run (BENCH_LATEST.json, or a
        # path given after the flag) against the history — no Spark.
        idx = sys.argv.index("--drift-report")
        arg = sys.argv[idx + 1] if len(sys.argv) > idx + 1 else None
        repo = os.path.dirname(os.path.abspath(__file__))
        path = arg or os.path.join(repo, "BENCH_LATEST.json")
        with open(path) as fh:
            payload = json.load(fh)
        report = drift_report(payload["queries"], load_history())
        print(json.dumps(report, indent=1))
        return

    if "--scale-stress" in sys.argv:
        from mape_calculation_and_anonymization_spark.session import get_spark

        spark = get_spark(app_name="scale-stress")
        sf = _sf_from_dir(SF_DIR)
        results = run_scale_stress(spark, SF_DIR)
        violations = check_stress_envelope(results)
        payload = {
            "metric": "scale_stress",
            "sf": sf,
            "factor": STRESS_FACTOR,
            "results": results,
            "violations": violations,
        }
        print(json.dumps(payload))
        repo = os.path.dirname(os.path.abspath(__file__))
        try:
            with open(os.path.join(repo, "BENCH_STRESS.json"), "w") as fh:
                json.dump(payload, fh, indent=1)
                fh.write("\n")
        except OSError:
            pass
        if violations:
            sys.exit(3)
        return

    from mape_calculation_and_anonymization_spark.session import (
        get_spark,
        resolve_cpus,
    )

    import __spark_entry__ as entrymod

    spark = get_spark(app_name="bench")

    from pyspark.sql import functions as F

    # warm the JVM (codegen, parquet reader, shuffle machinery) so the
    # first query's timing isn't session bootstrap
    spark.range(1_000_000).groupBy(F.col("id") % 7).count().collect()
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    # first-touch the fact/corpus tables through the engine reader:
    # footer parsing, schema adaptation (nanos ts probe), and file
    # listing otherwise land entirely on whichever query the registry
    # happens to order first, skewing its per-query number
    from mape_calculation_and_anonymization_spark.fixtures import load_table

    for t in ("events", "documents", "lineitem", "orders", "embeddings"):
        load_table(spark, SF_DIR, t).count()
    # ... and the noop sink + broadcast-join machinery (ServiceLoader
    # scan and broadcast thread pool init are one-time session costs)
    warm = spark.range(10_000).withColumn("k", F.col("id") % 100)
    warm.join(F.broadcast(spark.range(100).withColumnRenamed("id", "k")), "k") \
        .write.format("noop").mode("overwrite").save()
    # ... and the Arrow Python worker pool (pandas_udf queries — blake2b,
    # simhash — otherwise pay worker spawn inside their timed region)
    from mape_calculation_and_anonymization_spark.functions.hashing import (
        blake2b_10hex,
    )

    warm.select(blake2b_10hex(F.col("id").cast("string"))).write.format(
        "noop"
    ).mode("overwrite").save()

    # Steady-state methodology: run every query once at a TINY scale
    # factor first, so the timed pass below measures data-proportional
    # work, not one-time compilation. At these scale factors the
    # per-query fixed costs — Janino/JIT compilation of the generated
    # whole-stage code (seconds for the biggest fused text plans),
    # streaming micro-batch setup, Python worker pools — otherwise
    # dominate and make run-to-run totals swing ±30%. The warmup runs
    # at a DIFFERENT sf than the timed pass, so per-(session, sf)
    # memoized intermediates (jaccard corpus, stream fixtures) canNOT
    # leak into the timed numbers: only compiled code and warmed pools
    # carry over — exactly the steady state a long-lived cluster
    # session has. Set SPARK_GRAFT_WARMUP_SF_DIR="" to disable.
    warm_sf = os.environ.get(
        "SPARK_GRAFT_WARMUP_SF_DIR", "/root/testdata/sf0.001"
    )
    if warm_sf and warm_sf != SF_DIR:
        for name, fn in entrymod.queries().items():
            try:
                fn(spark, warm_sf).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                pass  # warmup is best-effort; the timed pass surfaces errors
            spark.catalog.clearCache()
            for tbl in spark.catalog.listTables():
                if tbl.isTemporary and tbl.name.startswith("mem_"):
                    spark.catalog.dropTempView(tbl.name)
            gc.collect()

    # Fixture-writing queries build on-disk state (CSV/JSONL exports,
    # key tables, workbooks, versioned/z-ordered/compacted dirs) on
    # their FIRST run per (sf, source-fingerprint) and read it back on
    # every later run. The fixture is the query's INPUT — like the
    # testdata itself — so construction belongs in setup, not in the
    # timed region; pre-build at the TARGET sf here. One exception:
    # stream_incremental_agg's fixture TABLE is the query's output
    # (the drained materialized view), so after the pre-build we
    # reset exactly that table (entrymod.bench_reset) and the timed
    # pass re-runs the drain. Every other query recomputes fully in
    # the timed pass.
    # the three ANN entries are here for their INDEX fixtures (PQ
    # codebooks + IVF cells — offline index builds whose artifacts
    # outlive queries); their timed pass still runs the full search
    for name in (
        "s1_csv_scan", "s3_latest_partition", "s5_jsonl_scan",
        "s6_schema_evolution", "k1_parquet_roundtrip", "k2_excel_sheets",
        "k4_compaction_roundtrip", "k5_time_travel", "k6_zorder_scan",
        "k7_orc_roundtrip",
        "stream_key_upsert", "stream_parquet_sink", "stream_outer_join",
        "stream_incremental_agg", "pq_ann_topk", "ivf_ann_topk",
        "ivf_pq_ann_topk", "dedup_minhash_pairs", "k8_targeted_delete",
        # dedup_simhash_pairs lands its blake2b signature fixture on
        # first touch (round 13 — same offline-index posture as the
        # minhash signatures); the timed pass is banding + verify
        "dedup_simhash_pairs",
        # x5_uid_pseudonym lands its (uid, pseudonym) mapping fixture
        # on first touch (round 14 Class-B oracle — the oracle-side
        # artifact); its timed pass recomputes every digest live
        "x5_uid_pseudonym",
        # dedup_clusters builds the shingle-table fixture AND the
        # near-dup index (verified pairs + cluster map) on first
        # touch; pipeline_funnel_stats lands the per-stage pipeline
        # tables — offline artifacts consumed as stage INPUTS by the
        # dedup family (each query re-runs its OWN stage live in the
        # timed pass — ADVICE r8: no query returns a bare read of its
        # own precomputed output)
        "dedup_clusters", "pipeline_funnel_stats",
        # semantic_dedup routes against the k=48 coarse-index fixture
        # (offline artifact, like the other ANN index builds); its
        # timed pass still runs the full route+dedup
        "semantic_dedup",
    ):
        fn = entrymod.queries().get(name)
        if fn is None:
            continue
        try:
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        except Exception:
            pass
        spark.catalog.clearCache()
        gc.collect()

    # Median-of-N timed passes: single-run per-query timings at sf0.1
    # swing ±50% with machine load, so one sample cannot distinguish a
    # real 20% regression from noise. Only the timed loop repeats —
    # warmups and fixture pre-builds above run once. bench_reset runs
    # before EVERY pass so output-side fixtures (the drained
    # incremental-agg table — query OUTPUT, not input) and in-session
    # memoized shared frames are rebuilt inside each pass's timed
    # region, keeping passes comparable.
    #
    # CROSS-RUN COMPARISON RULE (VERDICT r9 item 4/9): two bench runs
    # on different machine-load baselines differ by a roughly UNIFORM
    # per-query ratio (r9: the driver measured 1.18× the builder's
    # close numbers across the board — load, not regression). Compare
    # runs per-query against the run's own median ratio, never
    # headline-to-headline: a genuine regression is ONE query whose
    # ratio departs from its siblings', not a uniform scale shift.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    if n_runs < 1:
        raise ValueError(
            f"SPARK_GRAFT_BENCH_RUNS={n_runs}: at least one timed pass is "
            "required — a zero-run bench would emit a plausible-looking "
            "0-second artifact"
        )
    samples: dict[str, list[float]] = {}
    for _ in range(n_runs):
        if hasattr(entrymod, "bench_reset"):
            entrymod.bench_reset(SF_DIR)
        for name, fn in entrymod.queries().items():
            # fn() is inside the timed region: streaming queries execute
            # during construction (AvailableNow into a memory sink), and
            # several operators do dimension-sized metadata jobs there.
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            samples.setdefault(name, []).append(time.perf_counter() - t0)
            # operators that persist intermediates (minhash shingles) must
            # not pressure later queries' memory
            spark.catalog.clearCache()
            # memory-sink tables (mem_<uuid>) accumulate their full
            # result rows on the driver for the session's lifetime —
            # once the noop write has consumed the result, drop them
            # so 15+ stream queries x 3 passes don't ratchet driver
            # heap pressure onto later queries
            for tbl in spark.catalog.listTables():
                if tbl.isTemporary and tbl.name.startswith("mem_"):
                    spark.catalog.dropTempView(tbl.name)
            # localCheckpoint blocks release only when the driver-side
            # DataFrame is garbage-collected (ContextCleaner) — collect
            # promptly so one query's barriers don't pressure the next's
            gc.collect()

    import statistics

    timings = {
        name: round(statistics.median(vals), 2)
        for name, vals in samples.items()
    }
    total = round(sum(timings.values()), 2)
    sf = _sf_from_dir(SF_DIR)
    print(
        json.dumps(
            {
                "metric": "total_query_time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "runs": n_runs,
            }
        )
    )
    # The full line above grows with the registry and can exceed a capture
    # window that keeps only the output tail; repeat the headline fields in
    # a short trailing line so a tail capture always holds complete JSON,
    # and land the COMPLETE payload in a repo-root file so per-query
    # timings survive any capture window (the driver's own run refreshes
    # it; BENCH_r{N}.json's 2000-char tail truncates the queries map).
    print(
        json.dumps(
            {
                "metric": "total_query_time",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "runs": n_runs,
            }
        )
    )
    # cpus stamp (round 18): the history and every committed artifact
    # are 32-core measurements; a run at another core count (the
    # driver's scaling pass runs at 8) must be distinguishable and
    # must never overwrite the 32-core per-query map or be judged
    # against the 32-core history.
    cpus = resolve_cpus() or os.cpu_count()
    payload = {
        "metric": "total_query_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs": n_runs,
        "cpus": cpus,
    }
    repo = os.path.dirname(os.path.abspath(__file__))
    # Every run writes the untracked scratch copies — the plain
    # BENCH_LATEST.json (last run, any config) plus a cpu-stamped
    # BENCH_LATEST_c{cpus}.json so a later run at a DIFFERENT core
    # count (the driver benches at 32 then 8) cannot clobber this
    # one's per-query map (VERDICT r17 item 4). The committed
    # BENCH_LOCAL.json moves ONLY under --refresh-local at sf0.1
    # (see module docstring, "Output files").
    targets = [os.path.join(repo, "BENCH_LATEST.json")]
    if abs(sf - 0.1) <= 1e-9:
        # the stamped copy exists so the driver's 8-core scaling run
        # can't clobber the 32-core per-query map; an off-sf sanity
        # run must not clobber either of them, so only sf0.1 (the
        # committed artifacts' sf) writes it
        targets.append(os.path.join(repo, f"BENCH_LATEST_c{cpus}.json"))
    if "--refresh-local" in sys.argv:
        if abs(sf - 0.1) > 1e-9:
            print(
                f"refusing --refresh-local at sf={sf}: the committed "
                "BENCH_LOCAL.json is an sf0.1 artifact",
                file=sys.stderr,
            )
            sys.exit(2)
        if cpus != 32:
            print(
                f"refusing --refresh-local at cpus={cpus}: the committed "
                "BENCH_LOCAL.json and BENCH_HISTORY.jsonl are 32-core "
                "artifacts",
                file=sys.stderr,
            )
            sys.exit(2)
        targets.append(os.path.join(repo, "BENCH_LOCAL.json"))
    for out_path in targets:
        try:
            with open(out_path, "w") as fh:
                json.dump(payload, fh)
                fh.write("\n")
        except OSError:
            pass  # read-only checkout: stdout already carried the result
    # drift verdict vs BENCH_HISTORY.jsonl — computed BEFORE this run
    # is appended, so the run is judged against its past, not itself.
    # sf0.1 AND 32 cores only: the history is a 32-core sf0.1 artifact
    # (an 8-core run judged against it flags nonsense — the r17
    # driver's scaling pass left exactly that on disk). Plain runs
    # write the report to the UNTRACKED BENCH_DRIFT_LATEST.json; the
    # TRACKED BENCH_DRIFT.json moves only under --refresh-local, so a
    # plain run in any context leaves `git status` clean (VERDICT r17
    # item 3).
    if abs(sf - 0.1) <= 1e-9 and cpus == 32:
        report = drift_report(timings, load_history())
        report["cpus"] = cpus
        drift_name = (
            "BENCH_DRIFT.json"
            if "--refresh-local" in sys.argv
            else "BENCH_DRIFT_LATEST.json"
        )
        try:
            with open(os.path.join(repo, drift_name), "w") as fh:
                json.dump(report, fh, indent=1)
                fh.write("\n")
        except OSError:
            pass
        print("BENCH_DRIFT " + json.dumps(
            {
                "session_ratio": report["session_ratio"],
                "session_ratio_alert": report["session_ratio_alert"],
                "n_compared": report["n_compared"],
                "n_flags": len(report["flags"]),
                "flags": [f["query"] for f in report["flags"]][:10],
            }
        ), file=sys.stderr)
        if "--refresh-local" in sys.argv:
            append_history(payload, _git_head())
    elif abs(sf - 0.1) <= 1e-9:
        print(
            f"BENCH_DRIFT skipped: cpus={cpus} run cannot be judged "
            "against the 32-core history",
            file=sys.stderr,
        )


if __name__ == "__main__":
    sys.exit(main())
