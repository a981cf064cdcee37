"""Every queries() entry with an oracle must match DuckDB at sf0.01 —
the same gate the driver applies (CORRECTNESS_r{N}.json)."""

import pytest

import __spark_entry__ as entrymod
from tests.oracle_utils import compare_query

SF_DIR = "/root/testdata/sf0.01"

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_parity(spark, name):
    assert name in _QUERIES, f"oracle_sql has {name} but queries() does not"
    ok, msg = compare_query(spark, SF_DIR, _QUERIES[name], _ORACLES[name])
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize(
    "name",
    [
        "exactsubstr_cut",
        "hybrid_search_rrf",
        "leakage_safe_split",
        "minhash_incremental",
        "semantic_dedup_gated",
        "semantic_dedup_incremental",
    ],
)
def test_oracle_parity_sf0001(spark, name):
    """The oracle compare at sf0.001 for the queries whose fixtures
    or planted twins are scale-sensitive."""
    sf = entrymod.SF0001
    oracle = entrymod.oracle_sql_at(sf)[name]
    ok, msg = compare_query(spark, sf, _QUERIES[name], oracle)
    assert ok, f"{name}: {msg}"


def test_every_query_def_is_registered():
    """A query lands registered or not at all: every top-level _q_*
    def in the entry file is a registry builder."""
    import ast

    with open(entrymod.__file__) as fh:
        tree = ast.parse(fh.read())
    defs = {
        node.name
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name.startswith("_q_")
    }
    registered = {fn.__name__ for fn in _QUERIES.values()}
    assert defs - registered == set()
    assert registered <= defs


def test_every_query_runs(spark):
    for name, fn in _QUERIES.items():
        df = fn(spark, SF_DIR)
        assert df.count() >= 0, name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_oracle_sf_contract():
    """The driver evaluates oracles at sf0.01 only (brief contract).
    _ORACLE_SF_DIR is the one place that assumption is baked into SQL;
    pin it, and pin that K2 is the ONLY oracle reading an
    engine-written /tmp fixture (its path derived from that sf) — any
    new fixture-reading oracle must consciously join this contract."""
    assert entrymod._ORACLE_SF_DIR == SF_DIR
    # Fixture-reading oracles fall into two safe classes:
    #  - sf-independent path read by BOTH sides (s1/s3) — compare can
    #    never diverge regardless of the sf the fixture was written at;
    #  - sf-keyed path bound to _ORACLE_SF_DIR (k2) — safe exactly
    #    because the driver contract pins oracle runs to that sf.
    sf = entrymod._ORACLE_SF_DIR
    fixture = entrymod._fixture_path
    allowed = {
        "s1_csv_scan": entrymod._CSV_FIXTURE,
        "s3_latest_partition": entrymod._PARTITIONED_FIXTURE,
        "s5_jsonl_scan": entrymod._JSONL_FIXTURE,
        "s4_folder_loop": entrymod._MIXED_FOLDER_FIXTURE,
        "k2_excel_sheets": fixture(sf, "events", "mape_report"),
        "semantic_dedup": fixture(sf, "embeddings", "ivf_k48"),
        "pq_ann_topk": fixture(sf, "embeddings", "pq_codebooks"),
        "ivf_pq_ann_topk": fixture(sf, "embeddings", "ivf_k16"),
        "ann_recall_eval": fixture(sf, "embeddings", "ivf_k8"),
        "dedup_minhash_pairs": fixture(sf, "documents", "minhash_sigs"),
        "minhash_incremental": fixture(sf, "documents", "minhash_sigs"),
        "stream_minhash_pairs": fixture(sf, "documents", "minhash_sigs"),
        "semantic_dedup_gated": fixture(sf, "embeddings", "ivf_k48"),
        "semantic_dedup_incremental": fixture(sf, "embeddings", "ivf_k48"),
        "dedup_simhash_pairs": fixture(sf, "documents", "simhash_sigs"),
        "bpe_token_stats": fixture(sf, "documents", "bpe_merges12"),
        "x5_uid_pseudonym": fixture(sf, "customer", "uid_pseudonyms"),
        "anonymization_fates": fixture(sf, "customer", "uid_pseudonyms"),
    }
    for name, sql in _ORACLES.items():
        if name in allowed:
            assert allowed[name] in sql, name
        else:
            assert "/tmp/" not in sql, (
                f"{name} reads a /tmp fixture — bind it to _ORACLE_SF_DIR "
                "and extend test_oracle_sf_contract"
            )


def test_driver_window_contract():
    """The driver checks the FIRST 50 registry entries: names must be
    unique and every oracle key must resolve to a registered query.
    Rows-only entries ARE allowed in the window — the driver's
    run-and-count check is weaker than the oracle compare but still
    evidence, and VERDICT r6 item 2 explicitly asked for the
    never-driver-run rows-only queries to get window slots — but their
    count is bounded so oracle-compare slots stay the bulk of the
    window."""
    names = list(_QUERIES)
    assert len(names) == len(set(names))
    window = names[:50]
    rows_only = [n for n in window if n not in _ORACLES]
    assert len(rows_only) <= 8, (
        f"{len(rows_only)} rows-only entries in the 50-slot window "
        f"({rows_only}) — oracle-compare slots must stay the bulk"
    )
    dangling = [n for n in _ORACLES if n not in _QUERIES]
    assert not dangling, f"oracles without queries: {dangling}"


def test_rotation_hygiene():
    """The rotation-hygiene rule, executable (VERDICT r5 item 3): no
    oracle-backed registry entry may go more than THREE rounds without
    a green driver row. The upcoming round N = max(CORRECTNESS_r*) + 1
    verifies exactly names[:50], so under the CURRENT ordering a query
    outside the window keeps its staleness; this test fails the build
    if that staleness would exceed the budget — i.e. the window was
    mis-planned by hand — and also forces never-verified oracle-backed
    queries (new additions) to debut inside the window.

    Budget/capacity math (VERDICT r7 item 2): a budget of b rounds
    means every oracle-backed query needs a green row at least once
    per (b+1)-round cycle, so a 50-slot window sustains at most
    50·(b+1) oracle-backed queries — minus whatever window space
    debuts, changed-impl re-verifies, and rows-only evidence rows
    consume (≈5-10/round in practice). The original b=2 capped
    capacity at ~150 with the registry already at 140 and 48 of round
    8's slots forced (the r7 ceiling finding); b=3 lifts the ceiling
    to 200, leaving ~50 slots of genuine growth headroom while still
    guaranteeing every oracle-backed query fresh driver evidence at
    most 4 rounds old. Relaxing further would let evidence go stale
    for most of the build's remaining rounds — don't.

    Changed-plan rule: a query whose plan dump changed in the newest
    plans/rN/ (<q>_before.txt differs from <q>_after.txt) and that
    has not been green since round N must be in the window — its new
    plan is unproved."""
    import glob
    import json
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    last_green: dict[str, int] = {}
    rounds = []
    for f in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        rnd = int(f.rsplit("_r", 1)[1].split(".")[0])
        rounds.append(rnd)
        for q, res in json.load(open(f)).items():
            ok = (
                isinstance(res, dict)
                and res.get("err") is None
                and res.get("rows_match", True)
                and res.get("schema_match", True)
                and res.get("hash_match", True)
            )
            if ok:
                # max, not last-assignment: glob order is lexicographic,
                # so from r10 on (r10 sorts before r2) the newest file
                # is not the last one visited
                last_green[q] = max(last_green.get(q, 0), rnd)
    if not rounds:
        pytest.skip("no CORRECTNESS history yet (round 1)")
    upcoming = max(rounds) + 1
    plan_round = max(
        int(os.path.basename(d)[1:])
        for d in glob.glob(os.path.join(repo, "plans", "r[0-9]*"))
    )
    changed = set()
    for before in glob.glob(
        os.path.join(repo, "plans", f"r{plan_round}", "*_before.txt")
    ):
        after = before[: -len("before.txt")] + "after.txt"
        if open(before).read() != open(after).read():
            changed.add(os.path.basename(before)[: -len("_before.txt")])
    names = list(_QUERIES)
    window = set(names[:50])
    violations = []
    for q in names:
        if q not in _ORACLES or q in window:
            continue
        if q in changed and last_green.get(q, 0) < plan_round:
            violations.append(
                f"{q}: plan changed in plans/r{plan_round}, "
                f"not green since"
            )
        elif q not in last_green:
            violations.append(f"{q}: oracle-backed but never driver-verified")
        elif upcoming - last_green[q] > 3:
            violations.append(
                f"{q}: last green r{last_green[q]}, would be "
                f"{upcoming - last_green[q]} rounds stale after r{upcoming}"
            )
    assert not violations, (
        "window mis-planned — rotate these into names[:50]:\n  "
        + "\n  ".join(violations)
    )


def test_fixture_ready_wipes_incomplete(tmp_path):
    """Crash-idempotence contract of the fixture guard: a dir without
    the completion marker is a half-build — wiped and rebuilt; a
    marked dir is trusted. A plain file at the path (an older layout)
    is a half-build too."""
    import os

    d = tmp_path / "fix"
    d.mkdir()
    (d / "part-0.parquet").write_text("partial")
    seen = []
    entrymod._fixture(str(d), lambda p: seen.append(os.path.exists(p)))
    assert seen == [False]  # half-build wiped before the build ran
    assert sorted(os.listdir(d)) == ["_COMPLETE"]  # only the marker
    entrymod._fixture(str(d), seen.append)
    assert seen == [False]  # a marked dir is trusted, never rebuilt
    f = tmp_path / "events.csv"
    f.write_text("old layout")
    entrymod._fixture(str(f), lambda p: seen.append(os.path.exists(p)))
    assert seen == [False, False]
    assert sorted(os.listdir(f)) == ["_COMPLETE"]


def test_s3_torn_partition_fixture_is_rebuilt(spark, tmp_path, monkeypatch):
    """A Spark write that crashed leaves the newest dated folder
    holding only _temporary/: the fixture guard must rebuild it, not
    read the torn folder as the newest partition."""
    root = tmp_path / "dated"
    (root / "2024-02-01" / "_temporary").mkdir(parents=True)
    monkeypatch.setattr(entrymod, "_PARTITIONED_FIXTURE", str(root))
    rows = entrymod._q_s3_latest_partition(spark, entrymod.SF0001).collect()
    assert sorted(r.n_nationkey for r in rows) == list(range(25))


def test_bench_reset_removes_only_the_drained_table():
    """bench_reset must delete exactly the drained aggregate table and
    its marker (the query's OUTPUT) while leaving the input files and
    their marker (input setup) in place — the contract bench.py's
    timed pass relies on."""
    import os
    import shutil

    sf = "/root/testdata/sf0.001"
    root = entrymod._fixture_path(sf, "events", "inc_agg")
    table, inp = os.path.join(root, "table"), os.path.join(root, "input")
    shutil.rmtree(root, ignore_errors=True)
    try:
        entrymod._fixture(table, os.makedirs)
        entrymod._fixture(inp, lambda p: os.makedirs(os.path.join(p, "files")))
        entrymod.bench_reset(sf)
        assert not os.path.exists(table)  # with its marker inside
        assert os.path.isdir(os.path.join(inp, "files"))
        assert os.path.exists(os.path.join(inp, "_COMPLETE"))
    finally:
        # the dummy input must never be mistaken for a real fixture —
        # force a clean rebuild for the next consumer
        shutil.rmtree(root, ignore_errors=True)
