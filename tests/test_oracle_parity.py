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
    def in the entry file is a registry builder. The one exception is
    stream_user_activity, which needs the protobuf wheel (see the
    comment in queries())."""
    import ast

    with open(entrymod.__file__) as fh:
        tree = ast.parse(fh.read())
    defs = {
        node.name
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name.startswith("_q_")
    }
    registered = {fn.__name__ for fn in _QUERIES.values()}
    assert defs - registered == {"_q_stream_user_activity"}
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
    allowed = {
        "s1_csv_scan": entrymod._CSV_FIXTURE,
        "s3_latest_partition": entrymod._PARTITIONED_FIXTURE,
        "s5_jsonl_scan": entrymod._JSONL_FIXTURE,
        "s4_folder_loop": entrymod._MIXED_FOLDER_FIXTURE,
        "k2_excel_sheets": entrymod._k2_workbook_path(entrymod._ORACLE_SF_DIR),
        "semantic_dedup": entrymod._semantic_dedup_cells(
            entrymod._ORACLE_SF_DIR
        ),
        "pq_ann_topk": entrymod._pq_codebook_parquet_path(
            entrymod._ORACLE_SF_DIR
        ),
        "ivf_pq_ann_topk": entrymod._ivf_fixture_glob(
            entrymod._ORACLE_SF_DIR, 16, "assigned"
        ),
        "ann_recall_eval": entrymod._ivf_fixture_glob(
            entrymod._ORACLE_SF_DIR, 8, "assigned"
        ),
        "dedup_minhash_pairs": entrymod._minhash_sigs_glob(
            entrymod._ORACLE_SF_DIR
        ),
        "minhash_incremental": entrymod._minhash_sigs_glob(
            entrymod._ORACLE_SF_DIR
        ),
        "stream_minhash_pairs": entrymod._minhash_sigs_glob(
            entrymod._ORACLE_SF_DIR
        ),
        "semantic_dedup_gated": entrymod._semantic_dedup_cells(
            entrymod._ORACLE_SF_DIR
        ),
        "semantic_dedup_incremental": entrymod._semantic_dedup_cells(
            entrymod._ORACLE_SF_DIR
        ),
        "dedup_simhash_pairs": entrymod._simhash_sigs_glob(
            entrymod._ORACLE_SF_DIR
        ),
        "bpe_token_stats": entrymod._bpe_merges_glob(
            entrymod._ORACLE_SF_DIR
        ),
        "x5_uid_pseudonym": entrymod._x5_pseudonym_fixture_root(
            entrymod._ORACLE_SF_DIR
        ),
        "anonymization_fates": entrymod._x5_pseudonym_fixture_root(
            entrymod._ORACLE_SF_DIR
        ),
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
    for most of the build's remaining rounds — don't."""
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
    names = list(_QUERIES)
    window = set(names[:50])
    violations = []
    for q in names:
        if q not in _ORACLES or q in window:
            continue
        if q not in last_green:
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
    marked dir is trusted."""
    d = tmp_path / "fix"
    d.mkdir()
    (d / "part-0.parquet").write_text("partial")
    assert entrymod._fixture_ready(str(d)) is False
    assert not d.exists()  # half-build wiped
    d.mkdir()
    entrymod._mark_fixture_ready(str(d))
    assert entrymod._fixture_ready(str(d)) is True
    assert (d / "part-0.parquet").exists() is False  # only the marker


def test_bench_reset_removes_only_the_drained_table():
    """bench_reset must delete exactly the drained aggregate table and
    its marker (the query's OUTPUT) while leaving the source files and
    their marker (input setup) in place — the contract bench.py's
    timed pass relies on."""
    import os
    import shutil

    sf = "/root/testdata/sf0.001"
    root = entrymod._inc_agg_fixture_root(sf)
    shutil.rmtree(root, ignore_errors=True)
    try:
        os.makedirs(os.path.join(root, "table"))
        os.makedirs(os.path.join(root, "src"))
        for m in ("_COMPLETE", "_SRC_COMPLETE"):
            with open(os.path.join(root, m), "w") as fh:
                fh.write("ok\n")
        entrymod.bench_reset(sf)
        assert not os.path.exists(os.path.join(root, "table"))
        assert not os.path.exists(os.path.join(root, "_COMPLETE"))
        assert os.path.isdir(os.path.join(root, "src"))
        assert os.path.exists(os.path.join(root, "_SRC_COMPLETE"))
    finally:
        # the dummy src must never be mistaken for a real fixture —
        # force a clean rebuild for the next consumer
        shutil.rmtree(root, ignore_errors=True)
