"""Anonymization pipeline semantics, pinned to the reference's
observable behavior (SURVEY.md §2 rows X3/X4/X5, J1/F4/U1/A4, Q1/Q6)."""

import hashlib
import os
from datetime import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mape_calculation_and_anonymization_spark.functions.hashing import blake2b_10hex
from mape_calculation_and_anonymization_spark.functions.labels import (
    anonymize_label_column,
)
from mape_calculation_and_anonymization_spark.operators.anonymize import (
    anonymize_files,
    cdm_anonymization,
    perturb_values,
    stamp_metadata,
)
from mape_calculation_and_anonymization_spark.operators.keys import uid_anonymization


def test_blake2b_digest_anchor(spark):
    # FIXTURES.md schema D: blake2b('12345', digest_size=5) = '7adcf6378f'
    df = spark.createDataFrame([("12345",), (None,)], ["uid"])
    out = df.select(blake2b_10hex(F.col("uid")).alias("h")).collect()
    assert out[0]["h"] == "7adcf6378f"
    assert out[1]["h"] is None


def _apply_labels(spark, values, labels):
    df = spark.createDataFrame([(v,) for v in values], ["customer"])
    expr = anonymize_label_column("customer", labels)
    return [r[0] for r in df.select(expr.alias("out")).collect()]


def test_label_q1_truth_table(spark):
    # SURVEY.md Q1, verified against the reference implementation:
    # with uniques ['Acme','Zen'] the buggy loop only substring-matches
    # list_items[0], so 'zen corp' passes through unanonymized.
    vals = ["Acme", "Zen", "acme corp", "zen corp", None, "other"]
    strict = _apply_labels(spark, vals, ["Acme", "Zen"])
    assert strict == [
        "ANON_CLIENT 1", "ANON_CLIENT 2",
        "ANON_CLIENT 1 corp", "zen corp", None, "other",
    ]


def test_label_singleton_and_shadowing(spark):
    # singleton universe → unnumbered replacement
    assert _apply_labels(spark, ["Acme", "acme inc", "x"], ["Acme"]) == [
        "ANON_CLIENT", "ANON_CLIENT inc", "x",
    ]
    # reference loop precedence: substring of label[0] shadows the
    # exact match of a later label that contains it
    assert _apply_labels(spark, ["Acme Corp"], ["Acme", "Acme Corp"]) == [
        "ANON_CLIENT 1 Corp"
    ]


def test_perturbation(spark):
    df = spark.createDataFrame([Row(Amount=100.0, other=1.0)])
    row = perturb_values(df).collect()[0]
    assert row["Amount"] == pytest.approx(101.25)
    assert row["other"] == 1.0
    # case-insensitive probe, actual-name assignment
    df2 = spark.createDataFrame([Row(amount=100.0)])
    assert perturb_values(df2).collect()[0]["amount"] == pytest.approx(101.25)


def test_uid_key_table_lifecycle(spark, tmp_path):
    key_dir = str(tmp_path / "key")
    df = spark.createDataFrame([("12345", 1), ("9", 2)], ["uid", "v"])

    # fresh run: creates the key table
    out1 = {r["v"]: r["uid"] for r in uid_anonymization("uid", df, key_dir).collect()}
    assert out1[1] == "7adcf6378f"
    key_path = os.path.join(key_dir, "key_uid.snappy.parquet")
    assert os.path.exists(key_path)

    # idempotence: same pseudonyms on a second run (join path this time)
    out2 = {r["v"]: r["uid"] for r in uid_anonymization("uid", df, key_dir).collect()}
    assert out1 == out2

    # pre-seeded override wins; new uids appended deduplicated
    df3 = spark.createDataFrame([("12345", 1), ("777", 3)], ["uid", "v"])
    out3 = {r["v"]: r["uid"] for r in uid_anonymization("uid", df3, key_dir).collect()}
    assert out3[1] == "7adcf6378f"  # kept from table
    assert out3[3] is not None and len(out3[3]) == 10
    keys = spark.read.parquet(key_path)
    assert keys.count() == 3
    assert keys.select("uid").distinct().count() == 3


def test_uid_rerun_with_known_uids_leaves_the_key_table_untouched(
    spark, tmp_path
):
    """One upsert path: NULL uids never enter the key table, and a rerun
    that brings no new uid does not rewrite it (same files, same
    inodes)."""
    key_dir = str(tmp_path / "key")
    key_path = os.path.join(key_dir, "key_uid.snappy.parquet")
    df = spark.createDataFrame(
        [("12345", 1), ("9", 2), (None, 3)], "uid string, v int"
    )

    def files():
        return {
            name: (st.st_ino, st.st_mtime_ns)
            for name in os.listdir(key_path)
            for st in [os.stat(os.path.join(key_path, name))]
        }

    out1 = {r["v"]: r["uid"] for r in uid_anonymization("uid", df, key_dir).collect()}
    assert out1[3] is None
    assert [r["uid"] for r in spark.read.parquet(key_path).collect()] in (
        ["12345", "9"],
        ["9", "12345"],
    )
    landed = files()
    out2 = {r["v"]: r["uid"] for r in uid_anonymization("uid", df, key_dir).collect()}
    assert out2 == out1
    assert files() == landed


def test_uid_upsert_discovers_new_uids_once(spark, tmp_path, monkeypatch):
    """On an existing key table the new-uid discovery (distinct +
    left_anti) runs once: the table write reads its checkpoint rather
    than planning the anti join again after the emptiness probe."""
    from mape_calculation_and_anonymization_spark.operators import keys

    key_dir = str(tmp_path / "key")
    uid_anonymization("uid", spark.createDataFrame([("1", 1)], ["uid", "v"]), key_dir)
    plans = []
    real = keys.save_key_table

    def recording(key_df, *args):
        plans.append(key_df._jdf.queryExecution().optimizedPlan().toString())
        real(key_df, *args)

    monkeypatch.setattr(keys, "save_key_table", recording)
    df = spark.createDataFrame([("1", 1), ("2", 2)], ["uid", "v"])
    out = {r["v"]: r["uid"] for r in uid_anonymization("uid", df, key_dir).collect()}
    assert out == {
        v: hashlib.blake2b(str(v).encode(), digest_size=5).hexdigest()
        for v in (1, 2)
    }
    assert len(plans) == 1 and "LeftAnti" not in plans[0]


def test_uid_manual_override_honored(spark, tmp_path):
    # a hand-edited key table must win over the digest
    key_dir = str(tmp_path / "key")
    os.makedirs(key_dir)
    seed = spark.createDataFrame([("12345", "CUSTOM0000")], ["uid", "uid_"])
    seed.write.parquet(os.path.join(key_dir, "key_uid.snappy.parquet"))
    df = spark.createDataFrame([("12345", 1)], ["uid", "v"])
    out = uid_anonymization("uid", df, key_dir).collect()[0]
    assert out["uid"] == "CUSTOM0000"


def test_uid_legacy_key_table_is_rebuilt_without_null_rows(spark, tmp_path):
    """Q6: a key file without the ``uid_`` hash column is rebuilt from
    scratch through the one upsert, so a NULL uid in the batch stays
    out of the table and every non-null uid gets one row."""
    key_dir = str(tmp_path / "key")
    key_path = os.path.join(key_dir, "key_uid.snappy.parquet")
    os.makedirs(key_dir)
    spark.createDataFrame([("12345",)], ["uid"]).write.parquet(key_path)
    df = spark.createDataFrame(
        [("12345", 1), ("9", 2), ("9", 3), (None, 4)], "uid string, v int"
    )
    out = {r["v"]: r["uid"] for r in uid_anonymization("uid", df, key_dir).collect()}

    def digest(uid):
        return hashlib.blake2b(uid.encode(), digest_size=5).hexdigest()

    assert out == {1: digest("12345"), 2: digest("9"), 3: digest("9"), 4: None}
    table = spark.read.parquet(key_path)
    assert table.columns == ["uid", "uid_"]
    assert sorted(map(tuple, table.collect()), key=repr) == [
        ("12345", digest("12345")),
        ("9", digest("9")),
    ]


def test_anonymize_files_end_to_end(spark, tmp_path):
    # newest dated folder wins; CSV+parquet both handled; labels,
    # values, uids, stamping, lowercase, filename rewrite all applied
    in_dir = tmp_path / "input_anon"
    old = in_dir / "2024-01-01"
    new = in_dir / "2024-02-01"
    old.mkdir(parents=True)
    new.mkdir(parents=True)
    (old / "acme-old.csv").write_text("CustomerCode,Amount\nSTALE,1.0\n")
    (new / "acme-data.csv").write_text(
        "CustomerCode,Amount,uid\nAcme,100.0,12345\nZen,200.0,9\n"
    )
    pq = spark.createDataFrame([Row(CustomerCode="Acme", Amount=50.0)])
    pq.coalesce(1).write.parquet(str(new / "acme-extra.parquet"))

    out_dir = str(tmp_path / "out")
    outputs = anonymize_files(
        spark,
        str(in_dir),
        out_dir,
        client="acme",
        timezone="America/New_York",
        key_dir=str(tmp_path / "key"),
        now=datetime(2024, 6, 1, 12, 0, 0),
    )
    assert sorted(os.path.basename(p) for p in outputs) == [
        "client_demo-data.snappy.parquet",
        "client_demo-extra.parquet",
    ]
    got = spark.read.parquet(outputs[0]).orderBy("amount").collect()
    assert [r["customercode"] for r in got] == ["ANON_CLIENT 1", "ANON_CLIENT 2"]
    assert got[0]["amount"] == pytest.approx(101.25)
    assert got[0]["uid"] == "7adcf6378f"
    assert got[0]["process_time"] == "2024-06-01T12:00:00"
    assert got[0]["timezone"] == "America/New_York"


def test_stamp_preserves_existing(spark):
    df = spark.createDataFrame([Row(a=1, process_time="X", timezone="Y")])
    out = stamp_metadata(df, "Z").collect()[0]
    assert out["process_time"] == "X" and out["timezone"] == "Y"


def test_cdm_lowercases_columns(spark, tmp_path):
    df = spark.createDataFrame([Row(CustomerCode="A", Amount=1.0)])
    out = cdm_anonymization(df, key_dir=str(tmp_path / "key"))
    assert out.columns == ["customercode", "amount"]


def test_x5_pseudonym_fixture_matches_live(spark):
    """Round-14 Class-B pin: the landed (uid, pseudonym) fixture the
    x5_uid_pseudonym oracle reads must be value-equal to a fresh
    Arrow-UDF derivation (same epistemic status as
    test_simhash_precomputed_sigs_equivalent — determinism of the
    digest makes read-back == recompute; a drift here would turn the
    driver row red before this test even runs). Also pins the planted
    NULL uid's null passthrough and the 10-hex shape."""
    import os

    import __spark_entry__ as e

    sf_dir = "/root/testdata/sf0.001"
    live = e._q_x5_uid_pseudonym(spark, sf_dir)  # builds fixture on first touch
    landed = spark.read.parquet(
        os.path.join(e._fixture_path(sf_dir, "customer", "uid_pseudonyms"), "map")
    )
    live_rows = {
        r["c_custkey"]: r["pseudonym"] for r in live.collect()
    }
    landed_rows = {
        r["c_custkey"]: r["pseudonym"] for r in landed.collect()
    }
    assert live_rows == landed_rows
    assert landed_rows[None] is None  # planted NULL uid passes through
    non_null = [v for v in landed_rows.values() if v is not None]
    assert non_null and all(
        len(v) == 10 and set(v) <= set("0123456789abcdef") for v in non_null
    )
    # Committed golden pins (ADVICE r14): the Class-B oracle reads a
    # fixture LANDED by the same code path it certifies, so on a cold
    # rebuild a drifted blake2b derivation would self-certify through
    # the driver compare. These literals were committed independently
    # (stdlib blake2b(str(uid), digest_size=5) at round 15) — a cold
    # rebuild with drifted digest logic now fails HERE even though the
    # driver row would stay green. uid→pseudonym is sf-independent, so
    # one golden table covers every scale factor.
    golden = {
        1: "36c76eba33",
        2: "cf2d85ea1d",
        3: "e4ffcdac53",
        4: "1450aa501b",
        5: "a72043e53f",
    }
    for uid, hexd in golden.items():
        assert landed_rows[uid] == hexd, (uid, landed_rows[uid])


def test_anonymization_fates_branch_coverage(spark):
    """Round-15 debut (VERDICT r14 item 5): the end-to-end pipeline
    ledger must exercise EVERY planted branch — exact replacement,
    the Q1 first-label substring shadow (part-replaced output), NULL
    label passthrough, pseudonymized and NULL uids — and conserve
    rows (one ledger row per input customer)."""
    import duckdb

    import __spark_entry__ as e

    sf_dir = "/root/testdata/sf0.001"
    rows = e._q_anonymization_fates(spark, sf_dir).collect()
    n_cust = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/customer.parquet')"
    ).fetchone()[0]
    assert len(rows) == n_cust  # total per-row accounting
    label_fates = {r["label_fate"] for r in rows}
    assert label_fates == {"exact", "substring", "null_passthrough"}
    uid_fates = {r["uid_fate"] for r in rows}
    assert uid_fates == {"pseudonymized", "null_passthrough"}
    for r in rows:
        if r["label_fate"] == "substring":
            # the Q1 shadow: first-sorted label substituted inside a
            # longer label that HAS its own (unreached) exact entry
            assert r["label_out"].startswith("ANON_CLIENT 1 ")
        if r["label_fate"] == "null_passthrough":
            assert r["label_out"] is None
        if r["uid_fate"] == "pseudonymized":
            assert len(r["pseudonym"]) == 10
        else:
            assert r["pseudonym"] is None
        assert r["process_time"] == "2024-06-01T12:00:00"
        assert r["timezone"] == "America/New_York"
