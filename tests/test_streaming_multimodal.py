"""Streaming batch-equivalence tests + multimodal plumbing tests."""

import pytest
from pyspark.sql import functions as F

from mape_calculation_and_anonymization_spark.fixtures import load_events
from mape_calculation_and_anonymization_spark.operators.multimodal import (
    attach_binary_payload,
    extract_features,
    frame_sample,
)
from mape_calculation_and_anonymization_spark.streaming.windows import (
    read_events_stream,
    run_stream_to_memory,
    stateful_distinct_users,
    streaming_hourly_wape,
    user_session_windows,
)

SF = "/root/testdata/sf0.001"


def test_final_flush_skip_is_output_equal_and_restores_conf(spark):
    """final_flush=False (skip the trailing no-data micro-batch) must
    (a) leave the session's noDataMicroBatches conf exactly as it was
    and (b) produce the identical result for an eligible shape — a
    complete-mode aggregation, whose last data batch already rewrote
    the full table (streaming/windows.py:_drain doc)."""
    conf_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(conf_key)

    def rows(**kw):
        out = run_stream_to_memory(
            streaming_hourly_wape(read_events_stream(spark, SF)),
            output_mode="complete",
            **kw,
        )
        return sorted(
            (str(r["proxy_date"]), r["hour"], r["zone"], round(r["settlement"], 9))
            for r in out.collect()
        )

    flushed = rows()
    skipped = rows(final_flush=False)
    assert spark.conf.get(conf_key) == before
    assert flushed == skipped and len(flushed) > 0


def test_final_flush_skip_is_output_equal_for_join_and_dedup(spark):
    """Same equality pin for the OTHER two eligible shape classes
    (streaming/windows.py:_drain doc): an append-mode INNER stream-stream
    interval join (rows emit in the batch that matches them) and
    streaming dedup (rows emit when first seen) — the flush batch
    only evicts state in both."""
    from pyspark.sql import functions as F

    from mape_calculation_and_anonymization_spark.streaming.windows import (
        stream_stream_interval_join,
    )

    def join_rows(**kw):
        p = read_events_stream(spark, SF).filter(
            F.col("event_type") == "purchase"
        )
        c = read_events_stream(spark, SF).filter(F.col("event_type") == "click")
        out = run_stream_to_memory(
            stream_stream_interval_join(p, c),
            shuffle_partitions=2,
            **kw,
        )
        return sorted((r["l_id"], r["user_id"], r["r_id"]) for r in out.collect())

    def dedup_rows(**kw):
        out = run_stream_to_memory(
            stateful_distinct_users(read_events_stream(spark, SF)),
            shuffle_partitions=2,
            **kw,
        )
        return sorted(r["user_id"] for r in out.collect())

    assert join_rows() == join_rows(final_flush=False)
    d = dedup_rows()
    assert d == dedup_rows(final_flush=False) and len(d) > 0


def test_streaming_hourly_wape_equals_batch(spark):
    # append mode would hold back the final (still-open) windows at
    # end-of-stream; complete mode emits every window for the
    # batch-equivalence check
    got = run_stream_to_memory(
        streaming_hourly_wape(read_events_stream(spark, SF)), output_mode="complete"
    )
    # batch twin: same expressions over the batch read
    ev = load_events(spark, SF)
    batch = (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type").alias("zone")
        )
        .agg(
            F.sum(F.col("value") * 1.05).alias("forecast"),
            F.sum(F.col("value") * 0.97).alias("backcast"),
            F.sum("value").alias("settlement"),
        )
        .select(
            F.to_date("w.start").alias("proxy_date"),
            F.hour("w.start").alias("hour"),
            "zone",
            "forecast",
            "backcast",
            "settlement",
        )
    )
    g = {
        (str(r["proxy_date"]), r["hour"], r["zone"]): r["settlement"]
        for r in got.collect()
    }
    b = {
        (str(r["proxy_date"]), r["hour"], r["zone"]): r["settlement"]
        for r in batch.collect()
    }
    assert g == b and len(g) > 0


def test_streaming_session_windows(spark):
    got = run_stream_to_memory(
        user_session_windows(read_events_stream(spark, SF)), output_mode="complete"
    )
    rows = got.collect()
    assert len(rows) > 0
    # sessions per user must not overlap and counts must sum to events
    total = sum(r["n_events"] for r in rows)
    assert total == load_events(spark, SF).count()


def test_streaming_distinct_users(spark):
    got = run_stream_to_memory(stateful_distinct_users(read_events_stream(spark, SF)))
    users = sorted(r["user_id"] for r in got.collect())
    expect = sorted(
        r["user_id"]
        for r in load_events(spark, SF).select("user_id").distinct().collect()
    )
    assert users == expect


def test_streaming_fingerprint_dedup_equals_batch_store(spark):
    """The streaming near-dup ingest filter and the batch fingerprint
    store must agree byte-for-byte: the fp set
    streaming_fingerprint_dedup emits over documents ∪ noisy copies
    equals the batch DISTINCT normalized_fingerprint of the originals
    (the copies add leading whitespace, so agreement also proves
    normalize-before-hash holds in the streaming path)."""
    from mape_calculation_and_anonymization_spark.fixtures import load_table
    from mape_calculation_and_anonymization_spark.operators.dedup import (
        normalized_fingerprint,
    )
    from mape_calculation_and_anonymization_spark.streaming.windows import (
        read_documents_stream,
        streaming_fingerprint_dedup,
    )

    docs = read_documents_stream(spark, SF).select("doc_id", "text")
    copies = docs.select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        F.concat(F.lit("  "), F.col("text")).alias("text"),
    )
    stream = docs.unionByName(copies).withColumn(
        "ts",
        F.timestamp_seconds(
            F.lit(1_704_067_200) + F.pmod(F.col("doc_id"), F.lit(86_400))
        ),
    )
    got = run_stream_to_memory(
        streaming_fingerprint_dedup(stream),
        shuffle_partitions=4,
        final_flush=False,
    )
    streamed = sorted(r["fingerprint"] for r in got.collect())
    batch = sorted(
        r["fp"]
        for r in load_table(spark, SF, "documents")
        .select(normalized_fingerprint("text").alias("fp"))
        .distinct()
        .collect()
    )
    assert len(streamed) == len(set(streamed))  # each fp exactly once
    assert streamed == batch


def test_multimodal_payload_and_features(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    with_bin = attach_binary_payload(docs)
    meta = with_bin.select("doc_id", "media_meta.*", F.length("text").alias("n")).collect()
    for r in meta:
        assert r["format"] == "utf8-text" and r["n_bytes"] >= r["n"]

    feats = extract_features(with_bin).collect()
    assert len(feats) == 50
    for r in feats:
        assert len(r["features"]) == 8
        assert all(0.0 <= x < 1.0 for x in r["features"])
    # deterministic across runs
    feats2 = extract_features(with_bin).collect()
    assert {r["doc_id"]: r["features"] for r in feats} == {
        r["doc_id"]: r["features"] for r in feats2
    }


def test_frame_sample(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(5)
    frames = frame_sample(attach_binary_payload(docs)).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    assert len(by_doc) == 5
    for idxs in by_doc.values():
        assert sorted(idxs) == list(range(len(idxs)))  # contiguous from 0


def test_stream_static_enrich_matches_batch(spark):
    from mape_calculation_and_anonymization_spark.streaming.windows import (
        read_events_stream,
        run_stream_to_memory,
        stream_static_enrich,
    )
    import __spark_entry__ as e
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    dim = spark.createDataFrame(e._EVENT_TIERS, ["event_type", "tier"])
    # complete mode, matching _q_stream_static_enrich: append would withhold
    # every window still inside the 2h watermark delay when the AvailableNow
    # run terminates, leaving the stream short of the batch twin's tail.
    got = run_stream_to_memory(
        stream_static_enrich(read_events_stream(spark, sf), dim),
        output_mode="complete",
    )
    batch = (
        e.load_table(spark, sf, "events")
        .join(F.broadcast(dim), "event_type", "left")
        .groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            F.coalesce("tier", F.lit("unclassified")).alias("tier"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("volume"))
    )
    g = {
        (r["window_start"], r["tier"]): (r["n_events"], round(r["volume"], 4))
        for r in got.collect()
    }
    b = {
        (r["window_start"], r["tier"]): (r["n_events"], round(r["volume"], 4))
        for r in batch.collect()
    }
    assert g == b and len(g) > 0
    # the uncovered event_type must surface as 'unclassified', proving
    # the left join kept unmatched fact rows
    assert any(k[1] == "unclassified" for k in g)


def test_stream_stream_join_equals_batch(spark):
    from mape_calculation_and_anonymization_spark.fixtures import load_events
    from mape_calculation_and_anonymization_spark.streaming.windows import (
        stream_stream_interval_join,
    )

    sf = "/root/testdata/sf0.001"
    got = run_stream_to_memory(
        stream_stream_interval_join(
            read_events_stream(spark, sf).filter(F.col("event_type") == "purchase"),
            read_events_stream(spark, sf).filter(F.col("event_type") == "click"),
        )
    )
    ev = load_events(spark, sf)
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("l_id"), "user_id", F.col("ts").alias("p_ts")
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("r_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    batch = p.join(
        c,
        (p.user_id == c.c_user)
        & (c.c_ts >= p.p_ts - F.expr("INTERVAL 1 HOUR"))
        & (c.c_ts <= p.p_ts),
    ).select("l_id", "user_id", "r_id")
    assert batch.count() > 0
    assert got.count() == batch.count()
    assert got.exceptAll(batch).count() == 0


def test_batch_sessionize_equals_streaming_session_windows(spark):
    import __spark_entry__ as entrymod

    sf = "/root/testdata/sf0.001"
    batch = {
        (r["user_id"], r["session_start"], r["n_events"], r["volume"])
        for r in entrymod._q_batch_sessionize(spark, sf).collect()
    }
    stream = run_stream_to_memory(
        user_session_windows(read_events_stream(spark, sf)),
        output_mode="complete",
    )
    stream_set = {
        (r["user_id"], r["session_start"], r["n_events"], round(r["volume"], 4))
        for r in stream.collect()
    }
    assert batch == stream_set


def test_stream_key_upsert_incremental_and_idempotent(spark, tmp_path):
    from mape_calculation_and_anonymization_spark.operators.keys import (
        load_key_table,
    )
    from mape_calculation_and_anonymization_spark.streaming.upsert import (
        stream_key_table_upsert,
    )

    key_dir = str(tmp_path / "key")
    stream_key_table_upsert(
        read_events_stream(spark, "/root/testdata/sf0.001"), key_dir
    )
    first = {
        r["user_id"]: r["user_id_"]
        for r in load_key_table(spark, key_dir, "user_id").collect()
    }
    assert len(first) > 0
    # second ingest at a larger sf: existing mappings must survive
    # untouched, new uids appended
    stream_key_table_upsert(
        read_events_stream(spark, "/root/testdata/sf0.01"), key_dir
    )
    second = {
        r["user_id"]: r["user_id_"]
        for r in load_key_table(spark, key_dir, "user_id").collect()
    }
    assert set(first) <= set(second)
    for uid, pseudo in first.items():
        assert second[uid] == pseudo
    # idempotent: re-draining the same stream changes nothing
    stream_key_table_upsert(
        read_events_stream(spark, "/root/testdata/sf0.01"), key_dir
    )
    third = {
        r["user_id"]: r["user_id_"]
        for r in load_key_table(spark, key_dir, "user_id").collect()
    }
    assert third == second


def test_stream_checkpoint_lands_on_tmpfs_and_is_cleaned(spark, tmp_path):
    """Every AvailableNow drain — the five public sinks — checkpoints
    under the one tmpfs root and removes the checkpoint on exit: no
    drain may leave a new entry under the root or under the temp
    dir."""
    import os
    import tempfile

    from mape_calculation_and_anonymization_spark.streaming.neardup import (
        streaming_minhash_ingest,
    )
    from mape_calculation_and_anonymization_spark.streaming.upsert import (
        stream_incremental_agg,
        stream_key_table_upsert,
    )
    from mape_calculation_and_anonymization_spark.streaming.windows import (
        read_documents_stream,
        run_stream_to_parquet,
    )

    root = (
        "/dev/shm/mape_spark_ckpt"
        if os.path.isdir("/dev/shm")
        else os.path.join(tempfile.gettempdir(), "mape_spark_ckpt")
    )
    dirs = (root, tempfile.gettempdir())

    def listing():
        return {d: set(os.listdir(d)) if os.path.isdir(d) else set() for d in dirs}

    drains = {
        "run_stream_to_memory": lambda: run_stream_to_memory(
            read_events_stream(spark, SF)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n")),
            output_mode="complete",
            shuffle_partitions=2,
        ).count(),
        "run_stream_to_parquet": lambda: run_stream_to_parquet(
            read_events_stream(spark, SF), str(tmp_path / "parquet")
        ),
        "stream_key_table_upsert": lambda: stream_key_table_upsert(
            read_events_stream(spark, SF), str(tmp_path / "key")
        ),
        "stream_incremental_agg": lambda: stream_incremental_agg(
            read_events_stream(spark, SF), str(tmp_path / "agg")
        ),
        "streaming_minhash_ingest": lambda: streaming_minhash_ingest(
            read_documents_stream(spark, SF),
            str(tmp_path / "neardup"),
        ).count(),
    }
    # the first drain of a session unpacks the JVM's native codecs and
    # its artifact dir into the temp dir; only drain leftovers count
    drains["run_stream_to_memory"]()
    leaks = {}
    for name, drain in drains.items():
        before = listing()
        drain()
        after = listing()
        new = {d: sorted(after[d] - before[d]) for d in dirs if after[d] - before[d]}
        if new:
            leaks[name] = new
    assert not leaks, f"drains left checkpoint entries behind: {leaks}"


def test_drain_timeout_raises_and_restores_the_session(spark, monkeypatch):
    """A drain that outlives ``_DRAIN_TIMEOUT_S`` raises TimeoutError
    with its query stopped and the shuffle-partition conf restored."""
    from mape_calculation_and_anonymization_spark.streaming import windows

    monkeypatch.setattr(windows, "_DRAIN_TIMEOUT_S", 0.001)
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(TimeoutError, match="did not finish within"):
        run_stream_to_memory(read_events_stream(spark, SF), shuffle_partitions=3)
    assert spark.streams.active == []
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts


def test_drain_protocol_is_written_once():
    """The AvailableNow drain protocol (trigger, awaitTermination, the
    checkpointLocation option) appears only inside
    streaming/windows.py:_drain — no sink carries its own copy. AST
    scan of the package and the entry file; starts no Spark."""
    import ast
    import glob
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "mape_calculation_and_anonymization_spark")
    drain_file = os.path.join(pkg, "streaming", "windows.py")
    files = glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
    files.append(os.path.join(repo, "__spark_entry__.py"))

    def protocol_calls(tree):
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            ):
                continue
            attr = node.func.attr
            if attr in ("trigger", "awaitTermination") or (
                attr == "option"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and node.args[0].value == "checkpointLocation"
            ):
                yield node

    outside, inside = [], []
    for path in files:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        drain = [
            n
            for n in tree.body
            if path == drain_file
            and isinstance(n, ast.FunctionDef)
            and n.name == "_drain"
        ]
        in_drain = {id(c) for d in drain for c in protocol_calls(d)}
        for call in protocol_calls(tree):
            where = f"{os.path.relpath(path, repo)}:{call.lineno} .{call.func.attr}"
            (inside if id(call) in in_drain else outside).append(where)
    assert not outside, f"drain protocol outside windows._drain: {outside}"
    assert len(inside) == 3, inside
