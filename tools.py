"""Query inspection tooling: capture plans, count jobs and time
queries in isolation (outside the full-suite neighborhood, per the
bench methodology note that registry order moves state-cleanup tax
between queries).

* ``explain``: the formatted physical plan of each query.
* ``explain-full``: like ``explain``, but with ``localCheckpoint``
  monkeypatched to identity while the query CONSTRUCTS, so the dump
  shows the whole lineage instead of a checkpoint-truncated
  ``Scan ExistingRDD``. Capture-only: the patch lives for the
  duration of the construction call and never touches a timed or
  verified run.
* ``time``: median wall time of ``runs`` noop-sink drains after one
  untimed warm pass.
* ``jobs``: count Spark JOBS a query launches (construction +
  noop-sink write), via the monotone job-id counter.

Usage:
  python tools.py explain <out_dir> <query> [<query> ...]
  python tools.py explain-full <out_dir> <query> [<query> ...]
  python tools.py time <runs> <query> [<query> ...]
  python tools.py jobs <query> [<query> ...]

All use $SPARK_GRAFT_SF_DIR (default sf0.1) and the same get_spark
session the bench uses.
"""
from __future__ import annotations

import gc
import json
import os
import statistics
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _spark():
    from mape_calculation_and_anonymization_spark.session import get_spark

    spark = get_spark(app_name="tools")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _cleanup(spark):
    spark.catalog.clearCache()
    for tbl in spark.catalog.listTables():
        if tbl.isTemporary and tbl.name.startswith("mem_"):
            spark.catalog.dropTempView(tbl.name)
    gc.collect()


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def cmd_explain(out_dir: str, names: list[str], full: bool = False) -> None:
    import __spark_entry__ as entrymod

    spark = _spark()
    os.makedirs(out_dir, exist_ok=True)
    qs = entrymod.queries()
    for name in names:
        if full:
            # capture-only monkeypatch: query construction sees a
            # no-op localCheckpoint so the dump shows the FULL plan
            # (persist stays — it doesn't truncate lineage)
            # patch the CLASSIC DataFrame class — under Spark 4 the
            # runtime instances are pyspark.sql.classic.dataframe.
            # DataFrame, whose localCheckpoint OVERRIDES the base
            # pyspark.sql.DataFrame one (patching only the base is a
            # silent no-op)
            from pyspark.sql.classic.dataframe import DataFrame as _DF

            orig = _DF.localCheckpoint
            _DF.localCheckpoint = lambda self, *a, **k: self
            try:
                df = qs[name](spark, SF_DIR)
                plan = _explain(df)
            finally:
                _DF.localCheckpoint = orig
        else:
            df = qs[name](spark, SF_DIR)
            plan = _explain(df)
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_ex = plan.count("Exchange")
        print(f"{name}: {len(plan.splitlines())} lines, "
              f"{n_ex} Exchange, -> {path}")
        _cleanup(spark)


def _last_job_id(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


def cmd_jobs(names: list[str]) -> None:
    """Jobs per query = job ids consumed by construction + noop write
    (after one untimed warm pass, so fixture builds don't count)."""
    import __spark_entry__ as entrymod

    spark = _spark()
    qs = entrymod.queries()
    from mape_calculation_and_anonymization_spark.fixtures import load_table

    for t in ("events", "documents", "lineitem", "orders", "embeddings"):
        load_table(spark, SF_DIR, t).count()
    out = {}
    for name in names:
        fn = qs[name]
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        _cleanup(spark)
        spark.range(1).count()  # marker job
        before = _last_job_id(spark)
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        after = _last_job_id(spark)
        out[name] = after - before
        _cleanup(spark)
        print(name, out[name])
    print("RESULT " + json.dumps(out))


def cmd_time(runs: int, names: list[str]) -> None:
    import __spark_entry__ as entrymod

    spark = _spark()
    qs = entrymod.queries()
    # session warmup mirroring bench.py
    from pyspark.sql import functions as F

    spark.range(1_000_000).groupBy(F.col("id") % 7).count().collect()
    from mape_calculation_and_anonymization_spark.fixtures import load_table

    for t in ("events", "documents", "lineitem", "orders", "embeddings"):
        load_table(spark, SF_DIR, t).count()
    out = {}
    for name in names:
        fn = qs[name]
        # one untimed warm pass (codegen/fixtures)
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        _cleanup(spark)
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
            _cleanup(spark)
        out[name] = {
            "median": round(statistics.median(samples), 3),
            "samples": [round(s, 3) for s in samples],
        }
        print(name, json.dumps(out[name]))
    print("RESULT " + json.dumps({k: v["median"] for k, v in out.items()}))


if __name__ == "__main__":
    if sys.argv[1] == "explain":
        cmd_explain(sys.argv[2], sys.argv[3:])
    elif sys.argv[1] == "explain-full":
        cmd_explain(sys.argv[2], sys.argv[3:], full=True)
    elif sys.argv[1] == "time":
        cmd_time(int(sys.argv[2]), sys.argv[3:])
    elif sys.argv[1] == "jobs":
        cmd_jobs(sys.argv[2:])
    else:
        raise SystemExit(f"unknown mode {sys.argv[1]!r}")
