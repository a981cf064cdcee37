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

import json
import os
import statistics
import sys
import time

import __spark_entry__ as entrymod
from bench import release, warm_tables
from mape_calculation_and_anonymization_spark.session import get_spark, resolve_sf_dir

SF_DIR = resolve_sf_dir(os.path.join(os.path.dirname(entrymod.SF0001), "sf0.1"))


def _spark():
    spark = get_spark(app_name="tools")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def cmd_explain(out_dir: str, names: list[str], full: bool = False) -> None:
    spark = _spark()
    os.makedirs(out_dir, exist_ok=True)
    qs = entrymod.queries()
    for name in names:
        if full:
            # capture-only monkeypatch: query construction sees a
            # no-op localCheckpoint so the dump shows the FULL plan
            # (persist stays — it doesn't truncate lineage). The class
            # patched is the runtime frame's own: a subclass override
            # (Spark 4's classic DataFrame) would ignore a patch of
            # the base class.
            cls = type(spark.range(0))
            orig = cls.localCheckpoint
            cls.localCheckpoint = lambda self, *a, **k: self
            try:
                df = qs[name](spark, SF_DIR)
                plan = _explain(df)
            finally:
                cls.localCheckpoint = orig
        else:
            df = qs[name](spark, SF_DIR)
            plan = _explain(df)
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_ex = plan.count("Exchange")
        print(f"{name}: {len(plan.splitlines())} lines, "
              f"{n_ex} Exchange, -> {path}")
        release(spark)


def _last_job_id(spark) -> int:
    ids = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    return max(ids) if ids else -1


def cmd_jobs(names: list[str]) -> None:
    """Jobs per query = job ids consumed by construction + noop write
    (after one untimed warm pass, so fixture builds don't count)."""
    spark = _spark()
    qs = entrymod.queries()
    warm_tables(spark, SF_DIR)
    out = {}
    for name in names:
        fn = qs[name]
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        release(spark)
        spark.range(1).count()  # marker job
        before = _last_job_id(spark)
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        after = _last_job_id(spark)
        out[name] = after - before
        release(spark)
        print(name, out[name])
    print("RESULT " + json.dumps(out))


def cmd_time(runs: int, names: list[str]) -> None:
    spark = _spark()
    qs = entrymod.queries()
    # session warmup mirroring bench.py
    from pyspark.sql import functions as F

    spark.range(1_000_000).groupBy(F.col("id") % 7).count().collect()
    warm_tables(spark, SF_DIR)
    out = {}
    for name in names:
        fn = qs[name]
        # one untimed warm pass (codegen/fixtures)
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        release(spark)
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.perf_counter() - t0)
            release(spark)
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
