#!/usr/bin/env python
"""Driver simulation pre-flight: the exact check the driver applies,
under the driver's session, BEFORE the driver applies it.

The pytest suite runs on a tuned session (local[32], 32 shuffle
partitions, nanosAsLong where needed); the driver uses a VANILLA
SparkSession — ANSI on, 200 shuffle partitions, default everything.
Divergences that only appear under the driver's session (summation
order over different partition counts, timestamp schema handling,
oracle result-type canonicalization) are exactly the ones that have
produced red driver rows in past rounds. This script replays the
driver's compare over the first-50 registry window on a vanilla
session so those surface locally first.

Usage:
    python preflight.py                # first 50 (the driver window)
    python preflight.py --all          # every oracle-backed query
    python preflight.py --changed      # only queries whose static
                                       # dependency fingerprint moved
                                       # since their last green run
                                       # (preflight_deps.py; VERDICT
                                       # r8 stretch item 6)
    python preflight.py name ...       # just the named queries
    python preflight.py --sf DIR ...   # compare against another scale
                                       # factor (e.g. the sf0.001
                                       # robustness sweep: --sf
                                       # /root/testdata/sf0.001 --all);
                                       # composes with every mode. The
                                       # --changed state records only
                                       # default-sf greens.
    python preflight.py --plan-window  # emit next round's 50-slot
                                       # rotation from CORRECTNESS
                                       # history (paste into queries())

Every green compare records the query's dependency fingerprint in
/tmp/mape_spark_fixtures/preflight_state.json, so --changed after an
edit re-runs exactly the queries the edit could affect (the
fingerprint covers the query function's transitive entry-file helper
closure, referenced package modules expanded over the package import
graph, oracle SQL, referenced entry-file constants, and a testdata
token — see preflight_deps.py's docstring for the approximation
boundary).

Exit code 0 iff every compared query matches. One JSON summary line on
stdout (tagged PREFLIGHT_JSON) for checking into PROGRESS notes.
"""

from __future__ import annotations

import json
import os
import sys
import time

_STATE_PATH = "/tmp/mape_spark_fixtures/preflight_state.json"


def _load_state() -> dict:
    try:
        with open(_STATE_PATH) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def _save_state(state: dict) -> None:
    os.makedirs(os.path.dirname(_STATE_PATH), exist_ok=True)
    tmp = _STATE_PATH + f".tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(state, fh, indent=0, sort_keys=True)
    os.replace(tmp, _STATE_PATH)


def main(argv: list[str]) -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from preflight_deps import query_fingerprints
    from tests.oracle_utils import compare_query

    sf_dir = "/root/testdata/sf0.01"
    default_sf = True
    if len(argv) >= 2 and argv[0] == "--sf":
        sf_dir, argv = argv[1], argv[2:]
        default_sf = False
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql_at(sf_dir)

    if argv and argv[0] == "--plan-window":
        return plan_window()
    fps = query_fingerprints(sf_dir)
    state = _load_state()
    if argv and argv[0] == "--all":
        # every registry entry: oracle-backed queries get the full
        # compare, rows-only ones the driver's weaker run-and-count
        names = list(qs)
    elif argv and argv[0] == "--changed":
        names = [n for n in qs if state.get(n) != fps[n]]
        if not names:
            print("PREFLIGHT_JSON " + json.dumps(
                {"preflight": "driver-sim", "checked": 0, "failed": [],
                 "wall_s": 0.0, "changed": "nothing stale"}))
            return 0
        print(f"  --changed: {len(names)} stale of {len(qs)}",
              file=sys.stderr)
    elif argv:
        # explicit names: validate up front so a typo reports
        # usefully instead of surfacing as a bare KeyError mid-loop
        unknown = [n for n in argv if n not in qs]
        if unknown:
            known = ", ".join(sorted(qs))
            for n in unknown:
                print(
                    f"preflight: {n!r} is not in the queries() registry.",
                    file=sys.stderr,
                )
            print(f"registered names: {known}", file=sys.stderr)
            return 2
        names = argv
    else:
        names = [n for n in list(qs)[:50] if n in oracles]

    # Vanilla session: NO config overrides — this must match what the
    # driver builds (master differs, but defaults like ANSI mode and
    # spark.sql.shuffle.partitions=200 are what matter).
    spark = SparkSession.builder.master("local[8]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    failures: dict[str, str] = {}
    t0 = time.time()
    for name in names:
        t = time.time()
        try:
            if name not in oracles:
                # rows-only by design (no SQL oracle) — mirror the
                # driver's weaker check: the query must run and yield
                # a stable row count ≥ 0
                n = qs[name](spark, sf_dir).count()
                ok, msg = True, f"rows-only: {n} rows"
            else:
                ok, msg = compare_query(spark, sf_dir, qs[name], oracles[name])
        except Exception as exc:  # noqa: BLE001 — report, keep going
            ok, msg = False, f"exception: {exc}"
        status = "ok" if ok else "FAIL"
        print(f"  {status:4s} {name} ({time.time() - t:.1f}s)", file=sys.stderr)
        if not ok:
            failures[name] = msg
            print(f"       {msg}", file=sys.stderr)
        elif default_sf:
            # record the green fingerprint so --changed skips this
            # query until something it depends on moves again (only
            # default-sf runs count — the fingerprint embeds the
            # default sf's testdata token, and a green at another
            # scale factor is not the driver's compare)
            state[name] = fps[name]

    if default_sf:
        _save_state(state)

    summary = {
        "preflight": "driver-sim",
        "checked": len(names),
        "failed": sorted(failures),
        "wall_s": round(time.time() - t0, 1),
    }
    print("PREFLIGHT_JSON " + json.dumps(summary))
    return 1 if failures else 0


def changed_plans(repo: str, last_green: dict[str, int]) -> set[str]:
    """Queries whose plan dump changed in the newest ``plans/rN/``
    (``<q>_before.txt`` differs from ``<q>_after.txt``) and whose last
    green driver round is before N: their new plan is unproved, so they
    belong in the next window."""
    import glob

    dirs = glob.glob(os.path.join(repo, "plans", "r[0-9]*"))
    if not dirs:
        return set()
    n = max(int(os.path.basename(d)[1:]) for d in dirs)
    changed = set()
    for before in glob.glob(os.path.join(repo, "plans", f"r{n}", "*_before.txt")):
        q = os.path.basename(before)[: -len("_before.txt")]
        after = before[: -len("before.txt")] + "after.txt"
        with open(before) as fb, open(after) as fa:
            if fb.read() != fa.read() and last_green.get(q, 0) < n:
                changed.add(q)
    return changed


def plan_window() -> int:
    """Derive the NEXT round's 50-slot window mechanically from the
    CORRECTNESS_r*.json history — the planning step the rotation-
    hygiene test (tests/test_oracle_parity.py:test_rotation_hygiene)
    validates. Priority order:

      1. oracle-backed queries with NO green driver row (new
         additions and regressions — always debut/return first);
      2. changed plans: a query whose ``<q>_before.txt`` and
         ``<q>_after.txt`` differ in the newest ``plans/rN/`` dump and
         that has not been green since round N;
      3. everything at or past the hygiene limit (staleness would
         exceed the 3-round budget — skipping them would fail the
         test next round; capacity math in test_rotation_hygiene's
         docstring);
      4. the remaining oldest-green queries, oldest first.

    Emits the ordered 50 names as ready-to-paste registry rows (the
    entry file's own (name, builder, oracle) row, re-tagged with its
    last green round) plus a category summary. The registry itself
    stays hand-ordered (the driver reads a static table), so this is a
    planning aid, not a runtime mutation — run it at the START of a
    round, paste, and let test_rotation_hygiene confirm."""
    import glob
    import os
    import re

    import __spark_entry__ as entrymod

    repo = os.path.dirname(os.path.abspath(__file__))
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    last_green: dict[str, int] = {}
    rounds: list[int] = []
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
                # max, not last-assignment: glob order is lexicographic
                # (r10 sorts before r2), so trust round numbers, not
                # file-visit order
                last_green[q] = max(last_green.get(q, 0), rnd)
    upcoming = (max(rounds) + 1) if rounds else 1
    candidates = [n for n in qs if n in oracles]
    changed = changed_plans(repo, last_green)

    def prio(name: str) -> tuple:
        lg = last_green.get(name)
        if lg is None:
            return (0, 0, name)  # never verified: first
        if name in changed:
            return (1, lg, name)  # then plans changed since last green
        return (2, lg, name)  # then oldest green first

    ordered = sorted(candidates, key=prio)
    window, overflow = ordered[:50], ordered[50:]
    # exactly the hygiene test's violation predicate: never-verified,
    # a changed plan, or a window skip would push staleness past the
    # 3-round budget
    must = [
        n
        for n in candidates
        if n not in last_green or n in changed or upcoming - last_green[n] > 3
    ]
    dropped_must = [n for n in must if n not in window]
    print(f"# window plan for round {upcoming} "
          f"({len(candidates)} oracle-backed; {len(must)} must-include "
          f"this round{'; OVERFLOW — more must-includes than slots: ' + str(dropped_must) if dropped_must else ''})")
    with open(entrymod.__file__) as fh:
        rows = {
            m.group(2): m.group(1)
            for m in re.finditer(r'^    (\("(\w+)", [^#]*\),)', fh.read(), re.M)
        }
    for n in window:
        lg = last_green.get(n)
        tag = "never" if lg is None else f"r{lg}"
        print(f"    {rows[n]}  # last green: {tag}")
    print(f"# below window: {len(overflow)} oracle-backed "
          f"(newest-green) + rows-only entries")
    return 1 if dropped_must else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
