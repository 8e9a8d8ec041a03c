#!/usr/bin/env python
"""Four-point scale curve for the bucketed range join (VERDICT r12
item 5): times the `error_window` leg (range_join_error_windows) at
sf0.1 / sf1 / sf3 / sf10 — the sf10 point is an events-only K=100
slice from gen_sf1's machinery:

    python scripts/gen_sf1.py testdata_sf10 100 events

The session is first warmed with bench.warm_up over the sf0.1 point.
For each available point: warm min-of-N noop wall (bench.noop_wall),
output rows, the DuckDB IEJoin oracle wall (skippable via
SPARK_GRAFT_NO_ORACLE=1 when the single-node side exits the feasible
regime), and hash-exact parity through the driver comparator. Prints one JSON block; numbers land in
SURVEY.md §6 with the growth exponent.

Run on an idle host:  python scripts/range_join_scale.py
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

POINTS = [
    ("sf0.1", "/root/testdata/sf0.1", 0.1),
    ("sf1", os.path.join(_REPO, "testdata_sf1"), 1.0),
    ("sf3", os.path.join(_REPO, "testdata_sf3"), 3.0),
    ("sf10", os.path.join(_REPO, "testdata_sf10"), 10.0),
]


def main() -> None:
    runs = int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "3"))
    from bench import noop_wall, warm_up
    from rolaguard_data_collectors_spark.operators.rangejoin import (
        RANGE_JOIN_ERROR_WINDOWS_ORACLE,
        range_join_error_windows,
    )
    import duckdb

    from rolaguard_data_collectors_spark.oracle import compare
    from rolaguard_data_collectors_spark.session import get_spark

    spark = get_spark(app_name="range_join_scale")
    warm_up(spark, POINTS[0][1])

    out: dict[str, dict] = {}
    for name, sf_dir, sf in POINTS:
        if not os.path.exists(os.path.join(sf_dir, "events.parquet")):
            continue
        df = range_join_error_windows(spark, sf_dir)
        noop_wall(df)  # warm this plan's codegen
        best = min(noop_wall(df) for _ in range(runs))
        rows = df.count()
        rec: dict = {"spark_sec": round(best, 2), "rows": rows, "sf": sf}
        if not os.environ.get("SPARK_GRAFT_NO_ORACLE"):
            # events-only connection: the sf10 slice generates no other
            # tables, and oracle.duckdb_connection would fail creating
            # views over the missing parquet files
            con = duckdb.connect()
            con.execute(
                "CREATE VIEW events AS SELECT * FROM "
                f"'{os.path.join(sf_dir, 'events.parquet')}'"
            )
            t0 = time.perf_counter()
            con.execute(RANGE_JOIN_ERROR_WINDOWS_ORACLE).fetchall()
            rec["oracle_sec"] = round(time.perf_counter() - t0, 2)
            r = compare(f"error_window@{name}", df,
                        RANGE_JOIN_ERROR_WINDOWS_ORACLE, con)
            rec["parity"] = bool(r.ok and r.exact_match and r.dtypes_match)
            if not rec["parity"]:
                rec["parity_detail"] = r.detail
        out[name] = rec
        print(f"# {name}: {rec}", file=sys.stderr)

    # growth exponent between consecutive measured points:
    # alpha = log(t2/t1) / log(sf2/sf1)
    names = [n for n, *_ in POINTS if n in out]
    for a, b in zip(names, names[1:]):
        ta, tb = out[a]["spark_sec"], out[b]["spark_sec"]
        sa, sb = out[a]["sf"], out[b]["sf"]
        out[b]["growth_exponent_vs_prev"] = round(
            math.log(tb / ta) / math.log(sb / sa), 2
        )
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
