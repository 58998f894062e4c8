"""Full driver-style correctness sweep: every registered query vs its
DuckDB oracle at sf0.01.  Prints one status line per query, with the
number of Spark jobs the query ran (factory plus materialisation, from the
scheduler's job counter), and a summary with the sweep's job total.

Usage: python tools/sweep.py [sf_dir] [query_prefix ...]
"""

from __future__ import annotations

import sys
import time
import traceback

sys.path.insert(0, ".")

import __spark_entry__ as entry  # noqa: E402
from spark_spotify.session import get_spark  # noqa: E402
from tests.oracle import compare  # noqa: E402


def _jobs(spark) -> int:
    """Spark jobs started so far in this application."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    prefixes = tuple(sys.argv[2:])
    spark = get_spark()
    queries = entry.queries()
    oracles = entry.oracle_sql()
    fails, errs, skipped = [], [], []
    total_jobs = 0
    t_all = time.time()
    for name, fn in queries.items():
        if prefixes and not name.startswith(prefixes):
            continue
        t0 = time.time()
        j0 = _jobs(spark)
        try:
            df = fn(spark, sf_dir)
            if name not in oracles:
                n = df.count()
                jobs = _jobs(spark) - j0
                total_jobs += jobs
                print(
                    f"ROWS-ONLY {name}: {n} rows  jobs={jobs}  "
                    f"({time.time()-t0:.1f}s)"
                )
                skipped.append(name)
                continue
            rep = compare(df, oracles[name], sf_dir)
            jobs = _jobs(spark) - j0
            total_jobs += jobs
            status = "PASS" if rep["ok"] else "FAIL"
            print(
                f"{status} {name}: {rep['rows_spark']}/{rep['rows_oracle']} "
                f"rows  jobs={jobs}  ({time.time()-t0:.1f}s)"
            )
            if not rep["ok"]:
                fails.append(name)
                for e in rep["errors"]:
                    print(f"   {e[:400]}")
        except Exception:
            errs.append(name)
            jobs = _jobs(spark) - j0
            total_jobs += jobs
            print(f"ERR  {name}  jobs={jobs}  ({time.time()-t0:.1f}s)")
            traceback.print_exc(limit=3)
    n_checked = len(
        [q for q in queries if (not prefixes or q.startswith(prefixes))]
    )
    print(
        f"\n=== {n_checked} run, {len(fails)} FAIL, {len(errs)} ERR, "
        f"{len(skipped)} rows-only, {total_jobs} Spark jobs "
        f"in {time.time()-t_all:.0f}s ==="
    )
    if fails:
        print("FAILS:", fails)
    if errs:
        print("ERRS:", errs)
    return 1 if (fails or errs) else 0


if __name__ == "__main__":
    raise SystemExit(main())
