"""Record the fingerprints of the dashboard page variants that have no
DuckDB oracle (the day-windowed pages), from the program itself.

    python3 tierbench/record_fingerprints.py

Runs each variant twice in one session over the benchmark's generated
tables and writes ``fingerprints.json`` only if every variant returned the
same canonical rows both times; otherwise it names the unstable variants
and exits 1 without writing.  Re-record after a change that is meant to
alter one of these pages' output, or the generated tables.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import run as bench

    work = os.path.join(ROOT, ".tierbench", f"record-{os.getpid()}")
    bench._pin_environment(work, trace=False)
    try:
        import checks
        import datagen
        from workloads import PAGES, WINDOWS, expectation

        from spark_spotify import api
        from spark_spotify.session import get_spark

        data_dir = os.path.join(work, "data")
        sizes = datagen.generate(data_dir)
        spark = get_spark("tierbench-record")
        prints, unstable = {}, []
        for name, windowed, oracle in (f for fns in PAGES.values() for f in fns):
            for window in WINDOWS if windowed else ():
                kind, key = expectation(name, window, oracle)
                if kind != "fingerprint":
                    continue
                fn = getattr(api, name)
                first, second = (
                    checks.Canon(fn(window, spark, data_dir).toPandas()).digest()
                    for _ in range(2)
                )
                if first != second:
                    unstable.append(key)
                prints[key] = first
                print(key, first[:12], flush=True)
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if unstable:
        print(f"not recorded: unstable variants {unstable}", file=sys.stderr)
        return 1
    with open(checks.FINGERPRINTS, "w") as fh:
        json.dump(
            {"data_seed": datagen.DATA_SEED, "rows": sizes, "fingerprints": prints},
            fh, indent=1, sort_keys=True,
        )
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
