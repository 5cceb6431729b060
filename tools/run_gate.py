"""Local replica of the correctness gate.

Runs every REGISTRY query (or those named) through
``tests/oracle_harness.compare_query`` at the given sf dir (default
sf0.01, the gate's scale). A query whose input is the absent GDAL
autotest tree prints a ``skip`` line; only real failures are counted.

Usage:  python tools/run_gate.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")

import __spark_entry__ as entry
from gdal_spark import get_spark
from gdal_spark.fixtures import FixtureMissing
from tests.oracle_harness import compare_query


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:] or list(entry.queries())
    spark = get_spark()
    fails, skips = [], []
    for name in names:
        t0 = time.monotonic()
        try:
            ok, msg = compare_query(spark, sf_dir, name)
        except FixtureMissing as ex:
            skips.append(name)
            print(f"skip {name}: {ex}", flush=True)
            continue
        except Exception as ex:  # noqa: BLE001
            ok, msg = False, f"{name}: {type(ex).__name__}: {ex}"
        if not ok:
            fails.append(msg)
        print(f"{'ok  ' if ok else 'FAIL'} {msg} "
              f"({time.monotonic() - t0:.1f}s)", flush=True)
    print(f"\n{len(fails)} failures, {len(skips)} skipped / "
          f"{len(names)} queries")
    for msg in fails:
        print(f"  {msg}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
