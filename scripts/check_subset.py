"""Check a subset of registered queries against their DuckDB oracles at one
or more scale factors — the fast inner loop for proving a restructured query
still hashes identically before a full run_gate.py pass.

Usage: python scripts/check_subset.py q1_pricing_summary p5_... [--sf sf0.001,sf0.01,sf0.1]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--sf")]
    sfs = ["sf0.001", "sf0.01"]
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sfs = a.split("=", 1)[1].split(",")

    import __spark_entry__ as e
    from fugue_spark.session import get_spark, tune_for_input
    from fugue_spark.testing import normalize, run_oracle

    # master and shuffle partitions follow get_spark's defaults
    # (SPARK_GRAFT_CPUS, else local[*] and 32 partitions); the heap
    # defaults to a quarter of physical memory
    ram_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 30
    spark = get_spark(
        app_name="check_subset", spark__ui__enabled="false",
        spark__driver__memory=os.environ.get(
            "SPARK_GRAFT_DRIVER_MEM", f"{max(1, ram_gb // 4)}g"
        ),
    )
    qs, osql = e.queries(), e.oracle_sql()
    failures = 0
    for sf in sfs:
        sf_dir = f"/root/testdata/{sf}"
        tune_for_input(spark, sf_dir)
        for name in args:
            if name not in qs:
                print(f"{name}: NOT REGISTERED")
                failures += 1
                continue
            t0 = time.time()
            try:
                sdf = qs[name](spark, sf_dir).toPandas()
                if name not in osql:
                    print(f"{sf} {name}: no_oracle ({len(sdf)} rows, {time.time()-t0:.1f}s)")
                    continue
                odf = run_oracle(osql[name], sf_dir)
                ok = (
                    len(sdf) == len(odf)
                    and sorted(sdf.columns) == sorted(odf.columns)
                    and normalize(sdf) == normalize(odf)
                )
                print(
                    f"{sf} {name}: {'GREEN' if ok else 'HASH MISMATCH'} "
                    f"(spark {len(sdf)} vs oracle {len(odf)} rows, {time.time()-t0:.1f}s)"
                )
                failures += 0 if ok else 1
            except Exception as ex:  # noqa: BLE001
                print(f"{sf} {name}: ERROR {type(ex).__name__}: {ex}"[:300])
                failures += 1
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
