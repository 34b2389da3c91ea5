"""Generate PLANS.md: the scale audit of every gate query's physical plan.

For each `queries()` entry, `plan_summary` reports shuffle exchanges,
Python stages, join strategies, the cartesian flag, and pushdown — the
evidence that each operator's plan has the shape we claim at 100 TB.
Streaming gates are skipped (their plan materializes only when started).

Run: python scripts/plan_audit.py   (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.001"

# Gates whose nested-loop join is INTENTIONAL and bounded: the broadcast
# side is constant-size, so the "cartesian" is linear in the big side,
# not quadratic. Anything else flagging cartesian is a scale bug.
KNOWN_BOUNDED = {
    "p24_tfidf_scores": "1-row broadcast (corpus size N) joined to every distinct word",
    "p9_cosine_topk": "exact baseline: corpus scan x BROADCAST query batch (bounded)",
    # r09 in-plan rates (operators/sampling.py temperature_mix): the 1-row
    # global-min agg of the COUNTS frame is broadcast onto the counts frame
    # (#strata rows) — the data itself never meets a nested loop
    "p42_temperature_mix": "1-row broadcast (global min of per-stratum counts) x counts frame (#strata rows)",
    "p44_mixture_report": "1-row broadcast (corpus totals) x per-stratum report rows",
}


def main() -> None:
    import __spark_entry__ as e
    from fugue_spark.plans import plan_summary
    from fugue_spark.session import get_spark

    spark = get_spark(
        app_name="plan_audit", master="local[4]", shuffle_partitions=4,
        spark__ui__enabled="false",
    )
    rows = []
    for name, fn in e.queries().items():
        if name.startswith("s"):  # streaming gates: plan exists only when started
            rows.append((name, "—", "—", "—", "—", "streaming (audited via stream/batch gate)"))
            continue
        try:
            df = fn(spark, SF)
            s = plan_summary(df)
            note = []
            if s["pushed_filters"]:
                note.append(f"{len(s['pushed_filters'])} pushed filters")
            if s["n_sortmerge_joins"]:
                note.append(f"{s['n_sortmerge_joins']} SMJ")
            if s["cartesian"]:
                flag = "bounded" if name in KNOWN_BOUNDED else "YES"
                if name in KNOWN_BOUNDED:
                    note.append(KNOWN_BOUNDED[name])
            else:
                flag = "no"
            rows.append(
                (
                    name,
                    s["n_exchanges"],
                    s["n_python_stages"],
                    s["n_broadcast_joins"],
                    flag,
                    ", ".join(note),
                )
            )
        except Exception as ex:  # noqa: BLE001
            rows.append((name, "?", "?", "?", "?", f"error: {str(ex)[:60]}"))

    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan scale audit of every gate query\n\n"
            "Generated by `scripts/plan_audit.py` (plan_summary over each\n"
            "`queries()` entry at sf0.001). Columns: shuffle exchanges\n"
            "(broadcast exchanges excluded), Python stages (MapInArrow etc),\n"
            "broadcast joins, cartesian/nested-loop flag. A YES in the\n"
            "cartesian column is a scale bug unless the operator explicitly\n"
            "gates it; 'bounded' marks the two intentional nested-loop\n"
            "joins whose broadcast side is constant-size (linear, not\n"
            "quadratic).\n\n"
            "| gate | shuffles | py stages | bcast joins | cartesian | notes |\n"
            "|---|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write("| " + " | ".join(str(x) for x in r) + " |\n")
    print(f"wrote PLANS.md ({len(rows)} gates)")


if __name__ == "__main__":
    main()
