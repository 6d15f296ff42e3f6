"""Generate the per-gate physical-plan inventory table in SCALE.md.

Plans every ``queries()`` entry at sf0.001 and counts the plan shapes the
100 TB audit cares about: shuffle Exchanges, broadcast exchanges,
join strategies, window nodes, Python (Arrow) stages. The table lands
between the GENERATED markers in SCALE.md so the evidence regenerates
with one command:

    python tools/planreport.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"
BEGIN = "<!-- GENERATED:PLAN-INVENTORY:BEGIN -->"
END = "<!-- GENERATED:PLAN-INVENTORY:END -->"


def plan_stats(plan: str) -> dict[str, int]:
    return {
        "shuffles": len(re.findall(r"Exchange (?:hash|range|SinglePartition)", plan)),
        "broadcasts": plan.count("BroadcastExchange"),
        "smj": plan.count("SortMergeJoin"),
        "bhj": plan.count("BroadcastHashJoin"),
        "windows": len(re.findall(r"\bWindow\b \[", plan)),
        "python": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + plan.count("FlatMapGroupsInPandas"),
        "cartesian": plan.count("CartesianProduct"),
    }


def main() -> None:
    import __spark_entry__ as em
    from panoptes_spark.session import get_spark, release

    spark = get_spark(app_name="planreport")
    rows = []
    for name, fn in sorted(em.queries().items()):
        plan = fn(spark, SF)._jdf.queryExecution().executedPlan().toString()
        release(spark)
        s = plan_stats(plan)
        rows.append(
            f"| {name} | {s['shuffles']} | {s['broadcasts']} | "
            f"{s['smj']}/{s['bhj']} | {s['windows']} | {s['python']} |"
        )
        assert s["cartesian"] == 0, f"CartesianProduct in {name}"

    table = "\n".join(
        [
            BEGIN,
            "",
            f"Generated by `python tools/planreport.py` over every `queries()`",
            f"entry at sf0.001 ({len(rows)} gates). Shuffle = hash/range/single-",
            "partition Exchange; SMJ/BHJ = sort-merge vs broadcast-hash joins;",
            "Py = Arrow-batched Python stages (mapInPandas / pandas UDF).",
            "",
            "| gate | shuffles | broadcasts | SMJ/BHJ | windows | Py |",
            "|---|---|---|---|---|---|",
            *rows,
            "",
            END,
        ]
    )

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE.md")
    text = open(path).read()
    if BEGIN in text:
        pre = text.split(BEGIN)[0]
        post = text.split(END)[1]
        text = pre + table + post
    else:
        text = text.rstrip() + "\n\n## Per-gate plan inventory (generated)\n\n" + table + "\n"
    open(path, "w").write(text)
    print(f"wrote {len(rows)} rows to SCALE.md")


if __name__ == "__main__":
    main()
