"""Plan-recompute audit: per registered query, how many parquet scans
does the physical plan contain versus how many DISTINCT tables it
reads? A surplus means some subtree is planned (and, with Spark's
ReuseExchange rarely firing across differing projections, re-COMPUTED)
more than once — the r13 window audit caught three such sites:

- label_propagation_step / association_rules_lift: union-of-two-
  projections edge/rule symmetrization re-planned the whole
  distinct -> window -> self-join chain per branch; fixed by EXPLODING
  both directions from one pass (~5x / ~1.7x warm).
- js_divergence_sources: a categorical-bounded contingency fed four
  consumers, each re-scanning documents; fixed by localCheckpoint
  (admissible ONLY for answer-sized relations — the repo rule).

A surplus is NOT automatically waste: self-joins scan twice by nature,
contract queries (ann_recall, bloom_membership) intentionally compute
two methods to compare them, and iterative steps (kmeans_lloyd,
pca_power) re-read per unrolled iteration. Read the query's doc before
"fixing" anything, and re-run its oracle check after any change.

Usage: python tools/audit_reuse.py [--top N]
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_AUDIT_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    args = sys.argv[1:]
    top = int(args[args.index("--top") + 1]) if "--top" in args else 25

    os.environ.setdefault("SPARK_GRAFT_STRICT_IMPORTS", "1")
    from fitness_nutrition_data_pipeline_spark.queries import all_specs
    from fitness_nutrition_data_pipeline_spark.session import get_spark

    spark = get_spark("reuse_audit")
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "32")
    specs = all_specs()
    rows = []
    try:
        for name in specs:
            try:
                df = specs[name].builder(spark, SF_DIR)
                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    df.explain(mode="formatted")
                t = buf.getvalue()
                # formatted mode lists each scan node twice (tree line +
                # details header) — halve for the true node count
                scans = t.count("Scan parquet") // 2
                reused = t.count("ReusedExchange")
                tables = set(re.findall(r"Location:.*?/(\w+)\.parquet", t))
                rows.append((scans - max(len(tables), 1), scans,
                             max(len(tables), 1), reused, name))
            except Exception as e:  # noqa: BLE001
                print(f"ERR {name}: {str(e)[:100]}")
    finally:
        spark.conf.set(key, prev)
    rows.sort(reverse=True)
    print(f"{'extra':>5} {'scans':>5} {'tables':>6} {'reused':>6}  query "
          f"(full registry, {SF_DIR})")
    for extra, scans, ntab, reused, name in rows[:top]:
        print(f"{extra:>+5} {scans:>5} {ntab:>6} {reused:>6}  {name}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
