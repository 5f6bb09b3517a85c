"""bench.py list contracts (no Spark, no execution): the headline and
extended sets must stay registered (a renamed query would silently
null the bench value via the per-query error path) and disjoint (an
overlap would double-count and skew the separate totals)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import EXTENDED, HEADLINE
from fitness_nutrition_data_pipeline_spark.queries import all_specs


def test_bench_lists_are_registered_and_disjoint():
    specs = all_specs()
    missing = [n for n in [*HEADLINE, *EXTENDED] if n not in specs]
    assert not missing, f"bench lists reference unregistered queries: {missing}"
    overlap = set(HEADLINE) & set(EXTENDED)
    assert not overlap, f"headline/extended overlap: {overlap}"
    assert len(HEADLINE) == 18 and len(EXTENDED) == 10


def test_pipeline_bench_artifact_shape():
    """The committed BENCH_pipeline_r*.json artifacts must carry the
    self-adjudication fields (probe + plan digest) alongside the phase
    timings — a malformed artifact silently loses the evidence the
    round-over-round comparison rests on."""
    import glob
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    artifacts = sorted(glob.glob(os.path.join(repo, "BENCH_pipeline_r*.json")))
    assert artifacts, "no committed BENCH_pipeline artifact"
    required = {
        "metric", "unit", "probe_sec", "plan_digest", "extract_s",
        "transform_load_s", "extract_transform_total_s", "vs_anchor",
        "validate_s", "total_rows", "quality_score",
    }
    for path in artifacts:
        d = json.loads(open(path).read())
        missing = required - set(d)
        assert not missing, f"{path} missing fields: {missing}"
        assert d["metric"] == "pipeline_e2e"
        assert len(d["plan_digest"]) == 16

