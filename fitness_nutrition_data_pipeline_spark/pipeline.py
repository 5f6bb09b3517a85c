"""Pipeline orchestrator (SURVEY §3.1) — the reference's
``run_full_etl_pipeline`` skeleton (main_etl_pipeline.py:947-976) with the
eager pandas stages replaced by lazy DataFrame DAGs materialized per
output table at load time.

Stage map:
  extract  → sources/fitness.extract_all          (:956-959)
  transform→ resolution + dimensions + bridges + facts (:961-962)
  load     → load.load_warehouse (parquet ≙ MySQL) (:964-966)
  validate → validation.validate_warehouse         (:968-969)
  report   → report.write_report                   (:970)

The staging profile plan is cached once and consumed by dims, bridges,
facts and the snapshot — the reference re-reads the same in-memory frame
five times (main_etl_pipeline.py:366, 475, 487, 518, 639).
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession

from fitness_nutrition_data_pipeline_spark.config import PipelineConfig
from fitness_nutrition_data_pipeline_spark.load import load_warehouse
from fitness_nutrition_data_pipeline_spark.operators.resolution import resolve_users
from fitness_nutrition_data_pipeline_spark.plans.bridges import build_bridges
from fitness_nutrition_data_pipeline_spark.plans.dimensions import build_dimensions
from fitness_nutrition_data_pipeline_spark.plans.facts import build_facts
from fitness_nutrition_data_pipeline_spark.report import build_report, write_report
from fitness_nutrition_data_pipeline_spark.sources.fitness import extract_all
from fitness_nutrition_data_pipeline_spark.validation import validate_warehouse

logger = logging.getLogger(__name__)


class FitnessWarehousePipeline:
    def __init__(self, spark: SparkSession, cfg: PipelineConfig | None = None):
        self.spark = spark
        self.cfg = cfg or PipelineConfig()
        self.sources: dict[str, object] = {}
        self.staging: DataFrame | None = None
        self.mapping: DataFrame | None = None
        self.warehouse: dict[str, DataFrame] = {}

    # -- stages ------------------------------------------------------------

    def extract(self, sources: dict[str, object] | None = None) -> dict[str, object]:
        self.sources = sources if sources is not None else extract_all(self.spark, self.cfg)
        return self.sources

    def transform(self) -> dict[str, DataFrame]:
        fitbit = self.sources.get("fitbit") or {}
        fitbit_ids: DataFrame | None = None
        for df in fitbit.values():
            if "Id" in df.columns:
                ids = df.select("Id")
                fitbit_ids = ids if fitbit_ids is None else fitbit_ids.unionByName(ids)

        staging, mapping = resolve_users(
            self.sources.get("mendeley_health"),
            self.sources.get("gym_members"),
            fitbit_ids,
            self.cfg,
        )
        self.staging = staging.cache()
        self.mapping = mapping.cache()
        # Populate the two shared caches BEFORE load(): its 18 concurrent
        # table writes racing a cold cache would each recompute the whole
        # resolution lineage instead of waiting for it (Spark block
        # caching has no cross-job synchronization). But the prime runs
        # EXECUTOR-side while dim/bridge/fact construction below is pure
        # DRIVER-side work (py4j + Catalyst analysis, measured ~4.4 s
        # cold — as large as the prime itself), so overlap them: kick the
        # two counts off on background threads, declare the warehouse
        # DAG meanwhile, and join before returning so load() always sees
        # warm caches. The one executor action inside declaration
        # (build_fact_nutrition_log's bounded sample collect) may race
        # the in-flight prime and duplicate resolution work once on idle
        # cores — bounded, and strictly better than serializing the two
        # phases (r11 A/B: overlapped cold transform+load beat the
        # sequential prime; staging itself keeps its prime vs the 18
        # writers, the r10 finding).
        from concurrent.futures import ThreadPoolExecutor

        # 2 slots for the primes + 1 for the bridges declaration below
        # (a bridges submit must never queue behind a running prime)
        pool = ThreadPoolExecutor(max_workers=3)
        primes = [
            pool.submit(df.count) for df in (self.staging, self.mapping)
        ]
        try:
            dims = build_dimensions(
                self.spark, self.staging, self.sources.get("nutrition"), self.cfg
            )
            # Cache every dimension — each has 2-4 consumers (its own
            # write, bridges, fact key-resolution joins, the
            # nutrition-log count) — but do NOT prime them: unlike
            # staging (whose whole resolution lineage is expensive
            # enough that racing consumers must wait for one
            # materialization), a dim is one short job over the
            # already-cached staging, so letting load()'s concurrent
            # writes race the cold cache overlaps that work on idle
            # cores, while a priming barrier serializes it. Measured
            # (r10, 3 interleaved trials each): cache-no-prime median
            # 8.4 s transform+load vs 10.6 s with a prime barrier and
            # 10.9 s with no cache at all — the duplicated compute a
            # race admits is bounded by consumer count and beats both
            # alternatives in wall-clock. Dims are cardinality-bounded
            # (largest ~8.8k rows) so memory is nothing; the first
            # completer still publishes the cache for everyone
            # downstream (r9 verdict ask #4).
            for df in dims.values():
                df.cache()

            # bridges and facts both consume dims but not each other —
            # declare them concurrently too
            bridges_fut = pool.submit(build_bridges, self.staging, dims)
            facts = build_facts(
                self.spark, self.sources, self.staging, self.mapping,
                dims, self.cfg,
            )
            bridges = bridges_fut.result()
        finally:
            import sys

            try:
                if sys.exc_info()[0] is None:
                    # surface prime errors — load() needs warm caches —
                    # but never mask an in-flight builder exception with
                    # a secondary prime failure
                    for fut in primes:
                        fut.result()
            finally:
                pool.shutdown(wait=True)
        self.warehouse = {**dims, **bridges, **facts}
        return self.warehouse

    def load(self, *, partition_facts: bool = False) -> dict[str, str]:
        return load_warehouse(
            self.spark,
            self.warehouse,
            self.cfg.warehouse_dir,
            partition_facts=partition_facts,
        )

    def validate(self):
        return validate_warehouse(self.spark)

    # -- end-to-end --------------------------------------------------------

    def run(self, sources: dict[str, object] | None = None) -> dict:
        self.extract(sources)
        self.transform()
        self.load()
        results = self.validate()
        n_mapped = self.mapping.count() if self.mapping is not None else 0
        report = build_report(results, list(self.sources.keys()), n_mapped)
        write_report(report, self.cfg.output_dir)
        logger.info(
            "ETL complete | records: %s | score: %.1f/100",
            report["total_records"],
            report["validation"]["quality_score"],
        )
        return report
