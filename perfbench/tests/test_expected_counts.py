"""Counts derived by the generator equal a real pipeline run's."""

import gen


def test_expected_counts_match_a_pipeline_run(tmp_path):
    from fitness_nutrition_data_pipeline_spark.config import PipelineConfig
    from fitness_nutrition_data_pipeline_spark.pipeline import FitnessWarehousePipeline
    from fitness_nutrition_data_pipeline_spark.session import get_spark

    out = gen.generate(str(tmp_path / "in"), 11, gen.TINY)
    data = out["data_dir"]
    cfg = PipelineConfig(
        data_dir=data,
        fitbit_dir=f"{data}/fitbit",
        warehouse_dir=str(tmp_path / "warehouse"),
        output_dir=str(tmp_path / "output"),
    )
    spark = get_spark("perfbench-test", master="local[2]")
    report = FitnessWarehousePipeline(spark, cfg).run()
    assert gen.counts_mismatch(out["expected"], report["table_counts"]) == []
    assert report["validation"]["issues"] == []
