"""Physical-plan shape assertions — the scale contract.

Correctness tests say the operators compute the right rows; these say
Catalyst produced the plan we designed for 100 TB: broadcast joins for
dimension tables (no fact-table shuffle), predicate pushdown into
parquet scans, and pipeline end-to-end viability.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_measurements_broadcasts(spark, meds_df):
    from meds_transforms_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )
    from meds_transforms_spark.operators.filter_measurements import filter_measurements

    meta = aggregate_code_metadata(
        meds_df, aggregations=["code/n_subjects", "code/n_occurrences"]
    )
    out = filter_measurements(meds_df, meta, min_subjects_per_code=2)
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftSemi" in plan, plan


def test_normalization_broadcasts(spark, meds_df):
    from meds_transforms_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )
    from meds_transforms_spark.operators.fit_vocabulary_indices import (
        fit_vocabulary_indices,
    )
    from meds_transforms_spark.operators.normalization import normalization

    meta = fit_vocabulary_indices(
        aggregate_code_metadata(
            meds_df,
            aggregations=["values/n_occurrences", "values/sum", "values/sum_sqd"],
        )
    )
    plan = plan_of(normalization(meds_df, meta))
    assert "BroadcastHashJoin" in plan, plan
    # No sort-merge join of the fact table anywhere in this plan.
    assert "SortMergeJoin" not in plan, plan


def test_parquet_filter_pushdown(spark, tmp_path, meds_df):
    path = str(tmp_path / "events")
    meds_df.write.parquet(path)
    df = spark.read.parquet(path).filter(F.col("subject_id") == 1).select("code")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(subject_id), EqualTo(subject_id,1)" in plan, plan
    # Column pruning: scan should read only the needed columns.
    assert "ReadSchema: struct<subject_id:bigint,code:string>" in plan, plan


def test_aggregate_is_partial_final(spark, meds_df):
    from meds_transforms_spark.operators.aggregate_code_metadata import (
        aggregate_code_metadata,
    )

    plan = plan_of(
        aggregate_code_metadata(meds_df, aggregations=["code/n_occurrences"])
    )
    # Two-phase hash aggregation (map-side partial + final) — the native
    # replacement for the reference's per-shard map / cross-shard reduce.
    assert plan.count("HashAggregate") >= 2, plan


def test_pipeline_checkpoint_resume(spark, meds_df, tmp_path):
    from meds_transforms_spark.plans import Pipeline, PipelineConfig

    cfg = PipelineConfig.from_yaml(
        """
stages:
  - filter_subjects: {min_events_per_subject: 2}
"""
    )
    ckpt = str(tmp_path / "ckpt")
    data1, _ = Pipeline(spark, cfg, checkpoint_dir=ckpt).run(meds_df)
    n1 = data1.count()
    # Resume: second run must read the committed checkpoint, not recompute.
    data2, _ = Pipeline(spark, cfg, checkpoint_dir=ckpt, resume=True).run(
        meds_df.limit(0)  # poisoned input proves the checkpoint was used
    )
    assert data2.count() == n1 > 0


def test_pipeline_base_stage_alias_and_overrides(spark, meds_df):
    """Reference config fidelity (configs/pipeline.py:440-486): an
    aliased stage (_base_stage) resolves to its registered operator and
    may appear twice under different names; dotted CLI overrides patch
    the aliased stage's config by its pipeline-local name."""
    from meds_transforms_spark.plans import Pipeline, PipelineConfig

    cfg = PipelineConfig.from_yaml(
        """
stages:
  - keep_busy_subjects:
      _base_stage: filter_subjects
      min_events_per_subject: 99
  - count_codes:
      _base_stage: aggregate_code_metadata
      aggregations: [code/n_occurrences]
"""
    )
    assert cfg.stages[0].resolved_name == "filter_subjects"
    # Override by the ALIAS name, YAML-typed value.
    cfg.apply_overrides(
        ["keep_busy_subjects.min_events_per_subject=4", "worker_tag=abc"]
    )
    assert cfg.stages[0].config["min_events_per_subject"] == 4
    assert cfg.additional_params["worker_tag"] == "abc"

    data, meta = Pipeline(spark, cfg).run(meds_df)
    # n_unique counts the null-time group: s1=5 events, s2=4, s3=3;
    # min_events=4 keeps subjects 1 and 2, drops 3.
    assert {r.subject_id for r in data.select("subject_id").distinct().collect()} == {1, 2}
    counts = {r.code: r["code/n_occurrences"] for r in meta.collect()}
    assert counts["HR"] == 3  # subject 1: 2, subject 2: 1


def test_pipeline_config_pkg_uri():
    """pkg:// pipeline addressing (reference utils.py:10-33): the
    shipped example pipeline resolves through importlib.resources."""
    from meds_transforms_spark.plans import PipelineConfig

    cfg = PipelineConfig.from_yaml(
        "pkg://meds_transforms_spark.pipelines.normalize.yaml"
    )
    names = [s.name for s in cfg.stages]
    assert names == [
        "filter_subjects",
        "fit_normalization_stats",
        "occlude_outliers",
        "fit_vocabulary_indices",
        "normalization",
    ]
    assert cfg.stage_by_name("fit_normalization_stats").resolved_name == (
        "aggregate_code_metadata"
    )


def test_metadata_stage_reads_train_only_after_data_stage(spark, meds_df):
    """Train-only contract (reference configs/pipeline.py:415-428): a
    metadata stage after a data stage must aggregate over the train
    split of the CURRENT frame — tuning/held-out rows leaking into
    fitted statistics is the classic train/test contamination bug."""
    from meds_transforms_spark.plans import Pipeline, PipelineConfig

    splits = spark.createDataFrame(
        [(1, "train"), (2, "tuning"), (3, "train")],
        "subject_id long, split string",
    )
    cfg = PipelineConfig.from_yaml(
        """
stages:
  - filter_subjects: {min_events_per_subject: 4}
  - aggregate_code_metadata: {aggregations: [code/n_subjects, code/n_occurrences]}
"""
    )
    _, meta = Pipeline(spark, cfg).run(meds_df, subject_splits=splits)
    got = {r.code: r["code/n_subjects"] for r in meta.collect()}
    # n_unique counts the null-time group: s1=5, s2=4, s3=3 events.
    # Subject 3 (train, 3 events) falls to filter_subjects; subject 2
    # (4 events) survives it but is tuning. Only subject 1's rows may
    # reach the aggregate: HR seen by exactly 1 subject, and
    # subject-2-only codes absent entirely. A stale pre-filter train
    # frame would leak subject 3's HR (=2); no split filtering would
    # leak subject 2's (=2).
    assert got["HR"] == 1
    assert "ADMISSION//PULMONARY" not in got
    assert "EYE_COLOR//BLUE" not in got

    # Same pipeline with a split COLUMN on the data (partitioned-layout
    # path) must behave identically.
    with_split = meds_df.join(splits, "subject_id", "left")
    _, meta2 = Pipeline(spark, cfg).run(with_split)
    got2 = {r.code: r["code/n_subjects"] for r in meta2.collect()}
    assert got2["HR"] == 1 and "EYE_COLOR//BLUE" not in got2

    # And via train_data (legacy entry): train subject ids are static,
    # so the slice is the current frame semi-joined on them.
    train_frame = meds_df.filter(F.col("subject_id").isin(1, 3))
    _, meta3 = Pipeline(spark, cfg).run(meds_df, train_data=train_frame)
    got3 = {r.code: r["code/n_subjects"] for r in meta3.collect()}
    assert got3["HR"] == 1 and "EYE_COLOR//BLUE" not in got3


def test_q15_q11_single_fact_scan(spark):
    """Regression: the scalar-aggregate branch re-scanned lineitem (the
    join's pushed isnotnull broke ReusedExchange canonicalization) —
    the pinned aggregate must leave exactly one lineitem scan."""
    import __spark_entry__ as E

    for name in ("tpch_q15", "tpch_q11"):
        df = E.queries()[name](spark, "/root/testdata/sf0.01")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("lineitem.parquet") <= 1, name
        assert df.count() >= 1, name


NORMALIZE_YAML = "pkg://meds_transforms_spark.pipelines.normalize.yaml"


def plan_leaves(df) -> list[tuple[str, str]]:
    """(node class, node string) of every leaf of the optimized logical plan."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    return [
        (leaves.apply(i).getClass().getSimpleName(), leaves.apply(i).toString())
        for i in range(leaves.size())
    ]


def _write_normalize_input(spark, root, split_column: bool):
    """A MEDS dataset for normalize.yaml under ``root``: 40 subjects
    (3 in 4 train), 1-5 timed events each plus one static row, one HR
    outlier far past 4 sigma. Values are multiples of 0.5, so every
    float sum is exact and results cannot depend on summation order.
    The split is a ``split=`` partition column, or with
    ``split_column=False`` a ``subject_splits`` file. Returns the
    opened ``(data, subject_splits)``."""
    import datetime as dt

    from meds_transforms_spark.schema import MEDS_DATA_SCHEMA
    from meds_transforms_spark.sources.meds_dataset import MEDSDataset

    rows, splits = [], []
    for s in range(1, 41):
        splits.append((s, "train" if s % 4 else "held_out"))
        rows.append((s, None, f"EYE_COLOR//{s % 3}", None, None))
        for e in range(1 + s % 5):
            t = dt.datetime(2020, 1, 1) + dt.timedelta(days=s, hours=e)
            hr = 1000.0 if (s, e) == (3, 0) else 60.0 + ((s * 7 + e * 3) % 80) / 2
            rows.append((s, t, "HR", hr, None))
            rows.append((s, t, f"LAB//{e % 3}", float((s + e) % 9) / 2, None))
    data = spark.createDataFrame(rows, MEDS_DATA_SCHEMA)
    split_df = spark.createDataFrame(splits, "subject_id long, split string")
    ds = MEDSDataset(spark, str(root))
    if split_column:
        ds.write_data(data.join(split_df, "subject_id"))
        return ds.data(), None
    ds.write_data(data)
    ds.write_subject_splits(split_df)
    return ds.data(), ds.subject_splits()


def test_lazy_pipeline_pins_shared_boundaries(spark, tmp_path):
    """Without checkpoint_dir, Pipeline.run pins the shared stage
    boundaries: the returned data and codes frames read only pinned
    RDDs, never the input files again (each write would otherwise
    re-run filter_subjects and the train-split aggregate). With
    checkpoint_dir, they read only the checkpoint parquet."""
    from meds_transforms_spark.plans import Pipeline, PipelineConfig

    data, _ = _write_normalize_input(spark, tmp_path / "in", split_column=True)
    cfg = PipelineConfig.from_yaml(NORMALIZE_YAML)

    out, meta = Pipeline(spark, cfg).run(data)
    for df in (out, meta):
        leaves = plan_leaves(df)
        assert leaves and {cls for cls, _ in leaves} == {"LogicalRDD"}, leaves

    ckpt = str(tmp_path / "ckpt")
    out, meta = Pipeline(spark, cfg, checkpoint_dir=ckpt).run(data)
    for df in (out, meta):
        leaves = plan_leaves(df)
        assert leaves and {cls for cls, _ in leaves} == {"LogicalRelation"}, leaves
        assert all(ckpt in f for f in df.inputFiles()), df.inputFiles()


@pytest.mark.parametrize("split_column", [True, False], ids=["split_col", "subject_splits"])
@pytest.mark.parametrize("partitions", [1, 4])
def test_lazy_pipeline_matches_checkpointed(spark, tmp_path, split_column, partitions):
    """The pinned lazy run and the parquet-checkpointed run of
    normalize.yaml return the same data rows and the same codes table,
    for both split conventions and at 1 and 4 shuffle partitions."""
    import datetime as dt

    from meds_transforms_spark.plans import Pipeline, PipelineConfig

    def rows(df):
        return sorted(map(tuple, df.collect()), key=repr)

    data, splits = _write_normalize_input(spark, tmp_path / "in", split_column)
    cfg = PipelineConfig.from_yaml(NORMALIZE_YAML)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        lazy = Pipeline(spark, cfg).run(data, subject_splits=splits)
        ckpt = Pipeline(spark, cfg, checkpoint_dir=str(tmp_path / "ckpt")).run(
            data, subject_splits=splits
        )
        lazy_data, ckpt_data = rows(lazy[0]), rows(ckpt[0])
        lazy_meta, ckpt_meta = rows(lazy[1]), rows(ckpt[1])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert lazy_data == ckpt_data
    assert lazy_meta == ckpt_meta
    # the fixture exercises every stage: subjects filtered, the HR
    # outlier occluded, codes indexed
    assert 0 < len(lazy_data) < data.count()
    assert [r[:2] for r in lazy_data if r[1] is not None and r[3] is None] == [
        (3, dt.datetime(2020, 1, 4))
    ]
    assert len(lazy_meta) > 3


def test_data_only_pipeline_places_no_pins(spark, tmp_path):
    """Pins go only where a boundary has two consumers: a pipeline of
    data stages alone (the curate-style text pipeline, or MEDS data
    stages) composes into the same plan as calling the stages by hand."""
    from meds_transforms_spark.operators.filter_subjects import filter_subjects
    from meds_transforms_spark.plans import Pipeline, PipelineConfig
    from meds_transforms_spark.plans.pipeline import _shared_boundaries

    curate = PipelineConfig.from_yaml(
        """
stages:
  - gopher_quality_filter: {min_words: 8, min_required_stopwords: 1}
  - filter_rows: {matcher: {gopher_pass: true}}
  - dedupe_doc_lines: {}
  - dsir_weights: {target: "source = 'tgt'", n_buckets: 64}
"""
    )
    assert _shared_boundaries(curate.stages) == set()

    data, _ = _write_normalize_input(spark, tmp_path / "in", split_column=True)
    cfg = PipelineConfig.from_yaml(
        """
stages:
  - filter_subjects: {min_events_per_subject: 3}
  - filter_subjects: {min_events_per_subject: 4}
"""
    )
    out, _ = Pipeline(spark, cfg).run(data)
    by_hand = filter_subjects(
        filter_subjects(data, min_events_per_subject=3), min_events_per_subject=4
    )
    assert "LogicalRDD" not in {cls for cls, _ in plan_leaves(out)}
    plan = out._jdf.queryExecution().optimizedPlan()
    assert plan.sameResult(by_hand._jdf.queryExecution().optimizedPlan())
