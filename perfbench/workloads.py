"""The timed unit of each workload: one run from opening the input to
the output being committed, with a span around every public call."""

from __future__ import annotations

import os

#: The shipped pipeline the MEDS workloads run, as the CLI ``run`` would.
PIPELINE = "pkg://meds_transforms_spark.pipelines.normalize.yaml"

#: corpus_curate calls -> the registered query with the same parameters
#: (and therefore the same DuckDB oracle).
CORPUS_CALLS = {
    "dsir": "docs_curation_e2e",      # plans.corpus.curate_corpus_dsir
    "semdedup": "emb_semantic_dedup",  # operators.dedup.semantic_dedup
}
#: Measured in traced runs only: its Spark run and its DuckDB oracle cost
#: more than the benchmark's time budget allows on every run.
TRACED_CALLS = {
    "ccnet": "docs_ccnet_e2e",        # plans.corpus.curate_corpus_ccnet
}


def meds_run(spark, tr, input_root: str, out_root: str, ckpt_dir: str | None) -> list[dict]:
    """The CLI ``run`` path in-process: open the dataset, run the
    pipeline, write ``canonical_sort(data)`` and the codes table.
    Returns the pipeline's per-stage checkpoint metrics."""
    from meds_transforms_spark.plans.pipeline import Pipeline, PipelineConfig, canonical_sort
    from meds_transforms_spark.sources.meds_dataset import MEDSDataset

    with tr.span("run"):
        with tr.span("sources.open"):
            src = MEDSDataset(spark, input_root)
            data = src.data()
            train = src.train_data()
            splits = src.subject_splits()
            meta = src.code_metadata()
        pipe = Pipeline(spark, PipelineConfig.from_yaml(PIPELINE), checkpoint_dir=ckpt_dir)
        with tr.span("pipeline.run"):
            out_data, out_meta = pipe.run(
                data, code_metadata=meta, train_data=train, subject_splits=splits
            )
        with tr.span("sources.write"):
            dst = MEDSDataset(spark, out_root)
            dst.write_data(canonical_sort(out_data))
            dst.write_code_metadata(out_meta)
    return pipe.last_run_metrics


def meds_stage_replays(spark, tr, input_root: str, ckpt_dir: str) -> None:
    """Replay each pipeline stage alone on its checkpointed input (the
    previous stage's data checkpoint and the latest codes checkpoint),
    writing to a noop sink, each in a span ``op.<stage>``."""
    from meds_transforms_spark.operators.base import get_stage
    from meds_transforms_spark.plans.pipeline import Pipeline, PipelineConfig
    from meds_transforms_spark.sources.meds_dataset import MEDSDataset

    cfg = PipelineConfig.from_yaml(PIPELINE)
    data_path, meta_path = None, None
    for i, spec in enumerate(cfg.stages):
        data = (
            spark.read.parquet(data_path) if data_path else MEDSDataset(spark, input_root).data()
        )
        meta = spark.read.parquet(meta_path) if meta_path else None
        is_meta = get_stage(spec.resolved_name).is_metadata
        with tr.span(f"op.{spec.name}"):
            d, m = Pipeline(spark, PipelineConfig(stages=[spec])).run(data, code_metadata=meta)
            (m if is_meta else d).write.format("noop").mode("overwrite").save()
        path = os.path.join(ckpt_dir, f"{i:02d}_{spec.name}")
        if is_meta:
            meta_path = path
        else:
            data_path = path


def corpus_run(spark, tr, tables_dir: str, out_root: str, calls=CORPUS_CALLS) -> None:
    """The curation calls, each output written to parquet."""
    import __spark_entry__ as E

    queries = E.queries()
    with tr.span("run"):
        for call, q in calls.items():
            with tr.span(f"corpus.{call}"):
                with tr.span(f"corpus.{call}.call"):
                    df = queries[q](spark, tables_dir)
                with tr.span(f"corpus.{call}.write"):
                    df.write.mode("overwrite").parquet(os.path.join(out_root, call))
