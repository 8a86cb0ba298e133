"""End-to-end curation pipeline test: the flagship Stage composition."""

from __future__ import annotations

import shutil

import pytest

from pypers_spark.batch import Batch


@pytest.fixture
def example_task(tmp_path, sf_dir):
    src = "examples/training_data_pipeline/task.yml"
    dst = tmp_path / "curation"
    dst.mkdir()
    text = open(src).read().replace("/root/testdata/sf0.001", sf_dir)
    (dst / "task.yml").write_text(text)
    return dst


def test_curation_pipeline_end_to_end(example_task, spark):
    batch = Batch()
    batch.load(example_task)
    rc = batch.context(example_task)
    assert [s.id for s in rc.pipeline.stages] == [
        "ingest-documents", "exact-dedup", "quality-filter",
        "repetition-filter", "token-stats",
    ]
    data = rc.run()
    curated = data[1]["curated"]
    stats = data[1]["lang_stats"]
    n_docs = spark.read.parquet(f"{batch.task(example_task).resolve_path('data/1/curated.parquet')}").count()
    assert n_docs == curated.count() > 0
    assert {"n_tokens_ws", "n_tokens_bpeish", "quality"} <= set(curated.columns)
    # consumed intermediates are not persisted
    assert not (example_task / "data" / "1" / "docs.parquet").exists()
    assert not (example_task / "data" / "1" / "filtered.parquet").exists()
    assert not (example_task / "data" / "1" / "gated.parquet").exists()
    # repetition gates enforced
    assert curated.filter("dup_2gram_frac > 0.3 OR top_token_frac > 0.5").count() == 0
    # quality floor enforced
    assert curated.filter("quality < 0.5").count() == 0
    # rollup consistent with the corpus
    total = stats.groupBy().sum("n_docs").collect()[0][0]
    assert total == n_docs


def test_curation_is_one_catalyst_plan(example_task, spark):
    """The stages compose into ONE Catalyst plan over a single SOURCE:
    the repetition-metric aggregation branch re-scans the same file
    (columnar, pruned to doc_id/text) rather than caching — every
    FileScan in the plan reads the one source, and no scan reads
    columns the composed pipeline doesn't need."""
    batch = Batch()
    batch.load(example_task)
    rc = batch.context(example_task)
    data, _, _ = rc.pipeline.process(input_id=1, config=rc.config)
    explained = data["lang_stats"]._jdf.queryExecution().toString()
    n_scans = explained.count("FileScan")
    assert 1 <= n_scans <= 3
    assert explained.count("documents.parquet") >= n_scans  # all same source
    # column pruning: no scan reads columns the pipeline doesn't need
    read_schemas = [seg.split(">")[0] for seg in explained.split("ReadSchema: ")[1:]]
    assert read_schemas and all("n_chars" not in rs for rs in read_schemas)
    # no Python row UDFs anywhere in the composed pipeline
    assert "BatchEvalPython" not in explained

CURATED_COLUMNS = [
    "doc_id", "text", "lang", "source", "n_chars", "quality",
    "dup_2gram_frac", "top_token_frac", "n_tokens_ws", "n_tokens_bpeish",
]


def test_docs_with_own_n_tokens_column(tmp_path, spark, sf_dir):
    """A documents table that carries its own ``n_tokens`` column neither
    collides with RepetitionFilter's token count nor stands in for it."""
    from pyspark.sql import functions as F

    from pypers_spark.config import Config
    from pypers_spark.operators.curation import (
        ExactDedup, IngestDocuments, QualityFilter, RepetitionFilter, TokenStats,
    )
    from pypers_spark.pipeline import create_pipeline

    own_dir = tmp_path / "own"
    spark.read.parquet(f"{sf_dir}/documents.parquet").withColumn(
        "n_tokens", F.lit(-1)
    ).write.parquet(str(own_dir / "documents.parquet"))
    pipeline = create_pipeline(
        [IngestDocuments(), ExactDedup(), QualityFilter(), RepetitionFilter(), TokenStats()]
    )

    def run(src):
        config = Config({"ingest-documents": {"sf_dir": str(src)}})
        return pipeline.process(input_id=1, config=config)[0]

    plain, own = run(sf_dir), run(own_dir)
    assert plain["curated"].columns == CURATED_COLUMNS
    assert own["curated"].columns == CURATED_COLUMNS[:5] + ["n_tokens"] + CURATED_COLUMNS[5:]
    assert plain["lang_stats"].schema == own["lang_stats"].schema
    assert sorted(plain["lang_stats"].collect()) == sorted(own["lang_stats"].collect())
    assert own["curated"].filter("n_tokens != -1").count() == 0

    # Without RepetitionFilter, TokenStats tokenizes instead of reading
    # the table's own column.
    gated = spark.read.parquet(str(own_dir / "documents.parquet")).withColumn(
        "quality", F.lit(1.0)
    )
    curated = TokenStats().process(pipeline, Config(), gated=gated)["curated"]
    assert curated.filter("n_tokens_ws <= 0").count() == 0
