"""Training-data curation stages: the flagship end-to-end pipeline.

Composable Stage forms of the dedup/quality/token operators, wired for
the Task/Batch machinery. A task spec lists them (see
``examples/training_data_pipeline/task.yml``); because every stage is a
plan transformation, the WHOLE curation pipeline is one Catalyst plan —
the quality filter pushes down into the scan feeding dedup, and only
Task.store materializes the curated corpus (as partitioned parquet).

At 100 TB: ingest repartitions the scan, dedup is one hash-agg shuffle
on the content fingerprint, quality/token scoring are pure column
expressions (whole-stage codegen), and the final store partitions by
language so downstream training jobs prune.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pypers_spark.stage import Stage

# RepetitionFilter's per-doc token count, handed to TokenStats on `gated`.
REP_N_TOKENS = "_rep_n_tokens"


class IngestDocuments(Stage):
    """Open the documents table as a lazy scan, spread for compute."""

    outputs = ("docs",)

    def process(self, pipeline, config, status=None, **inputs):
        from pypers_spark.session import current_session

        spark = current_session()
        df = spark.read.parquet(f'{config["sf_dir"]}/documents.parquet')
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        return {"docs": df.repartition(n, F.col("doc_id"))}


class ExactDedup(Stage):
    """Drop exact duplicates (normalized-text md5, first writer wins).

    min_by aggregation, not a row_number window (r11, guide §2.3):
    the aggregate does MAP-SIDE partial aggregation — only one
    candidate row per fingerprint per input partition crosses the
    exchange, and no per-group sort runs on the reduce side. The
    row_number form shuffled and sorted EVERY row. doc_id is unique,
    so "min_by doc_id" is exactly the window's rank-1 row.
    """

    # `inputs`, not `consumes` (r11): RepetitionFilter reads the raw
    # docs scan for its per-doc metrics, so the field must survive this
    # stage; RepetitionFilter consumes it.
    inputs = ("docs",)
    outputs = ("deduped",)

    def process(self, pipeline, config, status=None, docs=None, **inputs):
        from pypers_spark.functions.text import normalize_text

        # One min_by PER COLUMN (not one struct of all columns): Catalyst
        # prunes unreferenced aggregate expressions, so a downstream stage
        # that consumes a subset of columns still gets a pruned FileScan —
        # a single min_by(struct(*)) would force every column through the
        # scan and the exchange.
        cols = docs.columns
        deduped = (
            docs.groupBy(F.md5(normalize_text(F.col("text"))).alias("fp"))
            .agg(
                *[
                    F.min_by(F.col(c), F.col("doc_id")).alias(c)
                    for c in cols
                ]
            )
            .select(*cols)
        )
        return {"deduped": deduped}


class QualityFilter(Stage):
    """Keep documents above a quality threshold (pure column exprs)."""

    consumes = ("deduped",)
    outputs = ("filtered",)

    def process(self, pipeline, config, status=None, deduped=None, **inputs):
        from pypers_spark.functions.text import punct_ratio, stopword_ratio, upper_ratio

        txt = F.col("text")
        len_score = F.least(F.length(txt) / F.lit(500.0), F.lit(1.0))
        quality = (
            0.4 * len_score
            + 0.3 * stopword_ratio(txt)
            + 0.2 * (1 - punct_ratio(txt))
            + 0.1 * (1 - upper_ratio(txt))
        )
        min_q = config.get("min_quality", 0.5)
        return {"filtered": deduped.withColumn("quality", quality).filter(F.col("quality") >= min_q)}


def pipe_curation(t) -> "DataFrame":  # noqa: F821
    """The WHOLE curation pipeline as one oracled query — built through
    the actual Stage/Pipeline machinery (create_pipeline → process), so
    the driver's value gate checks the orchestration path end-to-end:
    ingest → exact dedup → quality filter → repetition gates → per-lang
    rollup, composed into a single Catalyst plan.
    """
    from pypers_spark.functions.rounding import rnd
    from pypers_spark.pipeline import create_pipeline

    pipeline = create_pipeline(
        [IngestDocuments(), ExactDedup(), QualityFilter(), RepetitionFilter(), TokenStats()]
    )
    from pypers_spark.config import Config

    # LazyTables carries the sf_dir the driver passed to the query.
    config = Config({"ingest-documents": {"sf_dir": t._sf_dir}})
    data, _, _ = pipeline.process(input_id=1, config=config)
    return (
        data["lang_stats"]
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            rnd(F.col("avg_quality"), 4).alias("avg_quality"),
        )
        .orderBy("lang")
    )


def _duck_pipe_curation_sql() -> str:
    from pypers_spark.functions.text import (
        duck_normalize_text,
        duck_punct_ratio,
        duck_stopword_ratio,
        duck_upper_ratio,
    )
    from pypers_spark.functions.rounding import duck_dsum, duck_rnd

    toks = f"string_split({duck_normalize_text('text')}, ' ')"
    quality = (
        "0.4 * least(length(text) / 500.0, 1.0) + 0.3 * ("
        + duck_stopword_ratio("text")
        + ") + 0.2 * (1 - ("
        + duck_punct_ratio("text")
        + ")) + 0.1 * (1 - ("
        + duck_upper_ratio("text")
        + "))"
    )
    g2 = (
        f"CASE WHEN len({toks}) >= 2 THEN "
        f"list_transform(range(1, len({toks})), i -> {toks}[i] || ' ' || {toks}[i + 1]) "
        f"ELSE []::VARCHAR[] END"
    )
    dup2 = (
        f"CASE WHEN len({g2}) > 0 "
        f"THEN 1.0 - len(list_distinct({g2})) * 1.0 / len({g2}) ELSE 0.0 END"
    )
    top_frac = (
        f"list_max(list_transform(list_distinct({toks}), "
        f"x -> len(list_filter({toks}, y -> y = x)))) * 1.0 / len({toks})"
    )
    return f"""
WITH deduped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY md5({duck_normalize_text('text')}) ORDER BY doc_id) AS rn
    FROM documents
  ) WHERE rn = 1
),
scored AS (
  SELECT *, {quality} AS quality FROM deduped
),
filtered AS (SELECT * FROM scored WHERE quality >= 0.5),
gated AS (
  SELECT * FROM filtered WHERE ({dup2}) <= 0.3 AND ({top_frac}) <= 0.5
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(len({toks})) AS BIGINT) AS total_tokens,
       {duck_rnd(duck_dsum('quality') + ' / count(*)', 4)} AS avg_quality
FROM gated
GROUP BY lang
ORDER BY lang
"""


class RepetitionFilter(Stage):
    """Drop repetitive documents (Gopher-style gates): duplicate-2-gram
    fraction and top-token fraction thresholds over the token array —
    pure array expressions, no shuffle added to the composed plan."""

    consumes = ("filtered", "docs")
    outputs = ("gated",)

    def process(self, pipeline, config, status=None, filtered=None, docs=None, **inputs):
        from pypers_spark.functions.text import tokenize_ws

        max_dup2 = config.get("max_dup_2gram", 0.3)
        max_top = config.get("max_top_token", 0.5)
        # Metrics from the RAW docs scan, not from `filtered` (r11,
        # guide §2.1): `filtered` fed two plan branches (metrics + the
        # gated join's row side) whose column sets differ, so Catalyst
        # planned two separate scan→dedup→quality chains — the whole
        # dedup reduce ran twice (13.2 + 10.6 executor-cpu-s at sf0.1).
        # Dedup/quality only DROP rows and never rewrite a surviving
        # row's text, and each doc_id's metrics depend only on its own
        # text, so metrics computed pre-filter are identical for every
        # row the inner join keeps; the extra metric rows (for docs the
        # filters drop) are discarded by the join. The metrics branch
        # reads a (doc_id, text)-pruned scan with NO dedup exchange, and
        # the dedup+quality chain runs ONCE. (A tracked_persist of
        # `filtered` measured WORSE — both consumers race to build the
        # unpruned full-row cache in concurrent stages: 68 cpu-s.)
        tk = tokenize_ws(F.col("text"))
        # Adjacent pairs built IN-ARRAY then exploded with the tokens in
        # ONE tagged stream (guide §2.2): the old posexplode + lead
        # window shuffled and SORTED every token row just to look one
        # element ahead, then a second explode + join merged the two
        # metric families. Tokens never contain a space and every pair
        # does, but the tag rides in the grouping key anyway. Both
        # metrics stay behind AGGREGATIONS — a bare array-expression
        # fraction gets re-substituted per reference by the pushed
        # gated filter (no CSE; measured 43 executor-cpu-s that way).
        # Explode + two-level agg is also O(n) per doc where the
        # in-array top-token count is O(n²) — the form that survives a
        # 1M-token document.
        # zip_with over two slices, NOT element_at(tk, i) in a transform
        # lambda (r12): project collapsing inlines the full tokenize
        # subtree (regex + lower + trim + split) into every lambda-body
        # reference, so the element_at form re-tokenized the document
        # TWICE PER PAIR — O(tokens²) work per doc (confirmed in the
        # committed plan: split(trim(regexp_replace(...))) inside the
        # lambdafunction). zip_with's lambda references its ARGUMENTS;
        # tokenize is evaluated a constant ~5x per row (slice/size
        # args), not per element. slice(tk, 2, size-1) is [] for
        # single-token docs, so no emptiness guard is needed.
        pairs_arr = F.zip_with(
            F.slice(tk, 1, F.size(tk) - 1),
            F.slice(tk, 2, F.size(tk) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        )
        tagged = docs.select(
            "doc_id",
            F.explode(
                F.concat(
                    F.transform(
                        tk,
                        lambda t_: F.struct(
                            F.lit(0).alias("is_pair"), t_.alias("v")
                        ),
                    ),
                    F.transform(
                        pairs_arr,
                        lambda p_: F.struct(
                            F.lit(1).alias("is_pair"), p_.alias("v")
                        ),
                    ),
                )
            ).alias("e"),
        )
        per_doc = (
            tagged.groupBy(
                "doc_id",
                F.col("e.is_pair").alias("is_pair"),
                F.col("e.v").alias("v"),
            )
            .agg(F.count("*").alias("c"))
            .groupBy("doc_id")
            .agg(
                F.max(F.when(F.col("is_pair") == 0, F.col("c"))).alias("top_cnt"),
                F.sum(F.when(F.col("is_pair") == 0, F.col("c"))).alias("n_tokens"),
                F.sum(F.when(F.col("is_pair") == 1, F.col("c"))).alias("n_pairs"),
                F.count(F.when(F.col("is_pair") == 1, F.lit(1))).alias(
                    "n_distinct_pairs"
                ),
            )
        )
        metrics = per_doc.select(
            "doc_id",
            F.when(
                F.coalesce(F.col("n_pairs"), F.lit(0)) > 0,
                F.lit(1.0) - F.col("n_distinct_pairs") / F.col("n_pairs"),
            ).otherwise(F.lit(0.0)).alias("dup_2gram_frac"),
            (F.col("top_cnt") / F.col("n_tokens")).alias("top_token_frac"),
            # Carried through so TokenStats never re-tokenizes the
            # surviving text (r12, guide §2.1): n_tokens is the count of
            # this doc's token rows = size(tokenize_ws(text)) exactly,
            # and every gated row has a metrics row by construction.
            # Private name: a documents table with its own n_tokens
            # column would otherwise make the join ambiguous.
            F.col("n_tokens").cast("int").alias(REP_N_TOKENS),
        )
        gated = filtered.join(metrics, "doc_id").filter(
            (F.col("dup_2gram_frac") <= max_dup2) & (F.col("top_token_frac") <= max_top)
        )
        return {"gated": gated}


class TokenStats(Stage):
    """Attach token counts; emit the curated corpus + a per-lang rollup."""

    consumes = ("gated",)
    outputs = ("curated", "lang_stats")

    def process(self, pipeline, config, status=None, gated=None, **inputs):
        from pypers_spark.functions.text import tokenize_bpeish, tokenize_ws

        # Reuse the upstream metrics aggregation's exact token count
        # when RepetitionFilter ran (one fewer full tokenize pass over
        # the survivors — guide §2.1); fall back to tokenizing when the
        # pipeline is composed without it.
        if REP_N_TOKENS in gated.columns:
            curated = gated.withColumn("n_tokens_ws", F.col(REP_N_TOKENS)).drop(
                REP_N_TOKENS
            )
        else:
            curated = gated.withColumn(
                "n_tokens_ws", F.size(tokenize_ws(F.col("text")))
            )
        curated = curated.withColumn(
            "n_tokens_bpeish", F.size(tokenize_bpeish(F.col("text")))
        )
        from pypers_spark.functions.rounding import dsum

        lang_stats = curated.groupBy("lang").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens_ws").cast("bigint").alias("total_tokens"),
            # exact order-independent mean (see functions/rounding)
            (dsum(F.col("quality")) / F.count(F.lit(1))).alias("avg_quality"),
        )
        return {"curated": curated, "lang_stats": lang_stats}


QUERIES = {"pipe_curation": pipe_curation}
ORACLES = {"pipe_curation": _duck_pipe_curation_sql()}
