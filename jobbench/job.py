"""One benchmark job: what tools/run_job.py ships, through the same public
calls in the same order with their default options, followed by the
100-row display page a viewer asks for next.

Each group of public calls runs inside `tracer.span(layer)`. Spans are kept
in memory as (name, start, end) on the perf_counter clock. With `tag_jobs`
the Spark jobs a span launches carry the job group "<job id>|<span name>",
so that per-layer SQL and stage metrics can be read back from the Spark UI
REST API afterwards (jobbench/layers.py).
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from typing import Iterator, List, Tuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from txtlogparser_spark.config import WorkspaceConfig
from txtlogparser_spark.operators.aggregate import ALL_ROWS_SENTINEL, one_pass_metrics
from txtlogparser_spark.plans.pipeline import LogPipeline

from golden import PAGE_ROWS


class Tracer:
    """Spans of one job, all under `job_id`."""

    def __init__(self, spark: SparkSession, job_id: str, tag_jobs: bool) -> None:
        self.sc = spark.sparkContext
        self.job_id = job_id
        self.tag_jobs = tag_jobs
        self.spans: List[Tuple[str, float, float]] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if self.tag_jobs:
            self.sc.setJobGroup(f"{self.job_id}|{name}", name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter()))
            if self.tag_jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def run_job(
    spark: SparkSession,
    ws: WorkspaceConfig,
    vocab: List[str],
    info: DataFrame,
    data_dir: str,
    out_dir: str,
    tracer: Tracer,
) -> Tuple[int, List[List[str]]]:
    """Returns (rows_routed, page rows as [doc_id, text])."""
    with tracer.span("pipeline.plan"):
        pipe = LogPipeline(spark, ws, vocab, source_info=info)
        seqs = pipe.load_sequences(os.path.join(data_dir, "sequences"))
        routed = pipe.run(seqs)
    with tracer.span("sink.write"):
        pipe.write_sinks(routed, out_dir)
    with tracer.span("aggregate.metrics"):
        sink = spark.read.parquet(os.path.join(out_dir, "routed"))
        m = one_pass_metrics(sink).persist()
        srow = m.where(F.col("filter_id") == ALL_ROWS_SENTINEL).select("line_count").collect()
        n = int(srow[0][0]) if srow else 0
        fc = m.where(F.col("filter_id") != ALL_ROWS_SENTINEL)
        fc.coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "metrics_filters"))
        m.unpersist()
    with tracer.span("aggregate.searches"):
        sc = pipe.search_counts(sink)
        sc.coalesce(1).write.mode("overwrite").parquet(os.path.join(out_dir, "metrics_searches"))
    with tracer.span("page.display"):
        page = pipe.display_text(
            sink.select("doc_id", "tokens", "source_rank", "line_no")
            .orderBy("source_rank", "line_no")
            .limit(PAGE_ROWS)
        ).collect()
    return n, [[r["doc_id"], r["text"]] for r in page]
