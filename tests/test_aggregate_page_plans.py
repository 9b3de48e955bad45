"""Plan shape of the two per-job fixed-cost steps: the metrics aggregates
and the display page.

- Every metrics frame is ONE partition, also when persisted (Spark 4.1
  does not let AQE coalesce a cached plan), while the partial aggregate
  stays below the hash exchange (map-side combine kept).
- The page `display_text(df.orderBy(...).limit(k))` plans a top-K
  (TakeOrderedAndProject) with no range-partitioned shuffle, and renders
  exactly what the scalar `make_detokenizer` UDF renders.
- The Arrow kernel and the span mapper that calls it unpickle and run in
  a Python process that cannot import this package, as on workers
  launched without --py-files.
"""

from __future__ import annotations

import os
import re
import subprocess
import sys
from collections import Counter

import pyspark.sql.functions as F
import pytest

from txtlogparser_spark.config import FilterSpec, WorkspaceConfig
from txtlogparser_spark.functions.arrow_spans import make_arrow_span_mapper
from txtlogparser_spark.functions.detokenize import (
    detokenize_arrow,
    make_detokenizer,
    vocab_table,
)
from txtlogparser_spark.operators.aggregate import (
    ALL_ROWS_SENTINEL,
    one_pass_metrics,
    one_pass_metrics_flat,
    search_metrics,
    search_metrics_flat,
)
from txtlogparser_spark.plans.pipeline import LogPipeline

N_ROWS = 240


def _claimed(i: int) -> list:
    # 0-3 spans per row, ids in {-1 (unclaimed), 0, 1, 2}, repeats allowed
    return [(i * 7 + k) % 4 - 1 for k in range(i % 4)]


@pytest.fixture(scope="module")
def spans_df(spark):
    rows = [
        (
            f"src-{i:08d}",
            [{"filter_id": x, "search_id": -1} for x in _claimed(i)],
            [{"filter_id": -1, "search_id": x} for x in _claimed(i + 1)],
            _claimed(i),
            _claimed(i + 1),
        )
        for i in range(N_ROWS)
    ]
    return spark.createDataFrame(
        rows,
        "doc_id string, "
        "filter_spans array<struct<filter_id:int,search_id:int>>, "
        "search_spans array<struct<filter_id:int,search_id:int>>, "
        "f_id array<int>, s_id array<int>",
    ).repartition(4)


def _expected(shift: int) -> dict:
    occ, line = Counter(), Counter()
    for i in range(N_ROWS):
        ids = [x for x in _claimed(i + shift) if x != -1]
        occ.update(ids)
        line.update(set(ids))
    return {k: (occ[k], line[k]) for k in occ}


METRICS = [
    # (name, fn, id column, search-side data?, has sentinel row)
    ("one_pass_metrics", one_pass_metrics, "filter_id", 0, True),
    ("one_pass_metrics_flat", one_pass_metrics_flat, "filter_id", 0, True),
    ("search_metrics", search_metrics, "search_id", 1, False),
    ("search_metrics_flat", search_metrics_flat, "search_id", 1, False),
]


@pytest.mark.parametrize(
    "fn,id_col,shift,sentinel",
    [m[1:] for m in METRICS],
    ids=[m[0] for m in METRICS],
)
def test_metrics_single_partition_with_map_side_combine(
    spark, spans_df, fn, id_col, shift, sentinel
):
    m = fn(spans_df).persist()
    try:
        assert m.rdd.getNumPartitions() == 1
        got = {
            r[id_col]: (r["occurrence_count"], r["line_count"])
            for r in m.collect()
        }
        # includes the cached relation's executed plan
        plan = m._jdf.queryExecution().executedPlan().toString()
    finally:
        m.unpersist()
    want = _expected(shift)
    if sentinel:
        n = spans_df.count()
        assert got.pop(ALL_ROWS_SENTINEL) == (n, n)
    assert got == want
    # top-down: coalesce, final sum, hash exchange, map-side partial_sum
    assert re.search(
        r"Coalesce 1.*HashAggregate.*functions=\[sum\(.*"
        r"Exchange hashpartitioning.*partial_sum\(",
        plan,
        re.S,
    ), plan
    assert "SinglePartition" not in plan


# vocab with '\r' words so the reference line scrub has work to do
VOCAB = ["alpha", "beta\r", "gam\r\rma", "\rdelta", "eps\r\n", "zeta"]


def _tokens(i: int):
    if i % 9 == 0:
        return None
    if i % 9 == 1:
        return []
    if i % 9 == 2:
        return [len(VOCAB), -1, 0]  # out-of-range ids → <unk>
    return [(i * 5 + k) % len(VOCAB) for k in range(1 + i % 5)]


@pytest.fixture(scope="module")
def page_df(spark):
    rows = [
        (f"src-{i:08d}", _tokens(i), i % 2, i, "stale")
        for i in range(3 * 100)
    ]
    return spark.createDataFrame(
        rows,
        "doc_id string, tokens array<int>, source_rank int, line_no long, "
        "text string",
    ).repartition(4)


def _page(page_df):
    return page_df.orderBy("source_rank", "line_no").limit(100)


def test_page_plans_top_k_without_shuffle(spark, page_df):
    pipe = LogPipeline(spark, WorkspaceConfig(), VOCAB)
    page = pipe.display_text(_page(page_df))
    page.collect()
    plan = page._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan


def test_page_text_equals_scalar_detokenizer(spark, page_df):
    pipe = LogPipeline(spark, WorkspaceConfig(), VOCAB)
    page = pipe.display_text(_page(page_df))
    # the stale text column is replaced, the rendered one appended last
    assert page.columns == ["doc_id", "tokens", "source_rank", "line_no", "text"]
    got = [(r["doc_id"], r["text"]) for r in page.collect()]

    detok = make_detokenizer(VOCAB)
    want = [
        (r["doc_id"], r["text"])
        for r in _page(page_df)
        .withColumn("text", detok(F.col("tokens")))
        .collect()
    ]
    assert got == want
    texts = [t for _, t in got]
    assert "" in texts  # empty and null token arrays
    assert any("<unk>" in t for t in texts)
    assert not any("\r" in t for t in texts)  # the line scrub ran


_WORKER = r"""
import pickle, sys
if sys.argv[1] == "blocked":
    sys.modules["txtlogparser_spark"] = None  # any import of it now fails
import pyarrow as pa
kernel, table, mappers = pickle.loads(sys.stdin.buffer.read())
tok = pa.array([[0, 5], [], None, [9]], type=pa.list_(pa.int32()))
print(kernel(tok, table, scrub_cr=True).to_pylist())
for fn in mappers:
    (out,) = fn(iter([pa.RecordBatch.from_arrays([tok], names=["tokens"])]))
    print(out.schema.names[-1], out.column(out.num_columns - 1).to_pylist())
"""


def test_kernel_closures_need_no_package_on_workers(tmp_path):
    from pyspark import cloudpickle

    filters = [FilterSpec(1, 0, "alpha")]
    blob = cloudpickle.dumps(
        (
            detokenize_arrow,
            vocab_table(VOCAB),
            [
                make_arrow_span_mapper(
                    VOCAB, filters, include_search=False, include_text=t
                )[0]
                for t in (False, True)
            ],
        )
    )

    def run(mode):
        env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
        if mode == "importable":
            env["PYTHONPATH"] = os.path.dirname(os.path.dirname(__file__))
        r = subprocess.run(
            [sys.executable, "-c", _WORKER, mode],
            input=blob,
            capture_output=True,
            cwd=tmp_path,
            env=env,
            timeout=120,
        )
        assert r.returncode == 0, r.stderr.decode()
        return r.stdout.decode().splitlines()

    out = run("blocked")
    assert out == run("importable")
    assert out[0] == "['alpha zeta', '', '', '<unk>']"
    assert [line.split()[0] for line in out[1:]] == ["f_row", "text"]
