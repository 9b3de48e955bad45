"""Detokenization: tokens array<int32> → text, vectorized.

The input table stores pre-tokenized sequences (BASELINE.json input_hint);
the matchers operate on text, so the first pipeline stage reconstructs
`text = " ".join(vocab[t])` and applies the reference's line scrub
(OutputData.cpp:78-90: strip trailing \\r, interior \\r → ' ' — a no-op on
generator output by construction, reproduced for parity on arbitrary input).

Four entry points over one semantics:

- `detokenize_arrow(tokens, table)` — the Arrow kernel: one whole-batch
  `take` of the vocab table, re-listed on the input offsets, then
  `binary_join`. No per-row Python. Used by `detokenize_frame` and by the
  mapInArrow span stage's `text` column (functions/arrow_spans.py).
- `detokenize_frame(df, vocab)` — the `text` stage of `LogPipeline.parsed`
  (non-fused path, session, streaming) and of the display page
  (`LogPipeline.display_text`). Appends `text` through a mapInArrow step
  running that kernel. mapInArrow is a logical node the optimizer does not
  push through a `limit`, so `orderBy(...).limit(k)` below it keeps its
  top-K plan (TakeOrderedAndProject: one job, no shuffle). A scalar UDF's
  Project is pushed below the limit instead, which turns the page into a
  range-partitioned shuffle of every row's tokens.
- `make_detokenizer(vocab)` — scalar pandas UDF with a numpy fancy-indexed
  vocab table; no pipeline stage uses it. It is the reference the kernel
  is pinned against (tests/test_aggregate_page_plans.py).
- `detokenize_expr(vocab)` — pure-Catalyst variant via `transform()` +
  `array_join()` over an array literal; stays inside whole-stage codegen
  and suits small vocabularies. For a 4K+ vocab the literal bloats the
  plan (a 4,096-literal page planned and ran slower than the kernel).

Token ids outside [0, len(vocab)) map to the literal "<unk>" everywhere;
empty and null token arrays render as "".

This module's functions are pickled by value, so a Python worker running
the kernel (inside `detokenize_frame`'s or the span mapper's closure) does
not need to import this package.
"""

from __future__ import annotations

import sys
from typing import List, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark import cloudpickle
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import StringType, StructField, StructType

UNK = "<unk>"

# by reference, a closure naming `detokenize_arrow` would make every worker
# import txtlogparser_spark (a launch without --py-files would fail there)
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def vocab_table(vocab: Sequence[str]) -> pa.StringArray:
    """The kernel's lookup table: the vocab plus one trailing "<unk>" slot
    that out-of-range ids are clamped onto."""
    return pa.array(list(vocab) + [UNK], type=pa.string())


def needs_cr_scrub(vocab: Sequence[str]) -> bool:
    """True when some vocab word holds a '\\r', i.e. when the reference's
    line scrub can change a detokenized line."""
    return any("\r" in w for w in vocab if isinstance(w, str))


def detokenize_arrow(
    tokens: pa.Array, table: pa.StringArray, *, scrub_cr: bool = False
) -> pa.StringArray:
    """list<int> token arrays → space-joined words of `table` (built by
    `vocab_table`), whole batch at once.

    Ids outside [0, len(table) - 1) and null elements become "<unk>";
    empty and null lists become "". `scrub_cr` applies the reference's
    line scrub (OutputData.cpp:78-90) exactly as `make_detokenizer` does:
    "\\r\\n" → "\\n", trailing "\\r" stripped, interior "\\r" → " "."""
    unk = len(table) - 1
    ids = tokens.values.fill_null(-1)
    ids = pc.if_else(
        pc.and_(pc.greater_equal(ids, 0), pc.less(ids, unk)), ids, unk
    )
    words = pa.ListArray.from_arrays(tokens.offsets, table.take(ids))
    text = pc.binary_join(words, " ")
    if tokens.null_count:
        # a null slot's child values are unspecified, whatever it spans
        text = pc.if_else(tokens.is_null(), "", text)
    if scrub_cr:
        text = pc.replace_substring(text, "\r\n", "\n")
        text = pc.utf8_rtrim(text, characters="\r")
        text = pc.replace_substring(text, "\r", " ")
    return text


def detokenize_frame(df: DataFrame, vocab: Sequence[str]) -> DataFrame:
    """`df` with `text` (re)built from `tokens` by `detokenize_arrow` in a
    mapInArrow step, scrubbed like `make_detokenizer`. An existing `text`
    column is dropped first; the new one is the last column."""
    table = vocab_table(vocab)
    scrub = needs_cr_scrub(vocab)
    base = df.drop("text")
    schema = StructType(
        list(base.schema.fields) + [StructField("text", StringType(), True)]
    )

    def fn(batches):
        for batch in batches:
            text = detokenize_arrow(batch.column("tokens"), table, scrub_cr=scrub)
            yield pa.RecordBatch.from_arrays(
                list(batch.columns) + [text],
                names=list(batch.schema.names) + ["text"],
            )

    return base.mapInArrow(fn, schema)


def make_detokenizer(vocab: Sequence[str], sep: str = " "):
    """Arrow-batched pandas UDF: array<int32> tokens → text."""
    # +1 slot for out-of-range ids, clipped onto it.
    table = np.asarray(list(vocab) + [UNK], dtype=object)
    n = len(vocab)
    scrub = needs_cr_scrub(vocab)

    @F.pandas_udf(StringType())
    def detok(tokens: pd.Series) -> pd.Series:
        out: List[str] = []
        append = out.append
        for arr in tokens:
            if arr is None or len(arr) == 0:
                append("")
                continue
            ids = np.asarray(arr, dtype=np.int64)
            ids = np.where((ids >= 0) & (ids < n), ids, n)
            append(sep.join(table[ids]))
        # reference line scrub (OutputData.cpp:78-90); vocab words normally
        # contain no '\r', so this is a vectorized no-op safeguard
        s = pd.Series(out, dtype="object")
        if scrub:
            s = s.str.replace("\r\n", "\n").str.rstrip("\r").str.replace("\r", " ")
        return s

    return detok


def detokenize_expr(vocab: Sequence[str], tokens_col: str = "tokens") -> Column:
    """Catalyst-only detokenizer: element_at over an array literal inside
    transform(); whole-stage-codegen friendly for small vocabularies."""
    vocab_lit = F.array(*[F.lit(w) for w in vocab])
    n = len(vocab)
    return F.array_join(
        F.transform(
            F.col(tokens_col),
            lambda t: F.when(
                (t >= 0) & (t < F.lit(n)), F.element_at(vocab_lit, t + F.lit(1))
            ).otherwise(F.lit(UNK)),
        ),
        " ",
    )
