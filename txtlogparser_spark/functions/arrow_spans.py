"""mapInArrow token-span extraction — the zero-copy batch path.

The pandas_udf token path (functions/token_spans.py) still pays per row:
pandas Series construction, one np.asarray per tokens cell, Python-list
span building, and pandas→Arrow conversion of list-of-list columns. This
variant works directly on Arrow RecordBatches:

- `tokens` is read as (values, offsets) — the flat int32 buffer is
  processed ONCE per batch (oob→<unk> mapping, word-length gather, claim
  mask, segmented start-offset cumsum are all whole-batch numpy ops);
- the per-row Python work is a loop over CLAIM-BEARING words only;
- span outputs are built as flat primitive buffers + list offsets and
  wrapped with pa.ListArray.from_arrays — no pandas anywhere;
- the optional `text` column is one whole-batch call of the shared Arrow
  detokenize kernel (functions/detokenize.py::detokenize_arrow), without
  the line scrub: span offsets are computed on the unscrubbed words;
- passthrough columns are echoed by reference (zero copy).

Semantics are identical to token_spans (same word tables, same assembly
rules); tests/test_token_spans.py::test_arrow_path_agrees pins it.
"""

from __future__ import annotations

from typing import Iterator, List, Sequence

import numpy as np
import pyarrow as pa

from txtlogparser_spark.config import FilterSpec, SearchSpec
from txtlogparser_spark.functions.detokenize import detokenize_arrow, vocab_table
from txtlogparser_spark.functions.token_spans import build_word_tables


def make_arrow_span_mapper(
    vocab: Sequence[str],
    filters: Sequence[FilterSpec],
    searches: Sequence[SearchSpec] = (),
    *,
    include_search: bool = True,
    include_text: bool = False,
    tokens_col: str = "tokens",
):
    """Returns (fn, extra_fields) for DataFrame.mapInArrow: fn echoes the
    input schema and appends flat span columns (f_start/f_end/f_id/f_row
    [+ s_*] [+ text]), exactly the fields assemble_spans() re-zips."""
    text_table = vocab_table(vocab) if include_text else None
    nv = len(vocab)
    wlen, has_claim, ffrags, sfrags, _ = build_word_tables(
        vocab,
        [f for f in sorted(filters, key=lambda m: m.row) if f.enabled],
        [s for s in sorted(searches, key=lambda m: m.row) if s.enabled],
        want_search=include_search,
        want_combined=False,
    )
    # empty-line sentinel (see build_word_tables): full span lists for
    # len(tokens)==0 / null rows, flattened to this mapper's 4-int layout
    empty_f = [(sp[0], sp[1], sp[2], sp[3]) for sp in ffrags[-1]]
    empty_s = [(sp[0], sp[1], sp[4], sp[5]) for sp in sfrags[-1]]
    i32 = pa.int32()
    extra_fields = [
        pa.field("f_start", pa.list_(i32), False),
        pa.field("f_end", pa.list_(i32), False),
        pa.field("f_id", pa.list_(i32), False),
        pa.field("f_row", pa.list_(i32), False),
    ]
    if include_search:
        extra_fields += [
            pa.field("s_start", pa.list_(i32), False),
            pa.field("s_end", pa.list_(i32), False),
            pa.field("s_id", pa.list_(i32), False),
            pa.field("s_row", pa.list_(i32), False),
        ]
    if include_text:
        extra_fields.append(pa.field("text", pa.string(), False))

    def _span_lists(
        frags: np.ndarray,
        ids: np.ndarray,
        starts: np.ndarray,
        hit_pos: np.ndarray,
        n: int,
        id_slot: int,
        row_slot: int,
        out_s: List[int],
        out_e: List[int],
        out_i: List[int],
        out_r: List[int],
        offsets: List[int],
    ) -> None:
        """Append one row's spans (claimed fragments + merged unclaimed
        gaps) to the flat output buffers; offsets gets the new end."""
        unclaimed_from = 0
        base_len = len(out_s)
        for p in hit_pos:
            fr = frags[ids[p]]
            if not fr:
                continue
            b = starts[p]
            for sp in fr:
                s = b + sp[0]
                e = b + sp[1]
                if s > unclaimed_from:
                    out_s.append(unclaimed_from); out_e.append(s)
                    out_i.append(-1); out_r.append(-1)
                out_s.append(s); out_e.append(e)
                out_i.append(sp[id_slot]); out_r.append(sp[row_slot])
                unclaimed_from = e
        if unclaimed_from < n or len(out_s) == base_len:
            out_s.append(unclaimed_from); out_e.append(n)
            out_i.append(-1); out_r.append(-1)
        offsets.append(len(out_s))

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            tok = batch.column(batch.schema.get_field_index(tokens_col))
            if isinstance(tok, pa.ChunkedArray):  # defensive; batches are flat
                tok = tok.combine_chunks()
            # flatten once: values + offsets (zero-copy views)
            la = tok
            offs = la.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            vals = la.values.to_numpy(zero_copy_only=False).astype(np.int64)
            vals = np.where((vals >= 0) & (vals < nv), vals, nv)
            # null list slots are legal in Arrow even with non-equal
            # offsets (child values unspecified) — treat them as empty
            # rows, like the pandas path's `t is None` branch
            valid = (
                la.is_valid().to_numpy(zero_copy_only=False)
                if la.null_count
                else None
            )

            lens_flat = wlen[vals]
            claim_flat = has_claim[vals]
            # word start offsets within each row: global cumsum of (len+1)
            # minus each row's base, vectorized across the whole batch
            step = lens_flat + 1
            gcum = np.concatenate(([0], np.cumsum(step)))  # len = total+1
            nrows = len(la)

            f_s: List[int] = []; f_e: List[int] = []
            f_i: List[int] = []; f_r: List[int] = []
            f_off = [0]
            if include_search:
                s_s: List[int] = []; s_e: List[int] = []
                s_i: List[int] = []; s_r: List[int] = []
                s_off = [0]

            for r in range(nrows):
                a, b = offs[r], offs[r + 1]
                k = b - a
                if k == 0 or (valid is not None and not valid[r]):
                    for s0, e0, i0, r0 in empty_f:
                        f_s.append(s0); f_e.append(e0)
                        f_i.append(i0); f_r.append(r0)
                    f_off.append(len(f_s))
                    if include_search:
                        for s0, e0, i0, r0 in empty_s:
                            s_s.append(s0); s_e.append(e0)
                            s_i.append(i0); s_r.append(r0)
                        s_off.append(len(s_s))
                    continue
                ids = vals[a:b]
                n = int(gcum[b] - gcum[a]) - 1  # sum(len+1) - trailing sep
                cmask = claim_flat[a:b]
                if not cmask.any():
                    f_s.append(0); f_e.append(n); f_i.append(-1); f_r.append(-1)
                    f_off.append(len(f_s))
                    if include_search:
                        s_s.append(0); s_e.append(n); s_i.append(-1); s_r.append(-1)
                        s_off.append(len(s_s))
                    continue
                starts = (gcum[a:b] - gcum[a]).astype(np.int64)
                hit_pos = np.nonzero(cmask)[0]
                _span_lists(ffrags, ids, starts, hit_pos, n, 2, 3,
                            f_s, f_e, f_i, f_r, f_off)
                if include_search:
                    _span_lists(sfrags, ids, starts, hit_pos, n, 4, 5,
                                s_s, s_e, s_i, s_r, s_off)

            def list_arr(off, flat):
                return pa.ListArray.from_arrays(
                    pa.array(off, type=pa.int32()),
                    pa.array(flat, type=i32),
                )

            cols = list(batch.columns)
            names = list(batch.schema.names)
            cols += [list_arr(f_off, f_s), list_arr(f_off, f_e),
                     list_arr(f_off, f_i), list_arr(f_off, f_r)]
            names += ["f_start", "f_end", "f_id", "f_row"]
            if include_search:
                cols += [list_arr(s_off, s_s), list_arr(s_off, s_e),
                         list_arr(s_off, s_i), list_arr(s_off, s_r)]
                names += ["s_start", "s_end", "s_id", "s_row"]
            if include_text:
                cols.append(detokenize_arrow(la, text_table))
                names.append("text")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return fn, extra_fields
