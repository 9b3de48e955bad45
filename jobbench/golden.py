"""Golden results from the pure-Python oracle, and the digests that compare
a job's outputs with them.

A golden result holds, for one (workload, seed):
- `rows`: the number of routed rows;
- `digest`: the XOR of one 60-bit hash per routed row. The hashed string
  carries the row's doc_id, route tag, token array and filter and search
  spans (`row_key`), so a lost, extra or altered row changes it;
- `filters` / `searches`: {id: [occurrence_count, line_count]};
- `page`: the first PAGE_ROWS routed rows in (source_rank, line_no) order,
  as [doc_id, text] pairs.

The oracle is line-at-a-time and every quantity above is row-local or a sum
over rows, so the input is cut into slices, one oracle process per slice
(`python3 golden.py DATA WORKLOAD INDEX COUNT`, printing the slice's JSON),
and the partial results are merged. Plain child processes rather than a
multiprocessing pool: a pool also starts a resource tracker that outlives
the run. The golden result is cached per
(workload, seed, input spec) and is never timed.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
import tempfile
from typing import Dict, List, Sequence, Tuple

import pyarrow.parquet as pq

PAGE_ROWS = 100


def row_key(
    doc_id: str,
    route: int,
    tokens: Sequence[int],
    filter_spans: Sequence[Tuple[int, int, int, int]],
    search_spans: Sequence[Tuple[int, int, int, int]],
) -> str:
    """The string a routed row hashes to. `sink_digests` builds the
    same string inside Spark."""

    def spans(sp):
        return ",".join(":".join(str(v) for v in s) for s in sp)

    return "|".join(
        [
            doc_id,
            str(route),
            ",".join(str(t) for t in tokens),
            spans(filter_spans),
            spans(search_spans),
        ]
    )


def key_hash(key: str) -> int:
    """First 15 hex digits of SHA-256: a non-negative 60-bit integer that
    Spark reproduces with conv(substring(sha2(key, 256), 1, 15), 16, 10)."""
    return int(hashlib.sha256(key.encode()).hexdigest()[:15], 16)


def sink_digests(spark, sinks: Dict[str, str]) -> Dict[str, Tuple[int, int]]:
    """{label: (rows, XOR of row hashes)} of the routed sinks under the
    given paths, in one Spark action, with the same key as `row_key`."""
    from functools import reduce

    import pyspark.sql.functions as F

    def spans(col):
        return F.array_join(
            F.transform(
                F.col(col),
                lambda s: F.concat_ws(
                    ":",
                    *(s[f].cast("string") for f in ("start", "end", "filter_id", "search_id")),
                ),
            ),
            ",",
        )

    key = F.concat_ws(
        "|",
        F.col("doc_id"),
        F.col("route").cast("string"),
        F.array_join(F.col("tokens").cast("array<string>"), ","),
        spans("filter_spans"),
        spans("search_spans"),
    )
    h = F.conv(F.substring(F.sha2(key, 256), 1, 15), 16, 10).cast("long")
    parts = [
        spark.read.parquet(path).select(F.lit(label).alias("label"), h.alias("h"))
        for label, path in sinks.items()
    ]
    rows = (
        reduce(lambda a, b: a.unionByName(b), parts)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.bit_xor("h").alias("x"))
        .collect()
    )
    out = {label: (0, 0) for label in sinks}
    out.update({r["label"]: (int(r["n"]), int(r["x"] or 0)) for r in rows})
    return out


def _load_lines(data_dir: str, vocab: List[str], index: int, count: int):
    """Slice `index` of `count` equal slices of the input, as oracle lines."""
    from txtlogparser_spark.oracle import LineRec

    info = pq.read_table(os.path.join(data_dir, "source_info.parquet")).to_pylist()
    rank = {r["source"]: r["source_rank"] for r in info}
    table = pq.read_table(
        os.path.join(data_dir, "sequences"), columns=["doc_id", "tokens", "source"]
    )
    n = table.num_rows
    lo, hi = n * index // count, n * (index + 1) // count
    seq = table.slice(lo, hi - lo).to_pydict()
    lines = []
    for doc_id, tokens, source in zip(seq["doc_id"], seq["tokens"], seq["source"]):
        source = str(source)
        lines.append(
            LineRec(
                doc_id=doc_id,
                source=source,
                source_rank=rank[source],
                line_no=int(doc_id.rsplit("-", 1)[1]),
                text=" ".join(vocab[t] for t in tokens),
                tokens=tuple(tokens),
            )
        )
    return lines


def _slice_result(data_dir: str, workload: str, index: int, count: int) -> dict:
    """Oracle over one slice of the input. Runs in a fresh process."""
    from txtlogparser_spark.oracle import run_pipeline
    from txtlogparser_spark.sources.fixtures import build_vocab

    from workloads import WORKLOADS

    ws = WORKLOADS[workload].workspace()
    res = run_pipeline(_load_lines(data_dir, build_vocab(), index, count), ws)
    order = {f.id: f.row for f in ws.enabled_filters()}
    digest = 0
    for ol in res.lines:
        claimed = {s.filter_id for s in ol.filter_spans if s.filter_id != -1}
        route = min(claimed, key=order.__getitem__) if claimed else -1
        digest ^= key_hash(
            row_key(
                ol.rec.doc_id,
                route,
                ol.rec.tokens,
                [(s.start, s.end, s.filter_id, s.search_id) for s in ol.filter_spans],
                [(s.start, s.end, s.filter_id, s.search_id) for s in ol.search_spans],
            )
        )
    return {
        "rows": len(res.lines),
        "digest": digest,
        "filters": {
            str(k): [v, len(res.filter_line_map[k])] for k, v in res.filter_match_count.items()
        },
        "searches": {
            str(k): [v, len(res.search_line_map[k])] for k, v in res.search_match_count.items()
        },
        # oracle lines come out in (source_rank, line_no) order
        "page": [
            [ol.rec.source_rank, ol.rec.line_no, ol.rec.doc_id, ol.rec.text]
            for ol in res.lines[:PAGE_ROWS]
        ],
    }


def _merge(parts: List[dict]) -> dict:
    out: Dict = {"rows": 0, "digest": 0, "filters": {}, "searches": {}}
    page = []
    for p in parts:
        out["rows"] += p["rows"]
        out["digest"] ^= p["digest"]
        for kind in ("filters", "searches"):
            for k, (occ, lines) in p[kind].items():
                acc = out[kind].setdefault(k, [0, 0])
                acc[0] += occ
                acc[1] += lines
        page.extend(p["page"])
    page.sort(key=lambda r: (r[0], r[1]))
    out["page"] = [[r[2], r[3]] for r in page[:PAGE_ROWS]]
    return out


def golden(data_dir: str, workload: str, cache_path: str, procs: int) -> dict:
    """The golden result for the input in `data_dir`, from the cache when
    present, else computed in `procs` oracle processes and cached."""
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            return json.load(fh)
    from procs import die_with_parent

    here = os.path.dirname(os.path.abspath(__file__))
    path = [os.path.dirname(here), here] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(path))
    with tempfile.TemporaryDirectory(dir=os.path.dirname(cache_path)) as tmp:
        children = []
        try:
            for i in range(procs):
                out = open(os.path.join(tmp, f"slice-{i}.json"), "w+")
                cmd = [sys.executable, os.path.abspath(__file__), data_dir, workload, str(i), str(procs)]
                child = subprocess.Popen(cmd, stdout=out, env=env, preexec_fn=die_with_parent)
                children.append((child, out))
            parts = []
            for child, out in children:
                if child.wait() != 0:
                    raise RuntimeError(f"golden slice failed with exit code {child.returncode}")
                out.seek(0)
                parts.append(json.load(out))
        finally:
            for child, out in children:
                if child.poll() is None:
                    child.kill()
                child.wait()
                out.close()
    result = _merge(parts)
    tmp = cache_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(result, fh)
    os.replace(tmp, cache_path)
    return result


def check(golden_result: dict, got: dict) -> List[str]:
    """Names of the outputs where `got` differs from the golden result.
    `got` has the golden keys (`page` as [doc_id, text] pairs)."""
    return [k for k in ("rows", "digest", "filters", "searches", "page") if got[k] != golden_result[k]]


if __name__ == "__main__":
    data_dir, workload, index, count = sys.argv[1:]
    json.dump(_slice_result(data_dir, workload, int(index), int(count)), sys.stdout)
