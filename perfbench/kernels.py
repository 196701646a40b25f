"""No-Spark microbenchmarks of the engine's kernels.

* ``extract_probe``: ``textproc`` extract + tokenize over a fixed page
  sample in one process. It is also the host-window probe taken before
  and after every run.
* ``varbyte_bench``: ``functions.varbyte`` encode and decode over the
  postings of the built index, read once. The re-encode must reproduce
  the stored bytes exactly.
* ``wand_bench``: ``plans.wand.wand_top_k`` per doc bucket over the same
  postings held in memory, for a fixed query set; every top-k is checked
  against the oracle and the pruning counters repeat exactly.
"""

from __future__ import annotations

import math
import time

import numpy as np

from semantic_search_engine_spark.corpus import generate_rows
from semantic_search_engine_spark.functions.varbyte import (
    decode_block, encode_blocks_multi)
from semantic_search_engine_spark.plans.wand import (bm25_idf,
                                                     group_blocks_by_term,
                                                     wand_top_k)
from semantic_search_engine_spark.textproc import extract_html, tokenize

#: pages in the extract probe (a fixed sample, independent of --seed)
PROBE_DOCS = 400
_PROBE_SEED = 42


def extract_probe() -> float:
    """Pages per second through extract + tokenize, one process. The
    pages are generated here, untimed, and dropped on return, so no run
    holds them while its memory is sampled."""
    pages = [r["html"] for r in generate_rows(PROBE_DOCS, _PROBE_SEED)
             if r["html"]]
    t0 = time.perf_counter()
    for html in pages:
        _title, body = extract_html(html)
        tokenize(body)
    return len(pages) / (time.perf_counter() - t0)


def load_postings(store):
    """The postings table as pandas, sorted in the order the serve path
    groups it."""
    pdf = store.read("postings").toPandas()
    return pdf.sort_values(["term", "partition_id", "block_id"],
                           kind="mergesort").reset_index(drop=True)


def varbyte_bench(pdf, avgdl: float, cfg, min_s: float = 0.3) -> dict:
    """Decode every block, then re-encode every (term, bucket) group with
    the build's vectorized encoder; repeat until ``min_s`` has passed."""
    blobs = list(zip(pdf["doc_ids_vb"], pdf["tfs_vb"], pdf["dls_vb"]))
    n_bytes = sum(len(a) + len(b) + len(c) for a, b, c in blobs)
    reps, t0 = 0, time.perf_counter()
    while True:
        decoded = [decode_block(bytes(a), bytes(b), bytes(c))
                   for a, b, c in blobs]
        reps += 1
        if time.perf_counter() - t0 >= min_s:
            break
    decode_s = (time.perf_counter() - t0) / reps

    ids = np.concatenate([d[0] for d in decoded])
    tfs = np.concatenate([d[1] for d in decoded])
    dls = np.concatenate([d[2] for d in decoded])
    sizes = np.array([len(d[0]) for d in decoded], dtype=np.int64)
    offsets = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    new_group = np.ones(len(pdf), dtype=bool)
    new_group[1:] = ((pdf["term"].to_numpy()[1:]
                      != pdf["term"].to_numpy()[:-1])
                     | (pdf["partition_id"].to_numpy()[1:]
                        != pdf["partition_id"].to_numpy()[:-1]))
    group_starts = offsets[new_group]
    reps, t0 = 0, time.perf_counter()
    while True:
        _gidx, rows = encode_blocks_multi(group_starts, ids, tfs, dls, avgdl,
                                          cfg.k1, cfg.b, cfg.block_size)
        reps += 1
        if time.perf_counter() - t0 >= min_s:
            break
    encode_s = (time.perf_counter() - t0) / reps
    same = (len(rows) == len(blobs) and all(
        (r[4], r[5], r[6]) == (bytes(a), bytes(b), bytes(c))
        for r, (a, b, c) in zip(rows, blobs)))
    return {"decode_mb_per_s": n_bytes / 1e6 / decode_s,
            "encode_postings_per_s": len(ids) / encode_s,
            "roundtrip_ok": same}


def wand_bench(pdf, term_df: dict[str, int], stats: dict, cfg,
               queries: list[str], oracle, k: int = 10) -> dict:
    """Run each query's per-bucket WAND over in-memory blocks and merge
    the bucket top-k lists, as the serve path does; check each result."""
    buckets = {int(pid): group_blocks_by_term(part)
               for pid, part in pdf.groupby("partition_id", sort=True)}
    n_docs, avgdl = stats["n_docs"], stats["avg_doc_len"]
    counters = {"evaluated_docs": 0, "decoded_blocks": 0, "total_blocks": 0}
    mismatches = 0
    kernel_s = 0.0
    for q in queries:
        terms = sorted(set(tokenize(q, cfg.max_token_len, cfg.min_token_len,
                                    cfg.analyzer)))
        weights = {t: bm25_idf(n_docs, term_df[t])
                   for t in terms if t in term_df}
        t0 = time.perf_counter()
        hits = []
        for by_term in buckets.values():
            sub = {t: by_term[t] for t in weights if t in by_term}
            if not sub:
                continue
            got, st = wand_top_k(sub, {t: weights[t] for t in sub}, k,
                                 cfg.k1, cfg.b, avgdl)
            hits.extend(got)
            for key in counters:
                counters[key] += st[key]
        hits = sorted(hits, key=lambda h: (-h[1], h[0]))[:k]
        kernel_s += time.perf_counter() - t0
        if not same_ranking(hits, oracle.top_k(q, k)):
            mismatches += 1
    return {"kernel_ms_per_query": kernel_s * 1000.0 / max(len(queries), 1),
            **counters,
            "decoded_block_frac": (counters["decoded_blocks"]
                                   / max(counters["total_blocks"], 1)),
            "mismatches": mismatches}


def same_ranking(got: list[tuple[int, float]],
                 want: list[tuple[int, float]], tol: float = 1e-6) -> bool:
    """Doc ids rank-identical and every score within ``tol``."""
    return (len(got) == len(want)
            and all(int(gd) == wd and math.isclose(gs, ws, rel_tol=0.0,
                                                   abs_tol=tol)
                    for (gd, gs), (wd, ws) in zip(got, want)))
