"""In-process probes of single layers: the text pipeline, the posting
codec and the block-max WAND kernel, each called through its public
function on data taken from the built index."""

from __future__ import annotations

import heapq
import json
import os
import time
from collections import Counter

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds


def read_meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "meta.json")) as f:
        return json.load(f)


def table_dataset(index_dir: str, meta: dict, name: str) -> ds.Dataset:
    from fts_engine_spark.layout import table_path

    return ds.dataset(
        table_path(index_dir, meta, name), format="parquet", partitioning="hive"
    )


def table_bytes(index_dir: str, meta: dict, name: str) -> int:
    from fts_engine_spark.layout import table_path

    total = 0
    for dirpath, _, files in os.walk(table_path(index_dir, meta, name)):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def textproc_tokens_per_s(texts: list[str], langs: list[str]) -> float:
    """``get_pipeline(name).process`` over a fixed English+Russian sample."""
    from fts_engine_spark.textproc.pipeline import get_pipeline

    pipes = {"en": get_pipeline("english"), "ru": get_pipeline("russian")}
    n = 0
    t0 = time.perf_counter()
    for text, lang in zip(texts, langs):
        n += len(pipes["ru" if lang == "ru" else "en"].process(text))
    return n / (time.perf_counter() - t0)


def codec_mb_per_s(index_dir: str, meta: dict, terms: list[str]) -> tuple[float, float]:
    """(encode, decode) MB/s of encoded posting bytes, on the posting rows
    of ``terms``: ``decode_postings`` and ``decode_block`` over every skip
    block, then ``encode_postings`` of the decoded lists."""
    from fts_engine_spark.codec import decode_block, decode_postings, encode_postings

    rows = (
        table_dataset(index_dir, meta, "postings")
        .to_table(
            filter=pc.field("term").isin(terms),
            columns=["doc_blob", "tf_blob", "skip_last_doc", "skip_doc_off",
                     "skip_tf_off", "shard_id"],
        )
        .to_pylist()
    )
    shard_size, skip = int(meta["shard_size"]), int(meta["skip_block"])
    nbytes = dec_s = enc_s = 0.0
    for r in rows:
        base = int(r["shard_id"]) * shard_size
        blob_d, blob_t = r["doc_blob"], r["tf_blob"]
        nbytes += len(blob_d) + len(blob_t)
        t0 = time.perf_counter()
        doc_ids, tfs = decode_postings(blob_d, blob_t, base)
        doff, toff, last = r["skip_doc_off"], r["skip_tf_off"], r["skip_last_doc"]
        prev = base
        for j in range(len(doff)):
            d_end = doff[j + 1] if j + 1 < len(doff) else len(blob_d)
            t_end = toff[j + 1] if j + 1 < len(toff) else len(blob_t)
            decode_block(blob_d, blob_t, (doff[j], d_end), (toff[j], t_end), prev)
            prev = last[j]
        t1 = time.perf_counter()
        encode_postings(doc_ids, tfs, base_doc=base, skip=skip)
        t2 = time.perf_counter()
        dec_s += t1 - t0
        enc_s += t2 - t1
    # decode touched every byte twice (whole list, then block by block)
    mb = nbytes / 1e6
    return (mb / enc_s if enc_s else 0.0), (2 * mb / dec_s if dec_s else 0.0)


class WandProbe:
    """Runs ``make_wand_kernel`` in-process on a query's posting rows, read
    from the index with pyarrow, so its decode counters are visible."""

    def __init__(self, index_dir: str, preset: str = "multilingual"):
        meta = read_meta(index_dir)
        self.meta = meta
        self.preset = preset
        self.postings = table_dataset(index_dir, meta, "postings")
        terms = table_dataset(index_dir, meta, "terms").to_table(columns=["term", "df"])
        self.df = dict(zip(terms.column("term").to_pylist(), terms.column("df").to_pylist()))

    def run(self, query: str, k: int) -> tuple[list[tuple[int, float]], dict, float]:
        """(top-k (doc_id, score), counters, kernel seconds)."""
        from fts_engine_spark.query import make_wand_kernel, normalize_query

        mult = Counter(t for t in normalize_query(query, self.preset) if t in self.df)
        counters: dict[str, int] = {}
        if not mult:
            return [], counters, 0.0
        pdf = self.postings.to_table(filter=pc.field("term").isin(list(mult))).to_pandas()
        m = self.meta
        kernel = make_wand_kernel(
            int(m["n_docs"]), int(m["shard_size"]), float(m["avgdl"]), k,
            term_stats={t: (c, int(self.df[t])) for t, c in mult.items()},
            counters=counters,
        )
        hits: list[tuple[int, float]] = []
        t0 = time.perf_counter()
        for _, shard in pdf.groupby("shard_id", sort=True):
            out = kernel(None, shard.reset_index(drop=True))
            hits.extend(zip(out["doc_id"].astype(np.int64).tolist(),
                            out["score"].astype(float).tolist()))
        secs = time.perf_counter() - t0
        top = heapq.nsmallest(k, hits, key=lambda h: (-h[1], h[0]))
        return top, counters, secs
