"""Streaming MinHash-LSH near-duplicate detection — the streaming face of
operators/dedup.minhash_lsh_pairs (SURVEY.md dedup family; the reference
is batch-only, this is the graft's forward path alongside
streaming/dedup.py's exact dedup).

Per-document signatures are ROW-LOCAL (a pandas UDF mirroring the batch
md5 formulas bit-for-bit), so the stream needs no aggregation shuffle;
banding explodes each doc to its band buckets, and an
applyInPandasWithState operator keyed by (band, bucket) emits a candidate
pair the moment a document lands in a bucket that already holds others —
exactly the batch band equi-join, incrementalized.

Pairs can repeat across bands (the batch query ends with .distinct());
consumers dedup downstream — the stream==batch test compares sets.
State per bucket is the doc-id list; real-deployment bounding knobs:
max_docs_per_bucket caps degenerate buckets (boilerplate collisions), and
the state store can expire cold buckets via timeouts if the feed is
unbounded (a live crawl dedups against the recent past, like
streaming/dedup.py's watermark).
"""

from __future__ import annotations

import hashlib
import logging
import re
from typing import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUT_SCHEMA = T.StructType([
    T.StructField("id_a", T.LongType()),
    T.StructField("id_b", T.LongType()),
])

STATE_SCHEMA = T.StructType([
    T.StructField("doc_ids", T.ArrayType(T.LongType())),
    # pairs dropped by max_pairs_per_batch so far (saturated buckets are
    # VISIBLE, not silent: also logged per batch)
    T.StructField("n_dropped", T.LongType()),
])
# UPGRADE NOTE: n_dropped widened this schema in round 3.  Spark validates
# the keyed-state schema against the checkpoint on restart, so a stream
# resumed from a pre-widening checkpoint FAILS FAST with a state-schema
# mismatch (no silent corruption) — upgraded deployments must start from a
# fresh checkpointLocation (and re-seed seen-doc state from the batch table
# if exactly-once dedup across the upgrade matters).


def _h32(s: str, salt: str) -> int:
    """Python mirror of dedup.h32_of_sql (md5 prefix as bigint)."""
    return int(hashlib.md5((s + salt).encode()).hexdigest()[:8], 16)


def _signature(text: str, k: int, n_hashes: int) -> list[int]:
    """Python mirror of shingles() + minhash_signatures(): lower/trim/
    squeeze-ws normalize, distinct word k-shingles via slice semantics
    (short docs yield the whole token list as one shingle), min of
    h32(shingle + ':i') per hash."""
    norm = re.sub(r"\s+", " ", text.strip()).lower()
    toks = norm.split(" ")
    n = max(len(toks) - k + 1, 1)
    sh = {" ".join(toks[i:i + k]) for i in range(n)}
    return [min(_h32(s, f":{i}") for s in sh) for i in range(n_hashes)]


def neardup_stream(pages: DataFrame, k: int = 3, n_hashes: int = 8,
                   bands: int = 4, rows_per_band: int = 2,
                   text_col: str = "text", id_col: str = "doc_id",
                   max_docs_per_bucket: int = 10000,
                   max_pairs_per_batch: int = 1_000_000) -> DataFrame:
    """pages: streaming DF with (doc_id, text). -> stream of candidate
    near-dup pairs (id_a < id_b); dedup downstream (pairs repeat across
    bands, as in the batch union).

    max_pairs_per_batch bounds the per-(band, bucket) micro-batch emission
    for degenerate buckets; dropped pairs are counted in the bucket state
    (n_dropped) and logged — a saturated bucket breaks stream==batch pair
    equality, so it must never happen silently."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: _signature(t or "", k, n_hashes))

    banded = (
        pages.select(F.col(id_col).cast("long").alias("doc_id"),
                     sig_udf(F.col(text_col)).alias("sig"))
        .select(
            "doc_id",
            F.explode(F.array(*[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    F.concat_ws("_", *[
                        F.col("sig")[b * rows_per_band + r_].cast("string")
                        for r_ in range(rows_per_band)
                    ]).alias("joined"),
                ) for b in range(bands)
            ])).alias("bk"),
        )
        .select("doc_id", F.col("bk.band_idx").alias("band_idx"),
                F.md5(F.col("bk.joined")).alias("bucket"))
    )

    def fn(key: tuple, pdfs: Iterable[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            st = state.get
            seen: list[int] = list(st[0])
            # tolerate pre-n_dropped state tuples (a checkpoint written by
            # the 1-field schema); Spark itself may still reject the widened
            # schema at restart — new deployments start fresh checkpoints
            n_dropped = int(st[1] or 0) if len(st) > 1 else 0
        else:
            seen, n_dropped = [], 0
        seen_set = set(seen)  # O(1) membership; `seen` keeps arrival order
        out: list[tuple[int, int]] = []
        dropped = 0
        new_ids: list[int] = []
        for pdf in pdfs:
            new_ids.extend(int(d) for d in pdf["doc_id"])
        for d in sorted(set(new_ids)):
            if d in seen_set:
                continue
            for other in seen:
                if len(out) < max_pairs_per_batch:
                    out.append((min(d, other), max(d, other)))
                else:
                    dropped += 1
            if len(seen) < max_docs_per_bucket:
                seen.append(d)
                seen_set.add(d)
        if dropped:
            logging.getLogger(__name__).warning(
                "neardup_stream bucket %s saturated: dropped %d candidate "
                "pairs this batch (max_pairs_per_batch=%d)",
                key, dropped, max_pairs_per_batch)
        state.update((seen, n_dropped + dropped))
        yield pd.DataFrame(out, columns=["id_a", "id_b"])

    return (
        banded.groupBy("band_idx", "bucket")
        .applyInPandasWithState(fn, OUT_SCHEMA, STATE_SCHEMA, "update",
                                GroupStateTimeout.NoTimeout)
    )
