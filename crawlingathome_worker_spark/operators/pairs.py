"""Bucket-local pair finding: the one executor behind every banded near-dup
finder (pHash and SimHash hamming, embedding cosine).

A banded frame has one row per (item, band): id, value and the bucket key the
band hashes the item to. `bucket_pairs` shuffles ONCE on the bucket key, sorts
each partition on it and streams the sorted Arrow batches through one
mapInPandas. The bucket still open at a batch's end is carried into the next
batch, so a task holds one batch plus one bucket, never a whole partition.
A kernel pairs each bucket in row blocks along its strict upper triangle;
survivors are oriented a < b (rows sharing an id never pair, as in a strict
`l.id < r.id` join) and collapsed across bands. A null id or bucket key never
pairs. This is the partitioning shape of *Scalable and Robust Set Similarity
Join* (ICDE 2018): one shuffle on the bucket key, then bucket-local pairing.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, IntegerType, StructField, StructType

_BLOCK_CELLS = 2_000_000  # cells per scored block: ≤ 16 MB of uint64 or float64
_FLUSH_ROWS = 1 << 16  # survivor rows buffered per result frame


@dataclass(frozen=True)
class PairKernel:
    """`prepare(values)` → the bucket's matrix form, or None to skip it;
    `candidates(x, lo, hi)` → bool block of rows lo:hi against rows lo: ;
    `verify(x, i, j)` → (keep mask, score) of candidate pairs i < j."""

    prepare: Callable
    candidates: Callable
    verify: Callable
    score_type: DataType


def bucket_pairs(
    banded: DataFrame,
    id_col: str,
    value_col: str,
    bucket_cols: list[str],
    kernel: PairKernel,
    out_cols: tuple[str, str, str],
) -> DataFrame:
    """→ (a, b, score) named by `out_cols`: every distinct id pair a < b that
    shares a bucket and survives `kernel`."""
    id_type = banded.schema[id_col].dataType
    types = (id_type, id_type, kernel.score_type)
    schema = StructType([StructField(c, t) for c, t in zip(out_cols, types)])
    p = int(banded.sparkSession.conf.get("spark.sql.shuffle.partitions"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts, held = [], 0
        for ids, vals in _buckets(batches, id_col, value_col, bucket_cols):
            for part in _pair_bucket(ids, vals, kernel):
                parts.append(part)
                held += len(part[0])
                if held >= _FLUSH_ROWS:
                    yield _frame(parts, out_cols)
                    parts, held = [], 0
        if parts:
            yield _frame(parts, out_cols)

    live = F.col(id_col).isNotNull()
    for k in bucket_cols:
        live &= F.col(k).isNotNull()
    return (
        banded.select(id_col, value_col, *bucket_cols)
        .filter(live)
        .repartition(p, *bucket_cols)
        .sortWithinPartitions(*bucket_cols)
        .mapInPandas(run, schema=schema)
        .dropDuplicates(list(out_cols[:2]))
    )


def _buckets(batches, id_col: str, value_col: str, keys: list[str]):
    """(ids, values) of every multi-row bucket of a key-sorted batch stream."""
    open_ids, open_vals, open_key = [], [], None
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        ids, vals = pdf[id_col].to_numpy(), pdf[value_col].to_numpy()
        cols = [pdf[k].to_numpy() for k in keys]
        starts = np.zeros(n, dtype=bool)
        for c in cols:
            starts[1:] |= c[1:] != c[:-1]
        starts[0] = open_key is None or tuple(c[0] for c in cols) != open_key
        bounds = np.append(np.flatnonzero(starts), n)
        if bounds[0]:  # the batch's head continues the open bucket
            open_ids.append(ids[: bounds[0]])
            open_vals.append(vals[: bounds[0]])
        if len(bounds) == 1:
            continue
        if sum(map(len, open_ids)) > 1:
            yield np.concatenate(open_ids), np.concatenate(open_vals)
        for s, e in zip(bounds[:-2], bounds[1:-1]):
            if e - s > 1:
                yield ids[s:e], vals[s:e]
        # copies, so the carried tail does not pin this batch
        open_ids, open_vals = [ids[bounds[-2] :].copy()], [vals[bounds[-2] :].copy()]
        open_key = tuple(c[-1] for c in cols)
    if sum(map(len, open_ids)) > 1:
        yield np.concatenate(open_ids), np.concatenate(open_vals)


def _pair_bucket(ids: np.ndarray, vals: np.ndarray, kernel: PairKernel):
    """Kernel survivors of one bucket as (a, b, score) arrays, a < b."""
    x = kernel.prepare(vals)
    if x is None:
        return
    m = len(ids)
    step = max(64, min(m, _BLOCK_CELLS // m))
    for lo in range(0, m - 1, step):
        li, lj = np.nonzero(kernel.candidates(x, lo, min(m, lo + step)))
        upper = li < lj  # strict upper triangle (both offsets start at lo)
        if not upper.any():
            continue
        i, j = li[upper] + lo, lj[upper] + lo
        keep, score = kernel.verify(x, i, j)
        ia, ib = ids[i[keep]], ids[j[keep]]
        swap = ib < ia
        a, b = np.where(swap, ib, ia), np.where(swap, ia, ib)
        distinct = a != b
        if distinct.any():
            yield a[distinct], b[distinct], score[keep][distinct]


def _frame(parts: list, out_cols: tuple[str, str, str]) -> pd.DataFrame:
    return pd.DataFrame({c: np.concatenate([p[k] for p in parts]) for k, c in enumerate(out_cols)})


def _popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized population count over uint64 (SWAR; numpy<2 lacks
    bitwise_count). Exact for all 64-bit values."""
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


def hamming_kernel(radius: int) -> PairKernel:
    """64-bit hashes (Spark longs) within hamming ≤ radius: XOR broadcast +
    SWAR popcount."""

    def candidates(x, lo, hi):
        return _popcount64(x[lo:hi, None] ^ x[None, lo:]) <= radius

    def verify(x, i, j):
        h = _popcount64(x[i] ^ x[j]).astype(np.int32)
        return h <= radius, h

    def prepare(vals):
        return np.asarray(vals, dtype=np.int64).view(np.uint64)

    return PairKernel(prepare, candidates, verify, IntegerType())


def hash64_band_chunks(col: str, max_hamming: int) -> list:
    """Split a 64-bit long column into (max_hamming + 1) bit-band chunk columns.

    Pigeonhole guarantee: two hashes within hamming ≤ max_hamming differ in at
    most max_hamming bands, so with max_hamming+1 bands at least one band is
    EQUAL — band equality as a bucket key has full recall for the radius.
    Widths are 64 // nbands with the remainder spread over the low bands."""
    nbands = max_hamming + 1
    if nbands > 64:
        raise ValueError(f"max_hamming={max_hamming} needs {nbands} bands > 64 bits")
    base, extra = divmod(64, nbands)
    chunks, start = [], 0
    for b in range(nbands):
        width = base + (1 if b < extra else 0)
        # width 64 (radius 0 → single band): (1<<64)-1 overflows a JVM long;
        # two's-complement all-ones is -1
        mask = -1 if width >= 64 else (1 << width) - 1
        chunks.append(F.shiftrightunsigned(col, start).bitwiseAND(F.lit(mask)))
        start += width
    return chunks


def hamming_pairs(
    df: DataFrame, id_col: str, hash_col: str, max_hamming: int, out_cols: tuple[str, str, str]
) -> DataFrame:
    """→ (a, b, hamming ≤ max_hamming) named by `out_cols`, bucketed on the
    (max_hamming + 1) bit-bands of `hash_col` (full recall for ANY radius)."""
    bands = F.posexplode(F.array(*hash64_band_chunks(hash_col, max_hamming)))
    banded = df.select(id_col, hash_col, bands.alias("band", "chunk"))
    kernel = hamming_kernel(int(max_hamming))
    return bucket_pairs(banded, id_col, hash_col, ["band", "chunk"], kernel, out_cols)
