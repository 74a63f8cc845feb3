"""Bloom-filter pre-filtering for shuffle-volume reduction at scale.

Beyond-reference capability (task brief). The reference's pipeline has
no equivalent; this is the standard pattern production LM-data pipelines
use when a dedup/decontamination "index" side is too large to broadcast
as rows but its *Bloom filter* still fits in executor memory: build the
filter distributedly over the index keys, broadcast the bitmap (bits,
not rows), and drop non-matching probe rows MAP-SIDE — before they ever
reach a shuffle. False positives survive the pre-filter and are removed
by the exact verify join that follows, so composed results are exactly
equal to the non-filtered plan; false negatives are impossible by
construction (every inserted key sets all k of its probe bits).

Why this matters at 100 TB: in ``decontaminate()`` (dedup.py) the big
cost is the corpus-side ``distinct()`` — a shuffle of EVERY corpus
n-gram hash. With the benchmark's Bloom filter applied above the scan,
only grams that *might* match (true matches + ~fpp of the rest) enter
that shuffle: at fpp = 1 % the shuffle volume drops ~100×. The bitmap
for 10^9 index keys at 1 % fpp is ~1.2 GB — broadcastable where the
keys themselves (10s of TB with ids) are not.

Numbers are 64-bit ``xxhash64`` values (Spark's built-in, computed
JVM-side); probe positions use the classic Kirsch–Mitzenmacher double
hashing h1 + i·h2 (mod m), so membership is a pure function of the
64-bit key — reproducible across runs and engines. The build is
distributed: each partition ORs its keys into a local bitmap
(Arrow-batched, ``ufunc.at`` for duplicate positions) and the driver
ORs the per-partition bitmaps — raw keys are never collected.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import pandas_udf


def bloom_params(expected_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Optimal (m_bits, k) for ``expected_items`` keys at target fpp.

    m = -n·ln(p)/ln(2)^2, k = (m/n)·ln(2) — the textbook optimum.
    m is rounded up to a multiple of 8 so the bitmap is whole bytes.
    """
    n = max(1, int(expected_items))
    m = max(64, int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2))))
    m = (m + 7) // 8 * 8
    k = max(1, int(round(m / n * math.log(2))))
    return m, k


def _mix64(h: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer (public domain constant set): makes probe
    positions uniform even when callers feed raw ids instead of hashes —
    without it, sequential keys collapse the double-hash stride to 1 and
    fpp explodes."""
    z = h.copy()
    z ^= z >> np.uint64(30)
    z *= np.uint64(0xBF58476D1CE4E5B9)
    z ^= z >> np.uint64(27)
    z *= np.uint64(0x94D049BB133111EB)
    z ^= z >> np.uint64(31)
    return z


def _probe_positions(hashes: np.ndarray, m_bits: int, k: int):
    """Yield k uint64 position arrays for a batch of int64 keys.

    View (not cast) int64→uint64 so negative Spark hashes map to the
    same bit pattern everywhere; splitmix64-finalize, then
    Kirsch–Mitzenmacher h1 + i·h2 with h2 forced odd so the probe
    stride never collapses to 0.
    """
    h = _mix64(
        np.ascontiguousarray(hashes, dtype=np.int64).view(np.uint64)
    )
    m = np.uint64(m_bits)
    h1 = h % m
    h2 = (((h >> np.uint64(33)) << np.uint64(1)) | np.uint64(1)) % m
    for i in range(k):
        yield (h1 + np.uint64(i) * h2) % m


def build_bloom(keys: DataFrame, key_col: str, m_bits: int,
                k: int) -> bytes:
    """Distributed Bloom build over a LONG column: per-partition bitmaps
    OR-reduced on the driver. Driver traffic is n_partitions × m/8 bytes
    of bitmap — independent of the number of keys."""
    nbytes = m_bits // 8

    def part(batches):
        bm = np.zeros(nbytes, dtype=np.uint8)
        for pdf in batches:
            h = pdf[key_col].to_numpy(dtype=np.int64)
            if len(h) == 0:
                continue
            for pos in _probe_positions(h, m_bits, k):
                np.bitwise_or.at(
                    bm,
                    (pos >> np.uint64(3)).astype(np.int64),
                    (np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8)),
                )
        yield pd.DataFrame({"bm": [bm.tobytes()]})

    parts = (
        keys.select(F.col(key_col).cast("long").alias(key_col))
        .mapInPandas(part, schema="bm binary")
        .collect()
    )
    out = np.zeros(nbytes, dtype=np.uint8)
    for row in parts:
        out |= np.frombuffer(row.bm, dtype=np.uint8)
    return out.tobytes()


def might_contain_udf(spark: SparkSession, bitmap: bytes, m_bits: int,
                      k: int):
    """Vectorized membership test over a LONG column. The bitmap ships
    once per executor via a Spark broadcast, not once per task."""
    bcast = spark.sparkContext.broadcast(bitmap)

    @pandas_udf("boolean")
    def mc(s: pd.Series) -> pd.Series:
        bm = np.frombuffer(bcast.value, dtype=np.uint8)
        h = s.to_numpy(dtype=np.int64)
        ok = np.ones(len(h), dtype=bool)
        for pos in _probe_positions(h, m_bits, k):
            byte = bm[(pos >> np.uint64(3)).astype(np.int64)]
            bit = (byte >> (pos & np.uint64(7)).astype(np.uint8)) & 1
            ok &= bit.astype(bool)
        return pd.Series(ok)

    return mc


def _grams(df: DataFrame, id_col: str, text_col: str, out_id: str,
           n: int) -> DataFrame:
    """(out_id, gkey md5, gkey_h xxhash64) word n-grams, pre-distinct.

    Mirrors dedup.decontaminate's gram shape (reference parity target:
    the 13-gram rule from public LM practice); adds the 64-bit hash the
    Bloom path probes on. Docs shorter than n tokens are dropped BEFORE
    the sequence explode."""
    base = df.select(
        F.col(id_col).alias(out_id),
        F.split(F.col(text_col), " ").alias("_t"),
    ).filter(F.size("_t") >= n)
    gram = F.concat_ws(" ", F.slice(F.col("_t"), F.col("_i"), n))
    return base.select(
        out_id,
        F.explode(F.sequence(F.lit(1), F.size("_t") - (n - 1))).alias("_i"),
        "_t",
    ).select(
        out_id,
        F.md5(gram).alias("gkey"),
        F.xxhash64(gram).alias("gkey_h"),
    )


def bloom_decontaminate(corpus: DataFrame, benchmark: DataFrame,
                        n: int = 13,
                        expected_bench_grams: int | None = None,
                        fpp: float = 0.01) -> DataFrame:
    """``decontaminate()`` with a Bloom pre-filter on the corpus side.

    Exact same output as dedup.decontaminate (the verify join removes
    Bloom false positives), but corpus grams that cannot match are
    dropped map-side BEFORE the corpus ``distinct()`` shuffle — the
    shuffle that dominates at 10^12 docs. The benchmark side pays one
    extra count() action (to size the filter) when
    ``expected_bench_grams`` is not given; at scale pass the known index
    cardinality instead.
    """
    spark = corpus.sparkSession
    # the bench gram table feeds three actions (count, filter build,
    # verify join) — persist it so the gram explode runs once; it is
    # the SMALL side by contract, so caching it is cheap at any scale
    bg = (
        _grams(benchmark, "doc_id", "tokens_str", "benchmark_id", n)
        .distinct()
        .persist()
    )
    if expected_bench_grams is None:
        expected_bench_grams = bg.count()
    m_bits, k = bloom_params(expected_bench_grams, fpp)
    bitmap = build_bloom(bg, "gkey_h", m_bits, k)
    mc = might_contain_udf(spark, bitmap, m_bits, k)

    cg = (
        _grams(corpus, "doc_id", "tokens_str", "corpus_id", n)
        .filter(mc(F.col("gkey_h")))          # map-side, pre-shuffle
        .select("corpus_id", "gkey")
        .distinct()                            # shuffles survivors only
    )
    return (
        cg.join(F.broadcast(bg.select("benchmark_id", "gkey")), "gkey")
        .groupBy("corpus_id", "benchmark_id")
        .agg(F.count("*").alias("n_shared"))
    )


# ---------------------------------------------------------------------------
# Row-form Bloom shard index — engine-exact data skipping
# ---------------------------------------------------------------------------
#
# A second Bloom form, deliberately different from the bitmap+xxhash64 one
# above: here the FILTER OUTPUT is the result (which shards must be
# scanned for a point lookup — Iceberg/Parquet-style data skipping), so
# false positives are part of the answer and the bit math itself must be
# engine-replayable. Hashes are the repo's md5 double-hash convention and
# the bitmap lives as (shard, word_idx, word) rows of 32-BIT words (BIGINT-
# safe on every engine: DuckDB raises on 1<<63 signed overflow) built with
# bit_or — plain relational state that merges across runs by bit_or,
# exactly like HLL registers merge by max.


def _md5_probe_cols(key, m_bits: int, k: int):
    """k bit positions for ``key``: Kirsch–Mitzenmacher (a + i·b) mod m
    over the md5 32-bit halves — deterministic on any engine."""
    hx = F.md5(key.cast("string"))
    a = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
    b = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
    return [((a + F.lit(i) * b) % F.lit(m_bits)) for i in range(k)]


def bloom_shard_index(
    df: DataFrame,
    key_col: str,
    shard_col: str,
    m_bits: int = 640,
    k: int = 7,
) -> DataFrame:
    """(shard, word_idx, word): per-shard Bloom bitmaps as 32-bit words.

    Build shape: one explode to k (shard, pos) rows per key, then a
    map-combined groupBy(shard, word_idx) bit_or — state is
    m_bits/32 rows per shard no matter how many keys the shard holds.
    Index rows from successive runs merge by the same bit_or.
    """
    if m_bits % 32:
        raise ValueError("m_bits must be a multiple of 32")
    pos = df.select(
        F.col(shard_col).alias("shard"),
        F.explode(
            F.array(*_md5_probe_cols(F.col(key_col), m_bits, k))
        ).alias("pos"),
    )
    return (
        pos.select(
            "shard",
            F.expr("pos div 32").alias("word_idx"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast(pos % 32 as int))"
            ).alias("bit"),
        )
        .groupBy("shard", "word_idx")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )


def bloom_shard_prune(
    index: DataFrame,
    probes: DataFrame,
    m_bits: int = 640,
    k: int = 7,
) -> DataFrame:
    """(key, shard): the shards a point lookup of ``key`` must scan —
    every shard whose Bloom bitmap has ALL k probe bits set (true
    matches plus ~fpp false positives; zero false negatives, so a scan
    plan built from this is always correct).

    Shape: probes explode to k (key, word_idx, bit) rows, equi-join the
    index on word_idx (the index is m/32 rows × n_shards — the
    broadcast side), and a hit needs count(set bits) = k per
    (key, shard). At 10^12 rows / 10^5 files this replaces reading
    every file for a needle-in-corpus lookup with reading ~true+fpp
    of them — the Parquet/Iceberg bloom data-skipping pattern as an
    explicit, mergeable table.
    """
    pr = probes.select(
        F.col("key"),
        F.explode(
            F.array(*_md5_probe_cols(F.col("key"), m_bits, k))
        ).alias("pos"),
    ).select(
        "key",
        F.expr("pos div 32").alias("word_idx"),
        F.expr(
            "shiftleft(cast(1 as bigint), cast(pos % 32 as int))"
        ).alias("bit"),
    )
    j = pr.join(F.broadcast(index), "word_idx")
    hits = (
        j.filter(F.expr("(word & bit) <> 0"))
        .groupBy("key", "shard")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") == k)
    )
    return hits.select("key", "shard")
