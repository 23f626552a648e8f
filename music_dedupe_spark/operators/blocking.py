"""Candidate generation: multi-channel blocking (SURVEY §2.3 J1/J2 + §7 Stage 3).

Three channels, unioned (SURVEY §2.7) and deduplicated:

1. ``exact_key_pairs``  — J2: self-equi-join on the exact normalized
   blocking key. Hot keys (``main``, ``utils``, ``LICENSE`` …) explode
   quadratically at 10^12 rows, so blocks above ``cap`` are *split* into
   deterministic sub-blocks (salting by hash of the row id) and pairs
   are generated only within a sub-block, plus a linear star over the
   whole block to preserve connectivity for true duplicate clusters.
   This bounds pair count per block at O(cap * size) instead of
   O(size^2) — the north rule's "block-size capping".
2. ``content_sha_star`` — exact-duplicate channel: identical content is
   linked by a star to the minimum row id per sha256, O(n) per block
   regardless of block size (no pair explosion on e.g. empty files).
3. ``minhash_lsh_pairs`` — recall channel for near-duplicates whose
   keys differ (reference's fuzzy > 85 tolerance, core.py:695-697):
   character-shingle MinHash signatures (numpy, Arrow-batched), banded;
   a band-key equality join proposes pairs.

All channels emit ``(left_id, right_id, channel)`` with
``left_id < right_id`` and no self-pairs.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MERSENNE_PRIME = (1 << 61) - 1


def _attach_block_size(keyed: DataFrame, key_col: str = "_bk") -> DataFrame:
    """Attach per-key block size as ``_bs`` and drop singleton blocks.

    groupBy + join, NOT a window: a window partition is one task and
    cannot be split by AQE, so one 10^8-row hot key ("main", the empty
    file) becomes a straggler holding every row of the block. The
    groupBy absorbs the hot key map-side (partial aggregation), and the
    join back is AQE-manageable — broadcast when the count side is small,
    skew-split sort-merge when it isn't. Size filter happens on the
    count side BEFORE the join, so singleton keys never shuffle twice.
    """
    counts = (
        keyed.groupBy(key_col)
        .agg(F.count("*").alias("_bs"))
        .filter(F.col("_bs") > 1)
    )
    return keyed.join(counts, key_col)


def _pairs_within(blocks: DataFrame, key_cols: list[str], channel: str) -> DataFrame:
    l = blocks.select(*key_cols, F.col("file_id").alias("left_id"))
    r = blocks.select(*key_cols, F.col("file_id").alias("right_id"))
    return (
        l.join(r, key_cols)
        .filter(F.col("left_id") < F.col("right_id"))
        .select("left_id", "right_id")
        .withColumn("channel", F.lit(channel))
    )


def _min_star(blocks: DataFrame, key_col: str, channel: str) -> DataFrame:
    """Star edges from every row to the minimum file_id of its block —
    linear in block size, the connectivity-preserving bound on hot
    blocks."""
    roots = blocks.groupBy(key_col).agg(F.min("file_id").alias("_root"))
    return (
        blocks.select(key_col, "file_id")
        .join(roots, key_col)
        .filter(F.col("file_id") != F.col("_root"))
        .select(
            F.least("file_id", "_root").alias("left_id"),
            F.greatest("file_id", "_root").alias("right_id"),
        )
        .withColumn("channel", F.lit(channel))
    )


def exact_key_pairs(
    df: DataFrame,
    key_col: str = "norm_name",
    cap: int = 64,
    channel: str = "exact_key",
) -> DataFrame:
    """Self-join on the exact blocking key with block-size capping.

    Blocks <= cap: all pairs. Blocks > cap: pairs within hash-salted
    sub-blocks of ~cap rows + a star to the block minimum (connectivity).
    The salt is ``pmod(xxhash64(file_id), n_sub)`` for big blocks and 0
    for small ones — deterministic, uniform, independent of row order —
    so ONE self-join on (key, salt) pairs both kinds of block.
    """
    keyed = df.select(F.col(key_col).alias("_bk"), "file_id").filter(
        F.col(key_col).isNotNull() & (F.col(key_col) != "")
    )
    keyed = _attach_block_size(keyed).withColumn(
        "_salt",
        F.when(
            F.col("_bs") > cap,
            F.pmod(F.xxhash64("file_id"), F.ceil(F.col("_bs") / cap).cast("int")),
        ).otherwise(0),
    )
    big_star = _min_star(keyed.filter(F.col("_bs") > cap), "_bk", channel)
    return _pairs_within(keyed, ["_bk", "_salt"], channel).unionByName(big_star)


def content_sha_star(df: DataFrame, channel: str = "exact_content") -> DataFrame:
    """Exact-duplicate channel: link every row to the min row id of its
    content_sha256 group. Linear in block size — hot exact-dup blocks
    (empty files, vendored licenses) never pair-explode."""
    return _min_star(df, "content_sha256", channel)


# ---------------------------------------------------------------------------
# MinHash-LSH channel
# ---------------------------------------------------------------------------


def _minhash_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    a = rng.randint(1, MERSENNE_PRIME, size=num_perm, dtype=np.uint64)
    b = rng.randint(0, MERSENNE_PRIME, size=num_perm, dtype=np.uint64)
    return a, b


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Distinct k-char-shingle hashes via a vectorized polynomial rolling
    hash over the utf-32 codepoints (numpy sliding windows, no Python
    per-shingle loop)."""
    codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.uint64)
    n = len(codes)
    if n == 0:
        return np.array([], dtype=np.uint64)
    if n < k:
        windows = codes[None, :]
        k = n
    else:
        windows = np.lib.stride_tricks.sliding_window_view(codes, k)
    base = np.uint64(1099511628211)
    h = np.zeros(windows.shape[0], dtype=np.uint64)
    for j in range(k):  # k iterations (k ~ 7), each vectorized over all shingles
        h = h * base + windows[:, j]
    return np.unique(h)


def minhash_signatures(
    df: DataFrame,
    num_perm: int = 128,
    shingle_k: int = 7,
    seed: int = 1,
    content_col: str = "content",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(file_id, *passthrough, sig: array<long>) — MinHash signature per
    row, computed in Arrow batches with numpy (one (n_shingles x
    num_perm) broadcasted min per row; no per-row Python in the Spark
    plan). ``passthrough`` carries extra string columns (e.g.
    content_sha256) through the kernel so callers can build a sha-keyed
    signature store as a pure projection — no join back, and crucially
    no shuffle of the content column."""
    a, b = _minhash_params(num_perm, seed)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # vectorize ACROSS documents: concatenate every doc's shingle
            # hashes and take segmented minima with minimum.reduceat —
            # one numpy dispatch per ~30k-shingle chunk instead of one
            # (num_perm x n_shingles) matmul per document.
            shingle_sets = [_shingle_hashes(t or "", shingle_k) for t in pdf[content_col]]
            sigs: list[list[int] | None] = [None] * len(shingle_sets)
            chunk_docs: list[int] = []
            chunk_size = 0

            def flush():
                nonlocal chunk_docs, chunk_size
                if not chunk_docs:
                    return
                parts = [shingle_sets[i] for i in chunk_docs]
                offsets = np.zeros(len(parts), dtype=np.int64)
                np.cumsum([len(p) for p in parts[:-1]], out=offsets[1:])
                flat = np.concatenate(parts)
                # (num_perm, total) universal hash; segmented min per doc
                vals = (a[:, None] * flat[None, :] + b[:, None]) % MERSENNE_PRIME
                mins = np.minimum.reduceat(vals, offsets, axis=1)
                for k, i in enumerate(chunk_docs):
                    sigs[i] = mins[:, k].astype(np.int64).tolist()
                chunk_docs, chunk_size = [], 0

            for i, sh in enumerate(shingle_sets):
                if len(sh) == 0:
                    sigs[i] = [0] * num_perm
                    continue
                chunk_docs.append(i)
                chunk_size += len(sh)
                if chunk_size >= 30_000:
                    flush()
            flush()
            out = {"file_id": pdf["file_id"]}
            for c in passthrough:
                out[c] = pdf[c]
            out["sig"] = sigs
            yield pd.DataFrame(out)

    # id-type-agnostic: the pipeline feeds 8-byte internal longs (fid)
    # as file_id; direct users pass public strings
    schema = (
        f"file_id {dict(df.dtypes)['file_id']}, "
        + "".join(f"{c} string, " for c in passthrough)
        + "sig array<long>"
    )
    return df.select("file_id", *passthrough, content_col).mapInPandas(
        compute, schema=schema
    )


def minhash_lsh_pairs(
    df: DataFrame,
    num_perm: int = 128,
    bands: int = 32,
    shingle_k: int = 7,
    seed: int = 1,
    band_cap: int = 200,
    channel: str = "minhash_lsh",
    sigs: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``num_perm/bands`` rows; hash each band to a bucket key; equal band
    keys propose a pair. With r=4, b=32 the s-curve crosses ~ (1/b)^(1/r)
    = 0.42 Jaccard — generous recall; precision comes from the scorer.

    Buckets above ``band_cap`` are star-linked instead of pair-exploded
    (same skew bound as exact_key_pairs).

    ``sigs``: optional precomputed ``(file_id, sig)`` signatures (e.g.
    run_pipeline's signature store, or incremental_link's store-hit ∪
    delta-computed union) — signatures are deterministic per content for
    fixed (num_perm, shingle_k, seed), so reusing them is exact. When
    omitted they are computed from ``df``'s content column."""
    assert num_perm % bands == 0
    r = num_perm // bands
    if sigs is None:
        sigs = minhash_signatures(df, num_perm, shingle_k, seed)
    banded = sigs.select(
        "file_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda i: F.slice(F.col("sig"), i * r + 1, r),
            )
        ).alias("band_idx", "band_sig"),
    ).select(
        "file_id",
        F.concat_ws("_", F.col("band_idx"), F.hash(F.col("band_sig"))).alias("_bk"),
    )
    # the count+join in _attach_block_size consumes `banded` twice, and
    # its lineage contains the EXPENSIVE minhash mapInPandas — without a
    # persist the signatures are computed once per branch (measured
    # +40% on the whole query). MEMORY_AND_DISK: at 10^12 rows this is
    # n*bands small rows and spills gracefully; production checkpoints
    # the candidate stage right after anyway (pipeline.run_pipeline).
    from pyspark import StorageLevel

    # keep the PERSISTED handle separate: _attach_block_size reassigns to
    # the post-join DataFrame, and unpersist() on that is a silent no-op —
    # the cached signatures would pin executor memory for the session.
    cached = banded.persist(StorageLevel.MEMORY_AND_DISK)
    banded = _attach_block_size(cached)

    small_pairs = _pairs_within(banded.filter(F.col("_bs") <= band_cap), ["_bk"], channel)
    big_star = _min_star(banded.filter(F.col("_bs") > band_cap), "_bk", channel)
    out = small_pairs.unionByName(big_star).dropDuplicates(["left_id", "right_id"])
    # expose the persisted dependency so callers can unpersist once
    # their downstream result is materialized (run_pipeline does) —
    # otherwise the cached signatures pin executor memory for the
    # session lifetime
    out._mds_persisted = [cached]
    return out


#: Explicit channel precedence for union_channels: when the same pair is
#: proposed by several channels, the lowest-priority-number tag wins.
#: Unknown channels rank last (priority 99) instead of silently jumping
#: the queue by accident of their name's sort order.
CHANNEL_PRIORITY = {
    "exact_content": 0,
    "exact_key": 1,
    "sorted_neighborhood": 2,
    "minhash_lsh": 3,
}


def union_channels(*channels: DataFrame) -> DataFrame:
    """unionByName + dedup on the pair key (SURVEY §2.7); keeps the
    highest-precedence channel tag per pair via the explicit
    CHANNEL_PRIORITY map (exact > neighborhood > lsh), not string order."""
    deps = [d for c in channels for d in getattr(c, "_mds_persisted", [])]
    out = channels[0]
    for c in channels[1:]:
        out = out.unionByName(c)
    prio = F.coalesce(
        *[
            F.when(F.col("channel") == name, F.lit(p))
            for name, p in CHANNEL_PRIORITY.items()
        ],
        F.lit(99),
    )
    # min over (priority, channel) struct: one shuffle, deterministic
    # tie-break on name for channels sharing a priority bucket.
    merged = (
        out.groupBy("left_id", "right_id")
        .agg(F.min(F.struct(prio.alias("_p"), F.col("channel"))).alias("_pc"))
        .select("left_id", "right_id", F.col("_pc.channel").alias("channel"))
    )
    if deps:
        merged._mds_persisted = deps
    return merged
