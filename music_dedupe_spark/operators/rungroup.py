"""Sorted-neighborhood fuzzy run-grouping (SURVEY J1/W1).

Reference semantics (/root/reference/app/core.py:676-709): sort all rows
by the normalized blocking key; one forward pass; compare the current
row's key to the key of the FIRST row of the open group with
fuzz.ratio; > 85 joins the group, otherwise the group closes (emitted
as a candidate if size > 1) and a new group opens at the current row.
The comparison target is the *group head*, not the previous row — the
grouping is order-dependent and non-associative, so no pure-SQL window
(lag + cumsum) reproduces it; see SURVEY §2.5 W1.

Distributed EXACT reproduction: ``repartitionByRange(key)`` gives each
partition a contiguous, sorted slice of the global key order. The
sequential pass is then a *segmented scan with carry*: partition p's
result depends on its rows plus one tiny carry — the open group's
(head_key, head_id) flowing in from partition p-1. We iterate the
per-partition pass (a narrow Arrow-batched job over the cached
partitioned data, no shuffle) feeding each partition the carry emitted
by its predecessor on the previous round, until the carries reach a
fixpoint. Carry i is final after round i, so the loop converges in
(longest absorption chain)+1 rounds — 2 in the common case, P only if a
single run-group spans every partition. This is exactly the
block-structured scan decomposition of any linear recurrence; the
recurrence here (the group head) is what the reference threads through
its Python loop.

Scale: the data shuffles once (the range partition); each fixpoint
round touches only cached partitions; the driver holds O(P) carries,
never rows. Hot identical keys concentrate in one partition but form a
single run-group either way (fuzz of equal keys = 100) — the quadratic
pair blow-up is bounded downstream (group_pairs cap), not here.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark import StorageLevel

from music_dedupe_spark.functions.similarity import fuzz_ratio

DEFAULT_THRESHOLD = 85  # fuzz.ratio > 85, /root/reference/app/core.py:697


def rungroup_sequential(keys: list[str], threshold: int = DEFAULT_THRESHOLD) -> list[int]:
    """The reference forward pass (core.py:687-706) verbatim over an
    already-sorted key sequence. Returns a group index per row. Used both
    inside the distributed operator (per partition) and as the test
    oracle (oracle-by-reimplementation — the reference has no tests)."""
    if not keys:
        return []
    gids = [0]
    head = keys[0]
    gid = 0
    # identical keys (the dominant case: sorted hot keys form long equal
    # runs) short-circuit on string equality — fuzz_ratio(k, k) == 100,
    # which passes any threshold < 100, so the DP dispatch is skipped.
    # Valid only below 100: at threshold >= 100 even equal keys split.
    eq_joins = threshold < 100
    for k in keys[1:]:
        if (eq_joins and k == head) or fuzz_ratio(head, k) > threshold:
            gids.append(gid)
        else:
            gid += 1
            head = k
            gids.append(gid)
    return gids


def sorted_run_groups(
    df: DataFrame,
    key_col: str = "norm_name",
    id_col: str = "file_id",
    threshold: int = DEFAULT_THRESHOLD,
    num_partitions: int | None = None,
    max_rounds: int | None = None,
) -> DataFrame:
    """Assign run-group ids over the global key sort order — exact
    reproduction of the reference pass at any partition count.

    Returns ``(id_col, key_col, group_id)`` where ``group_id`` is the id
    of the group-head row (globally unique, deterministic). Groups of
    size 1 are non-candidates; callers filter via ``candidate_groups``.

    Scale ceiling (documented, gated): the carry-propagation fixpoint
    collects one summary row per partition per round — with ~50k-row
    partitions that is O(n / 50k) driver rows, ~2e7 at 10^12 files.
    The operator is inherently sequential (each group head depends on
    the previous row), so this is the price of EXACT reference parity;
    ``PipelineConfig.rungroup_max_rows`` gates the channel out of the
    candidate union above 1e8 rows, where the MinHash-LSH channel
    (fixed-width signatures, fully distributed) supplies fuzzy recall
    instead.
    """
    spark = df.sparkSession
    n = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    # id-type-agnostic: the pipeline feeds 8-byte internal longs (fid)
    # through the pair stages, while direct operator users (tests, the
    # w1/J1 queries) pass public string ids — the pass only CARRIES the
    # id, so the mapInPandas schema is derived from the input column.
    id_type = dict(df.dtypes)[id_col]

    parted = (
        df.select(F.col(id_col).alias("_id"), F.coalesce(F.col(key_col), F.lit("")).alias("_key"))
        .repartitionByRange(n, "_key", "_id")
        .sortWithinPartitions("_key", "_id")
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def make_pass(carries: dict[int, tuple]):
        def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            head: str | None = None
            head_id = None
            first_key: str | None = None
            pid = None
            started = False
            n_rows = 0
            for pdf in batches:
                if pdf.empty:
                    continue
                if not started:
                    pid = int(pdf["_pid"].iloc[0])
                    first_key = pdf["_key"].iloc[0]
                    carry = carries.get(pid)
                    if carry is not None:
                        head, head_id = carry
                    started = True
                heads = []
                # equal-key short-circuit: sorted hot keys form long
                # identical runs; string equality (fuzz == 100 > any
                # threshold < 100) skips the O(len^2) DP for them
                eq_joins = threshold < 100
                for key, rid in zip(pdf["_key"], pdf["_id"]):
                    if head is None or not (
                        (eq_joins and key == head) or fuzz_ratio(head, key) > threshold
                    ):
                        head, head_id = key, rid
                    heads.append(head_id)
                    n_rows += 1
                yield pd.DataFrame(
                    {
                        "_id": pdf["_id"],
                        "_key": pdf["_key"],
                        "_pid": pdf["_pid"],
                        "_head": heads,
                        "_sum": False,
                        "_first": None,
                    }
                )
            if n_rows:
                # summary marker row: outgoing open-group (key in _key,
                # head id in _head) + the partition's first key in _first
                yield pd.DataFrame(
                    {
                        "_id": [None],
                        "_key": [head],
                        "_pid": [pid],
                        "_head": [head_id],
                        "_sum": [True],
                        "_first": [first_key],
                    }
                )

        return run

    schema = (
        f"_id {id_type}, _key string, _pid int, _head {id_type}, "
        "_sum boolean, _first string"
    )
    carries: dict[int, tuple] = {}
    rounds = max_rounds or n + 1
    result = None
    for rnd in range(rounds):
        result = parted.mapInPandas(make_pass(carries), schema=schema).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        outs = {}
        firsts = {}
        for r in result.filter(F.col("_sum")).collect():
            outs[int(r["_pid"])] = (r["_key"], r["_head"])
            firsts[int(r["_pid"])] = r["_first"]
        # carry into partition p = outgoing head of the nearest non-empty
        # predecessor partition
        new_carries: dict[int, tuple] = {}
        prev: tuple | None = None
        for pid in sorted(outs):
            if prev is not None:
                new_carries[pid] = prev
            prev = outs[pid]
        if new_carries == carries:
            break
        # absorption shortcut: a carry only changes a partition's result
        # when its first row would JOIN the incoming open group; if no
        # boundary fuzzy-joins, this round is already the global pass.
        if rnd == 0 and not any(
            fuzz_ratio(c[0], firsts[p]) > threshold for p, c in new_carries.items()
        ):
            break
        carries = new_carries
        result.unpersist()
    # the final round's collect materialized every partition of the
    # persisted result, so the range-partitioned input is dead
    parted.unpersist()

    rows = result.filter(~F.col("_sum"))
    out = rows.select(
        F.col("_id").alias(id_col),
        F.col("_key").alias(key_col),
        F.col("_head").alias("group_id"),
    )
    return out


def _group_counts(run_groups: DataFrame) -> DataFrame:
    """Per-group row counts via groupBy (AQE-splittable partial agg), NOT
    a window: ``count(*) OVER (PARTITION BY group_id)`` pins each group to
    one task, so a single hot run-group (identical keys all fuzz to 100)
    serializes the stage — the same straggler pattern fixed in
    blocking.py/dedup.py block-size counts."""
    return run_groups.groupBy("group_id").agg(F.count("*").alias("_n"))


def candidate_groups(run_groups: DataFrame) -> DataFrame:
    """Filter to groups of size > 1 (reference emits only those,
    core.py:700-705). Output: (file_id, norm_name, group_id)."""
    multi = _group_counts(run_groups).filter(F.col("_n") > 1).select("group_id")
    return run_groups.join(multi, "group_id", "left_semi").select(
        "file_id", "norm_name", "group_id"
    )


def group_pairs(run_groups: DataFrame, max_group_size: int = 50) -> DataFrame:
    """Candidate pairs within each run-group: all-pairs for small groups,
    plus head-star edges for every group (star keeps connectivity O(n)
    on hot groups — the quadratic bound the north rule requires).
    Output (left_id, right_id)."""
    counts = _group_counts(run_groups).filter(F.col("_n") > 1)
    multi = counts.select("group_id")
    sized = run_groups.join(multi, "group_id", "left_semi")
    l = sized.select(F.col("group_id"), F.col("file_id").alias("left_id"))
    r = sized.select(F.col("group_id"), F.col("file_id").alias("right_id"))
    small = counts.filter(F.col("_n") <= max_group_size).select("group_id")
    all_pairs = (
        l.join(r, "group_id")
        .filter(F.col("left_id") < F.col("right_id"))
        .join(F.broadcast(small), "group_id", "left_semi")
    )
    star = sized.filter(F.col("file_id") != F.col("group_id")).select(
        F.least("file_id", "group_id").alias("left_id"),
        F.greatest("file_id", "group_id").alias("right_id"),
    )
    return (
        all_pairs.select("left_id", "right_id")
        .unionByName(star)
        .dropDuplicates(["left_id", "right_id"])
    )
