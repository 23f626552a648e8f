"""J1 parity: the distributed sorted-neighborhood run-grouping must
reproduce the reference's sequential forward pass (core.py:687-706),
tested oracle-by-reimplementation (the reference repo has no tests —
SURVEY §5)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from music_dedupe_spark.functions.text import with_derived_columns
from music_dedupe_spark.operators.rungroup import (
    candidate_groups,
    group_pairs,
    rungroup_sequential,
    sorted_run_groups,
)


def _oracle_groups(rows):
    """reference loop over (key, id) rows sorted like the operator."""
    rows = sorted(rows, key=lambda r: (r[0], r[1]))
    gids = rungroup_sequential([r[0] for r in rows])
    groups = {}
    for (key, rid), g in zip(rows, gids):
        groups.setdefault(g, set()).add(rid)
    return {frozenset(v) for v in groups.values()}


def _spark_groups(spark, rows, **kw):
    df = spark.createDataFrame(rows, "norm_name string, file_id string")
    out = sorted_run_groups(df, **kw).collect()
    groups = {}
    for r in out:
        groups.setdefault(r["group_id"], set()).add(r["file_id"])
    return {frozenset(v) for v in groups.values()}


def test_sequential_matches_reference_semantics():
    # groups are compared against the HEAD, not the previous row:
    # fuzz(10*a, 9*a+b) = 90 -> join; fuzz(10*a, 8*a+2b) = 80 -> NEW
    # group, even though fuzz vs the PREVIOUS row is 90.
    keys = ["aaaaaaaaaa", "aaaaaaaaab", "aaaaaaaabb", "zzzz"]
    assert rungroup_sequential(keys) == [0, 0, 1, 2]
    # empty + single
    assert rungroup_sequential([]) == []
    assert rungroup_sequential(["x"]) == [0]
    # identical keys chain into one group
    assert rungroup_sequential(["m", "m", "m"]) == [0, 0, 0]


@pytest.mark.parametrize("n_parts", [1, 4, 13])
def test_distributed_matches_oracle(spark, corpus, n_parts):
    from music_dedupe_spark.fixtures import block_key, file_id

    rows = [
        (block_key(r.path), file_id(r.repo, r.path, r.commit))
        for r in corpus.files.itertuples()
    ]
    want = _oracle_groups(rows)
    got = _spark_groups(spark, rows, num_partitions=n_parts)
    assert got == want


def test_boundary_merge_across_partitions(spark):
    # many near-identical keys force groups to span range-partition
    # boundaries at high partition counts
    rows = [(f"samekey{i % 3}", f"id{i:04d}") for i in range(200)]
    want = _oracle_groups(rows)
    got = _spark_groups(spark, rows, num_partitions=16)
    assert got == want


def test_candidate_groups_filters_singletons(spark):
    df = spark.createDataFrame(
        [("alphaalpha", "a1"), ("alphaalphb", "a2"), ("omega", "z1")],
        "norm_name string, file_id string",
    )
    rg = sorted_run_groups(df, num_partitions=2)
    cands = candidate_groups(rg)
    ids = {r["file_id"] for r in cands.collect()}
    assert ids == {"a1", "a2"}  # omega is a singleton -> not a candidate


def test_group_pairs_shape(spark):
    df = spark.createDataFrame(
        [("k", f"id{i}") for i in range(5)], "norm_name string, file_id string"
    )
    pairs = group_pairs(sorted_run_groups(df, num_partitions=2)).collect()
    assert len(pairs) == 10  # C(5,2) all-pairs for a small group
    for r in pairs:
        assert r["left_id"] < r["right_id"]


def test_sorted_run_groups_releases_partitioned_input(spark):
    """Only the returned result stays cached: the range-partitioned
    input and every superseded round are released before returning."""
    jsc = spark.sparkContext._jsc
    rows = [(f"samekey{i % 3}", f"id{i:04d}") for i in range(200)]
    df = spark.createDataFrame(rows, "norm_name string, file_id string")
    before = jsc.getPersistentRDDs().size()
    out = sorted_run_groups(df, num_partitions=4)
    out.count()
    assert jsc.getPersistentRDDs().size() <= before + 1
