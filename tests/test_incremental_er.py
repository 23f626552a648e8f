"""Incremental ER: adding a delta to an already-resolved corpus must
produce the same entities as re-running the full pipeline — including
merges where a new file bridges two previously-separate entities."""

import pytest
from pyspark.sql import functions as F

from music_dedupe_spark.fixtures import generate_corpus, write_corpus
from music_dedupe_spark.operators import blocking
from music_dedupe_spark.operators import incremental_er as ie
from music_dedupe_spark.operators.incremental_er import incremental_link
from music_dedupe_spark.pipeline import (
    PipelineConfig,
    ingest,
    pair_view,
    pairwise_f1,
    public_pairs,
    run_pipeline,
    rungroup_channel,
)


@pytest.fixture(scope="module")
def corpus_dirs(tmp_path_factory):
    d = tmp_path_factory.mktemp("incr")
    write_corpus(generate_corpus(seed=17, n_base=400, n_clusters=60), str(d))
    return str(d)


@pytest.fixture(scope="module")
def fold(spark, corpus_dirs):
    """(all files, new files, base run over the old half, its fold)."""
    files = spark.read.parquet(f"{corpus_dirs}/files.parquet")
    # split deterministically: ~half the files arrive later
    is_new = F.crc32("path") % 2 == 1
    new_files = files.filter(is_new)
    base = run_pipeline(files.filter(~is_new), PipelineConfig())
    inc = incremental_link(
        new_files,
        base["features"],
        base["clusters"],
        existing_signatures=base["minhash_sig_store"],
    )
    return files, new_files, base, inc


def _labels(clusters):
    return {r["member_id"]: r["entity_id"] for r in clusters.collect()}


def test_incremental_matches_full_rerun(spark, corpus_dirs, fold):
    files, _, base, inc = fold
    full = run_pipeline(files, PipelineConfig())

    # the signature store must cover every old content: the delta hashes
    # exactly the new contents absent from the store — O(|new|), the
    # headline incremental property, with LSH ON (its default)
    old_shas = {
        r["content_sha256"]
        for r in base["features"].select("content_sha256").distinct().collect()
    }
    new_shas = {
        r["content_sha256"]
        for r in inc["features"].select("content_sha256").distinct().collect()
    }
    assert inc["metrics"]["n_signatures_computed"] == len(new_shas - old_shas)
    # and the returned store covers old ∪ new for the NEXT delta
    store_shas = {
        r["content_sha256"]
        for r in inc["minhash_sig_store"].select("content_sha256").collect()
    }
    assert store_shas == old_shas | new_shas

    got = _labels(inc["clusters"])
    want = _labels(full["clusters"])
    assert set(got) == set(want), "member sets differ"
    # compare PARTITIONS, not raw labels: the incremental entity_id is a
    # component min over (assignment ∪ delta) node ids, which can be an
    # entity id rather than the global min member id — group members by
    # label on each side and compare the groupings
    def groups(lbl):
        g = {}
        for m, e in lbl.items():
            g.setdefault(e, set()).add(m)
        # a SET of frozensets: sorted() would use frozenset's subset
        # partial order and compare arbitrary elements
        return {frozenset(v) for v in g.values()}

    assert groups(got) == groups(want)

    # and the incremental run still nails the labeled-pair truth
    lp = spark.read.parquet(f"{corpus_dirs}/labeled_pairs.parquet")
    m = pairwise_f1(inc["clusters"], lp)
    assert m["f1"] >= 0.99, m


def test_incremental_candidates_touch_new_or_regroup(fold):
    """The capped/LSH/content channels must only emit new-touching pairs;
    the sorted-neighborhood channel is the ONE channel allowed to emit
    old×old pairs (group heads shift with the global order), and only
    across two different existing entities (same-entity pairs are
    union-redundant and must be pruned)."""
    _, _, base, inc = fold
    new_ids = {
        r["file_id"] for r in inc["features"].select("file_id").collect()
    }
    entity = {
        r["member_id"]: r["entity_id"] for r in base["clusters"].collect()
    }
    pairs = inc["candidate_pairs"].select("left_id", "right_id", "channel").collect()
    assert len(pairs) > 0
    for r in pairs:
        if r["left_id"] in new_ids or r["right_id"] in new_ids:
            continue
        assert r["channel"] == "sorted_neighborhood", (
            f"old×old pair from channel {r['channel']} — the delta property is broken"
        )
        assert entity.get(r["left_id"]) != entity.get(r["right_id"]), (
            "old×old same-entity pair not pruned"
        )


def _touching_new_per_channel(pairs, new_feats):
    """The per-channel new-touching filter the fold replaced with one
    pass over the union: keep_l ∪ keep_r by broadcast semi-joins."""
    new_ids = new_feats.select("file_id")
    keep_l = pairs.join(
        F.broadcast(new_ids.withColumnRenamed("file_id", "left_id")), "left_id", "left_semi"
    )
    keep_r = pairs.join(
        F.broadcast(new_ids.withColumnRenamed("file_id", "right_id")), "right_id", "left_semi"
    )
    return keep_l.unionByName(keep_r).dropDuplicates(["left_id", "right_id"])


def test_fold_candidates_match_per_channel_filter(fold):
    """Filtering the union of the prunable channels once gives the same
    pairs AND channel tags as filtering each channel on its own."""
    _, new_files, base, inc = fold
    cfg = PipelineConfig()
    new_feats = ingest(new_files)
    all_feats = base["features"].unionByName(new_feats)
    pv_new, pv_all = pair_view(new_feats), pair_view(all_feats)
    lsh = blocking.minhash_lsh_pairs(
        pv_all, num_perm=cfg.minhash_num_perm, bands=cfg.minhash_bands,
        shingle_k=cfg.shingle_k,
    )
    oracle = blocking.union_channels(
        _touching_new_per_channel(ie._delta_content_star(pv_new, pv_all), pv_new),
        _touching_new_per_channel(
            ie._delta_exact_key_pairs(pv_new, pv_all, cap=cfg.block_cap), pv_new
        ),
        ie._not_same_entity(
            rungroup_channel(pv_all, cfg, all_feats.count()), base["clusters"]
        ),
        _touching_new_per_channel(lsh, pv_new),
    )

    def rows(df):
        return {tuple(r) for r in df.select("left_id", "right_id", "channel").collect()}

    want = rows(public_pairs(oracle, all_feats))
    for d in lsh._mds_persisted:
        d.unpersist()
    assert {c for _, _, c in want} == set(blocking.CHANNEL_PRIORITY)
    assert rows(inc["candidate_pairs"]) == want


# strings chosen so inserting C between H and D re-heads the run-group
# chain: old order [H, D, E] groups as {H, D} | {E} (fuzz(H,D)=90 > 85,
# fuzz(H,E)=83 <= 85), but with C present the order is [H, C, D, E] and
# C breaks from H (83) then absorbs BOTH D (88) and E (90) — so the
# old×old pair (D, E) is co-grouped only in the new global order. A
# new-touching-only delta would never score it; the full rerun would.
_H = "cmdule handlerr alpha"
_C = "hodule handger alpha"
_D = "imodule handler alpha"
_E = "mhodule ander alphka"


def test_chained_deltas_compact_signature_store(spark, tmp_path):
    """Two chained delta runs with a checkpoint dir: each run compacts
    the updated signature store to a NEW versioned parquet
    (sig_store_0000, _0001 — never overwriting the version its own
    input plan reads), the second run reads the first's store and
    hashes only its own new contents, and the store stays complete."""
    def mkfiles(rows):
        return spark.createDataFrame(
            rows, "repo string, path string, commit string, lang string, content string"
        )

    base_rows = [("r", f"src/alpha_{i}.py", "c0", "py", f"base content {i}") for i in range(4)]
    d1_rows = [("r", "src/beta_1.py", "c1", "py", "delta one content")]
    d2_rows = [("r", "src/gamma_1.py", "c2", "py", "delta two content")]

    cfg = PipelineConfig(checkpoint_dir=str(tmp_path / "ck"))
    base = run_pipeline(mkfiles(base_rows), cfg)
    inc1 = incremental_link(
        mkfiles(d1_rows), base["features"], base["clusters"], cfg,
        existing_signatures=base["minhash_sig_store"],
    )
    assert inc1["metrics"]["n_signatures_computed"] == 1
    assert (tmp_path / "ck" / "sig_store_0000" / "_SUCCESS").exists()

    # features for the chained run = old ∪ delta1 (public contract)
    feats2 = base["features"].unionByName(inc1["features"])
    inc2 = incremental_link(
        mkfiles(d2_rows), feats2, inc1["clusters"], cfg,
        existing_signatures=inc1["minhash_sig_store"],
    )
    assert inc2["metrics"]["n_signatures_computed"] == 1
    assert (tmp_path / "ck" / "sig_store_0001" / "_SUCCESS").exists()
    store_shas = {
        r["content_sha256"]
        for r in inc2["minhash_sig_store"].select("content_sha256").collect()
    }
    all_shas = {
        r["content_sha256"]
        for r in feats2.unionByName(inc2["features"]).select("content_sha256").collect()
    }
    assert store_shas == all_shas


def test_delta_rungroup_emits_regrouped_old_pair(spark):
    rows = [
        ("r", f"src/{name}.py", "c0", "py", f"content {i} {name}")
        for i, name in enumerate([_H, _D, _E])
    ]
    old_files = spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string")
    new_files = spark.createDataFrame(
        [("r", f"src/{_C}.py", "c1", "py", "content new bridge")],
        "repo string, path string, commit string, lang string, content string",
    )
    base = run_pipeline(old_files, PipelineConfig(use_lsh=False))
    inc = incremental_link(
        new_files, base["features"], base["clusters"], PipelineConfig(use_lsh=False)
    )
    feats = {r["norm_name"]: r["file_id"] for r in base["features"].collect()}
    d_id, e_id = feats[_D], feats[_E]
    pair = tuple(sorted([d_id, e_id]))
    got = {
        (r["left_id"], r["right_id"])
        for r in inc["candidate_pairs"].select("left_id", "right_id").collect()
    }
    assert pair in got, (
        "regrouped old×old neighborhood pair missing from the delta candidates"
    )
