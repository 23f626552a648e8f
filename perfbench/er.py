"""The ``er_incremental`` workload and the traced batch resolve.

Untraced run: set-up ends with the checkpointed base ``run_pipeline`` over
most of the corpus, its clusters and features written out. The timed op is
one ``incremental_link`` fold of a small single-file delta: it reads that
written state back, as a separately scheduled job would, and runs through
the updated clusters and features being written. Only this first fold is
timed: a fold costs about as much as the base resolve, so a run has room
for one. The fold's clusters must equal the generator's ground truth over
the base and delta rows.

Traced run: the same base resolve and fold under spans, and a
stage-by-stage traced resolve of the base rows whose scored-pair count and
cluster digest must equal the base ``run_pipeline``'s.

``incremental_link`` documents that a fold's clusters equal a full
``run_pipeline`` over the same rows. The generator's truth is built so that
``run_pipeline`` recovers it exactly, which every run verifies on the base
resolve; the fold is then checked against the truth over the rows so far,
which costs a collect instead of a second full resolve per op.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from gen import FilesCorpus, file_id, files_corpus

DELTA_ROWS = 50
BASE_FILES = 4


def write_inputs(corpus: FilesCorpus, run_dir: str, seed: int) -> dict:
    """Base table as several parquet files; the delta as one small file.
    The delta never takes chain members or the original of a duplicate
    class, so every true entity stays connected within the base rows and
    the truth over the base alone is exact."""
    df = corpus.files
    rng = np.random.default_rng(seed)
    by_role = {r: rng.permutation([i for i, x in enumerate(corpus.roles) if x == r])
               for r in ("single", "copy", "hot", "junk")}
    # the delta takes the same number of rows of every role for every seed
    movable = sum(len(v) for v in by_role.values())
    quota = {r: DELTA_ROWS * len(v) // movable for r, v in by_role.items()}
    quota["single"] += DELTA_ROWS - sum(quota.values())
    delta_idx = np.concatenate([by_role[r][:q] for r, q in quota.items()])
    base = df.drop(index=df.index[delta_idx]).sample(frac=1.0, random_state=seed)
    os.makedirs(f"{run_dir}/base")
    table = pa.Table.from_pandas(base, preserve_index=False)
    per = -(-len(base) // BASE_FILES)
    for i in range(BASE_FILES):
        pq.write_table(table.slice(i * per, per), f"{run_dir}/base/part-{i}.parquet")
    pq.write_table(pa.Table.from_pandas(df.iloc[delta_idx], preserve_index=False), f"{run_dir}/delta.parquet")
    return {"base_rows": len(base), "delta_rows": DELTA_ROWS, "base_files": BASE_FILES,
            "delta_ids": _ids(df.iloc[delta_idx]), "base_ids": _ids(base)}


def _ids(df) -> set[str]:
    return {file_id(r, p, c) for r, p, c in zip(df["repo"], df["path"], df["commit"])}


def truth_of(corpus: FilesCorpus, present: set[str]) -> dict[str, str]:
    """Expected (member -> entity) over the eligible rows in ``present``:
    the entity is the smallest present member of the true entity."""
    roots: dict[str, str] = {}
    for m, e in corpus.truth.items():
        if m in present:
            roots[e] = min(roots.get(e, m), m)
    return {m: roots[e] for m, e in corpus.truth.items() if m in present}


def digest(assign: dict[str, str]) -> str:
    return hashlib.sha256("\n".join(f"{m} {e}" for m, e in sorted(assign.items())).encode()).hexdigest()[:16]


def collect_assignment(df) -> dict[str, str]:
    return {r["member_id"]: r["entity_id"] for r in df.select("member_id", "entity_id").collect()}


def pairwise_f1(assign: dict[str, str], pairs) -> float:
    tp = fp = fn = 0
    for l, r, dup in pairs:
        if l not in assign or r not in assign:
            continue
        same = assign[l] == assign[r]
        tp += dup and same
        fp += (not dup) and same
        fn += dup and not same
    return 2 * tp / (2 * tp + fp + fn) if tp else (1.0 if not (fp or fn) else 0.0)


def _du(path: str) -> tuple[int, int]:
    size = files = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


class ErIncremental:
    """State of one er_incremental run: the base resolve, then the fold."""

    def __init__(self, spark, run_dir: str, seed: int, tracer):
        self.spark, self.dir, self.tr = spark, run_dir, tracer
        self.corpus = files_corpus(seed)
        self.inputs = write_inputs(self.corpus, run_dir, seed)
        self.present = set(self.inputs["base_ids"])
        self.state = 0  # the latest written state: 0 after the base resolve, 1 after the fold

    def stats(self) -> dict:
        return {**self.corpus.stats, **{k: v for k, v in self.inputs.items() if not k.endswith("ids")}}

    def durable_resolve(self) -> float:
        """Checkpointed base run_pipeline through its clusters and features
        being written. Returns its wall time."""
        from music_dedupe_spark.pipeline import PipelineConfig, run_pipeline

        t0 = time.perf_counter()
        with self.tr.span("durable_resolve") as s:
            out = run_pipeline(self.spark.read.parquet(f"{self.dir}/base"),
                               PipelineConfig(checkpoint_dir=f"{self.dir}/ckpt_base"))
            out["clusters"].write.parquet(f"{self.dir}/state_0/clusters")
            out["features"].write.parquet(f"{self.dir}/state_0/features")
        wall = time.perf_counter() - t0
        if s is not None:
            ck_bytes, ck_files = _du(f"{self.dir}/ckpt_base")
            in_bytes, _ = _du(f"{self.dir}/base")
            s.counters["checkpoint_bytes_per_input_byte"] = (ck_bytes / in_bytes, "ratio")
            s.counters["checkpoint_files"] = (ck_files, "count")
        self.store = out["minhash_sig_store"]  # a lazy read of the parquet checkpoint
        self.base_scored = out["scored_pairs"]  # likewise
        return wall

    def fold(self) -> float:
        """The incremental_link fold of the delta onto the written base
        state. Returns its wall time."""
        from music_dedupe_spark.operators.incremental_er import incremental_link
        from music_dedupe_spark.pipeline import PipelineConfig

        if self.state:
            raise RuntimeError("the delta is already folded in")
        read = self.spark.read.parquet
        t0 = time.perf_counter()
        with self.tr.span("incremental_link") as s:
            feats = read(f"{self.dir}/state_0/features")
            out = incremental_link(
                read(f"{self.dir}/delta.parquet"),
                feats,
                read(f"{self.dir}/state_0/clusters"),
                PipelineConfig(checkpoint_dir=f"{self.dir}/ckpt_fold"),
                existing_signatures=self.store,
            )
        with self.tr.span("state_write"):
            out["clusters"].write.parquet(f"{self.dir}/state_1/clusters")
            feats.unionByName(out["features"]).write.parquet(f"{self.dir}/state_1/features")
        wall = time.perf_counter() - t0
        if s is not None:
            s.counters["signatures_computed"] = (out["metrics"]["n_signatures_computed"], "count")
        self.state = 1
        self.present |= self.inputs["delta_ids"]
        return wall

    def state_assignment(self, k: int) -> dict[str, str]:
        return collect_assignment(self.spark.read.parquet(f"{self.dir}/state_{k}/clusters"))

    def check(self) -> None:
        """The latest written state equals the truth over the rows so far."""
        k = self.state
        got = self.state_assignment(k)
        want = truth_of(self.corpus, self.present)
        if got != want:
            wrong = sum(got.get(m) != e for m, e in want.items()) + len(set(got) - set(want))
            raise AssertionError(f"state_{k}: {wrong} of {len(want)} rows differ from the ground truth")


def traced_resolve(tr, files) -> tuple[int, dict[str, str], dict]:
    """run_pipeline's in-memory wiring, stage by stage, each stage under a
    span that forces its output. Returns (scored-pair count, assignment,
    sha-invariant checks)."""
    from pyspark.sql import functions as F

    from music_dedupe_spark import pipeline as P
    from music_dedupe_spark.operators import blocking, clustering, scoring
    from music_dedupe_spark.operators.survivorship import rank_survivors

    cfg = P.PipelineConfig()
    with tr.span("ingest") as s:
        features = P.ingest(files).persist()
        n_rows = features.count()
        s.counters["rows_out"] = (n_rows, "count")
    cfg.n_rows_hint = n_rows
    pv = P.pair_view(features)
    with tr.span("signatures") as s:
        sigs = blocking.minhash_signatures(
            pv, cfg.minhash_num_perm, cfg.shingle_k, seed=1, passthrough=("content_sha256",)
        ).persist()
        s.counters["rows_out"] = (sigs.count(), "count")
    channels = {
        "candidates.content_sha": lambda: blocking.content_sha_star(pv),
        "candidates.exact_key": lambda: blocking.exact_key_pairs(pv, cap=cfg.block_cap),
        "candidates.rungroup": lambda: P.rungroup_channel(pv, cfg, n_rows),
        "candidates.lsh": lambda: blocking.minhash_lsh_pairs(
            pv, num_perm=cfg.minhash_num_perm, bands=cfg.minhash_bands,
            shingle_k=cfg.shingle_k, sigs=sigs.select("file_id", "sig")),
    }
    with tr.span("candidates") as cs:
        forced, deps = [], []
        for name, make in channels.items():
            with tr.span(name) as s:
                df = make()
                deps += getattr(df, "_mds_persisted", [])
                df = df.persist()
                s.counters["rows_out"] = (df.count(), "count")
                forced.append(df)
        candidates = blocking.union_channels(*forced).persist()
        n_cand = candidates.count()
        cs.counters["rows_out"] = (n_cand, "count")
        for d in deps + forced:
            d.unpersist()
    with tr.span("scoring") as s:
        scored = scoring.score_candidates(candidates, pv, cfg.scoring).persist()
        r = scored.agg(F.count("*").alias("n"), F.sum(F.col("gate_passed").cast("long")).alias("g")).collect()[0]
        matched = scoring.matched_pairs(scored).persist()
        n_matched = matched.count()
        s.counters["rows_out"] = (r["n"], "count")
        s.counters["gate_pass_rate"] = ((r["g"] or 0) / max(r["n"], 1), "ratio")
    with tr.span("cc") as s:
        fid_assignment = clustering.connected_components(matched)
        s.counters["rows_out"] = (fid_assignment.count(), "count")
        s.counters["edges_in"] = (n_matched, "count")
    with tr.span("output") as s:
        assignment = P.public_assignment(fid_assignment, features)
        clusters = (
            features.select(F.col("file_id").alias("member_id"))
            .join(assignment, "member_id", "left")
            .withColumn("entity_id", F.coalesce(F.col("entity_id"), F.col("member_id")))
        ).persist()
        clusters.count()
        n_scored = P.public_pairs(scored, features).count()
    with tr.span("survivorship"):
        ranked = rank_survivors(
            features.join(clusters, features["file_id"] == clusters["member_id"]).drop("member_id")
        ).persist()
        ranked.write.format("noop").mode("overwrite").save()
    by_name = {s.name: s for s in tr.spans}
    by_name["candidates"].counters["match_yield"] = (n_matched / max(n_cand, 1), "ratio")
    sc_span = by_name["scoring"]
    by_name["scoring"].counters["pairs_per_s"] = (r["n"] / (sc_span.end - sc_span.start), "1/s")
    eligible = P.eligible_files(files)
    checks = {
        "sha_invariant_ingest": P.sha_invariant_ok(eligible, features),
        "sha_invariant_ranked": P.sha_invariant_ok(eligible, ranked),
    }
    return n_scored, collect_assignment(clusters), checks
