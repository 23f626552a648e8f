#!/usr/bin/env python3
"""Benchmark for the music_dedupe_spark entity-resolution engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds its inputs from the seed, starts a
``local[nproc]`` session sized to the host through the package's
``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` overrides, and drives the
package's public entry points from one closed-loop client: one op at a time,
the next op starting only after the previous one returned.

Workloads (why each was chosen: BENCHMARK.json):
  er_incremental  set-up ends with a checkpointed base ``run_pipeline``; the
                  op is the one ``incremental_link`` fold of a delta,
                  through its state being written (see er.py).
  near_dup_sweep  the op calls ``dedup_minhash_lsh`` and
                  ``dedup_ngram_jaccard`` with rows collected (neardup.py).

``--trace 0`` prints the end-to-end metrics: ``op_s`` (median op wall time),
``setup_s`` (process start until the session is up and the warm-up pass is
done; no other metric includes it), ``peak_rss_mb`` (peak resident memory of
the driver, the JVM and its Python workers, summed as PSS so pages they share
count once; the JVM heap is committed whole at start, so this moves with
memory off the heap) and ``heap_live_mb`` (the JVM heap still in use once
full collections at the end of each op stop freeing memory, largest over the
run: what the ops leave behind on the heap). ``--trace 1`` runs both
workloads' layers under spans and prints the per-layer metrics named in
BENCHMARK.json, each span's self time, and the tracing overhead against the
untraced runs recorded in ``.perfbench/results``. The last stdout line is the
result object; lines before it are a readable report. Everything the run
writes stays under ``.perfbench/`` in the working directory.

Numbers from this benchmark are for the host they were measured on, which
every result records. The repository's BENCH_r01-r06 files were measured at
32 cores on another host class; they are a trajectory, not baselines.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("er_incremental", "near_dup_sweep")
RESULTS = os.path.join(ROOT, ".perfbench", "results")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _host_env(run_dir: str) -> dict:
    """Size the session to this host. Values already set in the
    environment win; the ones used are recorded in the result."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:")) // 1024
    # a fifth of RAM, 2-6 GB: the package's 48g default gets the JVM
    # OOM-killed on small hosts
    heap_mb = max(2048, min(6144, mem_mb // 5))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", f"{heap_mb}m")
    # keep every scratch file (shipped package zip, shuffle/spill, JVM
    # temp) inside the working directory
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = f"{run_dir}/tmp"
    keys = ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_SHUFFLE_PARTITIONS",
            "SPARK_GRAFT_IO_CODEC", "SPARK_GRAFT_PREFER_SMJ")
    return {k: os.environ[k] for k in keys if k in os.environ}


def _session(run_dir: str):
    from music_dedupe_spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=os.environ["SPARK_GRAFT_CPUS"],
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the heap is committed and touched up front: unpinned, resident
            # size follows G1's heap-growth decisions, and the near_dup_sweep
            # peak ranged 1.9-2.8 GB across seeds. peak_rss_mb then moves with
            # everything off the heap; heap_live_mb covers the heap.
            "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch "
                                             f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
            "spark.sql.warehouse.dir": f"{run_dir}/warehouse",
            # the status store must keep every job of a traced run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _stop(spark) -> None:
    """Stop the session and wait until the JVM and its workers are gone."""
    from spans import process_tree

    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    tree = [p for p in process_tree() if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while tree and time.time() < deadline:
        tree = [p for p in tree if _alive(p)]
        time.sleep(0.1)
    for p in tree:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass  # it ended after the last look


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Hygiene:
    """Every timed op starts with no persisted RDDs left from the previous
    op: ``run_pipeline`` keeps its features and signatures persisted for the
    session, and Spark's cache would serve the next op's identical plans.
    Records how many were left (a leak signal) before releasing them."""

    def __init__(self, spark):
        self.spark, self.max_left = spark, 0

    def __call__(self) -> None:
        jsc = self.spark.sparkContext._jsc
        self.max_left = max(self.max_left, jsc.getPersistentRDDs().size())
        self.spark.catalog.clearCache()
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)  # localCheckpoint blocks are not in the SQL cache
        left = jsc.getPersistentRDDs().size()
        if left:
            raise RuntimeError(f"{left} persisted RDDs survived clearing")

    def jvm_threads(self) -> int:
        jvm = self.spark.sparkContext._jvm
        return jvm.java.lang.management.ManagementFactory.getThreadMXBean().getThreadCount()

    def heap_live_mb(self) -> float:
        """JVM heap in use once full collections stop freeing memory. One
        collection is not enough: it lets py4j and Spark's ContextCleaner
        release more (asynchronously), which the next one frees; readings
        settle after three or four rounds."""
        jvm = self.spark.sparkContext._jvm
        mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        last = None
        for _ in range(8):
            gc.collect()  # dead Python handles still pin their JVM objects
            jvm.java.lang.System.gc()
            used = mem.getHeapMemoryUsage().getUsed() / 2**20
            if last is not None and abs(used - last) < 1.0:
                break
            last = used
            time.sleep(0.3)
        return used


def _workload(name, spark, run_dir, seed, tracer):
    """(workload, warm-up pass, op, most ops in a run)."""
    if name == "er_incremental":
        from er import ErIncremental

        wl = ErIncremental(spark, f"{run_dir}/{name}", seed, tracer)
        return wl, wl.durable_resolve, wl.fold, 1
    from neardup import NearDupSweep

    wl = NearDupSweep(spark, f"{run_dir}/{name}", seed, tracer)
    return wl, wl.sweep, wl.sweep, None


def run_untraced(args, spark) -> tuple[dict, dict]:
    from spans import Tracer, since_process_start

    tracer = Tracer(spark, enabled=False)
    os.makedirs(f"{args.run_dir}/{args.workload}")
    wl, warm, op, max_ops = _workload(args.workload, spark, args.run_dir, args.seed, tracer)
    warm_s = warm()
    setup_s = since_process_start()
    samples, parts, heap_mb, attempted, failed = [], [], [], 1, 0
    try:
        wl.check()  # the warm-up pass's output counts as an op, outside setup_s
    except Exception:
        failed += 1
        traceback.print_exc()
    hygiene = Hygiene(spark)
    t_start = time.perf_counter()
    while len(samples) != max_ops and (not samples or time.perf_counter() - t_start < args.seconds):
        hygiene()
        attempted += 1
        t0, wall = time.perf_counter(), None
        try:
            parts.append(op())
            wall = time.perf_counter() - t0
            wl.check()
        except Exception:  # the loop must report, not die: count and record it
            failed += 1
            traceback.print_exc()
        samples.append(wall if wall is not None else time.perf_counter() - t0)
        heap_mb.append(hygiene.heap_live_mb())  # before the next op releases its cache
        if failed:
            break  # a failed op may leave no state for the next one
    detail = {"samples_s": samples, "inputs": wl.stats(),
              "jvm_threads_after": hygiene.jvm_threads(), "cached_rdds_after": hygiene.max_left}
    if args.workload == "near_dup_sweep" and parts:
        detail["minhash_lsh_s"] = statistics.median(p[0] for p in parts)
        detail["ngram_jaccard_s"] = statistics.median(p[1] for p in parts)
        detail["rows_out"] = {"dedup_minhash_lsh": wl.last[1], "dedup_ngram_jaccard": wl.last[3]}
    else:
        detail["durable_resolve_s"] = warm_s
        detail["delta_fold_s"] = statistics.median(samples)
    metrics = {
        "op_s": (statistics.median(samples), "s"),
        "setup_s": (setup_s, "s"),
        "heap_live_mb": (max(heap_mb), "MB"),
    }
    return {"attempted": attempted, "failed": failed, "metrics": metrics}, detail


def run_traced(args, spark) -> tuple[dict, dict]:
    """Both workloads' layers under spans, on this seed's inputs, so every
    per-layer metric is measured in every traced run:

    - the checkpointed base resolve (untraced apart from its one span) and
      the fold, checked against the ground truth as in untraced runs;
    - the stage-by-stage traced resolve of the base rows, whose scored-pair
      count and cluster digest must equal the base resolve's;
    - an untraced warm-up sweep of both near-duplicate entries, then a
      traced one, checked like untraced sweeps.

    The tracing overhead is reported against the untraced results this
    checkout has recorded for the same workload (same seed if present)."""
    from er import ErIncremental, digest, pairwise_f1, traced_resolve
    from neardup import NearDupSweep
    from spans import Tracer

    nproc = len(os.sched_getaffinity(0))
    tr = Tracer(spark, enabled=True)
    hygiene = Hygiene(spark)
    checks, walls, attempted, failed = {}, {}, 0, 0

    def op(name, fn):
        nonlocal attempted, failed
        hygiene()
        attempted += 1
        try:
            checks[name] = True
            return fn()
        except Exception:  # record it and keep measuring the other layers
            failed += 1
            checks[name] = False
            traceback.print_exc()
            return None

    os.makedirs(f"{args.run_dir}/er_incremental")
    er = ErIncremental(spark, f"{args.run_dir}/er_incremental", args.seed, tr)

    def base():
        er.durable_resolve()
        er.check()
        return er.base_scored.count(), er.state_assignment(0)

    with tr.span("er_incremental"):  # the fold follows the base resolve, as in untraced runs
        ref = op("durable_resolve", base)
        walls["er_incremental"] = op("fold", lambda: (er.fold(), er.check())[0])
        traced = op("traced_resolve", lambda: traced_resolve(tr, spark.read.parquet(f"{er.dir}/base")))
    resolve = {}
    if ref and traced:
        (ref_scored, ref_assign), (scored, assign, stage_checks) = ref, traced
        resolve = {"scored_pairs": ref_scored, "cluster_digest": digest(ref_assign)}
        checks["traced_scored_pairs_equal"] = scored == ref_scored
        checks["traced_cluster_digest_equal"] = digest(assign) == resolve["cluster_digest"]
        checks["f1_ge_0.99"] = pairwise_f1(assign, er.corpus.labeled_pairs) >= 0.99
        checks.update(stage_checks)
        attempted += 1
        failed += not all(checks[k] for k in ("traced_scored_pairs_equal", "traced_cluster_digest_equal",
                                               "f1_ge_0.99", *stage_checks))

    os.makedirs(f"{args.run_dir}/near_dup_sweep")
    nd = NearDupSweep(spark, f"{args.run_dir}/near_dup_sweep", args.seed, tr)
    with tr.span("near_dup_sweep"):  # a warm-up sweep first, as in untraced runs
        tr.enabled = False
        op("warm_sweep", lambda: (nd.sweep(), nd.check()))
        tr.enabled = True
        walls["near_dup_sweep"] = op("sweep", lambda: (sum(nd.sweep()), nd.check())[0])

    layers, self_s = tr.layer_metrics(nproc)
    layers["session.cached_rdds_after"] = (hygiene.max_left, "count")
    layers["session.jvm_threads_after"] = (hygiene.jvm_threads(), "count")
    detail = {"checks": checks, "resolve": resolve, "overhead": _overhead(args.seed, walls), "self_s": self_s,
              "inputs": {"er_incremental": er.stats(), "near_dup_sweep": nd.stats()}}
    return {"attempted": attempted, "failed": failed, "metrics": layers}, detail


def _overhead(seed: int, traced_walls: dict) -> dict:
    """Traced op wall time against the untraced runs' op_s recorded in
    .perfbench/results (the same seed when present, else the median of all)."""
    out = {}
    for wl, traced in traced_walls.items():
        same = os.path.join(RESULTS, f"{wl}-s{seed}-t0.json")
        paths = [same] if os.path.exists(same) else [
            os.path.join(RESULTS, n) for n in sorted(os.listdir(RESULTS))
            if n.startswith(f"{wl}-s") and n.endswith("-t0.json")] if os.path.isdir(RESULTS) else []
        untraced = []
        for p in paths:
            with open(p) as f:
                untraced.append(json.load(f)["metrics"]["op_s"][0])
        if traced and untraced:
            out[wl] = {"traced_s": traced, "untraced_s": statistics.median(untraced), "untraced_runs": len(untraced)}
    return out


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "music_dedupe_spark", "__init__.py")):
        print(f"music_dedupe_spark not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = [m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]]
    sys.path.insert(0, ROOT)
    args.run_dir = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    shutil.rmtree(args.run_dir, ignore_errors=True)
    os.makedirs(f"{args.run_dir}/tmp")
    env_used = _host_env(args.run_dir)

    from spans import MemSampler, host_record

    spark = None
    try:
        with MemSampler() as mem:
            spark = _session(args.run_dir)
            result, detail = (run_traced if args.trace else run_untraced)(args, spark)
        _stop(spark)
        spark = None
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(args.run_dir, ignore_errors=True)
    metrics = result["metrics"]
    if not args.trace:
        metrics["peak_rss_mb"] = (mem.peak_mb, "MB")
    missing = [m for m in wanted if m not in metrics]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 3
    detail.update(workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
                  host=host_record(ROOT, env_used), peak_rss_mb=mem.peak_mb)
    _report(args, metrics, detail, result)
    out = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m: {"value": metrics[m][0], "unit": metrics[m][1]} for m in wanted},
    }
    print(json.dumps(out))
    return 0


def _report(args, metrics, detail, result) -> None:
    """Readable lines before the result; the full record also goes to
    .perfbench/results/."""
    detail["failed_op_share"] = result["failed"] / result["attempted"]
    if args.trace:
        print(f"{'span':34} {'wall_s':>8} {'self_s':>8} {'task_s':>8} {'util':>5} {'jobs':>5}")
        for name, self_s in detail["self_s"].items():
            print(f"{name:34} {metrics[name + '.wall_s'][0]:8.2f} {self_s:8.2f} "
                  f"{metrics[name + '.task_s'][0]:8.2f} {metrics[name + '.core_util'][0]:5.2f} "
                  f"{metrics[name + '.jobs'][0]:5d}")
        for k in WORKLOADS:
            o = detail["overhead"].get(k)
            print(f"tracing overhead on the {k} op: " + (
                f"{o['traced_s'] - o['untraced_s']:+.2f} s ({o['traced_s'] / o['untraced_s'] - 1:+.1%} of the "
                f"{o['untraced_s']:.2f} s untraced median of {o['untraced_runs']} runs)" if o else
                "no untraced result recorded in .perfbench/results"))
    else:
        n = len(detail["samples_s"])
        for m, (v, unit) in metrics.items():
            print(f"{m} = {v:.4f} {unit}" + (f" (median of {n})" if m == "op_s" else ""))
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, f"{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump({"metrics": metrics, **detail}, f, indent=1, default=str)
    print(json.dumps({k: detail[k] for k in detail if k not in ("self_s",)}, default=str))


if __name__ == "__main__":
    sys.exit(main())
