"""Driver benchmark contract (repo root): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and print ONE JSON line:

  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ..., "images_per_sec": ...}

The flagship number is the full image near-dup pipeline (generate → signatures
→ LSH banding + salting → pairs → verify → CC → winners → rollup → report)
over a deterministic synthetic images table (FIXTURES.md, seed 4242), because
the north metric is "images/sec dedup throughput" (BASELINE.json:2). The
remaining queries are the heavy registry entries over the driver testdata.

Knobs (env):
  SPARK_GRAFT_SF_DIR   testdata dir               (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     local[N] parallelism        (default 32)
  SPARK_GRAFT_BENCH_N  synthetic image-table rows  (default 100000;
                       BASELINE.md mandates bench scale >= 1e5 rows)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time


# Headline registry queries, timed over the driver testdata.
# ngram_jaccard_pairs is deliberately NOT here: it is a per-source all-pairs
# oracle fixture (O(n²/buckets)) kept for the sf0.01 DuckDB check only; the
# engine's scalable text near-dup path in this list is docs_near_dup_clusters
# (LSH star candidates + verify + CC).
HEADLINE = [
    "docs_near_dup_clusters",   # text dedup engine end-to-end
    "content_digest_groups",    # exact-hash groupBy
    "winner_selection_docs",    # window winner
    "prefix_rollup_docs",       # hierarchical rollup
    "latest_event_wins",        # event dedup window (100k rows)
    "events_agg_metrics",       # metrics aggregates
    "embedding_topk",           # brute-force cosine top-k
    "docs_containment_pairs",   # suffix-array containment
]


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def run_bench(cpus: int | None = None, sf_dir: str | None = None,
              bench_n: int | None = None, quiet: bool = False) -> dict:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    bench_n = bench_n or int(os.environ.get("SPARK_GRAFT_BENCH_N", "100000"))

    from dedup_spark.session import codegen_census, get_spark
    from dedup_spark.sources.gen_images import BENCH_SEED, gen_images
    from perfbench import procfs

    spark = get_spark(app=f"bench_local{cpus}", master=f"local[{cpus}]")
    import __spark_entry__ as entrymod

    reg = entrymod.queries()
    timings: dict[str, float] = {}

    # -- flagship: full image dedup pipeline, images/sec ------------------
    # store on the RAM disk when present — same rationale as the shuffle
    # dirs (session.py): the sandbox /tmp spinning disk serializes stage
    # commits in a way a cluster's local NVMe / object store does not
    root = tempfile.mkdtemp(
        prefix="bench_images_",
        dir="/dev/shm" if os.path.isdir("/dev/shm") else None,
    )
    try:
        from dedup_spark.plans.pipeline import run_pipeline

        # input generated OUTSIDE the timed window: the north metric is
        # dedup throughput over an EXISTING table — generation is test
        # scaffolding
        input_path = f"{root}/t_input"
        gen_images(spark, bench_n, BENCH_SEED).write.mode("overwrite").parquet(
            input_path
        )

        # warm-up (VERDICT r4 #4): attempt 0 used to pay ~20 s of cold-JVM
        # cost (BENCH_r04 attempts 58.4 vs 38.4 s) — JIT compilation of the
        # stage plans, first Arrow batch, Python-UDF worker spawn, store
        # init — so min() partly measured warm-up spread, not the engine.
        # One UNTIMED tiny pipeline run exercises the exact same plans and
        # code paths first; both timed attempts then run in a warm JVM and
        # the attempt spread reflects real run-to-run noise. The warm-up
        # keeps those plans compiled only if the codegen cache holds them:
        # Spark's default held 100 of the ~340 classes a pass generates, so
        # every attempt recompiled them (session.CODEGEN_CACHE_ENTRIES);
        # images_pipeline_codegen records what each attempt still compiled.
        warm_input = f"{root}/t_warm_input"
        gen_images(spark, 2048, BENCH_SEED + 1).write.mode(
            "overwrite"
        ).parquet(warm_input)
        run_pipeline(
            spark, spark.read.parquet(warm_input), f"{root}/warmup",
            run_id="warmup",
        )
        shutil.rmtree(f"{root}/warmup", ignore_errors=True)

        # best-of-2 (VERDICT r2 #8): single flagship runs on this host carry
        # a known JVM/GC noise window (1,879–2,068 img/s observed across r2
        # sweeps); two fresh-store runs and taking the min damps it. Both
        # attempts are reported in the JSON (ADVICE r3), with the best
        # attempt's stage ledger and a host stamp: a fixed numpy loop's time
        # and the hypervisor's steal share over the flagship, so a slow host
        # window can be told apart from slow code.
        host = {"calib_s": round(procfs.calibrate(), 4)}
        cpu0 = procfs.cpu_times()
        attempts, ledgers, codegen = [], [], []
        for i in range(2):
            run_root = f"{root}/run{i}"
            cg0 = codegen_census(spark)
            t0 = time.perf_counter()
            run = run_pipeline(
                spark, spark.read.parquet(input_path), run_root, run_id="bench"
            )
            spark.read.parquet(f"{run_root}/t_report").count()
            attempts.append(round(time.perf_counter() - t0, 3))
            codegen.append(codegen_census(spark, since=cg0))
            ledgers.append([
                {"name": r.name, "seconds": r.seconds, "rows": r.rows,
                 "skipped": r.skipped}
                for r in run.results
            ])
            shutil.rmtree(run_root, ignore_errors=True)
        host["steal_share"] = round(
            procfs.steal_share(cpu0, procfs.cpu_times()), 4
        )
        timings["images_pipeline"] = min(attempts)
        if not quiet:
            print(f"  images_pipeline: best-of-2 {attempts} -> "
                  f"{timings['images_pipeline']:.2f}s", file=sys.stderr)
        images_per_sec = round(bench_n / timings["images_pipeline"], 1)
        # (the incremental path — prior_sigs reuse — is deliberately NOT a
        # headline entry: its win is skipped payload decode, which at this
        # small synthetic payload size is a minority of the flagship time,
        # while its downstream dedup stages rerun fully; benching it here
        # would just double-count those stages. Coverage lives in
        # tests/test_incremental.py and the --prior-store CLI.)
    finally:
        shutil.rmtree(root, ignore_errors=True)

    # -- headline registry queries over driver testdata -------------------
    # every multi-second query gets the flagship's best-of-2 protection
    # (VERDICT r4 #1): in the driver's BENCH_r04 window the two single-run
    # doc queries landed at ~2x the builder's same-code windows (11.73 /
    # 10.98 s vs 5.84 / 4.83 s) and flipped the round's total — one JVM
    # window must not be able to do that. Attempts are recorded in the
    # JSON next to the flagship's.
    best_of = {"docs_near_dup_clusters": 2, "docs_containment_pairs": 2}
    query_attempts: dict[str, list[float]] = {}
    for name in HEADLINE:
        atts = []
        for _ in range(best_of.get(name, 1)):
            t0 = time.perf_counter()
            reg[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            atts.append(round(time.perf_counter() - t0, 3))
        timings[name] = min(atts)
        if len(atts) > 1:
            query_attempts[name] = atts
        if not quiet:
            label = f"best-of-{len(atts)} {atts} -> " if len(atts) > 1 else ""
            print(f"  {name}: {label}{timings[name]:.2f}s", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "dedup_bench_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(sf_dir),
        "images_per_sec": images_per_sec,
        "bench_images": bench_n,
        "cpus": cpus,
        # both flagship attempts, in run order (post-warm-up, so spread =
        # run-to-run noise); the headline takes min() — see flagship block
        "images_pipeline_attempts": attempts,
        # per-stage seconds/rows of the best attempt, in stage-submission
        # order; background stages overlap the main chain, so their seconds
        # are wall time under contention and do not sum to the attempt
        "images_pipeline_stages": ledgers[attempts.index(min(attempts))],
        "host": host,
        # classes Janino compiled during each flagship attempt and their
        # compile seconds, in run order: > 0 on a warm attempt means a plan
        # stopped reusing the warm-up's generated code
        "images_pipeline_codegen": codegen,
        # best-of-2 attempts for the multi-second registry queries
        "query_attempts": query_attempts,
    }
    spark.stop()
    return result


if __name__ == "__main__":
    print(json.dumps(run_bench()))
