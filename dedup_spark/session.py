"""SparkSession builder with scale-conscious defaults (SURVEY.md §4, §7.0).

AQE stays on as a *backstop* (skew-join, partition coalescing); explicit skew
handling lives in operators.skew per the north rule. Shuffle partitions are
sized to the actual parallelism instead of the 200 default — at cluster scale
the caller overrides via --conf, these are local-mode ergonomics.

Generated code is compiled once per session, not once per pass: the
whole-stage-codegen cache is sized to hold every distinct class the pipeline
generates, and class names carry no codegen stage id, so identical stages
share one compiled class. ``codegen_census`` reads Spark's own counters of
what was compiled.
"""

from __future__ import annotations

import os
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def _pin_blas_threads() -> None:
    """One BLAS/OMP thread per Python worker.

    Spark already runs one Python worker per core; letting each worker's
    numpy spawn its own thread pool oversubscribes the host by the core
    count squared — measured as a stage running 3× SLOWER at local[32] than
    local[8]. Must be set before workers import numpy; local-mode workers
    inherit the driver env set here.
    """
    for var in (
        "OMP_NUM_THREADS",
        "OPENBLAS_NUM_THREADS",
        "MKL_NUM_THREADS",
        "VECLIB_MAXIMUM_THREADS",
        "NUMEXPR_NUM_THREADS",
    ):
        os.environ.setdefault(var, "1")
    # glibc: serve large numpy temps from the (per-process) heap and never
    # give pages back mid-job. The default mmap-per-allocation path serializes
    # all workers on the kernel's address-space locks — measured 8×+ CPU
    # inflation for identical numpy work at 32 concurrent workers, and fault
    # time is billed to the worker as CPU. Heap reuse makes it vanish.
    for var, val in MALLOC_TUNING.items():
        os.environ.setdefault(var, val)


MALLOC_TUNING = {
    "MALLOC_MMAP_THRESHOLD_": "268435456",
    "MALLOC_TRIM_THRESHOLD_": "-1",
    "MALLOC_TOP_PAD_": "268435456",
}


# Codegen cache size. Distinct generated classes, measured with an unbounded
# cache and useIdInClassName=false on a 4-core host: a cold 6k images_full
# pass 263 (1.4 MB of bytecode), a 12k captions_text pass 123, both in one
# session 329, and a whole bench.py session (100k flagship, its warm-up and
# the eight headline queries) 469 in 2.4 MB. 1000 holds twice the largest;
# full, it keeps ~5 MB of bytecode (~5 KB an entry) in a multi-GB driver.
CODEGEN_CACHE_ENTRIES = 1000


def _default_driver_memory() -> str:
    """~1/5 of host RAM, clamped to [2g, 24g]; SPARK_GRAFT_DRIVER_MEM wins.

    Callers needing more pass extra_conf={"spark.driver.memory": ...}."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    try:
        pages = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        gb = pages // (1 << 30)
    except (ValueError, OSError):
        gb = 8
    return f"{max(2, min(24, int(gb // 5)))}g"


def get_spark(
    app: str = "dedup_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    _pin_blas_threads()
    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    # on a real cluster the same pinning must reach executors explicitly
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        b = b.config(f"spark.executorEnv.{var}", "1")
    for var, val in MALLOC_TUNING.items():
        b = b.config(f"spark.executorEnv.{var}", val)
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _default_driver_memory())
        # local mode: one JVM carries every concurrent task's scan/shuffle
        # buffers; an 8g heap at 32 tasks GC-thrashed JVM stages with
        # multi-second random inflation. Sized from host RAM (~1/5, capped
        # at 24g) so smaller hosts don't fail to launch or swap.
        #
        # payload rows are ~7KB of binary, so the default 4096-row vectorized
        # reader batch is a ~28MB humongous allocation per task per batch —
        # at 32 concurrent tasks G1 collapsed (a warm 2.8GB scan-count took
        # 14.5s at 32 cores vs 2.2s at 8). 256-row batches → ~1.7s at 32.
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
        # Janino compiles each whole-stage-codegen class on a cache miss, on
        # the planning path of every job and again in tasks. The default
        # cache holds 100 classes and a 6k images_full pass generates ~345,
        # so every warm pass recompiled all of them (4-7 of its 20-25 JVM
        # CPU-s). A static conf: it only takes effect in the builder.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # the generated class name embeds its codegen stage id, so the same
        # code in another stage, another plan or an AQE re-plan missed the
        # cache; without the id a cold 6k pass compiles 263 classes, not ~350
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    # shuffle files default to /tmp — a REAL shared disk on this host, a
    # serial bottleneck no multi-executor cluster has (executors get local
    # NVMe). Put shuffle+spill on the RAM disk — but ONLY for explicit
    # local[] masters (VERDICT/ADVICE r2): on a cluster, tmpfs shuffle
    # silently competes with executor memory and a large spill can exhaust
    # /dev/shm; cluster managers own local dirs there (SPARK_LOCAL_DIRS).
    # Explicit spark.local.dir in extra_conf or SPARK_LOCAL_DIRS still wins.
    if (
        master is not None
        and master.startswith("local")
        and os.path.isdir("/dev/shm")
        and "SPARK_LOCAL_DIRS" not in os.environ
        and not (extra_conf or {}).get("spark.local.dir")
    ):
        local_dir = f"/dev/shm/spark-local-{os.getpid()}"
        b = b.config("spark.local.dir", local_dir)
        # the JVM removes its own subdirs on clean stop but leaves the
        # per-pid parent (and everything, on a crash mid-job): reap it when
        # this interpreter exits so crashed runs don't leak RAM-disk pages
        import atexit
        import shutil

        atexit.register(shutil.rmtree, local_dir, ignore_errors=True)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if shuffle_partitions is None:
        # 4x the cores, not 1x: several shuffles carry FAT rows (shingle
        # arrays, band tables) where a 1-partition-per-core layout makes
        # GB-scale tasks whose allocation spikes GC-thrash the shared local
        # JVM (measured: t_verified 4.2s → 44s run-to-run at 16 cores).
        # AQE coalesces the small ones back, so the extra split is ~free.
        shuffle_partitions = max(4 * spark.sparkContext.defaultParallelism, 32)
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_census(spark: SparkSession, since: dict | None = None) -> dict:
    """Classes Janino compiled in this JVM so far, and their compile seconds.

    Both are Spark's own JVM-wide counters, which only a codegen-cache miss
    moves, so a pass that reuses every class adds 0: the count of
    ``CodegenMetrics``' compilation-time histogram, and the summed
    ``CodeGenerator.compileTime`` (the histogram's snapshot is a decaying
    sample, whose mean times count read 0.02 s for 75 compiles). With
    ``since`` (an earlier census) both are the difference.
    """
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    generator = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    classes = metrics.METRIC_COMPILATION_TIME().getCount()
    ns = generator.compileTime()
    out = {"classes": classes, "compile_s": round(ns / 1e9, 3)}
    if since:
        out = {k: round(v - since[k], 3) for k, v in out.items()}
    return out


def py_parallelism(spark: SparkSession) -> int:
    """Task concurrency for pandas-UDF stages: HALF the cores.

    A pandas-UDF task occupies two threads — the JVM feeder (scan +
    decompress + Arrow) and the Python worker. Running cores×2 busy threads
    on cores CPUs thrashes caches so badly that identical numpy work was
    measured at 4–6× more CPU per row (local[32]: 12.1s/stage at 32 workers
    vs 2.6s at 16 workers on this host). JVM-only stages are unaffected —
    cap only the UDF stages (coalesce, no shuffle), not spark.task.cpus.

    The r3 boundary matrix (BENCH/profile_sigs_n800k.jsonl, fresh JVM per
    point) confirms cores/2 is optimal at the deployment scales — 16c: 8
    workers 25.3s vs 16 workers 39.0s; 32c: 16 workers 19.0s vs 32 workers
    55.7s — while at ≤8 total cores workers=cores is ~1.6-1.8x faster
    (4c: 40.4s vs 72.1s) because so few numpy workers leave the host's
    memory path idle. The default deliberately stays cores/2 everywhere:
    per-executor worker count must not depend on cluster size (the N vs 4N
    scaling measurement runs the SAME job config at both parallelism
    levels, as a real cluster would), and the production arm is where
    throughput matters. Small-host users can override via the env knob
    SPARK_GRAFT_UDF_TASKS (absolute task count, clamped to >= 1).
    """
    env = os.environ.get("SPARK_GRAFT_UDF_TASKS", "").strip()
    if env:
        return max(int(env), 1)
    return max(spark.sparkContext.defaultParallelism // 2, 1)


def map_in_groups(
    df: DataFrame,
    keys: list[str],
    emit: Callable[[pd.DataFrame], pd.DataFrame],
    schema: StructType,
) -> DataFrame:
    """``emit`` over batches of COMPLETE ``keys`` groups, sorted on the key.

    NOT applyInPandas: a grouped map pays Arrow + pandas setup for every
    group, and the groups here (Hamming sub-buckets, containment anchor
    grams) are tiny and numerous, so that fixed cost dwarfs the matching
    work. Instead: repartition on the key, sort within partitions, and run
    ONE mapInPandas whose batches each carry many groups — the group that
    straddles a batch boundary is carried into the next batch (batches of
    one partition arrive in order).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if not len(pdf):
                continue
            boundary = np.ones(len(pdf), dtype=bool)
            for k in keys:
                boundary &= (pdf[k] == pdf[k].iloc[-1]).to_numpy()
            carry = pdf[boundary]
            done = pdf[~boundary]
            if len(done):
                yield emit(done)
        if carry is not None and len(carry):
            yield emit(carry)

    return (
        df.repartition(py_parallelism(df.sparkSession), *keys)
        .sortWithinPartitions(*keys)
        .mapInPandas(run, schema=schema)
    )


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog/extension is live on this session.

    The sandbox has no Iceberg runtime jar (SURVEY.md §7.0), so StageStore
    falls back to Parquet-with-manifest; on a real cluster the same pipeline
    writes Iceberg tables (sources.store.IcebergStore).
    """
    try:
        ext = spark.conf.get("spark.sql.extensions", "") or ""
        return "IcebergSparkSessionExtensions" in ext
    except Exception:
        return False
