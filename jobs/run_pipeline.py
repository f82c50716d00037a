"""spark-submit entrypoint (SURVEY.md §2 B40, BASELINE.json:14).

Cluster launch:

    zip -r dedup_spark.zip dedup_spark            # or jobs/make_pyfiles.sh
    spark-submit --py-files dedup_spark.zip \
        --num-executors 64 --executor-cores 4 --executor-memory 16g \
        jobs/run_pipeline.py \
        --input iceberg_catalog.db.images --store-root s3://bucket/dedup_runs/r1 \
        --run-id r1

Sandbox / local run (no Iceberg jar, SURVEY.md §7.0):

    python jobs/run_pipeline.py --generate 20000 --seed 4242 \
        --store-root /tmp/run1 --master 'local[32]'

The job is resumable: re-running with the same --store-root/--run-id skips
stages already marked done in lineage (plans.pipeline, tests/test_resume.py).
Exit code 0 iff all stages committed.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# direct `python jobs/run_pipeline.py` runs (no --py-files) find the package
# relative to this file; on a cluster the zip on PYTHONPATH wins
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def table_token(spark, images, name: str) -> str:
    """Resume identity of an --input table: its name plus the path, size and
    mtime of every file it reads, so an input rewritten in place under the
    same name never reuses checkpoints computed from the old files."""
    import hashlib

    jvm, conf = spark._jvm, spark._jsc.hadoopConfiguration()
    h = hashlib.sha256()
    for f in sorted(images.inputFiles()):
        path = jvm.org.apache.hadoop.fs.Path(f)
        st = path.getFileSystem(conf).getFileStatus(path)
        h.update(f"{f}|{st.getLen()}|{st.getModificationTime()}\n".encode())
    return f"table:{name}:{h.hexdigest()}"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="dedup_spark full pipeline")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="images table: Iceberg table name or parquet path")
    src.add_argument("--generate", type=int, metavar="N",
                     help="generate a deterministic synthetic images table of N rows")
    p.add_argument("--seed", type=int, default=1337, help="synthetic-source seed")
    p.add_argument("--store-root", required=True,
                   help="stage-store root (dir / object-store prefix)")
    p.add_argument("--run-id", default=None, help="resume key (default: random)")
    p.add_argument("--master", default=None,
                   help="override master (spark-submit usually sets this)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--no-recompute-phash", action="store_true",
                   help="trust the input phash column instead of decoding pixels")
    p.add_argument("--prior-store", default=None,
                   help="incremental run: reuse t_sigs from this prior store "
                        "root — payloads are decoded only for image_ids "
                        "absent from it (appends); prior rows missing from "
                        "the current input are dropped (deletes)")
    args = p.parse_args(argv)

    from dedup_spark.session import codegen_census, get_spark
    from dedup_spark.plans.pipeline import run_pipeline

    spark = get_spark(app="dedup_pipeline", master=args.master,
                      shuffle_partitions=args.shuffle_partitions)
    t0 = time.perf_counter()
    codegen0 = codegen_census(spark)

    if args.generate:
        from dedup_spark.sources.gen_images import gen_images
        # materialize the synthetic table once (the analog of the real
        # Iceberg input): the pipeline scans its input twice (invalid-row
        # diagnostics + signatures) and re-running the generator UDF per scan
        # would double the dominant Python cost of the benchmark path
        input_path = f"{args.store_root}/t_input_{args.generate}_{args.seed}"
        import os as _os
        if not _os.path.exists(input_path):
            gen_images(spark, args.generate, args.seed).write.mode(
                "overwrite"
            ).parquet(input_path)
        images = spark.read.parquet(input_path)
        n_input = args.generate
        input_token = f"gen:{args.generate}:{args.seed}"
    else:
        if "/" in args.input or args.input.endswith(".parquet"):
            images = spark.read.parquet(args.input)
        else:
            images = spark.read.table(args.input)
        n_input = None
        input_token = table_token(spark, images, args.input)

    prior_sigs = None
    if args.prior_store:
        prior_sigs = spark.read.parquet(f"{args.prior_store}/t_sigs")
        input_token = f"{input_token}|prior:{args.prior_store}"

    run = run_pipeline(
        spark, images, args.store_root, run_id=args.run_id,
        recompute_phash=not args.no_recompute_phash,
        input_token=input_token,
        prior_sigs=prior_sigs,
    )

    elapsed = time.perf_counter() - t0
    codegen = codegen_census(spark, since=codegen0)
    summary = {
        "store_root": args.store_root,
        "run_id": run.store.run_id,
        "elapsed_sec": round(elapsed, 2),
        # whole-stage-codegen classes compiled in the elapsed window
        "codegen_classes": codegen["classes"],
        "codegen_compile_s": codegen["compile_s"],
        "stages": [
            {"stage": r.name, "rows": r.rows, "skipped": r.skipped,
             "sec": r.seconds}
            for r in run.results
        ],
    }
    if n_input:
        summary["images_per_sec"] = round(n_input / elapsed, 1)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
