"""Checkpoint/resume semantics (SURVEY.md §2 B38; BASELINE.json:14
"resumable from checkpoint with per-partition lineage + metrics")."""

import json
import os

import pytest

from dedup_spark.config import PipelineConfig
from dedup_spark.plans.pipeline import run_pipeline
from dedup_spark.sources.gen_images import gen_images

N = 300


@pytest.fixture(scope="module")
def first_run(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("resume_store"))
    images = gen_images(spark, N, 7)
    run = run_pipeline(spark, images, root, run_id="rr")
    report = spark.read.parquet(f"{root}/t_report").toPandas()
    return root, run, report.sort_values("image_id").reset_index(drop=True)


def test_rerun_skips_all_stages(spark, first_run):
    root, run1, report1 = first_run
    images = gen_images(spark, N, 7)
    run2 = run_pipeline(spark, images, root, run_id="rr")
    assert all(r.skipped for r in run2.results), [
        r.name for r in run2.results if not r.skipped
    ]
    # results come in stage-submission order, not thread-finish order
    assert [r.name for r in run2.results] == [r.name for r in run1.results]
    report2 = (
        spark.read.parquet(f"{root}/t_report")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    assert report1.equals(report2)


def test_mid_pipeline_resume_recomputes_only_downstream(spark, first_run):
    root, _, report1 = first_run
    # simulate a crash after t_verified: nuke manifests of later stages
    downstream = ["t_clusters", "t_winners", "t_report", "t_dir_report"]
    for name in downstream:
        os.remove(os.path.join(root, f"{name}.manifest.json"))
    images = gen_images(spark, N, 7)
    run = run_pipeline(spark, images, root, run_id="rr")
    recomputed = {r.name for r in run.results if not r.skipped}
    assert recomputed == set(downstream)
    report2 = (
        spark.read.parquet(f"{root}/t_report")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    assert report1.equals(report2)


def test_recomputed_stage_rewrites_its_census(spark, first_run):
    """A census rides in its stage's manifest, so a lost manifest loses
    exactly one stage: the rerun recomputes ONLY the leaf t_skew_report and
    commits the same salting-loss census again. (Runs before the
    config-change test, which rewrites this store under another run_id.)"""
    root, _, _ = first_run
    mf = os.path.join(root, "t_skew_report.manifest.json")
    with open(mf) as f:
        before = json.load(f)["census"]
    assert "salting_lost_pairs" in before
    os.remove(mf)
    images = gen_images(spark, N, 7)
    run = run_pipeline(spark, images, root, run_id="rr")
    assert {r.name for r in run.results if not r.skipped} == {"t_skew_report"}
    with open(mf) as f:
        assert json.load(f)["census"] == before


def test_stage_names_match_benchmark_ledger(first_run):
    """The benchmark's per-stage ledger (perfbench.trace.STAGES) names every
    stage run_pipeline commits; a renamed or added stage must fail here
    rather than silently fall out of the ledger."""
    from perfbench.trace import STAGES

    _, run, _ = first_run
    assert {r.name for r in run.results} == set(STAGES)


def test_config_change_invalidates_checkpoints(spark, first_run):
    root, _, _ = first_run
    images = gen_images(spark, N, 7)
    cfg2 = PipelineConfig(jaccard_threshold=0.9)
    run = run_pipeline(spark, images, root, run_id="rr2", cfg=cfg2)
    assert all(not r.skipped for r in run.results), (
        "different config fingerprint must recompute everything"
    )


# approximation censuses (VERDICT r3 #5): stage → census carried in its
# manifest
CENSUSES = {
    "t_skew_report": "salting_lost_pairs",
    "t_containment": "containment_skipped_groups",
}


def test_lineage_and_metrics_written(spark, first_run):
    root, _, _ = first_run
    with open(os.path.join(root, "t_lineage.jsonl")) as f:
        lineage = [json.loads(l) for l in f if l.strip()]
    stages = {l["stage"] for l in lineage}
    assert {"t_sigs", "t_verified", "t_clusters", "t_report"} <= stages
    assert all(l["status"] == "done" and "fingerprint" in l for l in lineage)

    metrics = spark.read.parquet(f"{root}/t_metrics").toPandas()
    assert {"stage", "partition_id", "rows_out", "run_id"} <= set(metrics.columns)
    m_rr = metrics[metrics.run_id == "rr"]
    # t_sigs was computed exactly once under run "rr": per-partition rows sum
    # to the materialized row count (per-partition lineage mandate)
    assert m_rr.groupby("stage").rows_out.sum()["t_sigs"] == N - 3  # 3 invalid
    assert (metrics.partition_id >= 0).all()

    # censuses are durable manifest fields, not just logs; the lineage log
    # appends every manifest, so it is the run's recall-budget view
    for stage, cname in CENSUSES.items():
        with open(os.path.join(root, f"{stage}.manifest.json")) as f:
            manifest = json.load(f)
        assert manifest["census"][cname] >= 0, stage
        rows = [l for l in lineage if l["stage"] == stage]
        assert rows[-1] == manifest, stage
        assert all(l["census"][cname] >= 0 for l in rows), stage
        assert any(l["run_id"] == "rr" for l in rows), stage
    assert all("census" not in l for l in lineage if l["stage"] not in CENSUSES)


def test_sync_stage_failure_reaps_async_pool(spark, tmp_path, monkeypatch):
    """ADVICE r4: when a SYNCHRONOUS stage raises, the async diagnostic
    pool must be reaped before the exception propagates — its non-daemon
    workers must not keep running Spark jobs past the pipeline's death (the
    old code never reached join_async() on this path). The already-submitted
    async stages finish their commits (Spark jobs cannot be interrupted
    mid-flight; waiting is the reap), then the primary error re-raises."""
    import dedup_spark.operators.winners as winners_mod

    root = str(tmp_path / "sync_fail_store")
    images = gen_images(spark, N, 7)

    def boom(df):
        raise RuntimeError("injected winner failure")

    monkeypatch.setattr(winners_mod, "select_winners", boom)
    with pytest.raises(RuntimeError, match="injected winner failure"):
        run_pipeline(spark, images, root, run_id="sf")
    # by t_winners the background stages were already running (t_dup_dirs
    # and t_dir_report do not depend on t_winners); the failure path
    # awaited them, so their commits are durable
    for name in ["t_invalid", "t_skew_report", "t_dup_dirs", "t_dir_report"]:
        assert os.path.exists(os.path.join(root, f"{name}.manifest.json")), name
    assert not os.path.exists(os.path.join(root, "t_winners.manifest.json"))

    monkeypatch.undo()
    run2 = run_pipeline(spark, images, root, run_id="sf")
    recomputed = {r.name for r in run2.results if not r.skipped}
    # everything downstream of (and including) the failed stage recomputes
    assert recomputed == {"t_winners", "t_report"}


def test_consumed_background_stage_failure_surfaces_and_resumes(
    spark, tmp_path, monkeypatch
):
    """t_containment runs beside the main chain and t_rescued waits on it.
    Its failure must re-raise from run_pipeline (not hang, not be
    swallowed), leave no pool thread alive, and a rerun must recompute it
    and everything downstream while skipping every stage that committed."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    import dedup_spark.operators.containment as containment_mod

    root = str(tmp_path / "contain_fail_store")
    images = gen_images(spark, N, 7)

    def boom(sigs, cfg):
        raise RuntimeError("injected containment failure")

    monkeypatch.setattr(containment_mod, "containment_stage", boom)
    caller = ThreadPoolExecutor(max_workers=1)
    fut = caller.submit(run_pipeline, spark, images, root, run_id="cf")
    caller.shutdown(wait=False)
    with pytest.raises(RuntimeError, match="injected containment failure"):
        fut.result(timeout=900)
    assert not [t for t in threading.enumerate()
                if t.name.startswith("dedup-stage")]
    survived = {f.removesuffix(".manifest.json") for f in os.listdir(root)
                if f.endswith(".manifest.json")}
    downstream = {"t_containment", "t_rescued", "t_clusters", "t_winners",
                  "t_report"}
    assert survived and not survived & downstream
    # t_verified does not read containment, so it committed before the
    # failure surfaced
    assert "t_verified" in survived

    monkeypatch.undo()
    run2 = run_pipeline(spark, images, root, run_id="cf")
    skipped = {r.name for r in run2.results if r.skipped}
    assert skipped == survived
    assert downstream <= {r.name for r in run2.results if not r.skipped}


def test_verified_does_not_wait_for_containment(spark, tmp_path, monkeypatch):
    """Containment pairs are linked edges, not verify candidates: t_verified
    commits while t_containment is still blocked, which only lets go once
    the t_verified commit has landed."""
    import threading

    import dedup_spark.operators.containment as containment_mod
    from dedup_spark.sources.store import ParquetStore

    verified = threading.Event()
    real_write = ParquetStore.write
    real_containment = containment_mod.containment_stage

    def write(self, name, *args, **kwargs):
        res = real_write(self, name, *args, **kwargs)
        if name == "t_verified":
            verified.set()
        return res

    def blocked_containment(sigs, cfg):
        if not verified.wait(timeout=120):
            raise TimeoutError("t_verified did not commit before containment")
        return real_containment(sigs, cfg)

    monkeypatch.setattr(ParquetStore, "write", write)
    monkeypatch.setattr(containment_mod, "containment_stage", blocked_containment)
    root = str(tmp_path / "no_wait_store")
    run = run_pipeline(spark, gen_images(spark, N, 7), root, run_id="nw")
    assert verified.is_set()
    assert all(not r.skipped for r in run.results)
    assert spark.read.parquet(f"{root}/t_clusters").count() > 0


def test_async_stage_failure_surfaces_and_resumes(spark, tmp_path, monkeypatch):
    """Leaf diagnostic stages run on a thread pool concurrent with the main
    chain (r4); a failure there must re-raise at the join point — never be
    swallowed — and a rerun must recompute ONLY the failed stage."""
    import dedup_spark.operators.report as report_mod

    root = str(tmp_path / "async_store")
    images = gen_images(spark, N, 7)

    real_dir_report = report_mod.dir_report

    def boom(df):
        raise RuntimeError("injected dir_report failure")

    monkeypatch.setattr(report_mod, "dir_report", boom)
    with pytest.raises(RuntimeError, match="injected dir_report failure"):
        run_pipeline(spark, images, root, run_id="ar")
    assert not os.path.exists(os.path.join(root, "t_dir_report.manifest.json"))

    monkeypatch.setattr(report_mod, "dir_report", real_dir_report)
    run2 = run_pipeline(spark, images, root, run_id="ar")
    recomputed = {r.name for r in run2.results if not r.skipped}
    assert recomputed == {"t_dir_report"}
    assert spark.read.parquet(f"{root}/t_dir_report").count() >= 0


def test_rewritten_input_recomputes_signatures(spark, tmp_path):
    """--input resume identity covers the input's files, not just its name:
    a parquet input rewritten in place under the same path must not reuse
    checkpoints computed from the old files."""
    from jobs.run_pipeline import table_token

    src = str(tmp_path / "input")
    root = str(tmp_path / "rewrite_store")
    gen_images(spark, 120, 7).write.parquet(src)
    images = spark.read.parquet(src)
    token = table_token(spark, images, src)
    assert token == table_token(spark, spark.read.parquet(src), src)
    run_pipeline(spark, images, root, run_id="ri", input_token=token)

    gen_images(spark, 120, 8).write.mode("overwrite").parquet(src)
    images = spark.read.parquet(src)
    token2 = table_token(spark, images, src)
    assert token2 != token
    run = run_pipeline(spark, images, root, run_id="ri", input_token=token2)
    assert not next(r for r in run.results if r.name == "t_sigs").skipped
