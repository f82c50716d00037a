"""Stage orchestrator (SURVEY.md §2 B38, §3.3): the full dedup pipeline as a
DAG of checkpointed, resumable stages.

Each stage: if the store says (run_id, stage, config_fingerprint) is done,
SKIP and read its materialized output; else compute → write → mark done.
Killing the driver between any two stages and re-running with the same
run_id resumes mid-pipeline (BASELINE.json:14), verified by tests/test_resume.

Stage graph (materialized checkpoints only; banding / exact edges / star
pairs / dir digests are views recomputed from their checkpointed parent —
cheaper than a materialization barrier). t_salted … t_clusters is
``dedup_chain``, the chain the text slice (operators.textdedup) runs too.

The main thread commits the critical path; every other stage runs BESIDE it
on a thread pool (``run_pipeline``), and its consumer waits for it only where
it reads that table:

  main thread   images ─ t_sigs ─ t_salted ─ t_verified ─ t_rescued ─
  (validity      t_clusters ─ t_winners ─ t_report
   fused into    (views: star pairs of t_salted feed t_verified, exact
   t_sigs)        edges of t_sigs feed t_rescued and t_clusters)

  background    stage            input        read by
                t_containment    t_sigs       t_rescued, t_clusters
                t_invalid        t_sigs       (leaf diagnostic)
                t_dup_dirs       t_sigs       t_dir_report, t_report
                t_dir_report     t_dup_dirs   (leaf diagnostic)
                t_skew_report    t_salted     (leaf diagnostic)
                t_hamming        t_salted     t_rescued, t_clusters
"""

from __future__ import annotations

import functools
import logging
import time
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dedup_spark.config import DEFAULT_CONFIG, PipelineConfig
from dedup_spark.operators import banding, cc, containment, exact, hamming
from dedup_spark.operators import pairs as pairs_op
from dedup_spark.operators import report as report_op
from dedup_spark.operators import rollup, skew, validity, verify, winners
from dedup_spark.sources.store import ParquetStore, StageResult, make_store

log = logging.getLogger("dedup_spark.pipeline")


@dataclass
class PipelineRun:
    store: ParquetStore
    results: list[StageResult] = field(default_factory=list)


def resolve(table: DataFrame | Callable[[], DataFrame]) -> DataFrame:
    """A committed table, or the one behind a background stage's handle:
    calling the handle waits for that stage and re-raises its error. (A
    DataFrame is not callable; ``hasattr`` would resolve as a column.)"""
    return table() if callable(table) else table


def dedup_chain(
    sigs: DataFrame,
    cfg: PipelineConfig,
    commit: Callable[[str, Callable[[], DataFrame]], DataFrame | Callable],
    verify_fn: Callable[[DataFrame], DataFrame],
    linked: Sequence[DataFrame | Callable[[], DataFrame]] = (),
) -> DataFrame:
    """signatures → clusters(image_id, cluster_id): the one near-dup chain,
    shared by run_pipeline and the text slice (operators.textdedup).

    salted LSH bands → exact in-bucket Hamming pairs (simhash; phash where
    the rows have pixels) → minhash star candidates → ``verify_fn`` →
    orphan rescue → connected components. Both callers' ``verify_fn`` runs
    ``verify.verify_pairs`` (one join pass, exact Jaccard for every pair),
    and t_rescued runs the same verify over the orphan pairs.

    ``commit(name, compute)`` materializes each intermediate and returns the
    frame to consume, or a handle to it (see ``resolve``) for a stage
    committed beside the chain: the pipeline's stage store (t_hamming runs
    in the background), the text slice's localCheckpoint. t_salted is
    consumed three times (Hamming verifier, star pass, orphan rescue), so it
    must be a real barrier.

    ``linked``: edge sets (a, b) whose family already decided them — the
    image path's containment pairs and digest groups. Each is a frame or a
    handle and is treated exactly like t_hamming: ``verify_fn`` never sees
    it (it judges the minhash star candidates only), it is resolved just
    before t_rescued, joins the rescue's judged pairs as verified, and is
    unioned into the CC edges.
    """
    t_salted = commit(
        "t_salted",
        lambda: skew.salted_bands(banding.band_table(sigs, cfg), cfg)[0],
    )
    # Hamming families verify EXACTLY inside their buckets — numpy popcount
    # per salted group, no candidate rows, no rescue needed (SURVEY.md §8).
    # Only the minhash/Jaccard family goes through star candidates + join
    # verification + orphan rescue.
    t_hamming = commit(
        "t_hamming", lambda: hamming.hamming_family_pairs(t_salted, cfg=cfg)
    )
    mh_salted = t_salted.where(F.col("family") == "minhash")
    t_verified = commit(
        "t_verified", lambda: verify_fn(pairs_op.candidate_pairs(mh_salted))
    )

    # resolved only now, so t_verified never waits on a background stage
    edge_sets = [resolve(df) for df in (t_hamming, *linked)]
    # orphan rescue (see operators.pairs): minhash-bucketed rows with
    # candidates but zero links anywhere get one capped exhaustive round.
    # "Judged" = verify output + the linked edge sets, so rows linked by ANY
    # family are not orphans and already-found pairs aren't redone.
    judged = t_verified.select("a", "b", "verified")
    for df in edge_sets:
        judged = judged.unionByName(
            df.select("a", "b", F.lit(True).alias("verified"))
        )
    nodes = sigs.select("image_id")
    t_rescued = commit(
        "t_rescued",
        lambda: verify.rescue_verify_pairs(
            pairs_op.orphan_rescue_pairs(mh_salted, judged, node_ids=nodes),
            sigs, cfg,
        ),
    )

    # connected_components dedups the union itself
    edges = verify.verified_edges(t_verified).unionByName(
        verify.verified_edges(t_rescued)
    )
    for df in edge_sets:
        edges = edges.unionByName(df.select("a", "b"))
    return commit("t_clusters", lambda: cc.connected_components(edges, nodes))


def run_pipeline(
    spark: SparkSession,
    images: DataFrame,
    store_root: str,
    run_id: str | None = None,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    recompute_phash: bool = True,
    input_token: str | None = None,
    prior_sigs: DataFrame | None = None,
) -> PipelineRun:
    """``input_token`` names the input identity (Iceberg snapshot id, parquet
    path, or generator params). It is hashed into the resume fingerprint so a
    stage checkpointed against one input is never silently reused for another
    (B38 "input_snapshot"); None keeps the config-only key for callers that
    manage input identity themselves.

    ``prior_sigs`` enables INCREMENTAL runs: pass a previous run's t_sigs
    table and the signature stage decodes payloads ONLY for image_ids not
    present in it; prior rows are reused (semi-joined against the current
    snapshot, so deletes fall out too). Signature extraction is the one
    stage that touches the payload bytes — at 100 TB it dominates the job —
    so a nightly 1% append costs 1% of the decode work while every
    downstream dedup stage still sees the full corpus (near-dup clusters
    can span old and new rows, so banding onward always recomputes; those
    stages are payload-free and cheap by comparison). Callers must fold the
    prior run's identity into ``input_token``; signature-affecting config
    changes are caught by the fingerprint as usual, and prior_sigs computed
    under a different signature config must not be passed (same contract as
    the reference's digest-cache invalidation).

    Incremental reuse contract (ADVICE r2): reused rows are re-filtered
    against the METADATA validity predicates of the current snapshot (w/h/
    fmt — validity.metadata_predicate), so a row whose metadata went invalid
    drops out exactly as a from-scratch run would drop it. The payload-length
    check cannot be applied to reused rows without re-scanning the payload
    column of the whole corpus — the precise cost incremental mode exists to
    avoid — so in-place PAYLOAD edits under an unchanged image_id are
    UNSUPPORTED (the input is append/delete-only, the Iceberg snapshot
    model); the sampled re-decode audit below fails loudly on systematic
    drift, but a single silently edited payload outside the sample is not
    detected."""
    fp = cfg.fingerprint()
    if input_token is not None:
        import hashlib

        fp = hashlib.sha256(f"{fp}|{input_token}".encode()).hexdigest()
    store = make_store(spark, store_root, run_id, fp)
    run = PipelineRun(store=store)

    # Stages nothing on the critical path needs yet run in the BACKGROUND on
    # this pool, beside the main chain: t_invalid, t_containment, t_dup_dirs,
    # t_dir_report, t_skew_report and t_hamming. Spark schedules jobs
    # submitted from several threads task by task, so their jobs fill the
    # executor slots the main chain's stages leave idle instead of each
    # paying a serial commit barrier in front of it. A background stage
    # returns a handle to its committed table; its consumer calls it where it
    # reads the table, and any failure re-raises there or at the final join.
    # The pool cannot deadlock: it is FIFO, stages are submitted in
    # topological order (a background job only waits on an earlier one), and
    # it has one worker per background stage, so none ever queues.
    pool = ThreadPoolExecutor(max_workers=6, thread_name_prefix="dedup-stage")
    pending: list[tuple[str, Future]] = []
    # one slot per stage in submission order, filled by the thread that
    # commits it, so run.results does not depend on thread timing
    slots: dict[str, StageResult | None] = {}

    def stage(
        name: str, compute, census=None, background=False
    ) -> DataFrame | Callable[[], DataFrame]:
        """The one stage commit: SKIP if the store says ``name`` is done,
        else compute → store.write; returns the committed table, or when
        ``background`` (the commit runs on the pool) a handle that waits
        for the commit and then reads the table.

        ``census=(census_name, fn)``: store.write puts fn(committed_df, rows)
        into the stage's manifest, so a done stage always carries its
        approximation census and a skipped one needs nothing more.

        is_done runs on the calling thread and store.write on the thread
        that runs the job: that is how perfbench.trace tells background
        stages from inline ones."""
        slots[name] = None
        done = store.is_done(name)

        def job() -> None:
            if done:
                slots[name] = StageResult(name, -1, skipped=True)
            else:
                t0 = time.perf_counter()
                res = store.write(name, compute(), census=census)
                res.seconds = round(time.perf_counter() - t0, 2)
                slots[name] = res

        if not background:
            job()
            return store.read(spark, name)
        fut = pool.submit(job)
        pending.append((name, fut))

        # read once, and only if a consumer asks (the commit may still be
        # running when the handle is made)
        @functools.cache
        def table() -> DataFrame:
            fut.result()
            return store.read(spark, name)

        return table

    def join(failed: bool = False) -> None:
        """Wait for the background stages and reap the pool. On the FAILURE
        path (a stage raised — ADVICE r4) queued jobs are cancelled, running
        ones awaited, and their errors logged rather than raised, so the
        primary error propagates and no worker outlives the pipeline."""
        if failed:
            pool.shutdown(wait=True, cancel_futures=True)
            for name, fut in pending:
                if not fut.cancelled() and fut.exception() is not None:
                    log.error(
                        "background stage %s failed during pipeline failure",
                        name, exc_info=fut.exception(),
                    )
            return
        try:
            for _, fut in pending:
                fut.result()
        finally:
            pool.shutdown(wait=True)

    try:
        # validity is a VIEW fused into the signature scan, never a materialized
        # stage: the bytes column is the dominant I/O at scale (input_hint rows
        # are mostly payload), so it must be read exactly once — by the signature
        # UDF — with the validity predicates pushed into that same scan. Copying
        # a 100TB input into a t_valid table would double the pipeline's I/O for
        # zero resume value (t_sigs is the first checkpoint that matters).
        from dedup_spark.operators.signatures import compute_signatures

        def _sigs() -> DataFrame:
            base = validity.filter_valid(images)
            if prior_sigs is None:
                return compute_signatures(base, cfg, recompute_phash=recompute_phash)
            # incremental: decode only rows absent from the prior signature
            # table; keep prior rows that still exist in the current snapshot.
            # Both joins are on the thin id column — no payload crosses either.
            prior_ids = prior_sigs.select("image_id")
            fresh = compute_signatures(
                base.join(prior_ids, "image_id", "left_anti"),
                cfg,
                recompute_phash=recompute_phash,
            )
            # reuse filter: current-snapshot ids that still pass the PAYLOAD-FREE
            # validity predicates (see docstring — the length(bytes) check would
            # re-scan the corpus payload, defeating incremental). A prior row
            # whose metadata went invalid in the current snapshot drops out here,
            # matching the from-scratch run (ADVICE r2 medium).
            kept_ids = images.where(validity.metadata_predicate()).select("image_id")
            kept = prior_sigs.join(kept_ids, "image_id", "leftsemi")
            _audit_prior_sigs(base, kept)
            return fresh.unionByName(kept)

        def _audit_prior_sigs(base: DataFrame, kept: DataFrame, k: int = 64) -> None:
            """Trust-but-verify for incremental reuse: re-decode a small
            deterministic sample of REUSED rows and compare their signatures to
            the prior table. Catches the silent-wrong-reuse footgun — prior
            sigs computed under a different signature config (shingle/band/
            hash knobs), or a corrupted prior table — at the cost of ~k payload
            decodes, before a whole run is built on bad signatures. The analog
            of the reference's digest-cache invalidation, enforced on data
            rather than trusted metadata."""
            cmp_cols = ["sha256", "simhash", "phash", "n_shingles"]
            # literal id list, not a semi-join: a join filter does not reach the
            # parquet scan, so the payload column of the WHOLE input would be
            # read to audit 64 rows; an isin predicate pushes down to row-group
            # pruning. 64 short strings on the driver is nothing.
            ids = [
                r.image_id
                for r in kept.select("image_id").orderBy("image_id").limit(k).collect()
            ]
            if not ids:
                return
            redone = compute_signatures(
                base.where(F.col("image_id").isin(ids)),
                cfg,
                recompute_phash=recompute_phash,
            ).select("image_id", *[F.col(c).alias(f"new_{c}") for c in cmp_cols])
            joined = kept.select("image_id", *cmp_cols).join(redone, "image_id")
            # eqNullSafe: plain != yields NULL when either side is NULL, which
            # would drop the row from the summed indicator and let a nulled-out
            # prior signature pass the audit silently (ADVICE r2)
            differs = [
                (~F.col(c).eqNullSafe(F.col(f"new_{c}"))).cast("int")
                for c in cmp_cols
            ]
            bad = joined.where(sum(differs[1:], differs[0]) > 0).count()
            if bad:
                raise ValueError(
                    f"incremental audit failed: {bad}/{k} sampled prior "
                    "signatures do not match recomputation under the current "
                    "config — prior_sigs was built with a different signature "
                    "config or is corrupted; rerun from scratch"
                )

        t_sigs = stage("t_sigs", _sigs)

        # censuses counted EAGERLY inside a stage's compute, so they are ready
        # when its store.write census hook fires: the anchor-gram groups
        # containment dropped at its group cap
        censuses: dict[str, int] = {}

        def _containment() -> DataFrame:
            pair_df, skipped = containment.containment_stage(t_sigs, cfg)
            censuses["containment_skipped_groups"] = skipped.count()
            return pair_df

        # submitted first of the background stages: Spark's FIFO scheduler
        # favours earlier jobs, and t_rescued waits on it
        t_contain = stage(
            "t_containment", _containment,
            census=(
                "containment_skipped_groups",
                lambda out, rows: censuses["containment_skipped_groups"],
            ),
            background=True,
        )

        # invalid-row diagnostics (S9 analog) by thin anti-join against the
        # signature ids: reads ONLY pruned metadata columns of the input — the
        # payload is scanned exactly once in this pipeline, by t_sigs above
        stage(
            "t_invalid",
            lambda: images.select("image_id", "w", "h", "fmt").join(
                t_sigs.select("image_id"), "image_id", "left_anti"
            ),
            background=True,
        )

        t_dup_dirs = stage(
            "t_dup_dirs",
            lambda: rollup.dup_dirs(rollup.dir_digests(t_sigs)),
            background=True,
        )
        stage(
            "t_dir_report", lambda: report_op.dir_report(t_dup_dirs()),
            background=True,
        )

        def commit(name: str, compute) -> DataFrame | Callable:
            out = stage(name, compute, background=name == "t_hamming")
            if name == "t_salted":
                # the skew report is derived FROM the committed salted table —
                # one tiny groupBy over parquet instead of re-running banding
                stage(
                    "t_skew_report",
                    lambda: skew.skew_report_from_salted(out, cfg),
                    # candidate pairs forfeited to salting
                    census=(
                        "salting_lost_pairs",
                        lambda rep, rows: rep.agg(
                            F.sum("est_lost_pairs")
                        ).collect()[0][0] or 0,
                    ),
                    background=True,
                )
            return out

        # exact edges stay a VIEW: one groupBy of t_sigs recomputes in less
        # time than a materialization barrier costs
        t_clusters = dedup_chain(
            t_sigs, cfg, commit,
            lambda pairs: verify.verify_pairs(pairs, t_sigs, cfg),
            linked=(t_contain, exact.exact_edges(t_sigs)),
        )

        t_winners = stage("t_winners", lambda: winners.select_winners(t_clusters))

        def _report():
            sup = rollup.suppressed_members(t_sigs, t_dup_dirs())
            return report_op.image_report(t_winners, sup)

        stage("t_report", _report)
    except BaseException:
        # a stage raised: reap the pool NOW so its non-daemon workers cannot
        # keep running Spark jobs after the pipeline has failed, and their
        # exceptions surface in the log instead of vanishing un-.result()ed
        # (ADVICE r4); the primary error propagates
        join(failed=True)
        raise
    join()
    run.results = list(slots.values())
    return run


__all__ = ["run_pipeline", "dedup_chain", "PipelineRun"]
