"""The benchmark's workloads: input generation, one timed pass, and reading
the pass's cluster table back for the output check.

Each workload is a closed loop with one client: one dedup pass at a time,
from a single process, on a fresh output location each time.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import pyarrow.parquet as pq

from perfbench import checks


@dataclass(frozen=True)
class Workload:
    name: str
    rows: int
    why: str
    # True: run_pipeline over the image table, committing to a stage store.
    # False: text_dedup_clusters over the captions, with no store.
    pipeline: bool

    @property
    def link_kinds(self) -> frozenset:
        return checks.ALL_KINDS if self.pipeline else checks.CAPTION_KINDS

    def expected_rows(self, n: int) -> set[int]:
        """Rows the cluster table must hold: the pipeline drops the
        generator's invalid rows, the text path keeps every caption."""
        rows = set(range(n))
        return rows - checks.invalid_rows(n) if self.pipeline else rows

    # -- one pass ----------------------------------------------------------

    def run_pass(self, spark, input_path: str, out: str) -> None:
        """The timed work: one full dedup pass whose result lands in ``out``."""
        cols = ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
        table = spark.read.parquet(input_path)
        if self.pipeline:
            from dedup_spark.plans.pipeline import run_pipeline

            run_pipeline(spark, table.select(*cols), out, run_id="bench")
        else:
            from dedup_spark.operators.textdedup import text_dedup_clusters

            clusters = text_dedup_clusters(
                table.select("image_id", "caption"),
                id_col="image_id", text_col="caption",
            )
            clusters.select("image_id", "cluster_id").write.parquet(out)

    def cluster_table(self, out: str) -> tuple[list[str], list[str]]:
        path = os.path.join(out, "t_winners") if self.pipeline else out
        t = pq.read_table(path, columns=["image_id", "cluster_id"])
        return t.column("image_id").to_pylist(), t.column("cluster_id").to_pylist()


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "images_full", 6_000,
            "6k image+caption rows through run_pipeline on a fresh store: "
            "every layer runs, incl. pixel decode, pHash and all stage commits",
            pipeline=True,
        ),
        Workload(
            "captions_text", 12_000,
            "12k captions through text_dedup_clusters: no pixels, containment "
            "or store; control for image/store changes, 2nd user of banding-CC",
            pipeline=False,
        ),
    )
}


def _gen_part(lo: int, hi: int, seed: int, path: str) -> None:
    import pyarrow as pa

    from dedup_spark.sources.gen_images import gen_pandas

    ids = list(range(lo, hi))
    frame = gen_pandas(ids, seed)
    frame["rid"] = ids
    schema = pa.schema([
        ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
        ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
        ("phash", pa.int64()), ("rid", pa.int64()),
    ])
    pq.write_table(pa.Table.from_pandas(frame, schema=schema,
                                        preserve_index=False), path)


def generate(n: int, seed: int, path: str, procs: int) -> None:
    """Write rows ``0..n-1`` of the seeded generator
    (``sources.gen_images.gen_pandas``), plus their row id, as parquet parts
    under ``path``, one child process per part. The program reads every
    column but the row id."""
    import subprocess
    import sys

    os.makedirs(path)
    step = -(-n // procs)
    children = []
    for i, lo in enumerate(range(0, n, step)):
        part = os.path.join(path, f"part-{i:05d}.parquet")
        code = ("from perfbench.workloads import _gen_part; "
                f"_gen_part({lo}, {min(lo + step, n)}, {seed}, {part!r})")
        children.append(subprocess.Popen([sys.executable, "-c", code]))
    codes = [c.wait() for c in children]
    if any(codes):
        raise RuntimeError(f"input generation failed: exit codes {codes}")


def row_ids(path: str) -> dict[int, str]:
    t = pq.read_table(path, columns=["rid", "image_id"])
    return dict(zip(t.column("rid").to_pylist(), t.column("image_id").to_pylist()))


def sample(path: str, rows: int):
    """The first ``rows`` generated rows, as pandas, for the kernel timings."""
    t = pq.read_table(path, columns=["rid", "bytes", "w", "h", "fmt", "caption"])
    return t.to_pandas().sort_values("rid").head(rows).reset_index(drop=True)


def outcome_counts(wl: Workload, out: str, results: dict) -> dict[str, float]:
    """Useful-outcome ratios and work counts of the dedup operators.

    The pipeline's are read from its committed stage tables; the text path
    commits nothing, so its are counted from the frames the traced operator
    calls returned."""
    if wl.pipeline:
        def col(stage, c):
            return pq.read_table(os.path.join(out, stage), columns=[c]).column(c)

        def rows(stage):
            d = os.path.join(out, stage)
            return float(sum(pq.read_metadata(os.path.join(d, f)).num_rows
                             for f in os.listdir(d)
                             if f.startswith("part-") and f.endswith(".parquet")))

        verified = col("t_verified", "verified").to_pylist()
        rescued = col("t_rescued", "verified").to_pylist()
        salted = rows("t_salted")
        hot = rows("t_skew_report")
        edges = rows("t_hamming")
    else:
        tv = results["dedup_spark.operators.textdedup.text_verify"][0]
        verified = [r.verified for r in tv.select("verified").collect()]
        rv = results["dedup_spark.operators.verify.rescue_verify_pairs"][0]
        rescued = [r.verified for r in rv.select("verified").collect()]
        salted_df, report_df = results["dedup_spark.operators.skew.salted_bands"][0]
        salted, hot = float(salted_df.count()), float(report_df.count())
        edges = float(
            results["dedup_spark.operators.hamming.hamming_family_pairs"][0].count())
    return {
        "operators.verify.verified_share":
            sum(verified) / len(verified) if verified else 0.0,
        "operators.pairs.rescue_yield":
            sum(rescued) / len(rescued) if rescued else 0.0,
        "operators.skew.salted_rows": salted,
        "operators.skew.hot_buckets": hot,
        "operators.hamming.edges": edges,
    }


def store_footprint(out: str) -> tuple[float, float]:
    """(bytes, files) the pass left in its output location."""
    size = files = 0
    for d, _, names in os.walk(out):
        for f in names:
            size += os.path.getsize(os.path.join(d, f))
            files += 1
    return float(size), float(files)
