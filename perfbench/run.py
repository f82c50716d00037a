"""Dedup throughput benchmark: warm full-size passes, checked every time.

    python3 perfbench/run.py --workload images_full --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. One run is one process on
``local[nproc]`` with the program's default settings:

1. generate the workload's input from ``--seed`` (not timed as set-up);
2. set-up: start the Spark session and run one untimed pass at full size,
   which warms the JVM and the Python workers;
3. timed passes, one at a time, each on a fresh output location, started
   while fewer than ``--seconds`` have elapsed. Every pass's output is
   checked.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; the
line before it records each pass, the resolved session settings and the
host-health stamp. With ``--trace 1`` the session also writes Spark's event
log, and the run makes three passes after the warm-up: untraced, traced,
untraced. The traced pass wraps the program's layer entry points (see
``perfbench.trace``) and its per-layer numbers are the last line's metrics;
the line before it is the per-layer table.

Everything the run writes stays under ``.perfbench_work/`` in the checkout,
which the run removes when it ends, apart from the digests of earlier runs'
outputs that later runs of the same code and seed are checked against.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import itertools
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
WORK = os.path.join(ROOT, ".perfbench_work")
SAMPLE_ROWS = 1024


def _prepare_env(run_dir: str) -> None:
    """Keep every file the run, the JVM and the workers write in the checkout,
    and run the program as shipped: no tuning knobs from the caller's env.

    A run may write only inside its checkout. So ``SPARK_LOCAL_DIRS`` points
    there, and shuffle and spill go to the checkout's disk instead of the
    ``/dev/shm`` directory ``session.get_spark`` picks for local masters when
    the variable is unset. ``-XX:-UsePerfData`` stops the JVM's
    ``/tmp/hsperfdata_<user>`` file, which ignores ``java.io.tmpdir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    for knob in ("SPARK_GRAFT_UDF_TASKS", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(knob, None)
    import tempfile

    tempfile.tempdir = None


def _code_hash() -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "dedup_spark", "**", "*.py"),
                                 recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        proc.wait(timeout=60)


class Run:
    def __init__(self, args, run_dir: str):
        from perfbench import checks, workloads

        self.args = args
        self.dir = run_dir
        self.wl = workloads.WORKLOADS[args.workload]
        self.n = args.rows or self.wl.rows
        self.cores = len(os.sched_getaffinity(0))
        self.input = os.path.join(run_dir, "input")
        self.spark = None
        self.passes: list[dict] = []
        self.digests: set[str] = set()
        self.id_of_row: dict[int, str] | None = None  # read after generation
        self.links = checks.planted_links(self.n, self.wl.link_kinds)
        self.expected = self.wl.expected_rows(self.n)
        self.info: dict = {"workload": self.wl.name, "rows": self.n,
                           "seed": args.seed, "cores": self.cores}

    # -- session -------------------------------------------------------------

    def start(self) -> float:
        from dedup_spark.session import get_spark, py_parallelism

        conf = None
        if self.args.trace:
            events = os.path.join(self.dir, "events")
            os.makedirs(events)
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        t0 = time.perf_counter()
        self.spark = get_spark(app=f"perfbench-{self.wl.name}",
                               master=f"local[{self.cores}]", extra_conf=conf)
        start_s = time.perf_counter() - t0
        self.info["session"] = {
            "start_s": start_s,
            "udf_tasks": py_parallelism(self.spark),
            "shuffle_partitions": int(
                self.spark.conf.get("spark.sql.shuffle.partitions")),
            "driver_memory": self.spark.conf.get("spark.driver.memory"),
        }
        return start_s

    # -- passes --------------------------------------------------------------

    def one_pass(self, label: str, tracer=None, keep: bool = False) -> dict:
        """Run and check one pass. A pass that raises or fails its check
        counts as failed."""
        from perfbench import checks, procfs
        from perfbench.workloads import row_ids

        out = os.path.join(self.dir, f"out-{label}")
        rec: dict = {"label": label, "ok": False}
        meter = procfs.TreeMeter(memory=tracer is not None)
        try:
            with meter:
                if tracer is not None:
                    tracer.begin()
                t0, c0 = time.time(), time.perf_counter()
                try:
                    self.wl.run_pass(self.spark, self.input, out)
                finally:
                    c1, t1 = time.perf_counter(), time.time()
                    if tracer is not None:
                        tracer.end()
            rec.update(wall_s=c1 - c0, start=t0, end=t1, cpu_s=meter.cpu_s)
            if meter.memory:
                rec["peak_pss_mb"] = meter.peak_pss / 1e6
            if self.id_of_row is None:
                self.id_of_row = row_ids(self.input)
            ids, cids = self.wl.cluster_table(out)
            v = checks.check_clusters(ids, cids, self.id_of_row,
                                      self.expected, self.links)
            rec.update(ok=v.ok, reason=v.reason, planted_recall=v.planted_recall,
                       link_recall=v.link_recall, missed_links=v.missed_links,
                       unplanted_pairs=v.unplanted_pairs, digest=v.digest)
            self.digests.add(v.digest)
        except Exception as e:  # a failed pass is counted, never dropped
            rec["reason"] = f"{type(e).__name__}: {e}"
            print(f"perfbench: pass {label} failed: {rec['reason']}",
                  file=sys.stderr)
        if not keep:
            shutil.rmtree(out, ignore_errors=True)
        return rec

    # -- results -------------------------------------------------------------

    def cross_run_check(self) -> bool:
        """Compare this run's output digest with earlier runs of the same
        code, workload, size and seed in this checkout."""
        if len(self.digests) != 1:
            return False
        (dg,) = self.digests
        d = os.path.join(WORK, "digests")
        os.makedirs(d, exist_ok=True)
        key = os.path.join(
            d, f"{self.wl.name}-{self.n}-{self.args.seed}-{_code_hash()}.txt")
        if os.path.exists(key):
            with open(key) as f:
                same = f.read().strip() == dg
            self.info["digest_matches_earlier_run"] = same
            return same
        with open(key, "w") as f:
            f.write(dg)
        return True

    def summary(self) -> dict:
        failed = sum(not p["ok"] for p in self.passes)
        consistent = self.cross_run_check()
        return {
            "correct": failed == 0 and consistent,
            "attempted": len(self.passes),
            "failed": failed,
        }


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def timed_run(run: Run, seconds: float, setup_s: float) -> tuple[dict, dict]:
    """Timed passes, started while fewer than ``seconds`` have elapsed."""
    first = len(run.passes)
    t0 = time.perf_counter()
    for i in itertools.count(1):
        run.passes.append(run.one_pass(f"t{i}"))
        if time.perf_counter() - t0 >= seconds:
            break
    # timed passes that passed their check; failed ones count only in `failed`
    good = [p for p in run.passes[first:] if p["ok"]]
    metrics = {
        "rows_per_s": (_median([run.n / p["wall_s"] for p in good]), "1/s"),
        "core_s_per_krow": (
            _median([p["cpu_s"] / (run.n / 1000) for p in good]), "s"),
        "setup_s": (setup_s, "s"),
        "planted_recall": (_median([p["planted_recall"] for p in good]), "ratio"),
    }
    return run.summary(), metrics


def traced_run(run: Run, gen_s: float) -> tuple[dict, dict, dict]:
    from perfbench import kernels, trace, workloads

    u1 = run.one_pass("u1")
    tracer = trace.Tracer(run.spark.sparkContext)
    tracer.install()
    try:
        t = run.one_pass("traced", tracer=tracer, keep=True)
    finally:
        tracer.uninstall()
    out = os.path.join(run.dir, "out-traced")
    extra: dict[str, float] = {}
    if t["ok"]:
        extra.update(workloads.outcome_counts(run.wl, out, tracer.results))
        size, files = (workloads.store_footprint(out) if run.wl.pipeline
                       else (0.0, 0.0))
        extra["sources.store.bytes_written"] = size
        extra["sources.store.files_written"] = files
    shutil.rmtree(out, ignore_errors=True)
    tracer.results.clear()
    u2 = run.one_pass("u2")
    for rec in (u1, t, u2):
        run.passes.append(rec)
    extra.update(kernels.kernel_rates(workloads.sample(run.input, SAMPLE_ROWS)))

    app = run.spark.sparkContext.applicationId
    _stop_spark(run.spark)
    run.spark = None
    log = trace.fold_event_log(os.path.join(run.dir, "events", app))
    default = "plans.pipeline" if run.wl.pipeline else "operators.textdedup"
    if "wall_s" not in t:
        raise RuntimeError("the traced pass failed: " + t.get("reason", ""))
    layer_m, rows = trace.ledger(tracer.spans, log, t["start"], t["end"],
                                 run.cores, default)
    untraced = [p["wall_s"] for p in (u1, u2) if "wall_s" in p]
    m = dict(layer_m)
    m.update(extra)
    sess = run.info["session"]
    m["session.start_s"] = sess["start_s"]
    m["session.udf_tasks"] = float(sess["udf_tasks"])
    m["session.shuffle_partitions"] = float(sess["shuffle_partitions"])
    m["sources.gen_images.gen_s"] = gen_s
    m["process_tree.peak_pss_mb"] = t["peak_pss_mb"]
    m["trace.pass_s"] = t["wall_s"]
    m["trace.overhead_share"] = (
        t["wall_s"] / statistics.mean(untraced) - 1 if untraced else 0.0)
    m["check.unplanted_pairs"] = float(t.get("unplanted_pairs", 0))
    m["check.missed_links"] = float(t.get("missed_links", 0))
    m["check.link_recall"] = t.get("link_recall", 0.0)
    return run.summary(), m, rows


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=0,
                   help="override the workload's input size (smoke tests)")
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dedup_spark", "plans", "pipeline.py")):
        print("perfbench: no dedup_spark package next to the benchmark; "
              "run it from the root of a source checkout", file=sys.stderr)
        return 2
    from perfbench import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    os.makedirs(WORK, exist_ok=True)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _prepare_env(run_dir)
    from perfbench import procfs

    host0 = procfs.cpu_times()
    calib_s = procfs.calibrate()
    run = Run(args, run_dir)
    try:
        t0 = time.perf_counter()
        workloads.generate(run.n, args.seed, run.input, run.cores)
        gen_s = time.perf_counter() - t0
        session_s = run.start()
        warm = run.one_pass("warmup")
        if not warm["ok"]:
            run.passes.append(warm)  # a broken warm-up is a failed operation too
        setup_s = session_s + warm.get("wall_s", 0.0)
        run.info["setup"] = {"session_s": session_s,
                             "warmup_s": warm.get("wall_s"), "gen_s": gen_s}
        if args.trace:
            summary, metrics, rows = traced_run(run, gen_s)
            units = _per_layer_units()
        else:
            summary, raw = timed_run(run, args.seconds, setup_s)
    finally:
        started = procfs.snapshot()
        if run.spark is not None:
            _stop_spark(run.spark)
        leftover = procfs.reap(started)
        shutil.rmtree(run_dir, ignore_errors=True)
    host = {"calib_s": calib_s,
            "steal_share": procfs.steal_share(host0, procfs.cpu_times())}
    if leftover:
        print(f"perfbench: killed leftover processes {leftover}", file=sys.stderr)
    run.info["host"] = host
    run.info["passes"] = run.passes
    if args.trace:
        metrics["host.calib_s"] = host["calib_s"]
        metrics["host.steal_share"] = host["steal_share"]
        out = {k: {"value": metrics.get(k, 0.0), "unit": u}
               for k, u in units.items()}
        print(json.dumps({"info": run.info, "layers": rows}))
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in raw.items()}
        print(json.dumps({"info": run.info}))
    if not any("wall_s" in p for p in run.passes):
        print("perfbench: no pass completed", file=sys.stderr)
        return 1
    print(json.dumps({**summary, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
