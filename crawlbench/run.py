"""Benchmark entry point: one workload in one fresh process (one JVM, one
SparkSession on local[4], one closed-loop client issuing repetitions back
to back).

    python3 crawlbench/run.py --workload crawl --seed 1 --seconds 18 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``: with ``--trace 0`` the end-to-end metrics, with ``--trace 1``
the per-layer metrics of a separate traced phase. The line before it is the
run record (Spark conf, program version, input sizes, host load).
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T_PROCESS = time.monotonic()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEMORY = "3g"
# a run's figures are never one lone repetition: on a slow host a crawl
# repetition outgrows half the timed phase, and the first timed repetition
# can still be ~10 % above the plateau
MIN_TIMED_REPS = 2
# C1-only JIT: the JVM reaches its steady state after one crawl instead of
# after five or more (C2 kept shortening crawls 72 → 52 → 35 → 33 → 30 s on
# a 4-core box), which a run of about a minute cannot wait for. C1-only
# shrinks the default code cache to 48 MB, which a crawl fills within a
# minute; the JIT then switches itself off and later code runs interpreted,
# so the cache gets the tiered default's size back. The heap is fixed and
# pre-touched, so its resident size does not depend on how far the
# collector has grown it.
JVM_OPTS = (f"-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=256m "
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")


def _scrub_env() -> list[str]:
    """Drop the engine's SPARK_GRAFT_* tuning knobs: each changes the
    measured program."""
    gone = sorted(k for k in os.environ if k.startswith("SPARK_GRAFT_"))
    for k in gone:
        del os.environ[k]
    return gone


def _program_version() -> dict:
    """Git commit when the checkout is a repository, and always a hash of
    the engine's source files."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "subdomain_crawler_spark")
    for dp, dirs, fs in os.walk(pkg):
        dirs.sort()
        for f in sorted(fs):
            if f.endswith(".py"):
                p = os.path.join(dp, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


def build_spark(scratch: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    return (SparkSession.builder.master(f"local[{CORES}]")
            .appName("crawlbench")
            .config("spark.driver.memory", DRIVER_MEMORY)
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} {JVM_OPTS}")
            .config("spark.local.dir", local)
            .config("spark.sql.shuffle.partitions", str(CORES))
            .config("spark.default.parallelism", str(CORES))
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.warehouse.dir", os.path.join(scratch, "wh"))
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate())


def stop_spark(spark) -> list[int]:
    """Stop the session and the JVM, and wait until every process of the
    tree has ended. Returns the pids that had to be killed."""
    from pyspark import SparkContext

    import procmon

    pids = [p for p in procmon.ProcTree().members() if p != os.getpid()]
    spark.stop()
    gw = SparkContext._gateway
    SparkContext._gateway = SparkContext._jvm = None
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    return procmon.wait_gone(pids)


class Runner:
    """Runs repetitions of one workload, checks each one, and keeps the
    counts and measurements."""

    def __init__(self, workload, scratch: str):
        self.w = workload
        self.scratch = scratch
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.state: dict = {}
        self._n = 0

    def one(self, keep: bool = False, w=None):
        """One repetition of ``w`` (default: the measured workload) plus its
        output check. Returns the Rep, or None when it raised or its check
        failed."""
        from workloads import CheckFailed

        w = w or self.w

        # every repetition starts from a collected heap: the blocks earlier
        # repetitions cached or checkpointed are freed by Spark's cleaner
        # once both the Python and the JVM references are collected
        gc.collect()
        w.spark.sparkContext._jvm.System.gc()
        self._n += 1
        workdir = os.path.join(self.scratch, f"rep{self._n}")
        self.attempted += 1
        try:
            rep = w.rep(workdir, self._n)
            # the warm-up runs once, so it has nothing to agree with
            w.check(rep, self.state if w is self.w else {})
        except CheckFailed as e:
            self.failed += 1
            self.errors.append(f"rep {self._n}: check failed: {e}")
            return None
        except Exception:  # a failed operation is counted, not fatal
            self.failed += 1
            self.errors.append(f"rep {self._n}: " + traceback.format_exc())
            return None
        finally:
            if not keep:
                shutil.rmtree(workdir, ignore_errors=True)
        return rep

    def warm_up(self, warm) -> float:
        """The untimed warm-up: one repetition of ``warm``, a small instance
        of the workload (its own inputs and expected outputs), which is the
        cold pass a CLI user pays. Returns its wall."""
        rep = self.one(w=warm)
        return rep.wall if rep else float("nan")

    def timed(self, seconds: float, tree, sampler) -> dict | None:
        """Closed loop: at least MIN_TIMED_REPS repetitions back to back,
        then more while the next one, at the median wall so far, is
        expected to end closer to ``seconds`` than the phase already is.
        Rates are medians over the repetitions. CPU is
        the tree's delta over each repetition; RSS is sampled only while a
        repetition runs. None when no repetition succeeded."""
        import procmon

        reps, cpus = [], []
        busy = 0.0
        while len(reps) < MIN_TIMED_REPS or busy + statistics.median(
                r.wall for r in reps) / 2 < seconds:
            c0 = tree.cpu()
            sampler.active.set()
            rep = self.one(keep=True)
            sampler.active.clear()
            c1 = tree.cpu()
            if reps:  # only the last workdir is kept, for the layer calls
                shutil.rmtree(reps[-1].workdir, ignore_errors=True)
            if rep is None:
                if self.failed > 3:
                    break
                continue
            cpus.append({k: c1[k] - c0[k] for k in procmon.COMPONENTS})
            reps.append(rep)
            busy += rep.wall
        if not reps:
            return None
        med = statistics.median
        # CPU seconds per 1,000 items of each repetition, per component
        per_kitem = [{k: c[k] / r.items * 1000 for k in procmon.COMPONENTS}
                     for c, r in zip(cpus, reps)]
        return {"reps": reps, "items": sum(r.items for r in reps),
                "wall": busy,
                "items_per_s": med(r.items / r.wall for r in reps),
                "cpu_s_per_kitem": med(sum(c.values()) for c in per_kitem),
                "cpu": {k: med(c[k] for c in per_kitem)
                        for k in procmon.COMPONENTS}}


def e2e_metrics(setup_s: float, phase: dict, sampler) -> dict:
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "items_per_s": {"value": phase["items_per_s"], "unit": "1/s"},
        "cpu_s_per_kitem": {"value": phase["cpu_s_per_kitem"], "unit": "s"},
        "peak_rss_mb": {"value": sampler.peak_total / 2**20, "unit": "MB"},
    }


def trace_metrics(w, phase, untraced_ips, sampler, evlog, host0,
                  host1) -> dict:
    import eventlog
    import kernels
    import procmon

    reps = phase["reps"]
    spans = [s for r in reps for s in r.spans]
    f = eventlog.fold(evlog.events(), spans)
    n = len(reps)
    wall_s = phase["wall"]
    items = phase["items"]
    jobs_in_rounds = sum(v for k, v in f.jobs_by_label.items()
                         if k.startswith("round"))
    m = {
        "spark.jobs": f.jobs / n,
        "spark.stages": f.stages / n,
        "spark.tasks": f.tasks / n,
        "spark.driver_gap_s": (f.span_ms - f.job_busy_ms) / 1000 / n,
        "spark.slot_busy_frac": f.task_run_ms / 1000 / (wall_s * CORES),
        "spark.task_cpu_frac": f.exec_cpu_ms / max(f.exec_run_ms, 1e-9),
        "spark.shuffle_bytes_per_item": f.shuffle_write_bytes / items,
        "spark.arrow_bytes_to_python_per_item": f.arrow_to_py_bytes / items,
        "spark.arrow_bytes_from_python_per_item": f.arrow_from_py_bytes / items,
        "spark.task_skew_max": f.worst_skew,
        "spark.gc_frac": f.gc_ms / max(f.exec_run_ms, 1e-9),
        "spark.spill_bytes": f.spill_bytes / n,
        "spark.peak_storage_mb": f.peak_storage_bytes / 2**20,
        "proc.jvm_cpu_s_per_kitem": phase["cpu"]["jvm"],
        "proc.pyworker_cpu_s_per_kitem": phase["cpu"]["pyworker"],
        "proc.driver_cpu_s_per_kitem": phase["cpu"]["driver"],
        "proc.jvm_peak_rss_mb": sampler.peak["jvm"] / 2**20,
        "proc.pyworker_peak_rss_mb": sampler.peak["pyworker"] / 2**20,
        "host.steal_frac": (host1[0] - host0[0]) / max(host1[1] - host0[1], 1),
        "host.loadavg1": procmon.loadavg1(),
        "run.warmup_ramp": reps[0].wall / statistics.median(
            r.wall for r in reps),
        "trace.overhead_frac": 1 - phase["items_per_s"] / untraced_ips,
    }
    layers = dict.fromkeys(LAYER_DEFAULTS, 0.0)
    layers.update(w.layers(reps, jobs_in_rounds))
    layers.update(kernels.time_kernels(*w.kernel_inputs))
    m.update(layers)
    return m


# per-layer metrics a workload does not exercise read 0 (no such work ran)
LAYER_DEFAULTS = [
    "crawl.engine_init_s", "crawl.start_s", "crawl.round0_s",
    "crawl.fetch_hit_frac", "crawl.rounds", "crawl.round_p50_s",
    "crawl.jobs_per_round", "crawl.resume_s",
    "crawl.wall_accounted_frac",
    "politeness.apply_budgets_s", "politeness.deferred_frac",
    "tableio.files_written", "tableio.read_upto_seen_s",
    "tableio.bytes_written_per_item",
    "dedup.documents_s", "dedup.images_s", "dedup.quality_filter_s",
    "dedup.doc_groups", "dedup.img_groups", "dedup.star_edges",
    "dedup.capped_buckets", "dedup.hot_rows_frac",
]


def run(args, scratch: str, spec: dict) -> tuple[dict, dict]:
    import procmon
    from workloads import WORKLOADS

    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "scrubbed_env": _scrub_env(), **_program_version()}
    spark = build_spark(scratch)
    try:
        record["spark_conf"] = dict(spark.sparkContext.getConf().getAll())
        # the warm-up comes first, so the full inputs' Spark reads run in a
        # warm JVM
        warm = WORKLOADS[args.workload](spark, args.seed,
                                        os.path.join(scratch, "warm_input"))
        warm.sizes = warm.WARMUP_SIZES
        record["warmup_inputs"] = warm.setup()
        w = WORKLOADS[args.workload](spark, args.seed,
                                     os.path.join(scratch, "input"))
        runner = Runner(w, scratch)
        record["warmup_wall"] = runner.warm_up(warm)
        record["inputs"] = w.setup()
        setup_s = time.monotonic() - T_PROCESS
        tree = procmon.ProcTree()
        with procmon.RssSampler(tree) as sampler:
            host0, load0 = procmon.host_cpu(), procmon.loadavg1()
            phase = runner.timed(args.seconds, tree, sampler)
            host1 = procmon.host_cpu()
            record.update(host_steal_frac=(host1[0] - host0[0])
                          / max(host1[1] - host0[1], 1),
                          host_loadavg1=[load0, procmon.loadavg1()])
            record["timed_reps"] = [
                {"wall": r.wall, **{k: v for k, v in r.info.items()
                                    if isinstance(v, (int, float))
                                    or k == "round_walls"}}
                for r in (phase or {}).get("reps", [])]
            if phase is None:
                metrics = {}  # every timed repetition failed
            elif args.trace:
                import eventlog

                untraced = phase["items_per_s"]
                sampler.peak_total = 0
                sampler.peak = dict.fromkeys(procmon.COMPONENTS, 0)
                host0 = procmon.host_cpu()
                with eventlog.EventLog(spark, os.path.join(scratch,
                                                           "events")) as ev:
                    phase = runner.timed(args.seconds, tree, sampler)
                host1 = procmon.host_cpu()
                metrics = {}
                if phase is not None:
                    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
                    metrics = {k: {"value": v, "unit": units[k]}
                               for k, v in trace_metrics(
                                   w, phase, untraced, sampler, ev, host0,
                                   host1).items()}
            else:
                metrics = e2e_metrics(setup_s, phase, sampler)
    finally:
        killed = stop_spark(spark)
    record["killed_pids"] = killed
    record["errors"] = runner.errors
    result = {"correct": runner.failed == 0,
              "attempted": runner.attempted, "failed": runner.failed,
              "metrics": metrics}
    return record, result


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path[:0] = [HERE, ROOT]
    try:
        import subdomain_crawler_spark  # noqa: F401
    except ImportError as e:
        print(f"crawlbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        p.error(f"--workload must be one of {sorted(WORKLOADS)}")
    tmp_root = os.path.join(ROOT, ".crawlbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    try:
        record, result = run(args, scratch, _spec())
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"run_record": record}, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
