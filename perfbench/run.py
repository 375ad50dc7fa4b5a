"""Back-fill benchmark: warm passes of the zh back-fill dataflow.

Usage (from the repository root)::

    python3 perfbench/run.py --workload cjk_lake --seed 1 --seconds 12 --trace 0

One run: generate (or reuse) the seeded inputs, set the session and catalog
up, run one cold pass, a fixed number of untimed warm-up passes, then a
fixed number of timed passes that take about ``--seconds``, checking the
cold and timed passes' output against the DuckDB oracle. The last stdout
line is one JSON object: end-to-end metrics with ``--trace 0``, per-layer
metrics from spans and counters with ``--trace 1``. Closed loop, one
client: each pass starts when the previous one has ended. See README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib.util  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import probes  # noqa: E402
from tracing import Tracer  # noqa: E402

# Untimed warm-up passes after the cold pass, chosen from the warm-up
# curves in evidence/ (see evidence/NOTES.md): cjk_lake's passes are flat
# from the fourth on; cow_inplace's keep getting cheaper for 20+ passes.
WARMUP = {"cjk_lake": 3, "settled_lake": 3, "cow_inplace": 4}
# Wall seconds of a timed pass with its check on the host the evidence was
# taken on. A run makes round(--seconds / PASS_S) timed passes (at least
# 3), a count that does not depend on how fast the code is: the median
# always covers the same pass indices, also on cow_inplace's decline.
PASS_S = {"cjk_lake": 4.0, "settled_lake": 5.0, "cow_inplace": 3.0}
# The driver JVM's heap, fixed (-Xms = -Xmx). With the engine's default of
# an 8g maximum, G1 grows the heap on its own timing, and the tree's peak
# RSS read 2.2-3.9 GB over ten seeds of cow_inplace; with the heap fixed
# every run touches all of it, and five seeds read 2.5-2.7 GB.
HEAP = "2g"
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # the JVM's JIT compilers
CORES = len(os.sched_getaffinity(0))


def ensure_data(workload: str, seed: int) -> str:
    """Generate the inputs in one pyarrow process, cached per (workload,
    seed, generator version)."""
    out = os.path.join(CACHE, "data", f"{workload}-s{seed}-g{gen.GEN_VERSION}")
    if not os.path.isdir(out):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
             "--seed", str(seed), "--out", out],
            check=True,
        )
    return out


def spark_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks the scheduler ran under ``group``."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = [sid for j in jobs if (info := st.getJobInfo(j)) for sid in info.stageIds]
    tasks = sum(si.numTasks for sid in stages if (si := st.getStageInfo(sid)))
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def stop_engine() -> None:
    """Stop the session and the JVM behind it, and wait until every process
    this run started has ended."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    for pid in probes.tree_pids(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WARMUP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--negative-control", action="store_true",
                    help="flip one output value before every check")
    a = ap.parse_args()

    if importlib.util.find_spec("openmaptiles_zh_modifier_spark") is None:
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2

    run_dir = os.path.join(CACHE, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # keep Spark's, the JVMs' and Python's scratch files inside the
    # checkout (a JVM's perf-data file would go to /tmp)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        return Run(a, run_dir).main()
    finally:
        stop_engine()
        shutil.rmtree(run_dir, ignore_errors=True)


class Run:
    """One benchmark run: set-up, passes, checks and the result line."""

    def __init__(self, a, run_dir: str):
        self.a = a
        self.run_dir = run_dir
        self.tracer = Tracer(enabled=bool(a.trace))
        self.passes: list[dict] = []
        self.kernels: list[dict] = []
        self.checked = self.failed = 0

    def setup(self) -> None:
        """Session + catalog, timed from process start less the input
        preparation: imports, the JVM launch, ``get_spark``, discovery
        and classification."""
        # inputs and the workload's private copy of them are not set-up
        t = time.perf_counter()
        data = ensure_data(self.a.workload, self.a.seed)
        prep_s = time.perf_counter() - t
        import workloads
        from openmaptiles_zh_modifier_spark.session import get_spark

        t = time.perf_counter()
        self.wl = workloads.WORKLOADS[self.a.workload](data, self.run_dir)
        prep_s += time.perf_counter() - t
        with self.tracer.span("setup"):
            t1 = time.perf_counter()
            with self.tracer.span("session.start"):
                self.spark = get_spark(
                    "perfbench",
                    master=f"local[{CORES}]",
                    extra={"spark.driver.memory": HEAP,
                           "spark.driver.extraJavaOptions":
                           f"-Xms{HEAP} -Djava.io.tmpdir={os.environ['TMPDIR']} "
                           "-XX:-UsePerfData"},
                )
                self.spark.sparkContext.setLogLevel("ERROR")
            t2 = time.perf_counter()
            with self.tracer.span("catalog"):
                self.tables, self.classes = self.wl.catalog(self.spark)
        t3 = time.perf_counter()
        self.setup_s = t3 - T_PROCESS - prep_s
        self.session_s = t2 - t1
        self.discover_s = t3 - t2

    def one_pass(self, phase: str, index: int) -> None:
        wl, spark, tracer = self.wl, self.spark, self.tracer
        sc = spark.sparkContext
        group = f"perfbench-{index}"
        tracer.new_trace(f"pass-{index}")
        try:
            wl.reset()
            sc.setJobGroup(group, phase)
            j0 = probes.tree_thread_cpu(JIT_THREADS)
            c0 = probes.tree_cpu_s()
            t0 = time.perf_counter()
            with tracer.span("pass"):
                r = wl.run(spark, tracer)
            r.update(phase=phase, wall_s=time.perf_counter() - t0,
                     cpu_s=probes.tree_cpu_s() - c0,
                     jit_cpu_s=probes.thread_cpu_delta(
                         j0, probes.tree_thread_cpu(JIT_THREADS)),
                     **spark_counts(sc, group))
            sc.setJobGroup(f"{group}-after", "read-after and check")
            if phase != "warm":
                t1 = time.perf_counter()
                wl.read_after(spark, tracer)
                r.setdefault("read_after_s", time.perf_counter() - t1)
            written = wl.written()
            r["bytes"] = sum(written.values())
            r["new_files"] = [p for p in written if p.endswith(".parquet")]
            if phase != "warm":
                self.checked += 1
                r["ok"] = wl.actual(self.con, spark, self.classes,
                                    self.a.negative_control) == self.expected
                self.failed += not r["ok"]
        except Exception as exc:  # a pass that raises counts as failed
            print(f"perfbench: {phase} pass {index} raised {exc!r}", file=sys.stderr)
            self.checked += 1
            self.failed += 1
            r = {"phase": phase, "ok": False, "error": repr(exc)}
        self.passes.append(r)
        print(f"perfbench: {phase:5s} pass {index:2d} wall {r.get('wall_s', 0):.3f}s "
              f"cpu {r.get('cpu_s', 0):.2f}s ok {r.get('ok')}", file=sys.stderr)

    def main(self) -> int:
        a = self.a
        rss = probes.PeakRss()
        rss.start()
        self.setup()
        import duckdb
        import workloads

        self.con = duckdb.connect()
        self.expected = self.wl.expected(self.con, self.classes)
        if a.trace:
            import layers

            restore = layers.instrument(self.tracer)
            frames = self.wl.kernel_frames(self.spark, self.classes)
            self.tracer.new_trace("kernel-first")
            self.first_kernel = workloads.kernel(frames, self.tracer, "zh.convert")

        index = 0
        self.one_pass("cold", index)
        for _ in range(WARMUP[a.workload]):
            index += 1
            self.one_pass("warm", index)
        for _ in range(max(3, round(a.seconds / PASS_S[a.workload]))):
            index += 1
            self.one_pass("timed", index)
            if a.trace:
                self.tracer.new_trace(f"kernel-{index}")
                self.kernels.append(workloads.kernel(frames, self.tracer, "zh.convert"))
        if a.trace:
            restore()

        timed = [p for p in self.passes if p["phase"] == "timed" and "wall_s" in p]
        curve = [{k: p.get(k) for k in ("phase", "wall_s", "cpu_s", "jit_cpu_s")}
                 for p in self.passes]
        os.makedirs(os.path.join(CACHE, "curves"), exist_ok=True)
        with open(os.path.join(CACHE, "curves", f"{a.workload}-s{a.seed}.json"), "w") as f:
            json.dump(curve, f, indent=1)
        if not timed or "wall_s" not in self.passes[0]:
            metrics = {}
        elif a.trace:
            metrics = self.layer_metrics(timed)
            os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
            self.tracer.dump(
                os.path.join(CACHE, "traces", f"{a.workload}-s{a.seed}.json"),
                {"workload": a.workload, "seed": a.seed, "warmup_curve": curve,
                 "metrics": {k: v for k, (v, _) in metrics.items()}},
            )
        else:
            metrics = {
                "rows_per_s": (median([p["rows"] / p["wall_s"] for p in timed]), "rows/s"),
                "pass_cpu_s": (median([p["cpu_s"] for p in timed]), "s"),
                "first_pass_cpu_s": (self.passes[0]["cpu_s"], "s"),
                "setup_s": (self.setup_s, "s"),
                "read_after_s": (median([p["read_after_s"] for p in timed]), "s"),
                "write_bytes_per_update": (
                    median([p["bytes"] / max(1, p["updated"]) for p in timed]), "B"),
                "success_ratio": ((self.checked - self.failed) / self.checked, "ratio"),
            }
        self.con.close()
        stop_engine()
        rss.stop()
        if metrics and not a.trace:
            metrics["peak_rss_mb"] = (rss.peak / 2**20, "MB")
        print(json.dumps({
            "correct": self.failed == 0 and bool(metrics),
            "attempted": self.checked,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0

    def layer_metrics(self, timed: list[dict]) -> dict:
        import pyarrow.parquet as pq

        from workloads import CowWorkload

        tracer = self.tracer
        traces = [f"pass-{i}" for i, p in enumerate(self.passes) if p in timed]

        def per_pass(name: str) -> float:
            return median([sum(s.duration for s in tracer.find(name, t)) for t in traces])

        def med(key: str) -> float:
            return median([p[key] for p in timed])

        cow = isinstance(self.wl, CowWorkload)
        kern = self.kernels
        scanned, updated = med("rows"), med("updated")
        conv_cpu = median([k["cpu_s"] for k in kern])
        conv_rows = median([k["rows"] for k in kern])
        merge = per_pass("cow.merge")
        read_derive = per_pass("pipeline.run_backfill_cow") - merge if cow else 0.0
        rewritten = median([
            sum(pq.ParquetFile(f).metadata.num_rows for f in p["new_files"]) for p in timed
        ]) if cow else 0.0
        files = median([len(p["new_files"]) for p in timed])
        return {
            "session.start_s": (self.session_s, "s"),
            "catalog.discover_s": (self.discover_s, "s"),
            "catalog.tables_found": (len(self.tables), "count"),
            "catalog.tables_qualified": (len(self.classes), "count"),
            # on cow_inplace the selection is the persisted count inside
            # run_backfill_cow: its span less the merge
            "zh_backfill.select_s": (
                read_derive if cow else per_pass("zh_backfill.select"), "s"),
            "zh_backfill.rows_scanned": (scanned, "count"),
            "zh_backfill.rows_updated": (updated, "count"),
            "zh_backfill.update_ratio": (updated / max(1, scanned), "ratio"),
            "zh.convert_s": (median([k["s"] for k in kern]), "s"),
            "zh.convert_cpu_s": (conv_cpu, "s"),
            "zh.rows_converted": (conv_rows, "count"),
            "zh.chars_in": (median([k["chars"] for k in kern]), "count"),
            "zh.rows_per_cpu_s": (conv_rows / conv_cpu if conv_cpu else 0.0, "rows/s"),
            "zh.first_convert_cpu_s": (self.first_kernel["cpu_s"], "s"),
            "io.write_s": (per_pass("io.write"), "s"),
            "io.bytes_written": (med("bytes"), "B"),
            "io.files_written": (files, "count"),
            "io.readback_s": (med("read_after_s"), "s"),
            "cow.read_derive_s": (read_derive, "s"),
            "cow.merge_s": (merge, "s"),
            "cow.files_rewritten": (files if cow else 0.0, "count"),
            "cow.files_total": (self.wl.committed_files(self.spark) if cow else 0, "count"),
            "cow.rows_rewritten": (rewritten, "count"),
            "cow.rewrite_per_update": (rewritten / max(1, updated) if cow else 0.0, "ratio"),
            "cow.bytes_written": (med("bytes") if cow else 0.0, "B"),
            "cow.read_after_s": (per_pass("cow.read_after"), "s"),
            "pipeline.pass_s": (med("wall_s"), "s"),
            "pipeline.table_s_max": (median([max(p["table_s"]) for p in timed]), "s"),
            "pipeline.table_s_sum": (median([sum(p["table_s"]) for p in timed]), "s"),
            "pipeline.core_busy_ratio": (
                median([p["cpu_s"] / (p["wall_s"] * CORES) for p in timed]), "ratio"),
            "spark.jobs_per_pass": (med("jobs"), "count"),
            "spark.stages_per_pass": (med("stages"), "count"),
            "spark.tasks_per_pass": (med("tasks"), "count"),
            "jvm.jit_cpu_s": (med("jit_cpu_s"), "s"),
        }


if __name__ == "__main__":
    sys.exit(main())
