"""Run one benchmark workload and print one JSON result line.

    python3 perfbench/run.py --workload short_queries --seed 1 --seconds 8 --trace 0

One process, one driver thread (a closed loop with one client), one
SparkSession from the engine's ``get_spark`` on ``local[<cpus>]``. The run:

1. writes the seed's permuted inputs under ``perfbench/.work/`` (untimed);
2. set-up (``setup_s``, CPU seconds of the process tree): starts the
   session, then runs one cold pass that collects every query with
   ``toPandas``; each result's value hash is then checked against
   ``expected.json`` (the oracle's);
3. runs one discarded warm pass, then timed passes, at least two and
   until ``--seconds`` have gone.
   Every pass starts with ``release_session_blocks``, builds the
   workload's shared intermediates as their own items, then forces each
   query with a noop write. Each item's wall and CPU seconds are its
   median over the passes;
4. with ``--trace 1``, runs untraced and traced passes in turn instead of
   the timed passes (U T T U ..., at least two of each and until twice
   ``--seconds`` have gone), installing the tracer only for the traced
   ones, and prints per-layer metrics instead of end-to-end ones. The
   untraced passes' wall time and median query latency are reported
   there too (``pass.*``): on a shared host their run-to-run spread is
   wider than any bound the benchmark may set.

The metrics printed are the ones ``BENCHMARK.json`` names. Exits non-zero
without a result when the engine is not next to this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

from procstat import ProcessTree  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _start_spark():
    from inf_553_datamining_mapreduce_spark.session import get_spark

    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark(
        "perfbench",
        master=f"local[{_cpus()}]",
        extra_conf={
            # Keep every file Spark writes inside the checkout.
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # No hsperfdata file in the system /tmp either.
            # A fixed set of JIT compiler threads, so their CPU can be read
            # per thread (jvm.jit_cpu_s): a compiler thread started on
            # demand takes its CPU figure with it when it exits.
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={local} -XX:-UsePerfData"
                " -XX:-UseDynamicNumberOfCompilerThreads"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Runner:
    def __init__(self, spark, em, wl, sf_dirs: dict, tree):
        from inf_553_datamining_mapreduce_spark.session import (
            release_session_blocks,
        )

        self.spark = spark
        self.wl = wl
        self.sf = sf_dirs
        self.release = release_session_blocks
        self.queries = em.queries()
        self.shared = em.shared_intermediates()
        self.attempted = 0
        self.failed = 0
        self.tracer = None
        self.tree = tree

    def _item(self, label: str, make, force):
        """Build and force one item; return its (wall, CPU, JIT CPU)
        seconds, or None if it raised, and the forced output."""
        self.attempted += 1
        tr = self.tracer
        cpu0 = self.tree.cpu_s()
        t0 = time.perf_counter()
        try:
            if tr is None:
                out = force(make())
            else:
                tr.begin_query(label)
                df = tr.call("entry", label, make)
                out = tr.call("exec", "noop_write", force, df)
                _tag_exec(tr)
                tr.end_query()
        except Exception:  # noqa: BLE001 — counted, the run goes on
            self.failed += 1
            print(f"perfbench: {label} failed\n{traceback.format_exc()}", file=sys.stderr)
            return None, None
        wall = time.perf_counter() - t0
        cpu1 = self.tree.cpu_s()
        return (wall, cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]), out

    def one_pass(self, force=_noop) -> dict:
        """Release, build the shared intermediates, force every query.
        Returns per-item seconds (memos under ``memo:<name>``) and each
        query's forced output."""
        self.release(self.spark)
        t0 = time.perf_counter()
        items, outs = {}, {}
        for m, scale in self.wl.memos:
            items[f"memo:{m}"], _ = self._item(
                f"memo:{m}",
                lambda m=m, sf=self.sf[scale]: self.shared[m](self.spark, sf),
                _noop,
            )
        for q, scale in self.wl.queries:
            items[q], outs[q] = self._item(
                q,
                lambda q=q, sf=self.sf[scale]: self.queries[q](self.spark, sf),
                force,
            )
        return {"wall": time.perf_counter() - t0, "items": items, "outputs": outs}

    def logged_pass(self, tag: str) -> dict:
        p = self.one_pass()
        items = " ".join(
            f"{k}={v[0]:.2f}/{v[1]:.2f}" for k, v in p["items"].items() if v
        )
        print(f"perfbench: {tag} pass {p['wall']:.3f} s {items}", file=sys.stderr)
        return p

    def timed(self, seconds: float) -> list[dict]:
        """At least two passes, and passes until ``seconds`` have gone."""
        passes = []
        t0 = time.perf_counter()
        while len(passes) < 2 or time.perf_counter() - t0 < seconds:
            passes.append(self.logged_pass("timed"))
        return passes

    def alternating(self, seconds: float, em, jvm) -> tuple:
        """Untraced and traced passes in turn, U T T U U T ..., in pairs
        until ``seconds`` have gone and the pairs are even, so both kinds
        sit equally early and late and an untraced pass is last. The
        tracer is installed only around traced passes. Returns both kinds
        of pass, the tracer, and the JVM and worker counters over the
        untraced ones."""
        from tracing import Tracer

        tracer = Tracer(self.spark.sparkContext)
        plain, traced = [], []
        counters = {"gc_s": 0.0, "pyworkers_s": 0.0, "heap_peak_mb": 0.0}

        def plain_pass():
            gc0, py0 = _gc_s(jvm), self.tree.pyworker_cpu_s()
            _reset_heap_peak(jvm)
            plain.append(self.logged_pass("untraced"))
            counters["gc_s"] += _gc_s(jvm) - gc0
            counters["pyworkers_s"] += self.tree.pyworker_cpu_s() - py0
            counters["heap_peak_mb"] = max(counters["heap_peak_mb"], _heap_peak_mb(jvm))

        def traced_pass():
            tracer.install(em)
            self.tracer = tracer
            try:
                traced.append(self.logged_pass("traced"))
            finally:
                tracer.uninstall()
                self.tracer = None

        t0 = time.perf_counter()
        while len(plain) < 2 or len(plain) % 2 or time.perf_counter() - t0 < seconds:
            pair = [plain_pass, traced_pass]
            if len(plain) % 2:
                pair.reverse()
            for one in pair:
                one()
        return plain, traced, tracer, counters


def _per_item(passes: list[dict], k: int) -> dict:
    """Each item's median wall (k=0), CPU (k=1) or JIT CPU (k=2) seconds
    over the passes. Measured on a shared 4-vCPU host, the per-item median
    varied about half as much from run to run as the per-item best."""
    out = {}
    for label in passes[0]["items"]:
        xs = [p["items"][label][k] for p in passes if p["items"][label] is not None]
        if xs:
            out[label] = statistics.median(xs)
    return out


def _tag_exec(tr) -> None:
    span = next(s for s in reversed(tr.spans) if s.layer == "exec")
    stages = tasks = failed = 0
    for jid in span.jobs:
        info = tr.tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            st = tr.tracker.getStageInfo(sid)
            if st is None:
                continue
            ran = st.numCompletedTasks + st.numFailedTasks
            stages += ran > 0
            tasks += ran
            failed += st.numFailedTasks
    span.tags.update(stages=stages, tasks=tasks, failed_tasks=failed)


def _check(outputs: dict, expected: dict) -> int:
    from canon import value_hash

    bad = 0
    for q, pdf in outputs.items():
        if pdf is not None and value_hash(pdf) != expected[q]["hash"]:
            bad += 1
            print(f"perfbench: {q} does not match its oracle", file=sys.stderr)
    return bad


def main() -> int:
    args = _parse()
    if not (
        os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(ROOT, "inf_553_datamining_mapreduce_spark"))
    ):
        print(f"perfbench: no engine next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["TMPDIR"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"]
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    from inputs import generate

    wl = WORKLOADS[args.workload]
    sf_dirs = {
        s: generate(s, args.seed, os.path.join(WORK, "inputs", s)) for s in wl.scales
    }
    with open(os.path.join(HERE, "expected.json")) as fh:
        by_scale = json.load(fh)
    expected = {q: by_scale[s][q] for q, s in wl.queries}

    tree = ProcessTree(os.getpid())
    cpu0 = tree.cpu_s()
    t0 = time.perf_counter()
    spark = _start_spark()
    session_s = time.perf_counter() - t0
    try:
        import __spark_entry__ as em

        runner = Runner(spark, em, wl, sf_dirs, tree)
        collect_s = 0.0

        def collect(df):
            nonlocal collect_s
            c0 = time.perf_counter()
            pdf = df.toPandas()
            collect_s += time.perf_counter() - c0
            return pdf

        warm = runner.one_pass(force=collect)
        setup_cpu_s = tree.cpu_s()[0] - cpu0[0]
        setup_wall_s = session_s + warm["wall"]
        runner.failed += _check(warm["outputs"], expected)

        # The JVM is still compiling hot code in the first warm pass: on a
        # 4-vCPU host that pass used about 1.7x the CPU of the third, and
        # the excess grew when the host ran slower. It counts in no metric.
        runner.logged_pass("discarded")
        jvm = spark.sparkContext._jvm
        if args.trace:
            from tracing import LAYERS

            passes, traced, tracer, counters = runner.alternating(
                2 * args.seconds, em, jvm
            )
            retained = _retained(spark)
            tracer.dump(os.path.join(WORK, f"spans-{wl.name}-{args.seed}.jsonl"))
            n = len(passes)
            wall_items = _per_item(passes, 0)
            wall_s = sum(wall_items.values())
            metrics = _layer_metrics(tracer, LAYERS, len(traced))
            metrics.update(
                {
                    "session.start_s": (session_s, "s"),
                    "setup.wall_s": (setup_wall_s, "s"),
                    "check.collect_s": (collect_s, "s"),
                    "pyworkers.cpu_s": (counters["pyworkers_s"] / n, "s"),
                    "jvm.gc_s": (counters["gc_s"] / n, "s"),
                    "jvm.jit_cpu_s": (sum(_per_item(passes, 2).values()), "s"),
                    "jvm.heap_peak_mb": (counters["heap_peak_mb"], "MB"),
                    **retained,
                    "pass.wall_s": (wall_s, "s"),
                    "pass.query_p50_s": (
                        statistics.median(
                            wall_items[q] for q, _ in wl.queries if q in wall_items
                        ),
                        "s",
                    ),
                    "trace.overhead_frac": (
                        sum(_per_item(traced, 0).values()) / wall_s - 1,
                        "frac",
                    ),
                }
            )
        else:
            passes = runner.timed(args.seconds)
            metrics = {
                "cpu_s": (sum(_per_item(passes, 1).values()), "s"),
                "setup_s": (setup_cpu_s, "s"),
            }
    finally:
        _stop(spark, tree)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {
                    m["name"]: {
                        "value": metrics[m["name"]][0],
                        "unit": metrics[m["name"]][1],
                    }
                    for m in spec
                },
            }
        )
    )
    return 0


def _layer_metrics(tracer, layers, n_passes: int) -> dict:
    tot = tracer.layer_totals()
    per = {k: v / n_passes for k, v in tot.items()}
    out = {}
    for layer in layers:
        out[f"{layer}.s"] = (per.get(f"{layer}.s", 0.0), "s")
        out[f"{layer}.jobs"] = (per.get(f"{layer}.jobs", 0.0), "count")
    out["readers.calls"] = (per.get("readers.calls", 0.0), "count")
    out["readers.split_scans"] = (per.get("readers.split_scans", 0.0), "count")
    out["plans_sql.views"] = (per.get("plans_sql.views", 0.0), "count")
    out["entry.memo_builds"] = (per.get("entry.memo.builds", 0.0), "count")
    out["entry.memo_hits"] = (per.get("entry.memo.hits", 0.0), "count")
    out["entry.memo_s"] = out.pop("entry.memo.s")
    out["entry.memo_jobs"] = out.pop("entry.memo.jobs")
    for k in ("stages", "tasks", "failed_tasks"):
        out[f"exec.{k}"] = (per.get(f"exec.{k}", 0.0), "count")
    return out


def _gc_s(jvm) -> float:
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def _heap_pools(jvm):
    pools = jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
    return [p for p in pools if p.getType().toString() == "Heap memory"]


def _reset_heap_peak(jvm) -> None:
    for p in _heap_pools(jvm):
        p.resetPeakUsage()


def _heap_peak_mb(jvm) -> float:
    return sum(p.getPeakUsage().getUsed() for p in _heap_pools(jvm)) / 2**20


def _retained(spark) -> dict:
    """What a long-lived driver keeps after the last pass: RDD
    blocks still pinned (memory plus disk), and heap live after a GC."""
    jvm = spark.sparkContext._jvm
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    pinned = sum(i.memSize() + i.diskSize() for i in infos)
    jvm.java.lang.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = heap.getHeapMemoryUsage().getUsed()
    return {
        "storage.pinned_mb": (pinned / 2**20, "MB"),
        "jvm.retained_heap_mb": (used / 2**20, "MB"),
    }


def _stop(spark, tree) -> None:
    """Stop the session and the JVM, and wait for every process this run
    started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    children = tree.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    ProcessTree.wait_gone(children, timeout=30)


if __name__ == "__main__":
    sys.exit(main())
