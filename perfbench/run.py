"""Corpus-pipeline benchmark: label -> exact dedup -> fuzzy dedup, end to
end and layer by layer.

    python3 perfbench/run.py --workload pages_commit --seed 1 --seconds 10 --trace 0

Run from the repository root. One client runs one Spark job at a time
(closed loop) on ``local[k]``, k = min(4, nproc), in one driver JVM at a
time. Inputs are generated from ``--seed`` and cached under
``.perfbench_work/``; every file the run writes stays there.

``--trace 0`` measures the end-to-end metrics with tracing off:

* set-up (session start in a fresh JVM + input registration) three
  times, each in its own JVM, reported as the median;
* the first iteration in the last JVM (``cold_s``), then one untimed
  iteration: the JIT is still speeding up the second iteration;
* warm iterations until ``--seconds`` have passed (at least two): the
  median wall time gives ``docs_per_s``, and the engine's job-group
  records give jobs, tasks and shuffle bytes per iteration;
* memory sampled on a background thread through all iterations.

``--trace 1`` runs one untimed iteration (warm-up), then one traced
iteration between two untraced ones. The traced iteration has a span
(and its own job group) around every call into a layer's public
function, each layer's output materialized at its boundary. It reports
each layer's self time and engine counts, the useful-over-attempted
ratios, and the tracing overhead (traced total minus the untraced
median). Spans are written to
``.perfbench_work/spans-<workload>-s<seed>.json``.

Every iteration's output is checked (row count and order-insensitive
checksum) against a reference computed, after the timed iterations, by
an independent composition of the program's operators (or, for registry
entries, their DuckDB oracles) and cached per (workload, seed, source
digest) under ``.perfbench_work/refs``. A mismatch, an exception or an
iteration over ``ITER_TIMEOUT_S`` counts as failed. The last line of
standard output is one JSON object: correct, attempted, failed, metrics.
If no timing could be measured (the cold iteration, every warm one or
the traced one failed), the run exits non-zero without that line.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SETUP_SAMPLES = 3
MIN_WARM = 2
ITER_TIMEOUT_S = 60.0
DRIVER_MEMORY = "2g"

sys.path.insert(0, str(ROOT))
T_START = time.perf_counter()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(k: int) -> None:
    """Machine shape and scratch locations, set before any JVM starts: the
    program's session factory reads SPARK_GRAFT_CPUS (shuffle partitions)
    and SPARK_DRIVER_MEMORY; temp files stay inside the work directory."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(k)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # every JVM, the launcher's too: no hsperfdata file, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = str(tmp)


class Driver:
    """Owns the one driver JVM: starts it through the program's session
    factory and stops it, waiting until the JVM and its workers are gone."""

    def __init__(self, k: int):
        self.k = k
        self.spark = None

    def start(self):
        from redpajama_v2_processing_spark.session import get_spark

        # initial heap = max heap: the JVM's footprint does not depend on
        # when the collector chooses to grow the heap
        opts = f"-XX:ActiveProcessorCount={self.k} -Xms{DRIVER_MEMORY}"
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.k}]",
            extra_conf={"spark.driver.extraJavaOptions": opts,
                        "spark.ui.showConsoleProgress": "false"},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop(self) -> None:
        from pyspark import SparkContext

        from perfbench.engine import descendants

        if self.spark is None:
            return
        gw = SparkContext._gateway
        procs = descendants(gw.proc.pid)
        try:
            self.spark.stop()
        finally:
            self.spark = None
            gw.proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                gw.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gw.proc.kill()
                gw.proc.wait()
            try:
                gw.shutdown()
            except Exception:  # the JVM end of the socket is already gone
                pass
            SparkContext._gateway = None
            SparkContext._jvm = None
            deadline = time.time() + 20
            while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in procs):
                time.sleep(0.05)


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def versions(spark, k: int) -> dict:
    return {
        "nproc": nproc(), "k": k, "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


class Checker:
    """Counts attempted and failed iterations against the reference."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.pending = []

    def run(self, fn, *args, status=None, group=None):
        """Time ``fn(*args)``, its Spark jobs in job ``group`` when given;
        returns seconds, or None if it failed."""
        self.attempted += 1
        if group is not None:
            status.set_group(group)
        t0 = time.perf_counter()
        try:
            result = fn(*args)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        finally:
            dt = time.perf_counter() - t0
            if group is not None:
                status.set_group(None)
        if dt > ITER_TIMEOUT_S:
            self.failed += 1
            return None
        try:
            self.pending.append(result())
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        return dt

    def settle(self, reference) -> None:
        for got in self.pending:
            if got != reference:
                print(f"perfbench: output mismatch: got {got}, want {reference}",
                      file=sys.stderr)
                self.failed += 1
        self.pending.clear()


def source_digest() -> str:
    """Digest of the program's and the benchmark's Python sources: a
    cached reference is reused only for the code that computed it."""
    import hashlib

    h = hashlib.sha256()
    for pkg in ("redpajama_v2_processing_spark", "perfbench"):
        for f in sorted((ROOT / pkg).rglob("*.py")):
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def reference_for(wl, spark, src, seed: int, info: dict):
    """The workload's reference result for this input, computed once per
    (workload, seed, source digest) and cached beside the inputs. It runs
    after every timed iteration, so it never warms or slows one."""
    path = WORK / "refs" / f"{wl.name}-s{seed}-{source_digest()}.json"
    if path.is_file():
        info["reference_s"] = "cached"
        return wl.load_reference(json.loads(path.read_text()))
    t0 = time.perf_counter()
    ref = wl.reference(spark, src)
    info["reference_s"] = round(time.perf_counter() - t0, 3)
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(ref))
    tmp.rename(path)
    return ref


def metric(value, unit):
    return {"value": value, "unit": unit}


def run_untraced(wl, args, k: int, src_path: str, info: dict) -> dict:
    from perfbench.engine import MB, EngineStatus, MemorySampler, median

    drv = Driver(k)
    chk = Checker()
    work = str(WORK / "run")
    setups, warm, stats = [], [], []
    try:
        for i in range(SETUP_SAMPLES):
            t0 = time.perf_counter()
            spark = drv.start()
            src = wl.register(spark, src_path)
            setups.append(time.perf_counter() - t0)
            if i < SETUP_SAMPLES - 1:
                drv.stop()
        info.update(versions(spark, k))
        status = EngineStatus(spark)
        with MemorySampler(drv.jvm_pid) as mem:
            cold = chk.run(wl.iterate, spark, src, work)
            if cold is None:
                raise SystemExit("perfbench: the cold iteration failed; no timing to report")
            chk.run(wl.iterate, spark, src, work)
            t_start = time.perf_counter()
            n = 0
            while n < MIN_WARM or time.perf_counter() - t_start < args.seconds:
                group = f"perfbench-iter-{n}"
                dt = chk.run(wl.iterate, spark, src, work, status=status, group=group)
                n += 1
                if dt is not None:
                    warm.append(dt)
                    stats.append(status.group_stats(group))
        chk.settle(reference_for(wl, spark, src, args.seed, info))
    finally:
        drv.stop()
    info.update(iters=len(warm), warm_s=[round(x, 4) for x in warm],
                setup_samples_s=[round(x, 4) for x in setups],
                fail_frac=chk.failed / chk.attempted)
    if not warm:
        raise SystemExit("perfbench: every warm iteration failed; no timing to report")
    wall = median(warm)
    return {
        "chk": chk,
        "metrics": {
            "docs_per_s": metric(wl.n_docs / wall, "docs/s"),
            "cold_s": metric(cold, "s"),
            "setup_s": metric(median(setups), "s"),
            "spark_jobs": metric(median([s.jobs for s in stats]), "count"),
            "spark_tasks": metric(median([s.tasks for s in stats]), "count"),
            "shuffle_write_mb": metric(median([s.shuffle_write_bytes / MB for s in stats]), "MB"),
            "peak_rss_mb": metric(mem.peak, "MB"),
            "ok_frac": metric(1.0 - chk.failed / chk.attempted, "ratio"),
        },
    }


def layer_report(tracer, k: int, n_final: int, staged: float, fused: float) -> dict:
    """Every per-layer metric of BENCHMARK.json (0 for a layer that does
    not run in this workload). ``n_final``: docs that survive the fuzzy
    dedup."""
    from redpajama_v2_processing_spark.config import CC_DRIVER_THRESHOLD

    from perfbench.engine import MB, layer_metrics
    from perfbench.workloads import LAYERS

    lm = layer_metrics(tracer, k)
    out = {}
    for layer in LAYERS:
        m = lm.get(layer, {})
        for key, unit in (("s", "s"), ("jobs", "count"), ("tasks", "count"),
                          ("rows_out", "count"), ("shuffle_write_mb", "MB"),
                          ("fetch_wait_s", "s"), ("core_util", "ratio"),
                          ("task_skew", "ratio")):
            out[f"{layer}.{key}"] = metric(m.get(key, 0), unit)

    out["run.s"] = metric(lm.get("run", {}).get("s", 0.0), "s")

    def rows(layer):
        return lm.get(layer, {}).get("rows_out", 0)

    def extra(layer, key):
        return lm.get(layer, {}).get("extra", {}).get(key, 0)

    labeled = rows("label")
    kept = extra("label", "kept")
    exact = rows("exact_dedup")
    out["label.keep_frac"] = metric(kept / labeled if labeled else 0.0, "ratio")
    out["exact_dedup.survivor_frac"] = metric(exact / kept if kept else 0.0, "ratio")
    removed = exact - n_final
    out["minhash_lsh.edges_per_removed"] = metric(
        rows("minhash_lsh.edges") / removed if removed > 0 else 0.0, "ratio")
    out["connected_components.nodes"] = metric(rows("connected_components"), "count")
    out["connected_components.driver_path"] = metric(
        int("connected_components" in lm and rows("minhash_lsh.edges") <= CC_DRIVER_THRESHOLD),
        "bool")
    out["tableio.commit.files"] = metric(extra("tableio.commit", "files"), "count")
    out["tableio.commit.mb_written"] = metric(extra("tableio.commit", "bytes") / MB, "MB")
    out["trace.staged_s"] = metric(staged, "s")
    out["trace.fused_s"] = metric(fused, "s")
    out["trace.overhead_s"] = metric(staged - fused, "s")
    return out


def run_traced(wl, args, k: int, src_path: str, info: dict) -> dict:
    from perfbench.engine import EngineStatus, Tracer, median

    drv = Driver(k)
    chk = Checker()
    work = str(WORK / "run")
    spans_path = WORK / f"spans-{wl.name}-s{args.seed}.json"
    try:
        spark = drv.start()
        info.update(versions(spark, k))
        src = wl.register(spark, src_path)
        # an untimed first iteration: the JIT and the Python workers warm up
        chk.run(wl.iterate, spark, src, work)
        tracer = Tracer(EngineStatus(spark))

        def traced_iteration():
            with tracer.span("run"):
                return wl.traced(spark, src, work, tracer)

        # untraced iterations on both sides of the traced one, so JIT
        # warm-up does not favour either side of the overhead
        fused = [chk.run(wl.iterate, spark, src, work)]
        staged = chk.run(traced_iteration)
        # drop the boundary caches first: the next iteration would reuse them
        tracer.release()
        fused.append(chk.run(wl.iterate, spark, src, work))
        reference = reference_for(wl, spark, src, args.seed, info)
        chk.settle(reference)
        fused = [f for f in fused if f is not None]
        if staged is None or not fused:
            raise SystemExit("perfbench: the traced iteration or both untraced "
                             "ones failed; no timing to report")
        info["fused_s"] = [round(f, 4) for f in fused]
        n_final = reference.count if hasattr(wl, "id_col") else 0
        report = layer_report(tracer, k, n_final, staged, median(fused))
        spans_path.write_text(json.dumps(
            [dict(s.__dict__) for s in tracer.spans], indent=1, default=str))
    finally:
        drv.stop()
    info.update(fail_frac=chk.failed / chk.attempted, spans=str(spans_path.relative_to(ROOT)),
                # each layer's share of the traced iteration: what binds
                shares={m[:-2]: round(v["value"] / staged, 3) for m, v in report.items()
                        if m.endswith(".s") and v["value"] > 0})
    return {"chk": chk, "metrics": report}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "redpajama_v2_processing_spark" / "__init__.py").is_file():
        print("perfbench: the redpajama_v2_processing_spark package is not in this "
              "checkout", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    info = {"workload": wl.name, "seed": args.seed, "trace": args.trace}
    k = min(4, nproc())
    pin_environment(k)
    shutil.rmtree(WORK / "run", ignore_errors=True)
    t0 = time.perf_counter()
    src_path = wl.generate(args.seed, str(WORK / "inputs"))
    info["generate_s"] = round(time.perf_counter() - t0, 3)
    run = (run_traced if args.trace else run_untraced)(wl, args, k, src_path, info)
    shutil.rmtree(WORK / "run", ignore_errors=True)
    chk = run["chk"]
    info["wall_s"] = round(time.perf_counter() - T_START, 3)
    print(json.dumps({"perfbench": info}))
    print(json.dumps({
        "correct": chk.failed == 0, "attempted": chk.attempted, "failed": chk.failed,
        "metrics": run["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
