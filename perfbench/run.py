"""Product-path benchmark: extraction job, resume and near-dedup.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload extract_full --seed 1 --seconds 10 --trace 0

``extract_full`` and ``resume_incremental`` run ``run_extraction_job`` then
``merge_job`` (into a fresh root, or into a restored root with ≈90% of the
urls committed); ``near_dedup`` runs ``dedup_near(docs, threshold=0.5)``.
One driver process, one job at a time, ``build_spark(cores=nproc)``: a
closed loop until ``--seconds`` have passed and the workload's minimum
iteration count is reached, every iteration's output checked (untimed).
``setup_s`` is one cold set-up: process start → ``build_spark`` (a fresh
JVM) → inputs located → warm-up; generating an input that is not cached
yet is not set-up time.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. The last stdout line is the JSON result, the lines before it a
readable table; the full record goes to ``perfbench/_work/results/``.
README.md describes the workloads, metrics and checks.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")

SIZES = {"pages": 3000, "docs": 1000}
COMPANION_SIZES = {"pages": 500, "docs": 400}
DRIVER_MEM = "2g"
WORKLOADS = ("extract_full", "resume_incremental", "near_dedup")


def _process_start() -> float:
    """Wall-clock time this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - started)


T_PROCESS = _process_start()


def _loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def _median(values):
    return statistics.median(values) if values else None


def _make_workload(name: str, seed: int, sizes: dict):
    from perfbench.workloads import DedupWorkload, ExtractWorkload

    if name == "near_dedup":
        return DedupWorkload(seed, sizes["docs"])
    return ExtractWorkload(name, seed, sizes["pages"], resume=name == "resume_incremental")


def _companion(name: str, seed: int):
    """The other family's workload at companion size, for traced runs."""
    if name == "near_dedup":
        return _make_workload("extract_full", seed, COMPANION_SIZES)
    return _make_workload("near_dedup", seed, COMPANION_SIZES)


def _session(cores: int, tmp: str):
    from ocr_agent_spark.session import build_spark

    spark = build_spark(cores=cores, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # A fixed-size heap, touched at start: the JVM's resident size then
        # does not depend on when the collector grows or first uses the heap.
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown() -> None:
    """Stop the active session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def _versions(spark) -> dict:
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version")}


def _setup(workload, run, cores: int, tmp: str, gen_s: float):
    """Process start → ``build_spark`` → inputs located → warm-up.

    Input generation and ``prepare`` (the committed state a resumed job
    starts from) are left out. Returns the run context, the set-up time
    and the ``build_spark`` time.
    """
    from perfbench.spans import Tracer

    tb = time.time()
    run.spark = _session(cores, tmp)
    build_s = time.time() - tb
    run.tracer = Tracer(run.spark, enabled=False)
    workload.locate(run.cache)
    workload.frames(run.spark)
    tp = time.time()
    workload.prepare(run)
    prepare_s = time.time() - tp
    workload.warm_up(run)
    return run, time.time() - T_PROCESS - gen_s - prepare_s, build_s


def _measure(workload, run, seconds: float, least: int, traced=lambda k: False) -> list:
    """Closed loop: iterate until ``seconds`` have passed and at least
    ``least`` iterations ran; iteration ``k`` is traced if ``traced(k)``."""
    from perfbench.workloads import run_iteration

    samples, t_loop, k = [], time.monotonic(), 0
    while k < least or time.monotonic() - t_loop < seconds:
        run.tracer.enabled = traced(k)
        run.tracer.new_trace()
        stamp = {"workload": workload.name, "k": k, "traced": run.tracer.enabled,
                 "loadavg": _loadavg(), "offset_s": time.time() - T_PROCESS}
        run.rss.take_peak()
        samples.append({**stamp, **run_iteration(workload, run, k)})
        k += 1
    return samples


def _trace(workload, companion, run, seconds: float, build_s: float):
    """A traced run: returns (samples, per-layer metrics).

    An extraction workload alternates untraced and traced iterations: the
    traced ones give the pipeline spans, the difference ``trace.overhead_s``.
    Then every layer is probed. The result must carry every declared
    per-layer metric, so a run takes the other family's layers from its
    companion table: a ``near_dedup`` run its pipeline spans from one traced
    iteration on the companion pages table (cold, so counts only, no
    overhead), an extraction run its dedup probes from the companion
    documents table.
    """
    if workload.family == "extract":
        ext, ded = workload, companion
        samples = _measure(ext, run, seconds, 2, traced=lambda k: k % 2 == 1)
    else:
        ext, ded = companion, workload
        ext.frames(run.spark)
        ext.prepare(run)
        samples = _measure(ext, run, 0.0, 1, traced=lambda k: True)
    ok = [s for s in samples if not s["errors"]]
    traced = [s for s in ok if s["traced"]]
    untraced = [s for s in ok if not s["traced"]]
    run.tracer.enabled = True
    layers = ext.layer_metrics(run, traced)
    ded.frames(run.spark)
    layers.update(ded.layer_metrics(run))
    if traced and untraced:
        layers["trace.overhead_s"] = _median([s["wall_s"] for s in traced]) \
            - _median([s["wall_s"] for s in untraced])
    layers["trace.bookkeeping_s"] = run.tracer.bookkeeping_s
    layers["session.build_s"] = build_s
    return samples, layers


def _table(workload: str, metrics: dict, units: dict, extra: dict) -> list[str]:
    lines = [f"perfbench {workload}: " + ", ".join(f"{k}={v}" for k, v in extra.items())]
    for name, value in metrics.items():
        shown = "n/a" if value is None else f"{value:.6g}"
        lines.append(f"  {name:<34} {shown:>14} {units.get(name, '')}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=SIZES["pages"],
                    help="pages table rows (extraction workloads)")
    ap.add_argument("--docs", type=int, default=SIZES["docs"],
                    help="documents table rows (near_dedup)")
    ap.add_argument("--record", help="where to write the full JSON record "
                    "(default: perfbench/_work/results/<workload>-seed<n>-....json)")
    args = ap.parse_args(argv)

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    try:
        import ocr_agent_spark  # noqa: F401  the package under test
        with open(bench_json) as fh:
            declared = json.load(fh)
    except (ImportError, OSError) as exc:
        print(f"perfbench: cannot run here: {exc!r}", file=sys.stderr)
        return 2

    from perfbench.spans import RssSampler
    from perfbench.workloads import Run

    tmp = os.path.join(WORK, "tmp")
    cache = os.path.join(WORK, "inputs")
    results = os.path.join(WORK, "results")
    work = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    for d in (tmp, cache, results, work):
        os.makedirs(d, exist_ok=True)
    # Executors, Python workers and the JVM write scratch files here, not /tmp.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    # The package defaults the driver heap to 8g; the inputs here need far
    # less, and a smaller heap keeps the JVM's resident size steady.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    cores = len(os.sched_getaffinity(0))

    sizes = {"pages": args.pages, "docs": args.docs}
    workload = _make_workload(args.workload, args.seed, sizes)
    companion = _companion(args.workload, args.seed) if args.trace else None
    t = time.time()
    for w in (workload, companion):
        if w is not None:
            w.locate(cache)
    gen_s = time.time() - t

    # SIGTERM unwinds like an error, so the session and the JVM are stopped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with RssSampler() as rss:
        try:
            run, setup_s, build_s = _setup(workload, Run(None, None, rss, work, cache),
                                           cores, tmp, gen_s)
            if args.trace:
                samples, layers = _trace(workload, companion, run, args.seconds, build_s)
            else:
                samples, layers = _measure(workload, run, args.seconds,
                                           workload.min_iterations), {}
            versions = _versions(run.spark)
        finally:
            _shutdown()
            shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for s in samples if s["errors"])
    # Failed Spark tasks in any span (iteration or layer probe) make the run
    # incorrect even when a retry rescued the output.
    failed_tasks = run.tracer.failed_tasks
    attempted = len(samples)
    timed = [s for s in samples
             if s["workload"] == args.workload and not s["traced"] and "wall_s" in s]
    e2e = {"setup_s": setup_s}
    if timed:
        def med(key):
            return _median([s[key] for s in timed if key in s])

        e2e.update(wall_s=med("wall_s"), job_s=med("job_s"), merge_s=med("merge_s"),
                   docs_per_s=med("docs_per_s"),
                   peak_rss_mb=max(s["rss_mb"] for s in timed),
                   error_rate=failed / attempted)
    units = {m["name"]: m["unit"] for m in declared["end_to_end"] + declared["per_layer"]}
    units.update(job_s="s", merge_s="s", error_rate="ratio")
    declared_names = [m["name"] for m in (declared["per_layer"] if args.trace
                                          else declared["end_to_end"])]
    values = layers if args.trace else e2e
    missing = [n for n in declared_names if values.get(n) is None]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        for s in samples:
            print("\n".join(s["errors"]), file=sys.stderr)
        return 1

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds,
        "stamp": {"nproc": os.cpu_count(), "cores_used": cores, **versions,
                  "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
                  "session_build_s": build_s,
                  "input_generation_s": gen_s},
        "inputs": {w.name: w.input_stamp for w in (workload, companion) if w is not None},
        "end_to_end": e2e, "per_layer": layers, "samples": samples,
        "iterations": {"attempted": attempted, "failed": failed, "timed": len(timed),
                       "failed_tasks": failed_tasks},
    }
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(T_PROCESS)}"
    record_path = args.record or os.path.join(results, f"{tag}.json")
    with open(record_path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if args.trace:
        run.tracer.write(record_path[:-len(".json")] + "-spans.json")

    extra = {"seed": args.seed, "cores": f"{cores}/{os.cpu_count()}",
             "iterations": f"{len(timed)} timed of {attempted}",
             "input": workload.input_stamp["content_sha256"][:12]}
    for line in _table(args.workload, e2e, units, extra):
        print(line)
    if args.trace:
        for line in _table(args.workload + " (traced, per layer)", layers, units, extra):
            print(line)
    for s in samples:
        for err in s["errors"]:
            print(f"  iteration {s['k']} failed: {err}")
    if failed_tasks:
        print(f"  {failed_tasks} Spark tasks failed")
    result = {"correct": failed == 0 and failed_tasks == 0,
              "attempted": attempted, "failed": failed,
              "metrics": {n: {"value": values[n], "unit": units[n]} for n in declared_names}}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
