"""Stage and phase profiler for the dedup layer (guide §1).

Part 1 isolates each stage of ``minhash_near_duplicates`` with noop
sinks, so the shares are visible independent of the final count()
action. Part 2 splits one ``dedup_near`` call into its three phases,
each under its own Spark job group:

- ``construction``: building the exact-dedup + MinHash/LSH plan (no
  job should run here);
- ``pair_graph_cc``: ``connected_components`` — the pair graph is
  materialized by its edge cut, then the label rounds run;
- ``anti_join``: the final keep-set action (a noop write of the
  left-anti join).

Per phase it reports wall seconds, the job count, the seconds during
which at least one of the phase's jobs was running (job spans from an
uncompressed event log), and their difference — the driver-only time
(planning, py4j, scheduling gaps). Prints one JSON line. Usage:

    python tools/profile_dedup.py [SF_DIR]

``SF_DIR`` (or ``SPARK_GRAFT_SF_DIR``) defaults to the sf0.1
testdata that ``tools/scale_ladder.py`` also reads.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.scale_ladder import SRC as DEFAULT_SF_DIR  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def job_spans(event_dir: str) -> dict[str, list[tuple[float, float]]]:
    """{job group: [(submit_s, end_s), ...]} from the event log."""
    starts, ends, groups = {}, {}, {}
    for path in glob.glob(os.path.join(event_dir, "**", "*"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    starts[jid] = ev["Submission Time"] / 1e3
                    groups[jid] = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id")
                elif kind == "SparkListenerJobEnd":
                    ends[ev["Job ID"]] = ev["Completion Time"] / 1e3
    out: dict[str, list[tuple[float, float]]] = {}
    for jid, t0 in starts.items():
        if groups[jid] is not None and jid in ends:
            out.setdefault(groups[jid], []).append((t0, ends[jid]))
    return out


def busy_seconds(spans: list[tuple[float, float]]) -> float:
    """Length of the union of the intervals."""
    total, cur_end = 0.0, float("-inf")
    for t0, t1 in sorted(spans):
        if t1 > cur_end:
            total += t1 - max(t0, cur_end)
            cur_end = t1
    return total


def main() -> None:
    sf_dir = (sys.argv[1] if len(sys.argv) > 1
              else os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    event_dir = tempfile.mkdtemp(prefix="profile-dedup-events-")

    from pyspark.sql import functions as F

    from ocr_agent_spark.cache import release_caches
    from ocr_agent_spark.functions import dedup
    from ocr_agent_spark.functions.dedup import (
        _jaccard_for_pairs,
        _lsh_band_pairs_from_banded,
        _minhash_banded_table,
        minhash_near_duplicates,
        minhash_signatures_from_shingles,
        shingle_table,
    )
    from ocr_agent_spark.session import build_spark

    spark = build_spark(
        app_name="profile-dedup", cores=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    timings: dict[str, float] = {}

    def timed(name, fn):
        sc.setJobDescription(name)
        t0 = time.monotonic()
        out = fn()
        timings[name] = round(time.monotonic() - t0, 3)
        sc.setJobDescription(None)
        return out

    # Warm-up full pipeline once (JIT, page cache), mirroring bench.py.
    minhash_near_duplicates(docs, threshold=0.5).count()
    release_caches()

    # --- part 1: stage isolation (fresh compute per stage) ---
    sh = shingle_table(docs)
    timed("1_shingle_table_noop", lambda: noop(sh))
    timed("1b_shingle_count", lambda: sh.count())

    sig = minhash_signatures_from_shingles(sh)
    timed("2_signatures_noop", lambda: noop(sig))

    banded = _minhash_banded_table(sig, 32, 8)
    timed("3_banded_noop", lambda: noop(banded))

    cands = _lsh_band_pairs_from_banded(banded)
    timed("4_candidates_noop", lambda: noop(cands))

    # verify stage over candidate shingles, as the real pipeline scopes
    # it (the scope is the re-shingled candidate docs)
    cand_p = _lsh_band_pairs_from_banded(banded).persist()
    timed("5_candidates_persisted_noop", lambda: noop(cand_p))
    cand_ids = (
        cand_p.select(F.col("id_a").alias("doc_id"))
        .union(cand_p.select(F.col("id_b").alias("doc_id")))
    )
    pruned = docs.join(cand_ids, docs["doc_id"] == cand_ids["doc_id"],
                       "left_semi")
    verified = _jaccard_for_pairs(
        cand_p, shingle_table(pruned, widen=False), 0.5, 1000
    )
    timed("6_verify_noop", lambda: noop(verified))
    timed("7_verify_count", lambda: verified.count())
    cand_p.unpersist()

    # --- end-to-end repeats, bench-identical ---
    for i in range(2):
        release_caches()
        timed(f"8_full_count_run{i}",
              lambda: minhash_near_duplicates(docs, threshold=0.5).count())
        release_caches()

    # --- part 2: dedup_near phases, one job group each ---
    # dedup_near resolves connected_components from the module at call
    # time, so a wrapper can switch the job group around it.
    walls = {"construction": 0.0, "pair_graph_cc": 0.0, "anti_join": 0.0}
    real_cc = dedup.connected_components

    def phase(name):
        sc.setJobGroup(name, f"dedup_near {name}")
        return time.monotonic()

    def cc_phase(*args, **kwargs):
        t0 = phase("pair_graph_cc")
        try:
            return real_cc(*args, **kwargs)
        finally:
            walls["pair_graph_cc"] += time.monotonic() - t0
            phase("construction")

    dedup.connected_components = cc_phase
    try:
        t0 = phase("construction")
        kept = dedup.dedup_near(docs, threshold=0.5)
        walls["construction"] = (time.monotonic() - t0
                                 - walls["pair_graph_cc"])
    finally:
        dedup.connected_components = real_cc
    t0 = phase("anti_join")
    noop(kept)
    walls["anti_join"] = time.monotonic() - t0
    sc.setJobGroup(None, None)
    release_caches()

    st = sc.statusTracker()
    n_jobs = {name: len(st.getJobIdsForGroup(name)) for name in walls}

    def loadavg():
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])

    load = loadavg()
    spark.stop()  # flushes the event log
    spans = job_spans(event_dir)
    shutil.rmtree(event_dir, ignore_errors=True)
    phases = {}
    for name, wall in walls.items():
        busy = busy_seconds(spans.get(name, []))
        phases[name] = {"wall_s": round(wall, 3), "jobs": n_jobs[name],
                        "job_busy_s": round(busy, 3),
                        "driver_only_s": round(wall - busy, 3)}
    print(json.dumps({"timings": timings, "dedup_near_phases": phases,
                      "cpus": cpus, "sf_dir": sf_dir, "loadavg": load}))


if __name__ == "__main__":
    main()
