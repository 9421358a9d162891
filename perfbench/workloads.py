"""The workloads and their per-layer probes.

Every call into the package goes through its public API, the way a user
drives it: ``pipeline.run_extraction_job`` / ``pipeline.merge_job`` for
the extraction workloads and ``functions.dedup.dedup_near`` for
``near_dedup``. An iteration times the calls, then checks the output with
``checks.py`` (untimed).

The layer probes run only in traced runs. Each brackets one public
function of one layer in a span, so its time and its Spark jobs and tasks
are that layer's alone.
"""

from __future__ import annotations

import functools
import os
import shutil
import statistics
import time
import traceback

from perfbench import checks, inputs

DEDUP_THRESHOLD = 0.5  # the near_dedup_keep query's setting
KERNEL_HTML_SAMPLE = 200
KERNEL_PDF_SAMPLE = 30
KERNEL_MIN_SECONDS = 0.3
WIDEN_CALLS = 5


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _probe(tracer, out: dict, name: str, fn):
    """Call ``fn`` in span ``name``; record its seconds and Spark counts."""
    with tracer.span(name) as s:
        result = fn()
    out[f"{name}_s"] = s.seconds
    out[f"{name}.jobs"] = s.jobs
    out[f"{name}.tasks"] = s.tasks
    out[f"{name}.failed_tasks"] = s.failed_tasks
    return result


def _failed_tasks(span) -> list[str]:
    """An error for a traced iteration in which Spark tasks failed."""
    return [f"{span.failed_tasks} Spark tasks failed"] if span.failed_tasks else []


class Run:
    """Per-run state shared by the workloads: session, tracer, dirs."""

    def __init__(self, spark, tracer, rss, work: str, cache: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.rss = rss
        self.work = work
        self.cache = cache

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work, name)
        shutil.rmtree(path, ignore_errors=True)
        return path


class ExtractWorkload:
    """``extract_full`` (fresh output root) or ``resume_incremental``
    (≈90% of the urls already committed)."""

    family = "extract"
    min_iterations = 1  # the set-up warm-up already ran one iteration

    def __init__(self, name: str, seed: int, n_pages: int, resume: bool) -> None:
        self.name = name
        self.seed = seed
        self.n = n_pages
        self.resume = resume
        self.input = None
        self.pristine = None
        self.last_root = None
        self.last_run_id = None

    def locate(self, cache: str) -> None:
        self.input = inputs.pages_input(cache, self.seed, self.n)

    @property
    def input_stamp(self) -> dict:
        m = self.input.manifest
        return {"table": "pages", "rows": m["n"], "content_sha256": m["content_sha256"],
                "pdf_docs": len(m["pdf_docs"]), "bad_payloads": len(m["bad_urls"]),
                "new_urls": len(m["new_urls"]) if self.resume else m["n"]}

    def frames(self, spark) -> None:
        self.pages = spark.read.parquet(self.input.data_dir("all"))

    def warm_up(self, run: Run) -> None:
        """One unmeasured iteration, check included: with less (a slice,
        or no check) the first measured iteration still runs colder."""
        run_iteration(self, run, -1)

    def prepare(self, run: Run) -> None:
        """Commit the ≈90% old urls once; every iteration starts from a copy."""
        if not self.resume:
            return
        from ocr_agent_spark.pipeline import run_extraction_job

        self.pristine = run.fresh_dir("pristine")
        old = run.spark.read.parquet(self.input.data_dir("old"))
        run_extraction_job(run.spark, old, self.pristine, run_id="base")

    def _base_root(self, run: Run, name: str) -> str:
        root = run.fresh_dir(name)
        if self.pristine is not None:
            shutil.copytree(self.pristine, root)
        return root

    def iteration(self, run: Run, k: int) -> dict:
        from ocr_agent_spark.pipeline import merge_job, read_extracted, read_lineage, \
            run_extraction_job

        m = self.input.manifest
        root = self._base_root(run, f"iter-{k}")
        merged = os.path.join(root, "merged.md")
        run_id = f"it{k}"
        tr = run.tracer
        with tr.span("iteration", workload=self.name, k=k) as it:
            with tr.span("pipeline.job") as job:
                res = run_extraction_job(run.spark, self.pages, root, run_id=run_id)
            with tr.span("pipeline.merge") as merge:
                merge_job(run.spark, root, merged_path=merged, return_text=False)
        sample = {"wall_s": it.seconds, "job_s": job.seconds, "merge_s": merge.seconds,
                  "rss_mb": run.rss.take_peak(),
                  "jobs": {"pipeline.job": job.jobs, "pipeline.merge": merge.jobs},
                  "tasks": {"pipeline.job": job.tasks, "pipeline.merge": merge.tasks}}
        new = set(m["new_urls"]) if self.resume else None
        sample["docs"] = inputs.expected_rows(m, new)
        sample["docs_per_s"] = sample["docs"] / job.seconds
        want_processed = len(new) if self.resume else m["n"]
        errors = _failed_tasks(it)
        if (res.pages_total, res.pages_processed) != (m["n"], want_processed):
            errors.append(f"job reported {res.pages_processed}/{res.pages_total} pages "
                          f"processed, expected {want_processed}/{m['n']}")
        errors += checks.check_committed(read_extracted(run.spark, root),
                                         read_lineage(run.spark, root), m)
        errors += checks.check_artifact(merged, m)
        sample["errors"] = errors
        sample["artifact_md5"] = inputs.file_digest(merged, "md5")
        if self.last_root is not None:
            shutil.rmtree(self.last_root, ignore_errors=True)
        self.last_root, self.last_run_id = root, run_id
        return sample

    # -- layer probes ---------------------------------------------------------

    def layer_metrics(self, run: Run, traced: list[dict]) -> dict:
        """Per-layer metrics: medians of the traced iterations plus one
        probe per layer function, run against the same input and the
        output root of the last iteration."""
        from ocr_agent_spark.operators.extract import extract_pages_auto, \
            lineage_from_extracted
        from ocr_agent_spark.operators.merge import merge_extracted_to_file, \
            merge_extracted_to_sharded_files
        from ocr_agent_spark.pipeline import RESUME_KEYS, extraction_store, read_extracted
        from ocr_agent_spark.sources.snapshot import SnapshotStore
        from pyspark.sql import functions as F

        spark, tr, out = run.spark, run.tracer, {}

        def med(key: str, name: str) -> float:
            return statistics.median(s[key][name] for s in traced)

        out["pipeline.job.jobs"] = med("jobs", "pipeline.job")
        out["pipeline.job.tasks"] = med("tasks", "pipeline.job")
        out["pipeline.merge.jobs"] = med("jobs", "pipeline.merge")
        job_s = statistics.median(s["job_s"] for s in traced)

        probe = functools.partial(_probe, tr, out)
        base = self._base_root(run, "probe-base")
        pending = extraction_store(base).anti_join_committed(self.pages, RESUME_KEYS, spark)
        probe("snapshot.anti_join", pending.count)
        probe("extract.fused", lambda: _noop(extract_pages_auto(pending)))

        def identity(batches):
            yield from batches

        probe("extract.identity", lambda: _noop(
            pending.select("url", "warc_ts", "html").mapInPandas(
                identity, schema="url string, warc_ts timestamp, html binary")))

        store = extraction_store(self.last_root)
        committed = spark.read.parquet(os.path.join(store.data_dir, self.last_run_id))
        scratch = SnapshotStore(run.fresh_dir("probe-commit"))
        probe("snapshot.commit", lambda: scratch.commit(committed, run_id="probe"))
        out["snapshot.commit_bytes"] = _dir_bytes(scratch.data_dir)
        probe("extract.lineage", lambda: lineage_from_extracted(
            committed, self.last_run_id).collect())
        counts = committed.agg(F.count(F.lit(1)).alias("rows"),
                               F.sum((F.col("status") == "failed").cast("int"))
                               .alias("failed")).first()
        out["extract.rows"] = counts["rows"]
        out["extract.failed_rows"] = counts["failed"]
        out["pipeline.other_s"] = job_s - sum(
            out[k] for k in ("snapshot.anti_join_s", "extract.fused_s",
                             "snapshot.commit_s", "extract.lineage_s"))

        extracted = read_extracted(spark, self.last_root)
        path = os.path.join(run.fresh_dir("probe-merge"), "merged.md")
        out["merge.artifact_bytes"] = probe(
            "merge.file", lambda: merge_extracted_to_file(extracted, path))
        probe("merge.sharded", lambda: merge_extracted_to_sharded_files(
            extracted, run.fresh_dir("probe-sharded")))
        out.update(self._kernel_metrics())
        return out

    def _kernel_metrics(self) -> dict:
        """Single-thread driver timing of the HTML and PDF kernels over a
        fixed payload sample: the first good payloads of the input."""
        import pyarrow.parquet as pq

        from ocr_agent_spark.kernel.html_extract import extract_html_text
        from ocr_agent_spark.kernel.minipdf import PdfDocument

        bad = set(self.input.manifest["bad_urls"])
        rows = pq.read_table(self.input.data_dir("all"),
                             columns=["url", "html", "is_pdf"]).to_pylist()
        good = [r for r in rows if r["url"] not in bad]
        html = [r["html"] for r in good if not r["is_pdf"]][:KERNEL_HTML_SAMPLE]
        pdfs = [r["html"] for r in good if r["is_pdf"]][:KERNEL_PDF_SAMPLE]

        def per_unit(fn, payloads) -> float:
            units, t0 = 0, time.perf_counter()
            while True:
                for p in payloads:
                    units += fn(p)
                elapsed = time.perf_counter() - t0
                if elapsed >= KERNEL_MIN_SECONDS:
                    return elapsed / units * 1e6

        def html_doc(p: bytes) -> int:
            extract_html_text(p)
            return 1

        def pdf_pages(p: bytes) -> int:
            doc = PdfDocument(p)
            for i in range(doc.page_count):
                doc.page_text(i)
            return doc.page_count

        return {"kernel.html_us_per_doc": per_unit(html_doc, html),
                "kernel.pdf_us_per_page": per_unit(pdf_pages, pdfs)}


class DedupWorkload:
    """``near_dedup``: ``dedup_near`` over a documents table with planted
    exact-copy groups and near-copy clusters; the keep set is written."""

    name = "near_dedup"
    family = "dedup"
    min_iterations = 1  # one iteration already outlasts run_seconds

    def __init__(self, seed: int, n_docs: int) -> None:
        self.seed = seed
        self.n = n_docs
        self.input = None

    def locate(self, cache: str) -> None:
        self.input = inputs.docs_input(cache, self.seed, self.n)

    @property
    def input_stamp(self) -> dict:
        m = self.input.manifest
        sizes = [len(v) for k, v in m["clusters"].items() if k.startswith("near:")]
        return {"table": "docs", "rows": m["n"], "content_sha256": m["content_sha256"],
                "exact_groups": sum(k.startswith("exact:") for k in m["clusters"]),
                "near_clusters": len(sizes), "largest_near_cluster": max(sizes)}

    def frames(self, spark) -> None:
        self.docs = spark.read.parquet(self.input.data_dir("docs"))

    def warm_up(self, run: Run) -> None:
        """The exact-copy collapse on the whole table. MinHash and connected
        components are left out: warming them would cost a whole iteration."""
        from ocr_agent_spark.functions.dedup import dedup_exact

        dedup_exact(self.docs).count()

    def prepare(self, run: Run) -> None:
        pass

    def iteration(self, run: Run, k: int) -> dict:
        import pyarrow.parquet as pq

        from ocr_agent_spark.cache import cache_scope
        from ocr_agent_spark.functions.dedup import dedup_near

        out = run.fresh_dir(f"keep-{k}")
        with run.tracer.span("iteration", workload=self.name, k=k) as it:
            with run.tracer.span("dedup.keep") as keep, cache_scope():
                dedup_near(self.docs, threshold=DEDUP_THRESHOLD).select("doc_id") \
                    .write.parquet(out)
        sample = {"wall_s": it.seconds, "rss_mb": run.rss.take_peak(),
                  "docs": self.input.manifest["n"],
                  "docs_per_s": self.input.manifest["n"] / it.seconds,
                  "jobs": {"dedup.keep": keep.jobs}, "tasks": {"dedup.keep": keep.tasks}}
        kept = pq.read_table(out).column("doc_id").to_pylist()
        errors, sample["near_copy_misses"] = checks.check_keep_set(kept, self.input.manifest)
        sample["errors"] = _failed_tasks(it) + errors
        shutil.rmtree(out, ignore_errors=True)
        return sample

    def layer_metrics(self, run: Run) -> dict:
        """dedup_near's stages called one by one, each in its own span."""
        from ocr_agent_spark.cache import cache_scope, persist_tracked
        from ocr_agent_spark.functions.dedup import connected_components, dedup_exact, \
            minhash_lsh_candidates, minhash_near_duplicates
        from ocr_agent_spark.partitioning import widen_if_narrow

        tr, out = run.tracer, {}

        probe = functools.partial(_probe, tr, out)
        with cache_scope():
            uniques = persist_tracked(dedup_exact(self.docs))
            probe("dedup.exact", uniques.count)
            pairs = persist_tracked(minhash_near_duplicates(
                uniques, threshold=DEDUP_THRESHOLD).select("id_a", "id_b"))
            verified = probe("dedup.minhash", pairs.count)
            candidates = probe("dedup.candidates",
                               lambda: minhash_lsh_candidates(uniques).count())
            probe("dedup.cc", lambda: connected_components(pairs).count())
        out["dedup.candidates"] = candidates
        out["dedup.verified_pairs"] = verified
        out["dedup.verify_yield"] = verified / candidates if candidates else 0.0

        slim = self.docs.select("doc_id", "text")
        calls = []
        for _ in range(WIDEN_CALLS):
            t0 = time.perf_counter()
            widen_if_narrow(slim)
            calls.append((time.perf_counter() - t0) * 1e3)
        out["partitioning.widen_call_ms"] = statistics.median(calls)
        return out


def run_iteration(workload, run: Run, k: int) -> dict:
    """One iteration; an exception becomes a failed sample, never a crash."""
    try:
        return workload.iteration(run, k)
    except Exception:  # the loop keeps measuring and reports the failure
        return {"errors": [traceback.format_exc(limit=5)]}
