"""Tests of the benchmark itself: inputs, checks and tiny end-to-end runs.

Run from the root of a checkout::

    python3 -m pytest perfbench/tests -q

The checker tests build a correct output from the input manifest alone,
pass it, then corrupt it and expect the check to fail. The run tests start
``perfbench/run.py`` at a tiny size; each takes from half a minute to a
couple of minutes on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import checks, inputs

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="module")
def pages(tmp_path_factory):
    return inputs.pages_input(str(tmp_path_factory.mktemp("cache")), seed=5, n=300)


@pytest.fixture(scope="module")
def docs(tmp_path_factory):
    return inputs.docs_input(str(tmp_path_factory.mktemp("cache")), seed=5, n=300)


def _artifact(manifest: dict) -> str:
    """A merged artifact that is correct for ``manifest``, built without Spark."""
    parts = [checks.TITLE, ""]
    for url, page, total in inputs.expected_blocks(manifest):
        head = f"## {url}" if page is None else f"## {url} (page {page + 1}/{total})"
        parts.append(f"{head}\n\n\nbody {checks._marker(url, page)} text\n\n---\n")
    return "\n".join(parts).rstrip() + "\n"


def _correct_keep_set(manifest: dict) -> list[int]:
    clustered = {i for ids in manifest["clusters"].values() for i in ids}
    keep = [i for i in range(manifest["n"]) if i not in clustered]
    return keep + [min(ids) for ids in manifest["clusters"].values()]


def test_inputs_are_seeded_and_cached(pages, docs, tmp_path):
    again = inputs.pages_input(str(tmp_path), seed=5, n=300)
    assert again.manifest["content_sha256"] == pages.manifest["content_sha256"]
    other = inputs.pages_input(str(tmp_path), seed=6, n=300)
    assert other.manifest["content_sha256"] != pages.manifest["content_sha256"]
    assert inputs.docs_input(str(tmp_path), seed=5, n=300).manifest["content_sha256"] \
        == docs.manifest["content_sha256"]
    m = pages.manifest
    assert m["bad_urls"] and m["pdf_docs"] and 30 <= len(m["new_urls"]) <= 32
    assert len(set(m["new_urls"]) & set(m["bad_urls"])) >= 2
    assert any(k.startswith("exact:") for k in docs.manifest["clusters"])


def test_damaged_cache_is_refused(tmp_path):
    found = inputs.pages_input(str(tmp_path), seed=5, n=300)
    part = os.path.join(found.data_dir("all"), "part-00000.parquet")
    with open(part, "r+b") as fh:
        fh.seek(100)
        fh.write(b"\0\0\0\0")
    with pytest.raises(RuntimeError, match="damaged"):
        inputs.pages_input(str(tmp_path), seed=5, n=300)


def test_artifact_check_passes_correct_and_fails_corrupted(pages, tmp_path):
    m = pages.manifest
    good = _artifact(m)
    path = tmp_path / "merged.md"
    path.write_text(good)
    assert checks.check_artifact(str(path), m) == []

    blocks = good.split("\n## ")
    swapped = blocks[:1] + [blocks[2], blocks[1]] + blocks[3:]
    dropped = blocks[:1] + blocks[2:]
    for bad in ("\n## ".join(swapped), "\n## ".join(dropped),
                good.replace(checks._marker(*inputs.expected_blocks(m)[3][:2]), "lost"),
                good + "\n"):
        path.write_text(bad)
        assert checks.check_artifact(str(path), m) != []


def test_keep_set_check_passes_correct_and_fails_corrupted(docs):
    m = docs.manifest
    keep = _correct_keep_set(m)
    assert checks.check_keep_set(keep, m) == ([], 0)

    exact = next(ids for k, ids in m["clusters"].items() if k.startswith("exact:"))
    near = next(ids for k, ids in m["clusters"].items() if k.startswith("near:"))
    clustered = {i for ids in m["clusters"].values() for i in ids}
    single = next(i for i in range(m["n"]) if i not in clustered)
    assert checks.check_keep_set([i for i in keep if i != single], m)[0]
    assert checks.check_keep_set(keep + [max(exact)], m)[0]
    assert checks.check_keep_set([i for i in keep if i not in near], m)[0]
    errors, misses = checks.check_keep_set(keep + [max(near)], m)
    assert errors == [] and misses == 1
    # a dedup that collapses exact copies but skips MinHash/LSH
    every_near = [i for k, ids in m["clusters"].items() if k.startswith("near:") for i in ids]
    errors, misses = checks.check_keep_set(sorted(set(keep) | set(every_near)), m)
    assert errors and misses == len(every_near) - sum(
        k.startswith("near:") for k in m["clusters"])


def _run(workload: str, tmp_path, *extra: str) -> dict:
    record = tmp_path / f"{workload}.json"
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "0", "--pages", "300", "--docs", "300", "--record", str(record),
         *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    return {"result": result, "record": json.loads(record.read_text())}


@pytest.fixture(scope="module")
def extraction_runs(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("runs")
    return {w: _run(w, tmp) for w in ("extract_full", "resume_incremental")}


def test_tiny_extraction_runs_pass_their_checks(extraction_runs):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = [m["name"] for m in json.load(fh)["end_to_end"]]
    for run in extraction_runs.values():
        assert list(run["result"]["metrics"]) == declared
        assert all(v["value"] > 0 for v in run["result"]["metrics"].values())


def test_resume_merges_byte_identical_to_full_extraction(extraction_runs):
    md5s = {w: {s["artifact_md5"] for s in run["record"]["samples"]}
            for w, run in extraction_runs.items()}
    assert len(md5s["extract_full"]) == 1
    assert md5s["extract_full"] == md5s["resume_incremental"]


def test_tiny_near_dedup_run_passes_its_check(tmp_path):
    run = _run("near_dedup", tmp_path)
    assert run["record"]["samples"][0]["near_copy_misses"] >= 0


def test_traced_run_reports_every_layer(tmp_path):
    run = _run("resume_incremental", tmp_path, "--trace", "1")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = [m["name"] for m in json.load(fh)["per_layer"]]
    assert list(run["result"]["metrics"]) == declared
    assert all(v["value"] > 0 for v in run["result"]["metrics"].values())
    spans = json.loads((tmp_path / "resume_incremental-spans.json").read_text())
    assert {"pipeline.job", "snapshot.anti_join", "dedup.cc"} <= {s["name"] for s in spans}
    assert all({"name", "start", "end", "parent_id", "trace_id"} <= set(s) for s in spans)
