"""Correctness checks that depend on the generated inputs, not on the package.

Each check returns a list of error strings; an empty list means the
output is correct. The ground truth comes from the input manifest written
by ``inputs.py``. Committed tables are aggregated with plain Spark SQL
and artifacts are read as bytes, so a bug in the package cannot also hide
itself in its own check.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from perfbench.inputs import doc_index, expected_blocks, expected_rows

TITLE = "# Extracted Output"
# Near copies dedup_near may keep beyond the first of their cluster, as a
# share of all planted near copies. MinHash/LSH misses a few; a dedup that
# skips it misses them all.
MAX_NEAR_MISS_SHARE = 0.10
_HEADER_RE = re.compile(r"^## (\S+)(?: \(page (\d+)/(\d+)\))?$", re.MULTILINE)


def _marker(url: str, page_index: int | None) -> str:
    i = doc_index(url)
    return f"DOC_{i}_PARA_0" if page_index is None else f"DOC_{i}_PAGE_{page_index}"


def check_artifact(path: str, manifest: dict) -> list[str]:
    """The merged markdown holds one block per completed row, in
    (url, page_index) order, each carrying that row's marker."""
    with open(path, encoding="utf-8", newline="") as fh:
        text = fh.read()
    errors = []
    if not text.startswith(TITLE + "\n"):
        errors.append("artifact does not start with the document title")
    if not text.endswith("\n") or text.endswith("\n\n"):
        errors.append("artifact does not end with exactly one newline")
    heads = list(_HEADER_RE.finditer(text))
    got = [(m.group(1), None if m.group(2) is None else int(m.group(2)) - 1,
            None if m.group(3) is None else int(m.group(3))) for m in heads]
    want = expected_blocks(manifest)
    if got != want:
        missing = len(set(want) - set(got))
        extra = len(set(got) - set(want))
        errors.append(f"artifact blocks differ from the input: {len(got)} blocks, "
                      f"{len(want)} expected, {missing} missing, {extra} unexpected")
        return errors
    bad = 0
    for k, m in enumerate(heads):
        end = heads[k + 1].start() if k + 1 < len(heads) else len(text)
        if _marker(got[k][0], got[k][1]) not in text[m.end():end]:
            bad += 1
    if bad:
        errors.append(f"{bad} artifact blocks lack their own content marker")
    return errors


def check_committed(extracted, lineage, manifest: dict) -> list[str]:
    """Committed extraction output against the whole input table.

    ``extracted`` and ``lineage`` are the committed tables as DataFrames.
    """
    idx = F.regexp_extract("url", r"/(\d+)$", 1).cast("long").cast("string")
    marker = F.when(
        F.col("kind") == "pdf_page",
        F.concat(F.lit("DOC_"), idx, F.lit("_PAGE_"), F.col("page_index").cast("string")),
    ).otherwise(F.concat(F.lit("DOC_"), idx, F.lit("_PARA_0")))
    completed = F.col("status") == "completed"
    stats = extracted.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("url", "page_index").alias("keys"),
        F.sum((completed & ~F.coalesce(F.col("text").contains(marker), F.lit(False)))
              .cast("int")).alias("unmarked"),
        F.sum((~completed & (F.col("status") != "failed")).cast("int")).alias("odd_status"),
        F.sort_array(F.collect_list(F.when(~completed, F.col("url")))).alias("failed_urls"),
    ).first()
    lineage_docs = lineage.agg(F.sum("doc_count")).first()[0]
    errors = []
    want_rows = expected_rows(manifest)
    if stats["rows"] != want_rows:
        errors.append(f"{stats['rows']} committed rows, expected {want_rows}")
    if stats["keys"] != stats["rows"]:
        errors.append(f"{stats['rows'] - stats['keys']} duplicate (url, page_index) rows")
    if stats["unmarked"]:
        errors.append(f"{stats['unmarked']} completed rows lack their content marker")
    if stats["odd_status"]:
        errors.append(f"{stats['odd_status']} rows with an unknown status")
    if list(stats["failed_urls"]) != manifest["bad_urls"]:
        errors.append(f"failed rows {len(stats['failed_urls'])} differ from the "
                      f"{len(manifest['bad_urls'])} planted bad payloads")
    if lineage_docs != stats["rows"]:
        errors.append(f"lineage doc_count sums to {lineage_docs}, committed rows {stats['rows']}")
    return errors


def check_keep_set(kept_ids: list[int], manifest: dict) -> tuple[list[str], int]:
    """The near-dedup keep set against the planted clusters.

    Returns (errors, near-copy misses). Every document outside a planted
    cluster is kept, every exact-copy group keeps exactly one member and
    every near-copy cluster keeps at least one. Near copies kept beyond
    the first are misses: counted, and an error only above
    ``MAX_NEAR_MISS_SHARE`` of the planted near copies.
    """
    kept = set(kept_ids)
    errors = []
    if len(kept) != len(kept_ids):
        errors.append(f"{len(kept_ids) - len(kept)} duplicate ids in the keep set")
    clustered = set()
    wrong_exact = empty = misses = near_copies = 0
    for key, ids in manifest["clusters"].items():
        clustered.update(ids)
        n_kept = len(kept.intersection(ids))
        if key.startswith("exact:") and n_kept != 1:
            wrong_exact += 1
        elif key.startswith("near:"):
            empty += n_kept == 0
            misses += max(0, n_kept - 1)
            near_copies += len(ids) - 1
    unknown = [i for i in kept if not 0 <= i < manifest["n"]]
    lost = manifest["n"] - len(clustered) - len(kept - clustered) + len(unknown)
    if lost:
        errors.append(f"{lost} documents outside any planted cluster were removed")
    if unknown:
        errors.append(f"{len(unknown)} kept ids are not in the input")
    if wrong_exact:
        errors.append(f"{wrong_exact} exact-copy groups not collapsed to one document")
    if empty:
        errors.append(f"{empty} near-copy clusters lost every member")
    if misses > MAX_NEAR_MISS_SHARE * near_copies:
        errors.append(f"{misses} of {near_copies} planted near copies kept, "
                      f"more than {MAX_NEAR_MISS_SHARE:.0%}")
    return errors, misses
