"""Seeded benchmark inputs, cached on disk by (seed, size, generator version).

Two tables:

- ``pages``: the extraction job's input, in the shape the package's own
  ingest persists (``url, warc_ts, html, text, lang, doc_bytes, is_pdf``).
  Rows come from ``ocr_agent_spark.fixtures.generate_page`` (≈7% multi-page
  PDFs); a small planted share of rows get a null payload or a corrupt PDF
  payload. A seeded ≈10% of urls, one null and one corrupt payload among
  them, are marked "new"; the remaining ≈90% are written again as
  ``old/`` for the resume workload.
- ``docs``: ``(doc_id, text)`` over a large synthetic vocabulary, with
  planted exact-copy groups and near-copy clusters of skewed size (a few
  large "mirror" clusters), all far below the LSH bucket cap.

Each input directory holds a ``manifest.json`` with the ground truth the
checks need, a sha256 of every data file, and a content hash over the
logical rows. The cache key carries a hash of ``fixtures.py``, so a change
to the package's generator regenerates instead of reusing a stale table,
and the content hash in every result shows that the workload changed.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil
from dataclasses import dataclass

GEN_VERSION = "5"

# Every pages subset is written as this many files, so each scan has two
# tasks per core on a 4-core host.
PAGES_FILES = 8
PAGES_ROW_GROUP_ROWS = 256
NEW_FRACTION = 0.10

_PAGE_OBJ_RE = re.compile(rb"/Type\s*/Page(?!s)")
_INDEX_RE = re.compile(r"/(\d+)$")


@dataclass(frozen=True)
class Input:
    path: str
    manifest: dict

    def data_dir(self, name: str) -> str:
        return os.path.join(self.path, name)


def file_digest(path: str, algorithm: str = "sha256") -> str:
    with open(path, "rb") as fh:
        return hashlib.file_digest(fh, algorithm).hexdigest()


def _source_sha(module) -> str:
    return file_digest(module.__file__)[:12]


def doc_index(url: str) -> int:
    """The fixture row index encoded at the end of every generated url."""
    return int(_INDEX_RE.search(url).group(1))


def pdf_page_count(payload: bytes) -> int:
    """Page objects in a generated PDF, read from its uncompressed dicts."""
    return len(_PAGE_OBJ_RE.findall(payload))


def _write_files(directory: str, tables: list) -> dict:
    import pyarrow.parquet as pq

    os.makedirs(directory)
    shas = {}
    for k, table in enumerate(tables):
        name = f"part-{k:05d}.parquet"
        path = os.path.join(directory, name)
        pq.write_table(table, path, row_group_size=PAGES_ROW_GROUP_ROWS)
        shas[name] = file_digest(path)
    return shas


def _locate(cache_root: str, key: str, build) -> Input:
    """Return the cached input ``key``, building it first if absent.

    Every data file is checked against the manifest's sha256, so a
    damaged cache fails loudly instead of feeding the benchmark other
    bytes.
    """
    path = os.path.join(cache_root, key)
    manifest_path = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest_path):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        manifest = build(tmp)
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(manifest, fh)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(manifest_path) as fh:
        manifest = json.load(fh)
    for rel, sha in manifest["file_sha256"].items():
        if file_digest(os.path.join(path, rel)) != sha:
            raise RuntimeError(f"cached input file {rel} in {path} is damaged")
    return Input(path, manifest)


# -- pages -------------------------------------------------------------------


def _pages_build(seed: int, n: int):
    import pyarrow as pa

    from ocr_agent_spark.fixtures import generate_page

    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("doc_bytes", pa.int64()),
        ("is_pdf", pa.bool_()),
    ])
    rng = random.Random(f"perfbench-pages:{seed}")
    n_bad = max(2, n // 200)
    bad = rng.sample(range(n), 2 * n_bad)
    null_rows, corrupt_rows = set(bad[:n_bad]), set(bad[n_bad:])
    new_rows = set(rng.sample(range(n), max(1, round(n * NEW_FRACTION))))
    # a resumed job meets at least one null and one corrupt payload too
    new_rows |= {bad[0], bad[n_bad]}

    def build(tmp: str) -> dict:
        content = hashlib.sha256()
        rows = {"all": [], "old": []}
        html_docs, pdf_docs, bad_urls, new_urls = [], [], [], []
        for i in range(n):
            rec = generate_page(i, seed=seed)
            payload = rec.html
            if i in null_rows:
                payload = None
            elif i in corrupt_rows:
                payload = b"%PDF-1.4\n" + random.Random(f"{seed}:bad:{i}").randbytes(96)
            if payload is None or i in corrupt_rows:
                bad_urls.append(rec.url)
            elif payload[:4] == b"%PDF":
                pdf_docs.append([rec.url, pdf_page_count(payload)])
            else:
                html_docs.append(rec.url)
            row = {
                "url": rec.url, "warc_ts": rec.warc_ts, "html": payload,
                "text": rec.text, "lang": rec.lang,
                "doc_bytes": 0 if payload is None else len(payload),
                "is_pdf": payload is not None and payload[:4] == b"%PDF",
            }
            for part in (rec.url, str(rec.warc_ts), rec.text or "", rec.lang):
                content.update(part.encode("utf-8") + b"\0")
            content.update(b"\1" if payload is None else payload)
            rows["all"].append(row)
            if i in new_rows:
                new_urls.append(rec.url)
            else:
                rows["old"].append(row)
        shas = {}
        for name, subset in rows.items():
            per_file = -(-len(subset) // PAGES_FILES)
            tables = [
                pa.Table.from_pylist(subset[k:k + per_file], schema=schema)
                for k in range(0, len(subset), per_file)
            ]
            for file, sha in _write_files(os.path.join(tmp, name), tables).items():
                shas[f"{name}/{file}"] = sha
        return {
            "table": "pages", "seed": seed, "n": n, "gen_version": GEN_VERSION,
            "content_sha256": content.hexdigest(), "file_sha256": shas,
            "html_urls": html_docs, "pdf_docs": pdf_docs,
            "bad_urls": sorted(bad_urls), "new_urls": sorted(new_urls),
        }

    return build


def pages_input(cache_root: str, seed: int, n: int) -> Input:
    from ocr_agent_spark import fixtures

    key = f"pages-s{seed}-n{n}-g{GEN_VERSION}-f{_source_sha(fixtures)}"
    return _locate(cache_root, key, _pages_build(seed, n))


def expected_blocks(manifest: dict, urls: set[str] | None = None) -> list[tuple]:
    """Merged-artifact block headers in order: (url, page_index, total_pages).

    HTML rows carry ``page_index`` None. Restrict to ``urls`` when given.
    """
    out = [(u, None, None) for u in manifest["html_urls"]]
    out += [(u, p, t) for u, t in manifest["pdf_docs"] for p in range(t)]
    if urls is not None:
        out = [b for b in out if b[0] in urls]
    return sorted(out, key=lambda b: (b[0], b[1] or 0))


def expected_rows(manifest: dict, urls: set[str] | None = None) -> int:
    """Committed rows: one per HTML page, one per PDF page, one per bad payload."""
    bad = manifest["bad_urls"]
    if urls is not None:
        bad = [u for u in bad if u in urls]
    return len(expected_blocks(manifest, urls)) + len(bad)


# -- docs ---------------------------------------------------------------------

VOCAB_SIZE = 40_000
NEAR_MUTATION = 0.03  # share of tokens replaced in a near copy
MIRROR_MUTATION = 0.01  # mirrors are closer copies of their base


def _word(rng: random.Random) -> str:
    return "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))


def _docs_plan(rng: random.Random, n: int) -> list[tuple[str, int, float]]:
    """Groups in slot order: (kind, size, share of tokens mutated per copy),
    kind one of "near" | "exact" | "single"."""
    plan, used = [], 0
    for _ in range(3):  # a few large mirror clusters
        size = max(3, int(n * rng.uniform(0.02, 0.04)))
        plan.append(("near", size, MIRROR_MUTATION))
        used += size
    while used < 0.30 * n:  # skewed near-copy cluster sizes
        size = min(2 + int(rng.paretovariate(1.3)), 40)
        plan.append(("near", size, NEAR_MUTATION))
        used += size
    while used < 0.40 * n:
        size = rng.randint(2, 4)
        plan.append(("exact", size, 0.0))
        used += size
    plan += [("single", 1, 0.0)] * max(0, n - used)
    return plan


def _docs_build(seed: int, n: int):
    import pyarrow as pa

    def build(tmp: str) -> dict:
        rng = random.Random(f"perfbench-docs:{seed}")
        vocab = [_word(rng) for _ in range(VOCAB_SIZE)]
        plan = _docs_plan(rng, n)
        texts, groups = [], []
        for g, (kind, size, mutation) in enumerate(plan):
            base = [rng.choice(vocab) for _ in range(rng.randint(60, 160))]
            for m in range(size):
                toks = base
                if m > 0 and mutation:
                    toks = [rng.choice(vocab) if rng.random() < mutation else t
                            for t in base]
                texts.append(" ".join(toks))
                groups.append((kind, g))
        ids = rng.sample(range(len(texts)), len(texts))
        order = sorted(range(len(texts)), key=lambda k: ids[k])
        content = hashlib.sha256()
        for k in order:
            content.update(f"{ids[k]}\0{texts[k]}\1".encode("utf-8"))
        table = pa.table({
            "doc_id": pa.array([ids[k] for k in order], pa.int64()),
            "text": [texts[k] for k in order],
        })
        shas = {}
        for file, sha in _write_files(os.path.join(tmp, "docs"), [table]).items():
            shas[f"docs/{file}"] = sha
        clusters: dict[str, list[int]] = {}
        for k, (kind, g) in enumerate(groups):
            if kind != "single":
                clusters.setdefault(f"{kind}:{g}", []).append(ids[k])
        return {
            "table": "docs", "seed": seed, "n": len(texts), "gen_version": GEN_VERSION,
            "content_sha256": content.hexdigest(), "file_sha256": shas,
            "clusters": clusters,
        }

    return build


def docs_input(cache_root: str, seed: int, n: int) -> Input:
    key = f"docs-s{seed}-n{n}-g{GEN_VERSION}"
    return _locate(cache_root, key, _docs_build(seed, n))
