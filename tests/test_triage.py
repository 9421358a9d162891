"""S2 input triage: the five-category discovery report.

Behavioral parity with the reference's ``ocr_agent/input_discovery.py``
:56-109 (``discover_input_paths_in_enqueue_order`` →
``InputDiscoveryReport``), checked against that function's report on
the fixture tree below, pinned in-repo as expected values
(``_reference_report``).
"""

from pathlib import Path
from types import SimpleNamespace

from pyspark.sql import functions as F

from ocr_agent_spark.operators.triage import (
    CAT_EMPTY_DIR,
    CAT_MISSING,
    CAT_SUPPORTED,
    CAT_UNKNOWN,
    CAT_UNSUPPORTED,
    classify_path_column,
    discover_input_rows,
    render_triage_report,
    triage_counts,
)


def _fixture_tree(tmp_path):
    (tmp_path / "a.png").write_bytes(b"png")
    (tmp_path / "b.PDF").write_bytes(b"pdf")
    (tmp_path / "notes.txt").write_bytes(b"text")
    d = tmp_path / "docs"
    d.mkdir()
    (d / "z.jpg").write_bytes(b"jpg")
    (d / "a.jpeg").write_bytes(b"jpg")
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "readme.md").write_bytes(b"md")
    return [
        str(tmp_path / "a.png"),
        str(tmp_path / "b.PDF"),
        str(tmp_path / "notes.txt"),
        str(d),
        str(empty),
        str(tmp_path / "gone.pdf"),
    ]


def test_discover_inputs_categories_and_order(tmp_path):
    inputs = _fixture_tree(tmp_path)
    supported, rows = discover_input_rows(inputs)
    cats = dict(rows)
    assert cats[inputs[0]] == CAT_SUPPORTED
    assert cats[inputs[1]] == CAT_SUPPORTED  # extension match is case-insensitive
    assert cats[inputs[2]] == CAT_UNSUPPORTED
    assert cats[inputs[3]] == CAT_SUPPORTED
    assert cats[inputs[4]] == CAT_EMPTY_DIR
    assert cats[inputs[5]] == CAT_MISSING
    # enqueue order: input order for files, sorted within directories
    assert supported == [
        inputs[0], inputs[1],
        str(tmp_path / "docs" / "a.jpeg"), str(tmp_path / "docs" / "z.jpg"),
    ]


def _reference_report(root: Path) -> SimpleNamespace:
    """The reference's ``InputDiscoveryReport`` for ``_fixture_tree``.

    Its semantics (SURVEY §S1/S2): inputs keep argument order; a file
    is supported iff its lowercased suffix is an image/PDF extension,
    else unsupported; a directory expands to ``sorted(rglob("*"))``
    supported files, or is reported as having none; a path that does
    not exist is missing; anything else is unknown.
    """
    return SimpleNamespace(
        supported_file_paths_in_enqueue_order=[
            root / "a.png", root / "b.PDF",
            root / "docs" / "a.jpeg", root / "docs" / "z.jpg",
        ],
        missing_input_paths=[root / "gone.pdf"],
        unsupported_input_file_paths=[root / "notes.txt"],
        directories_with_no_supported_files=[root / "empty"],
        unknown_input_paths=[],
    )


def test_discover_inputs_matches_reference(tmp_path):
    inputs = _fixture_tree(tmp_path)
    supported, rows = discover_input_rows(inputs)
    ref = _reference_report(tmp_path)

    assert [Path(p) for p in supported] == ref.supported_file_paths_in_enqueue_order
    cats = dict(rows)
    assert [Path(p) for p, c in rows if c == CAT_MISSING] == ref.missing_input_paths
    assert [Path(p) for p, c in rows if c == CAT_UNSUPPORTED] == (
        ref.unsupported_input_file_paths
    )
    assert [Path(p) for p, c in rows if c == CAT_EMPTY_DIR] == (
        ref.directories_with_no_supported_files
    )
    assert [Path(p) for p, c in rows if c == CAT_UNKNOWN] == ref.unknown_input_paths
    assert cats  # sanity


def test_render_triage_report_shape(tmp_path):
    inputs = _fixture_tree(tmp_path)
    _, rows = discover_input_rows(inputs)
    report = render_triage_report(rows)
    assert "Missing input path(s):" in report
    assert "Unsupported input file(s):" in report
    assert "Directory contains no supported files:" in report
    assert f"- {inputs[5]}" in report
    assert "Unknown input path type" not in report  # none in the fixture


def test_classify_path_column_distributed(spark):
    df = spark.createDataFrame(
        [("a/b.png",), ("c.PDF",), ("noext",), ("d.tar.gz",), ("e.TIFF",)],
        "path string",
    )
    got = {
        r["path"]: r["cat"]
        for r in df.select("path", classify_path_column(F.col("path")).alias("cat")).collect()
    }
    assert got == {
        "a/b.png": "supported_image",
        "c.PDF": "supported_pdf",
        "noext": "unsupported",
        "d.tar.gz": "unsupported",
        "e.TIFF": "supported_image",
    }
    counts = {
        r["category"]: r["n"] for r in triage_counts(df, "path").collect()
    }
    assert counts == {"supported_image": 2, "supported_pdf": 1, "unsupported": 2}


def test_cli_enqueue_prints_triage_report(tmp_path, capsys):
    from ocr_agent_spark.cli import EXIT_CODE_NOTHING_ENQUEUED, main

    bad = tmp_path / "bad.txt"
    bad.write_bytes(b"x")
    rc = main([
        "enqueue", str(bad), str(tmp_path / "missing.parquet"),
        "--job-root", str(tmp_path / "job"),
    ])
    assert rc == EXIT_CODE_NOTHING_ENQUEUED
    err = capsys.readouterr().err
    assert "Missing input path(s):" in err
    assert "Unsupported input file(s):" in err
    assert "Supported file types:" in err
