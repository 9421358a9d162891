"""Redirect-chain resolution (functions/redirects.py)."""

import pytest

from ocr_agent_spark.functions.redirects import resolve_redirects


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string")


def test_single_hop(spark):
    out = {r["src"]: r for r in resolve_redirects(
        _edges(spark, [("a", "b")])).collect()}
    assert out["a"]["final_url"] == "b"
    assert out["a"]["hops"] == 1 and out["a"]["status"] == "resolved"


def test_chain_resolves_with_exact_hops(spark):
    rows = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    out = {r["src"]: r for r in resolve_redirects(_edges(spark, rows)).collect()}
    assert out["a"]["final_url"] == "e" and out["a"]["hops"] == 4
    assert out["c"]["final_url"] == "e" and out["c"]["hops"] == 2
    assert all(r["status"] == "resolved" for r in out.values())


def test_two_cycle_unresolved(spark):
    rows = [("a", "b"), ("b", "a"), ("c", "a")]
    out = {r["src"]: r for r in resolve_redirects(_edges(spark, rows)).collect()}
    assert out["a"]["status"] == "unresolved"
    assert out["a"]["final_url"] is None and out["a"]["hops"] is None
    assert out["b"]["status"] == "unresolved"
    # c enters the cycle: also unresolved
    assert out["c"]["status"] == "unresolved"


def test_odd_cycle_unresolved(spark):
    rows = [("a", "b"), ("b", "c"), ("c", "a")]
    out = resolve_redirects(_edges(spark, rows)).collect()
    assert all(r["status"] == "unresolved" for r in out)


def test_long_chain_beyond_cap_unresolved(spark):
    rows = [(f"u{i}", f"u{i+1}") for i in range(12)]
    out = {r["src"]: r for r in resolve_redirects(
        _edges(spark, rows), max_hops=8).collect()}
    assert out["u0"]["status"] == "unresolved"  # 12 hops > cap 8
    assert out["u5"]["status"] == "resolved"    # 7 hops
    assert out["u5"]["hops"] == 7


def test_thousand_hop_chain_log_rounds(spark):
    # the doubling walk must handle a 1000-hop chain with max_hops
    # covering it (rounds ~ log2) — completes quickly, exact hops
    rows = [(f"u{i}", f"u{i+1}") for i in range(1000)]
    out = {r["src"]: r for r in resolve_redirects(
        _edges(spark, rows), max_hops=1024).collect()}
    assert out["u0"]["final_url"] == "u1000" and out["u0"]["hops"] == 1000


def test_ambiguous_src_raises(spark):
    with pytest.raises(ValueError):
        resolve_redirects(_edges(spark, [("a", "b"), ("a", "c")])).collect()


def test_invalid_max_hops(spark):
    with pytest.raises(ValueError):
        resolve_redirects(_edges(spark, [("a", "b")]), max_hops=0)


def test_reliable_checkpoint_leaves_only_final_round(spark, tmp_path):
    # checkpoint_dir switches every cut to a reliable checkpoint; the
    # edge cut and all superseded rounds are deleted, so a deep chain
    # cannot leave one table copy per round behind
    import os

    ckpt = str(tmp_path / "redir_ckpt")
    rows = [(f"u{i}", f"u{i+1}") for i in range(40)]
    out = {r["src"]: r for r in resolve_redirects(
        _edges(spark, rows), max_hops=64, checkpoint_dir=ckpt).collect()}
    assert out["u0"]["final_url"] == "u40" and out["u0"]["hops"] == 40
    left = os.listdir(ckpt)
    assert len(left) == 1 and left[0].startswith("round-"), left
