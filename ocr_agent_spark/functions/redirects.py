"""Redirect-chain resolution: collapse 3xx hops to final targets.

A crawl's fetch log is full of redirects — www→apex, http→https,
tracking hops, moved content. Everything downstream (dedup keys,
frontier scheduling, link-graph edges, canonical grouping) wants the
FINAL url, and a chain can be many hops deep, loop, or dangle. This
operator resolves every source to its terminal target with POINTER
JUMPING (the same O(log chain-length) doubling as
``dedup.connected_components``): each round joins the current mapping
to itself (``cur := mapping[cur]`` where one exists) and doubles the
distance covered, so a 1000-hop chain resolves in ~10 rounds, not
1000 — and each round's mapping is lineage-cut so the plan stays
flat.

Status taxonomy: ``resolved`` (reached a url with no outgoing
redirect within ``max_hops``) or ``unresolved`` (a cycle, or a chain
longer than the cap — a sequential walk could tell those two apart,
but the doubling walk cannot reliably observe an odd-length cycle, so
the distinction is deliberately NOT offered rather than offered
wrongly). ``hops`` is the exact chain length for resolved rows (the
doubling accumulates true segment lengths), NULL otherwise.

The DuckDB oracle replays the walk hop-by-hop with a recursive CTE —
hash-equality proves the doubling formulation computes the same fixed
point as the sequential walk.

Reference parity: none (the OCR queue has no notion of redirects);
beyond-reference crawl-arc surface, sibling of functions/delta.py and
functions/frontier.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_redirects(edges: DataFrame, max_hops: int = 32,
                      src_col: str = "src", dst_col: str = "dst",
                      checkpoint_dir: str | None = None) -> DataFrame:
    """(src, final_url, hops, status) for every redirect SOURCE.

    ``edges`` holds one row per redirect (src, dst); a url with no
    outgoing edge is terminal. Duplicate-src rows are ambiguous input
    and raise (dedupe the fetch log first).

    Lineage is cut by ``itercut``'s rule (localCheckpoint, or reliable
    checkpoints under ``checkpoint_dir`` on a real cluster): the edge
    table once, before the loop, and each round's mapping, which the
    doubling self-join references twice — without the cut the analyzed
    plan doubles per round (driver heap OOM by round ~11 on a 1000-hop
    chain). The result is cut as the final round: with
    ``checkpoint_dir`` only its files remain; delete the directory
    after consuming the result.
    """
    from ocr_agent_spark.functions.itercut import make_cutter

    if max_hops <= 0:
        raise ValueError(f"max_hops must be > 0, got {max_hops}")
    cut, gc_superseded = make_cutter(edges.sparkSession, checkpoint_dir)

    e = cut(
        edges.select(F.col(src_col).alias("src"),
                     F.col(dst_col).alias("dst")).distinct(),
        invariant=True,
    )
    if e.groupBy("src").count().filter(F.col("count") > 1).limit(1).count():
        gc_superseded(loop_done=True)
        raise ValueError(
            "resolve_redirects: a src with multiple redirect targets "
            "is ambiguous — dedupe the fetch log first"
        )
    # mapping: src -> (cur, hops); doubling rounds cover ≥ max_hops
    m = e.select("src", F.col("dst").alias("cur"),
                 F.lit(1).cast("long").alias("hops"))
    rounds = max(1, int(max_hops).bit_length())
    for _ in range(rounds):
        jump = m.select(F.col("src").alias("_jsrc"),
                        F.col("cur").alias("_jcur"),
                        F.col("hops").alias("_jhops"))
        m = cut(
            m.join(jump, m["cur"] == jump["_jsrc"], "left").select(
                "src",
                F.coalesce("_jcur", "cur").alias("cur"),
                (F.col("hops") + F.coalesce("_jhops", F.lit(0)))
                .alias("hops"),
            )
        )
        gc_superseded()
    terminal_srcs = e.select(F.col("src").alias("_t"))
    out = m.join(terminal_srcs, m["cur"] == terminal_srcs["_t"], "left")
    resolved = F.col("_t").isNull() & (F.col("hops") <= max_hops)
    out = cut(out.select(
        "src",
        F.when(resolved, F.col("cur")).alias("final_url"),
        F.when(resolved, F.col("hops")).cast("int").alias("hops"),
        F.when(resolved, F.lit("resolved")).otherwise(F.lit("unresolved"))
        .alias("status"),
    ))
    gc_superseded(loop_done=True)
    return out


def resolve_redirects_sql(edges_expr: str, max_hops: int = 32) -> str:
    """DuckDB replay: sequential hop-by-hop recursive CTE, same
    resolved/unresolved taxonomy. Cycle walks self-terminate on the
    revisit-start guard; off-start cycles terminate on the hop cap."""
    return f"""
        WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ({edges_expr}) x),
        walk(start, cur, hops) AS (
            SELECT src, dst, CAST(1 AS BIGINT) FROM e
            UNION ALL
            SELECT w.start, e.dst, w.hops + 1
            FROM walk w JOIN e ON w.cur = e.src
            WHERE w.hops <= {max_hops} AND w.cur != w.start
        ),
        final AS (
            SELECT start,
                   arg_min(cur, hops) FILTER (
                       WHERE cur NOT IN (SELECT src FROM e)) AS term_url,
                   min(hops) FILTER (
                       WHERE cur NOT IN (SELECT src FROM e)) AS term_hops
            FROM walk GROUP BY start
        )
        SELECT start AS src,
               CASE WHEN term_hops <= {max_hops}
                    THEN term_url END AS final_url,
               CAST(CASE WHEN term_hops <= {max_hops}
                    THEN term_hops END AS INT) AS hops,
               CASE WHEN term_hops <= {max_hops} THEN 'resolved'
                    ELSE 'unresolved' END AS status
        FROM final
    """
