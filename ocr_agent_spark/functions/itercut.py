"""Lineage-cutting for iterative fixed-point loops.

Every iterative algorithm in this repo (connected components, redirect
resolution, PageRank, the BPE trainer) rebuilds a slim table each round
where the round references its predecessor MORE THAN ONCE (a join + an
aggregate), so without a true lineage cut the analyzed logical plan
doubles per round — cache substitution happens at planning time but the
logical tree keeps the full history, measured as analyzer OOM by round
~10.

The rule every loop follows: **cut loop-invariant inputs once, before
the loop, and cut each round.** A loop-invariant table (the edge list
a component or redirect loop joins every round) that is merely
persisted still carries its whole upstream lineage — for
``dedup_near``'s pair graph that is the exact-dedup window, the MinHash
banding and the verify join — and the driver re-analyzes and
re-optimizes all of it for every join of every round. Measured with
``tools/profile_dedup.py`` on the 5000-doc sf0.1 documents table (4
cores): ``connected_components`` inside ``dedup_near`` took 29.0 s, of
which its 60 jobs were running 10.0 s and 19.0 s was driver-only; with
the edge table cut first it took 8.5 s (53 jobs, 6.3 s running, 2.2 s
driver-only).

``make_cutter`` returns the (cut, gc_superseded) pair the loops share:

- with ``checkpoint_dir=None``: ``localCheckpoint(eager=True)`` —
  executor-memory blocks, fine on local mode, but a lost executor
  loses the blocks with NO lineage to recompute them. ``gc`` is a
  no-op.
- with a ``checkpoint_dir`` (HDFS/S3 on a real cluster): reliable
  ``checkpoint()`` into a per-round subdirectory. Spark never deletes
  reliable checkpoint files itself (cleanCheckpoints defaults false),
  so a deep loop would otherwise leave one full table copy per round
  on HDFS/S3 permanently — ``gc_superseded()`` deletes all but the
  newest round's subdir; call it only AFTER the new round has been
  materialized and every consumer of the previous round has run. The
  FINAL round's files back the returned DataFrame, so callers delete
  ``checkpoint_dir`` itself only after consuming/persisting the
  result. At 100 TB always set it.

``cut(df, invariant=True)`` cuts a loop-invariant input: same
checkpoint kind, but into its own ``invariant-<k>`` subdirectory that
``gc_superseded()`` leaves alone while rounds still read it.
``gc_superseded(loop_done=True)`` — called once the loop has ended and
nothing returned still reads the invariant inputs — deletes those too,
so only the final round's files remain.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def _hadoop_delete(spark, path: str) -> None:
    """Recursive delete through the Hadoop FileSystem API — works for
    whatever filesystem the path's scheme names (HDFS, S3A, local)."""
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    fs.delete(jpath, True)


def make_cutter(
    spark, checkpoint_dir: str | None
) -> tuple[Callable[..., DataFrame], Callable[..., None]]:
    if checkpoint_dir is None:

        def cut(df: DataFrame, invariant: bool = False) -> DataFrame:
            return df.localCheckpoint(eager=True)

        def gc_superseded(loop_done: bool = False) -> None:
            return None

        return cut, gc_superseded

    round_dirs: list[str] = []
    invariant_dirs: list[str] = []
    counter = [0]

    def cut(df: DataFrame, invariant: bool = False) -> DataFrame:
        kind, dirs = ("invariant", invariant_dirs) if invariant else (
            "round", round_dirs)
        d = f"{checkpoint_dir.rstrip('/')}/{kind}-{counter[0]}"
        counter[0] += 1
        spark.sparkContext.setCheckpointDir(d)
        out = df.checkpoint(eager=True)
        dirs.append(d)
        return out

    def gc_superseded(loop_done: bool = False) -> None:
        while len(round_dirs) > 1:
            _hadoop_delete(spark, round_dirs.pop(0))
        while loop_done and invariant_dirs:
            _hadoop_delete(spark, invariant_dirs.pop())

    return cut, gc_superseded
