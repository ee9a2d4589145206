"""Lineage truncation for iterative operators, and the epoch-state
fold for streaming ones.

Driver-side loops (connected components, star contraction, BPE merge
training) rebuild a DataFrame each round; without truncation the plan
grows linearly with rounds and Catalyst analysis cost grows with it.
Two truncation modes:

- ``localCheckpoint`` (default): blocks live on executor local disk /
  memory. Fast, zero configuration — but on a real cluster the blocks
  die with their executor, so a lost executor fails the job.
- reliable ``checkpoint`` (``checkpoint_dir=...``): blocks land on the
  shared filesystem (HDFS/S3A path on a cluster, any directory on
  local mode), surviving executor loss — the hardened path for long
  iterative jobs at 100 TB, at the cost of a filesystem round-trip
  per round.

Streaming operators that fold each micro-batch into accumulated
state (sketches, SCD2, views, dedup clusters) run through
:func:`start_epoch_fold`, the one owner of the replay-safe
``epoch=N`` state protocol.

Both mirror the reference's durable-before-ack stance for state the
pipeline cannot afford to recompute (reference ingestor commit path:
``ingestor/ingestor.go`` ack-after-write), applied to operator state.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Generator
from functools import partial
from urllib.parse import urlparse

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

#: The checkpoint dir last set through this module. SparkContext holds
#: ONE checkpoint dir: with ``eager=False`` the checkpoint
#: materializes at first action, under whatever dir is set *then* —
#: two operators interleaving different dirs in one session would land
#: blocks under each other's directory (correct results, broken
#: cleanup/lifetime expectations). We therefore (a) skip the re-set
#: when the dir is unchanged and (b) force eager materialization
#: whenever setting a dir that *differs* from the session's current
#: one, so the blocks land where the caller asked before anyone can
#: re-point the context.
_LAST_CHECKPOINT_DIR: str | None = None


def _epochs(path: str) -> list[int]:
    """Ids of the well-formed ``epoch=<digits>`` directories under
    ``path`` (none if ``path`` is absent). A stray temp/staging entry
    containing '=' is skipped rather than raising ValueError inside
    foreachBatch and failing the micro-batch."""
    if not os.path.isdir(path):
        return []
    return [
        int(n)
        for name, _, n in (d.partition("=") for d in os.listdir(path))
        if name == "epoch" and n.isdecimal()
    ]


def _epoch_path(path: str, epoch: int) -> str:
    return os.path.join(path, f"epoch={epoch}")


def latest_epoch_below(path: str, bound: int) -> int:
    """Largest ``epoch=N`` directory under ``path`` strictly below
    ``bound`` (-1 if none): the pre-state a batch with id ``bound``
    folds into under :func:`start_epoch_fold`."""
    return max((e for e in _epochs(path) if e < bound), default=-1)


def start_epoch_fold(
    stream_df: DataFrame,
    state_dir: str,
    reads: tuple[str, ...],
    fold: Callable[
        ..., Generator[tuple[str, DataFrame], Callable[[], DataFrame], None]
    ],
    query_name: str,
) -> StreamingQuery:
    """Maintain epoch-keyed parquet state under ``state_dir`` from
    ``stream_df`` with a ``foreachBatch`` query that drains what is
    available now (checkpoint at ``state_dir/_checkpoint``), and return
    it started; callers own awaitTermination/stop.

    The protocol is the streaming form of the reference's ack-after-
    write rule (``ingestor/ingestor.go``): state lives at
    ``state_dir/<sub>/epoch=N``, N the streaming batch_id that wrote
    it. A batch reads the newest epoch STRICTLY below its own id and
    overwrites ``epoch=batch_id``, so when Structured Streaming replays
    a batch whose writes landed but whose commit did not, the replay
    folds into the same pre-state and rewrites the same files instead
    of folding itself in twice. An empty micro-batch writes nothing.

    ``fold(batch_df, *prior)`` gets one DataFrame per name in ``reads``
    (all ``None`` before the first epoch) and is a generator of
    ``(sub, df)`` outputs. Each output is written to
    ``sub/epoch=batch_id`` before the fold resumes, and the ``yield``
    evaluates to a zero-argument function that reads it back. The
    epoch is taken from the last name in ``reads``, so a fold with
    several state outputs must yield that one last: its presence marks
    the epoch complete in every subdirectory.
    """

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        batch_id = int(batch_id)
        e = latest_epoch_below(os.path.join(state_dir, reads[-1]), batch_id)
        prior = [
            spark.read.parquet(_epoch_path(os.path.join(state_dir, sub), e))
            if e >= 0
            else None
            for sub in reads
        ]
        outputs = fold(batch_df, *prior)
        read_back = None
        while True:
            try:
                sub, df = outputs.send(read_back)
            except StopIteration:
                return
            path = _epoch_path(os.path.join(state_dir, sub), batch_id)
            df.write.mode("overwrite").parquet(path)
            read_back = partial(spark.read.parquet, path)

    return (
        stream_df.writeStream.foreachBatch(_process)
        .queryName(query_name)
        .option("checkpointLocation", os.path.join(state_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )


def truncate_lineage(
    df: DataFrame, checkpoint_dir: str | None = None, eager: bool = False
) -> DataFrame:
    """Cut ``df``'s lineage: local checkpoint by default, reliable
    filesystem checkpoint when ``checkpoint_dir`` is given.

    One reliable checkpoint dir per session is the supported shape;
    passing a *different* dir mid-session is handled safely (the
    checkpoint goes eager so it lands under the requested dir) but
    costs an immediate materialization — prefer a single dir.
    """
    global _LAST_CHECKPOINT_DIR
    if (
        df.sparkSession.conf.get(
            "spark.pqingestor.truncateLineage", "true"
        )
        == "false"
    ):
        # Plan-inspection escape hatch (r6 advisor): a checkpoint
        # boundary hides the materialization subplan from EXPLAIN, so
        # plan tests could no longer assert the pre-truncation
        # guarantees (md5-before-exchange, broadcast-not-cartesian).
        # With this conf the full lineage stays visible; NEVER set it
        # in production paths — iterative operators rely on truncation
        # to keep plans constant-size.
        return df
    if checkpoint_dir is None:
        # session-level opt-in to reliable checkpoints (r6 advisor):
        # library operators call truncate_lineage without plumbing a
        # dir through every signature, so the documented
        # survive-executor-loss path is reachable by setting
        # ``spark.pqingestor.checkpointDir`` once on the session.
        checkpoint_dir = df.sparkSession.conf.get(
            "spark.pqingestor.checkpointDir", None
        )
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    if checkpoint_dir != _LAST_CHECKPOINT_DIR:
        if _LAST_CHECKPOINT_DIR is not None:
            eager = True  # don't let a later re-point steal the blocks
        sc.setCheckpointDir(checkpoint_dir)
        _LAST_CHECKPOINT_DIR = checkpoint_dir
    return df.checkpoint(eager=eager)


def gc_epoch_state(state_path: str, keep_last: int = 2) -> list[int]:
    """Retention for epoch-keyed streaming state directories
    (``.../epoch=N`` parquet written through :func:`start_epoch_fold`
    by ``stream_hll_users``, ``stream_scd2``, …): delete all but the
    newest ``keep_last`` epochs and return the removed epoch ids.

    Why ``keep_last >= 2`` is the floor: a replayed micro-batch reads
    the largest epoch STRICTLY BELOW its own id — collecting down to
    one epoch would strand an in-flight replay of the latest batch
    with no pre-state. The GC itself is crash-safe in the same sense
    as the writers: deleting an old epoch twice is a no-op, and a
    crash mid-GC leaves only extra (still-consistent) epochs behind.
    Local-filesystem paths only, mirroring compact_parquet's guard —
    object stores do retention with lifecycle rules.
    """
    if urlparse(state_path).scheme not in ("", "file"):
        raise ValueError(
            f"gc_epoch_state handles local paths only, got {state_path!r}"
        )
    if keep_last < 2:
        raise ValueError("keep_last must be >= 2 (replay needs pre-state)")
    epochs = sorted(_epochs(state_path))
    doomed = epochs[:-keep_last] if len(epochs) > keep_last else []
    for e in doomed:
        shutil.rmtree(_epoch_path(state_path, e))
    return doomed
