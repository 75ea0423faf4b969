"""The engine's one lineage policy: materialise a frame once, then truncate
its lineage (the RDD model, Zaharia et al., NSDI 2012).

Every operator that reuses an intermediate or iterates to a fixpoint goes
through the two names here; no other package module calls
``localCheckpoint``, ``persist`` or ``unpersist``.

- :func:`pin` materialises a frame eagerly and cuts its plan down to one
  scan of the stored rows. Use it for iterative state (each round's labels
  or ranks, so round k does not re-plan k joins), for a frame read by
  several later actions, and for a bounded result that must outlive the
  cached inputs it was computed from (pin it inside the :func:`persisting`
  block, before the inputs are released). Pinning replaces the
  ``collect()`` → ``createDataFrame`` driver round-trip: that idiom also
  materialises once, but it ships the rows through the driver, drops the
  plan's provenance and invites copying into operators whose result is not
  bounded.
- :func:`persisting` caches frames for the duration of a ``with`` block and
  releases every one of them on exit, normal or exceptional.

Storage follows Spark's own deployment setting. With no checkpoint
directory on the SparkContext, :func:`pin` uses ``localCheckpoint()``
(executor block storage: fast, but lost with the executor). With one set
(``SparkContext.setCheckpointDir`` or ``spark.checkpoint.dir``), it writes a
reliable ``checkpoint()`` there, which survives executor loss. Spark keeps
reliable checkpoint files after their frame is gone unless
``spark.cleaner.referenceTracking.cleanCheckpoints=true``; set it with the
directory, or the iterative operators (one pin per round) leave every
round's state on disk.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame


def pin(df: DataFrame) -> DataFrame:
    """Return ``df`` materialised now, with its lineage truncated to a scan
    of the materialised rows (reliable checkpoint when the SparkContext has
    a checkpoint directory, local checkpoint otherwise)."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        # cache first so the checkpoint write reads the rows the eager
        # count computed instead of recomputing the plan
        with persisting() as keep:
            return keep(df).checkpoint()
    return df.localCheckpoint()


@contextmanager
def persisting() -> Iterator[Callable[[DataFrame], DataFrame]]:
    """Yield ``keep(df) -> df``, which persists ``df``; every kept frame is
    unpersisted when the block exits, however it exits."""
    kept: list[DataFrame] = []

    def keep(df: DataFrame) -> DataFrame:
        kept.append(df.persist())
        return df

    try:
        yield keep
    finally:
        for df in kept:
            df.unpersist()
