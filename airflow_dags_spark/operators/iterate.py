"""Bulk-synchronous iteration state — the one loop behind ``pagerank``
(``graph.py``) and ``connected_components`` (``dedup.py``).

Protocol, owned here and nowhere else:

- **State dir.** The caller's ``state_dir``, else the session checkpoint
  dir, else a driver-local ``mkdtemp`` this module owns. Cluster
  deployments must pass a shared path or call ``sc.setCheckpointDir``,
  the same contract GraphFrames uses. Every call writes under its own
  ``<prefix>-<uuid>`` subdir.
- **Lineage truncation through parquet.** Static inputs and the per-round
  state are written as parquet and read back. A fresh parquet read is the
  only reliable way to truncate ALL lineage: both ``localCheckpoint`` and
  reliable ``checkpoint`` wrap the result in a LogicalRDD that retains
  the ORIGIN plan for constraint/stats propagation. With several
  references to the previous round's state per iteration, that hidden
  origin tree grows geometrically — measured ~2.5× driver planning time
  per round from round ~17 on connected components, and the stats
  visitor walking it OOMs small driver heaps. The parquet relation
  carries no origin, so every round plans in constant time.
- **Double buffer.** The state alternates between ``state-0`` and
  ``state-1``: a round reads one and overwrites the other.
- **One action per round.** The state write is the round's only Spark
  action. The convergence aggregate rides on it as a
  ``DataFrame.observe`` metric, so no second job re-reads the state.
- **Detach.** The final state is ``localCheckpoint``-ed (eager,
  DISK_ONLY, so no blocks sit on the driver's small heap) before the
  state dir goes away. One checkpoint of a flat parquet read has a
  constant-size origin plan.
- **Cleanup** runs in ``finally``, so a round that throws does not leak
  the state dir. A self-created ``mkdtemp`` dir is removed whole, not
  just the call's subdir.

At 100 TB scale the state and the static inputs co-partition on the join
key across rounds, and each round writes |state| rows — the standard
Pregel-style iteration cost.
"""

from __future__ import annotations

import tempfile
import uuid
from typing import Any, Callable

from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.storagelevel import StorageLevel

from airflow_dags_spark.operators.commit import remove


class IterationState:
    """One operator call's iteration state, used as a context manager: the
    state dir is resolved on construction, and the call's state is deleted
    on exit, whether the body returned or raised."""

    def __init__(self, spark: SparkSession, state_dir: str | None, prefix: str) -> None:
        self.spark = spark
        self._owned = None
        if state_dir is None:
            state_dir = spark.sparkContext.getCheckpointDir()
        if state_dir is None:
            state_dir = self._owned = tempfile.mkdtemp(prefix=f"spark_graft_{prefix}_")
        self.base = f"{state_dir.rstrip('/')}/{prefix}-{uuid.uuid4().hex}"

    def __enter__(self) -> IterationState:
        return self

    def __exit__(self, *exc: object) -> None:
        try:
            remove(self.spark, self._owned or self.base)
        except Py4JError:
            pass  # a leaked state dir is recoverable; the result no longer needs it

    def materialize(self, df: DataFrame, name: str) -> DataFrame:
        """Write ``df`` under the state dir and read it back with no
        lineage."""
        path = f"{self.base}/{name}"
        df.write.mode("overwrite").parquet(path)
        return self.spark.read.parquet(path)

    def run(
        self,
        state: DataFrame,
        step: Callable[[DataFrame], tuple[DataFrame, Column]],
        stop: Callable[[Any], bool],
        max_iter: int,
    ) -> tuple[DataFrame, bool]:
        """Iterate ``state`` for at most ``max_iter`` rounds.

        ``step(state)`` returns the next state plus an aggregate over it.
        The next state may carry extra columns the aggregate reads; only
        ``state``'s columns are written. The loop ends after the first
        round whose aggregate value satisfies ``stop``. Returns the final
        state, detached from the state dir, and whether ``stop`` held."""
        cols = state.columns
        state = self.materialize(state, "state-0")
        converged = False
        for i in range(max_iter):
            nxt, metric = step(state)
            obs = Observation()
            state = self.materialize(
                nxt.observe(obs, metric.alias("m")).select(*cols),
                f"state-{(i + 1) % 2}",
            )
            converged = stop(obs.get["m"])
            if converged:
                break
        state = state.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        return state, converged
