"""Lineage truncation for iterative loops and narrow intermediates.

``_Ckpt`` is the one checkpoint policy of the package: reliable
``checkpoint()`` when the session has a checkpoint dir (cluster runs),
``localCheckpoint`` otherwise. The connected-components and BPE loops
checkpoint each round through it; ``run_validation`` checkpoints its
stats and violation frames through its eager form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class _Ckpt:
    """Per-round lineage truncation, picked by deployment.

    ``localCheckpoint`` stores blocks on executors — fast, but NOT
    fault-tolerant: on a real cluster one lost executor makes every
    later round unrecomputable and kills an hours-long CC job. So when
    the session has a reliable checkpoint dir configured
    (``sc.setCheckpointDir`` to HDFS/object storage — the spark-submit
    path), use true ``checkpoint()``; fall back to localCheckpoint on
    dirless local runs, where executor loss means the whole JVM died
    anyway.

    The reliable path follows the GraphX PeriodicCheckpointer protocol:
    persist before checkpoint (otherwise the eager materializing job AND
    the ReliableCheckpointRDD write job each recompute the round's plan
    — 2× compute per round), unpersist once written, and DELETE the
    previous round's checkpoint files as soon as the new round's are on
    disk (``committed`` runs only after the materializing action, so
    round k's data fully supersedes round k-1's; without deletion a
    10^12-label run leaves one full snapshot per round in object storage —
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` defaults to
    false and only best-effort-cleans on GC anyway). The final round's
    files are never deleted by us: the returned DataFrame reads them.
    """

    def __init__(self) -> None:
        self._prev_file: str | None = None
        self._pending: tuple[DataFrame, DataFrame] | None = None
        self._last: DataFrame | None = None
        self._sc = None

    def __call__(self, df: DataFrame) -> DataFrame:
        """Eager form: checkpoint fully materialized on return. Used for
        one-off materializations where no caller action follows
        immediately (the label loop's symmetrized edges, run_validation's
        stats and violation frames)."""
        out = self.lazy(df)
        out.count()
        self.committed(out)
        return out

    def lazy(self, df: DataFrame) -> DataFrame:
        """Mark for checkpoint WITHOUT materializing: the caller's next
        action (the loops' convergence aggregate) doubles as the
        materializer. On the dirless local path that is ONE job per
        round instead of two; on the reliable path it is two instead of
        three (ReliableRDDCheckpointData still runs its own write job
        after the aggregate, but it reads the persisted blocks rather
        than a separate eager count recomputing the plan). The caller
        must invoke ``committed`` after that action for unpersist +
        stale-file cleanup."""
        if df.sparkSession.sparkContext.getCheckpointDir() is None:
            out = df.localCheckpoint(eager=False)
        else:
            from pyspark import StorageLevel

            df.persist(StorageLevel.MEMORY_AND_DISK)
            out = df.checkpoint(eager=False)
            self._pending = (df, out)
        self._last = out
        return out

    def committed(self, out: DataFrame) -> None:
        """Call after the first action on ``lazy``'s result: unpersists
        the pre-checkpoint plan and deletes the superseded round's
        checkpoint files (reliable path only; no-op otherwise)."""
        if self._pending is None or self._pending[1] is not out:
            return
        src, _ = self._pending
        self._pending = None
        src.unpersist()
        self._sc = out.sparkSession.sparkContext
        stale, self._prev_file = self._prev_file, self._ckpt_file(out)
        self._delete(stale)

    def release(self) -> None:
        """Give up everything this instance still holds: the last
        checkpoint's executor blocks, a pre-checkpoint frame whose action
        never committed (it raised), and the FINAL checkpoint file — for
        one-off materializations (the label loop's symmetrized edges,
        run_validation's frames) whose data nothing references once
        their consumers have run or their fill has failed."""
        if self._pending is not None:
            self._pending[0].unpersist()
            self._pending = None
        if self._last is not None:
            self._last._jdf.queryExecution().logical().rdd().unpersist(False)
            self._last = None
        stale, self._prev_file = self._prev_file, None
        self._delete(stale)

    def _delete(self, stale: str | None) -> None:
        if not stale or self._sc is None:
            return
        try:
            jvm = self._sc._jvm
            path = jvm.org.apache.hadoop.fs.Path(stale)
            fs = path.getFileSystem(self._sc._jsc.hadoopConfiguration())
            fs.delete(path, True)
        except Exception:
            pass  # cleanup is best-effort; correctness never depends on it

    @staticmethod
    def _ckpt_file(out: DataFrame) -> str | None:
        """Checkpoint path of a just-checkpointed DataFrame. The PYTHON
        ``out.rdd.getCheckpointFile()`` is always None (``.rdd`` wraps a
        fresh deserializing RDD, not the checkpointed internal one), so
        reach the LogicalRDD the checkpoint returned: its ``rdd()`` IS
        the checkpointed RDD[InternalRow] (verified: Some(.../rdd-<id>)).
        None (→ skip cleanup) if the internals ever change shape."""
        try:
            opt = out._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
            return opt.get() if opt.isDefined() else None
        except Exception:
            return None
