"""The package's one lineage cut, with a deployment-selectable durability mode.

Iterative operators (curve bootstraps, BPE merges, connected-components
rounds, as-of and interpolation panels) and frames with several
consumers cut lineage: materialize once, drop the plan that produced
the rows. How to materialize is one decision, made here and nowhere
else — every cut in ``pyield_spark`` is ``pin(df, eager=…)``, and
``tests/test_source_guards.py`` fails on a direct ``localCheckpoint``
or ``checkpoint`` call anywhere else in the package.

The default cut is ``localCheckpoint`` — blocks live in executor local
storage, unreplicated. That is the right trade on ``local[N]`` and on
ephemeral all-or-nothing batch jobs, but on a long-running cluster an
executor loss mid-query is then unrecoverable: the truncated lineage
cannot recompute the lost blocks, so the whole job fails.

``SPARK_GRAFT_PIN_MODE=reliable`` swaps every pin for a reliable
``checkpoint()`` into the context's checkpoint directory (a
fault-tolerant FS — HDFS/S3 — set via ``SPARK_GRAFT_CHECKPOINT_DIR`` or
``sparkContext.setCheckpointDir`` before the first pinned query): an
executor loss re-reads the surviving replicas instead of killing the
job. The default stays ``local`` so local runs and the bench are
byte-identical to ``localCheckpoint``; the env switch mirrors the
scan-split knobs in ``session.py`` (same "parameterise, don't hardcode
the cluster" rule, guide §6).

``.cache()`` is not a lineage cut and does not go through here: a
cached frame keeps its lineage, so on executor loss Spark recomputes
the lost blocks and reliable mode has nothing to add. A cache also
does what a pin cannot — a later, separately built plan that equals
the cached one reuses the cached data (``queries/analytics.py`` shares
one panel across queries that way). The caches in
``queries/analytics.py``, ``queries/extras.py`` and ``sources/cache.py``
stay caches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` once and truncate its lineage.

    Mode comes from ``SPARK_GRAFT_PIN_MODE`` (read per call so tests and
    long-lived drivers can flip it):

    - ``local`` (default): ``localCheckpoint`` — fastest, executor-local
      unreplicated blocks, no recompute path on executor loss.
    - ``reliable``: ``checkpoint`` into the context's checkpoint dir; if
      none is set yet, ``SPARK_GRAFT_CHECKPOINT_DIR`` is applied first.
      Raises a clear error when neither is configured rather than
      letting Spark fail mid-job.
    """
    mode = os.environ.get("SPARK_GRAFT_PIN_MODE", "local")
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            ckdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
            if not ckdir:
                raise ValueError(
                    "SPARK_GRAFT_PIN_MODE=reliable needs a checkpoint "
                    "directory: set SPARK_GRAFT_CHECKPOINT_DIR or call "
                    "sparkContext.setCheckpointDir before the first "
                    "pinned query"
                )
            sc.setCheckpointDir(ckdir)
        return df.checkpoint(eager=eager)
    if mode != "local":
        raise ValueError(
            f"SPARK_GRAFT_PIN_MODE must be 'local' or 'reliable': {mode!r}"
        )
    return df.localCheckpoint(eager=eager)
