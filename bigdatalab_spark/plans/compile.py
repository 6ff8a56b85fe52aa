"""Plan-compilation scopes: control how lazy plans COMPILE, not run.

Spark fixes two things at plan-compilation time that matter for fixed
per-commit/per-batch job counts:

- a persisted/cached frame's physical plan is compiled when
  ``persist()``/``cache()`` is CALLED (CacheManager.cacheQuery), so the
  session's AQE flag at that moment decides how the cache later
  materializes — with AQE captured, every Exchange inside the cached
  plan becomes its own stage-job on first use;
- an action planned while AQE is on executes stage-by-stage, one Spark
  job per materialized exchange.

For DELTA-sized frames (a merge batch, a micro-batch's shingle rows, a
metadata probe) those per-exchange jobs are pure scheduler overhead at
any scale: the data is bounded by the batch contract, the joins are
keyed on validated-unique keys (nothing for AQE's skew splitting to
do), and the static planner already broadcasts below the threshold
once cache statistics are exact. Compiling such plans inside
:func:`flat_plan_scope` removes one fixed scheduling round per
exchange per commit — it does not change a single result (AQE is a
physical-plan feature) and it does not touch data-sized query plans,
which keep the session's AQE.
"""

from __future__ import annotations

import contextlib


@contextlib.contextmanager
def conf_scope(spark, confs: dict[str, str]):
    """Set session confs for the duration of the block. On exit —
    also when the block raises — each key returns to its prior value,
    or is unset again if it was unset. Safe to nest."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)


def flat_plan_scope(spark):
    """Compile plans created inside the block without AQE, so cached
    frames materialize — and actions run — as ONE job instead of one
    job per exchange. Restores the session flag on exit; safe to
    nest."""
    return conf_scope(spark, {"spark.sql.adaptive.enabled": "false"})
