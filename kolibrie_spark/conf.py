"""Session settings held for the length of one action.

Spark SQL settings are session-wide, and a physical plan reads them when it
is built.  An action that needs its own settings (a collect under a limit,
a fixpoint round under a fixed plan) sets them, runs, and restores the old
values.  One lock serializes these scopes across threads, so two actions
never interleave their save/set/restore; a query another thread plans
without the lock still sees the scope's values while it is open.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

_LOCK = threading.RLock()


@contextmanager
def scoped_conf(spark: SparkSession, settings: dict[str, str]):
    """Set ``settings`` on the session for the body of the ``with`` block
    and restore the previous values afterwards, also on an exception.
    Every key must have a value or a default, as ``conf.get`` reads it."""
    conf = spark.conf
    with _LOCK:
        old = {key: conf.get(key) for key in settings}
        try:
            for key, value in settings.items():
                conf.set(key, value)
            yield
        finally:
            for key, value in old.items():
                conf.set(key, value)
