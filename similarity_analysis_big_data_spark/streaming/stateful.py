"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY §7 [ext] streaming state; pyspark guide's stateful pattern).

``running_user_totals``: per-user running event count + value total,
emitting one updated row per user per micro-batch — the minimal shape of a
production feature-store updater (state = one row per key, bounded by a
processing-time timeout). The stream-twin query
``stream_twin_stateful_totals`` runs it. The transformWithStateInPandas
successor API is not used: its state-server protocol needs
``google.protobuf``, which the engine does not depend on.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"
STATE_SCHEMA = "n_events long, total_value double"


def _make_update_user():
    """Build the state-update fn as a CLOSURE so cloudpickle ships it by
    value: a module-level function pickles by reference, which breaks on
    Python workers that cannot import this package (e.g. a driver that
    added the repo to sys.path at runtime instead of cwd/PYTHONPATH)."""

    def update_user(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        import pandas as _pd

        (user_id,) = key
        n, total = (state.get) if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield _pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [total]}
        )

    return update_user


def running_user_totals(events: DataFrame) -> DataFrame:
    """Stateful per-user totals over the event stream.

    State is one (count, sum) pair per user — O(|users|) memory regardless
    of stream length; NoTimeout here because the fixture is bounded (a
    production deploy sets a processing/event-time timeout to expire idle
    keys).
    """
    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_update_user(),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
