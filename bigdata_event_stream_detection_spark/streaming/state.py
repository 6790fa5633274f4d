"""The one grouped-state driver of every streaming state operator.

``_state_stream`` owns the ``applyInPandasWithState`` protocol: read the
watermark, hand the key's stored tuple and the micro-batch to a step
function, then update or remove the state, clamp the event-time wake-up
past the watermark and count the step's drops on one accumulator. The
operators (the doc buffer in ``engine.py``, the CEP event buffer in
``cep.py``, the closed-window counter in ``burst.py`` and the
Misra-Gries counters in ``sketches.py``) only supply a step over their
own state layout.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType


def _state_stream(keyed: DataFrame, keys: list[str], step, state_schema,
                  out_schema):
    """Run ``step`` per key of ``keyed.groupBy(*keys)`` in append mode
    with event-time timeouts; returns ``(out, dropped_acc)``.

    ``step(key, old, pdfs, wm_ms) -> (rows, new, wake_ms, n_dropped)``:
    ``old`` is the stored state tuple (None for a key without state),
    ``pdfs`` the micro-batch's frames (empty on a timeout call), read
    lazily, and ``wm_ms`` the event-time watermark. ``rows`` are output
    tuples in ``out_schema`` order; ``new=None`` removes the key, and
    otherwise is stored with a wake-up at ``max(wake_ms, wm_ms + 1)``,
    or with the timer left as it is when ``wake_ms`` is None.
    ``n_dropped`` is added to ``dropped_acc``."""
    dropped_acc = keyed.sparkSession.sparkContext.accumulator(0)
    columns = (out_schema.fieldNames() if isinstance(out_schema, StructType)
               else [f.split()[0] for f in out_schema.split(",")])

    def fn(key, pdf_iter, state: GroupState):
        wm_ms = state.getCurrentWatermarkMs()
        rows, new, wake_ms, n_dropped = step(
            key, state.get if state.exists else None,
            iter(()) if state.hasTimedOut else pdf_iter, wm_ms)
        if n_dropped:
            dropped_acc.add(n_dropped)
        if new is None:
            if state.exists:
                state.remove()
        else:
            state.update(new)
            if wake_ms is not None:
                state.setTimeoutTimestamp(max(wake_ms, wm_ms + 1))
        if rows:
            yield pd.DataFrame(rows, columns=columns)

    out = keyed.groupBy(*keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return out, dropped_acc
