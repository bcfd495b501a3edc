"""Latest-version state store on the transformWithStateInPandas API
(Spark 4's typed-state successor to applyInPandasWithState).

The reference's extraction loop maintains, per time series, the value
from the NEWEST forecast generation (fgt) — re-upserting whole files
to let newer fgt rows shadow older ones (curw_mike_data_handler
extraction flow; see cm.plans.extract / s14_latest_version_read for
the batch form).  Streaming, that is a per-key running ARGMAX: keep
(best_version, value) in keyed ValueState; emit a row only when a
strictly newer version arrives, so downstream sees exactly the
change-log of the latest-version view.

Scale shape: state is ONE small tuple per key — bounded by |series|,
not by events — partitioned by the grouping key across executors and
persisted in the state store (RocksDB at scale).  Arrow batches flow
through the Python StatefulProcessor; out-of-order and duplicate
versions are absorbed by the argmax, making the operator idempotent
under at-least-once replay: re-delivered batches can only re-emit the
same latest rows, never regress state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

try:  # pragma: no cover - import surface depends on pyspark version
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    # the TWS Python driver worker speaks protobuf to the JVM; without
    # a working google.protobuf the streaming runtime crashes at query
    # start, so gate the runnable path on BOTH imports (the processor
    # logic itself is pure pandas and unit-testable either way)
    from google.protobuf import descriptor as _pb_descriptor  # noqa: F401

    HAS_TWS = True
except ImportError:  # pragma: no cover
    if "StatefulProcessor" not in dir():
        StatefulProcessor = object  # type: ignore[assignment,misc]
        StatefulProcessorHandle = None  # type: ignore[assignment,misc]
    HAS_TWS = False

OUTPUT_SCHEMA = "key string, version long, value double"
_STATE_SCHEMA = "version long, value double"


def _newest(pdfs) -> tuple[int, float] | None:
    """(version, value) of the newest version across one key's batch
    of pandas frames; ``None`` when the batch holds no rows."""
    best_v, best_x = None, None
    for pdf in pdfs:
        if not len(pdf):
            continue
        i = pdf["version"].idxmax()
        v, x = int(pdf["version"][i]), float(pdf["value"][i])
        if best_v is None or v > best_v:
            best_v, best_x = v, x
    return None if best_v is None else (best_v, best_x)


class LatestVersionProcessor(StatefulProcessor):
    """Keyed argmax-by-version: ValueState holds (version, value);
    a batch emits at most one row per key — the newest version seen —
    and only when it advances past the stored one."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._state = handle.getValueState("latest", _STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):  # noqa: N802
        import pandas as pd

        newest = _newest(rows)
        if newest is None:
            return iter(())
        best_v, best_x = newest
        if self._state.exists():
            cur_v, _ = self._state.get()
            if best_v <= cur_v:
                return iter(())
        self._state.update((best_v, best_x))
        return iter(
            [pd.DataFrame({"key": [key[0]], "version": [best_v], "value": [best_x]})]
        )

    def close(self) -> None:
        pass


def latest_version_stream(events: DataFrame, *, key_col: str = "key") -> DataFrame:
    """events(key, version, value) stream → change-log of the
    latest-version view: one output row per key per batch, only when
    the key's maximum version advances."""
    return events.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=LatestVersionProcessor(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def latest_version_stream_apws(
    events: DataFrame, *, key_col: str = "key"
) -> DataFrame:
    """The same keyed argmax-by-version change-log on the
    ``applyInPandasWithState`` runtime — identical semantics to
    ``latest_version_stream`` (one row per key per batch, only when
    the maximum version advances; idempotent under at-least-once
    replay), on the state API whose Python worker has no protobuf
    dependency, so it EXECUTES in protobuf-less environments where the
    TWS runtime is gated behind ``HAS_TWS``.  State is the same one
    (version, value) tuple per key."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        import pandas as pd

        newest = _newest(pdfs)
        if newest is None:
            return
        best_v, best_x = newest
        if state.exists:
            (cur_v, _cur_x) = state.get
            if best_v <= cur_v:
                return
        state.update((best_v, best_x))
        yield pd.DataFrame(
            {"key": [key[0]], "version": [best_v], "value": [best_x]}
        )

    return events.groupBy(key_col).applyInPandasWithState(
        fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
