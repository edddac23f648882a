"""Spark-4 `transformWithState` operators (StatefulProcessor API).

Separate module from streaming/stateful.py on purpose: the new-API
surface evolves independently of the applyInPandasWithState operators
there.

transformWithStateInPandas supersedes applyInPandasWithState: named
state variables with their own schemas (value/list/map), explicit
timers, and initial-state support. Environment note: the worker
protocol requires google.protobuf at runtime, which this container
does not ship — the equivalence test (test_stateful.py) skips with a
reason here and runs wherever protobuf exists; the
applyInPandasWithState operators remain the in-sandbox-proven
custom-state path.

Closing the gap in-sandbox was investigated (round 6) and is
IMPOSSIBLE without an install: pyspark's generated
`sql/streaming/proto/StateMessage_pb2.py` imports the full protobuf
runtime (descriptor_pool, runtime_version, internal.builder) with
serialized descriptors — a minimal shim can't satisfy it, installs are
off-limits, and re-implementing the protobuf runtime (~10k LoC) is far
out of scope. Re-check `import google.protobuf` each round; the test
un-skips itself with zero code change the moment the environment
provides it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def running_totals_tws(
    df: DataFrame,
    *,
    key_col: str = "user_id",
    value_col: str = "value_c",
) -> DataFrame:
    """Per-key running totals via `transformWithStateInPandas`: one
    (count, sum) ValueState per key, emitting the key's updated totals
    once per micro-batch that touches it — the continuously-maintained
    TABLE shape (ksql's non-windowed aggregate) expressed through the
    new API. `value_col` is expected to be an INTEGER measure (cents,
    not dollars: cross-batch float accumulation would drift with
    arrival order; integer cents keep the running sum exact and the
    final state order-independent — functions/stable.py).

    Scale: state is (2 longs + overhead) per key, partitioned by the
    grouping key; Arrow moves each micro-batch's rows per key in one or
    more chunks. The state store (incl. RocksDB provider) bounds memory
    the same way as the built-in aggregates."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "cnt BIGINT, sm BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            cnt, sm = 0, 0
            if self._totals.exists():
                cnt, sm = self._totals.get()
            for pdf in rows:
                cnt += int(len(pdf))
                sm += int(pdf[value_col].sum())
            self._totals.update((cnt, sm))
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "event_count": [cnt],
                    "total_c": [sm],
                }
            )

        def close(self) -> None:
            pass

    return df.groupBy(key_col).transformWithStateInPandas(
        RunningTotals(),
        outputStructType=(
            f"{key_col} bigint, event_count bigint, total_c bigint"
        ),
        outputMode="Update",
        timeMode="None",
    )
