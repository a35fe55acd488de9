"""Chained stateful operators in ONE streaming query (Spark 4.x
``transformWithStateInPandas``).

``streaming_pipeline_end2end`` chains its two stateful stages across a
durable parquet topic because ``applyInPandasWithState`` allows a single
stateful operator per query ("Multiple applyInPandasWithStates are not
supported"). Spark 4.x's ``transformWithStateInPandas`` removes the
limit differently: a ``StatefulProcessor`` owns MULTIPLE named state
variables, so the whole chain — tumbling count window THEN last-emitted
change policy — runs as one keyed operator with two states, one
checkpoint, no intermediate topic. The reference composes stateful
operators freely down its actor DAG (``ralf/v2/api.py:125-135``); this
is the single-query spelling of that composition.

Semantics are EXACTLY the composed pair (pinned by unit test against a
reference loop, plus an env-gated bounded-replay test vs the composed
oracle when the runtime supports it):

- window stage: per key, buffer values in (order_col) order; every
  ``size``-th value emits (window_id, w_sum, w_avg) and resets —
  ``streaming/windows.streaming_tumbling_count_window``.
- policy stage: a window's w_sum emits only when it moved >=
  ``threshold`` vs the LAST EMITTED w_sum for the key (first window
  always emits) — ``streaming/policies.streaming_change_detection_filter``
  with ``metric="abs"``.

Environment gate: ``transformWithStateInPandas`` drives its state server
over protobuf; this sandbox has no ``google.protobuf`` (no network, no
installs — the import fails at the worker boundary), so
:func:`tws_available` is False here and :func:`chained_window_change`
raises with a clear message. The processor's logic is still fully
tested in-process through the fake-handle harness in
``tests/test_streaming.py``; the Spark integration test is skip-gated
on the probe, the same contract as the Kafka/Redis real-backend
suite.

When to deploy which spelling (SCALE.md "Streaming pipelines"): the
durable-topic composition remains the right shape when stages need
independent scaling/checkpointing or the intermediate feed has other
consumers (it is a feature topic); the single-query spelling wins when
the chain is private — one shuffle per micro-batch instead of
write+re-read, one checkpoint to operate, and no at-least-once seam
between stages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def tws_available() -> bool:
    """True when the runtime can execute transformWithStateInPandas —
    the worker's state-server handshake needs a REAL google.protobuf
    (a bare namespace package fails at ``from google.protobuf import
    descriptor``, which is exactly how this sandbox presents)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except Exception:
        return False


def make_window_change_processor(
    size: int, threshold: float, key_col: str, value_col: str,
    order_col: str,
):
    """Build the two-state StatefulProcessor (window buffer + emitted
    baseline). Factored out of :func:`chained_window_change` so the
    in-process fake-handle tests can drive the exact production class
    without a protobuf-capable runtime."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    class WindowChangeProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            # two independent state variables in ONE operator — the
            # capability applyInPandasWithState lacks
            self.win = handle.getValueState(
                "win", "wid long, buf array<double>"
            )
            self.base = handle.getValueState("base", "last double")

        def handleInputRows(self, key, rows, timerValues):
            if self.win.exists():
                got = self.win.get()
                wid, buf = int(got[0]), list(got[1])
            else:
                wid, buf = 0, []
            last = float(self.base.get()[0]) if self.base.exists() else None
            out = {key_col: [], "window_id": [], "w_sum": [], "w_avg": []}
            # A key's micro-batch arrives as MULTIPLE Arrow chunks in no
            # guaranteed order — concat them all, then one stable sort on
            # order_col, exactly like streaming/windows.py's composed
            # window stage. Sorting each chunk independently would
            # consume values in chunk order, not order_col order.
            pdf = pd.concat(list(rows)).sort_values(
                order_col, kind="mergesort"
            )
            for v in pdf[value_col]:
                buf.append(float(v))
                if len(buf) < size:
                    continue
                s = float(sum(buf))
                buf = []
                this_wid, wid = wid, wid + 1
                # policy stage, inline: first window always emits;
                # later ones only on |s - last| >= threshold
                if last is not None and abs(s - last) < threshold:
                    continue
                last = s
                out[key_col].append(key[0])
                out["window_id"].append(this_wid)
                out["w_sum"].append(s)
                out["w_avg"].append(s / size)
            self.win.update((wid, buf))
            if last is not None:
                self.base.update((last,))
            if out[key_col]:
                yield pd.DataFrame(out)

        def close(self) -> None:
            pass

    return WindowChangeProcessor()


def chained_window_change(
    stream: DataFrame,
    key_col: str = "user_id",
    value_col: str = "value",
    order_col: str = "event_id",
    size: int = 5,
    threshold: float = 120.0,
) -> DataFrame:
    """The pipeline gate's window→policy chain as ONE
    transformWithStateInPandas query. Output: (key, window_id, w_sum,
    w_avg) of EMITTED windows, append semantics — identical rows to
    running ``streaming_tumbling_count_window`` into
    ``streaming_change_detection_filter`` across a topic."""
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas needs google.protobuf, which this "
            "runtime lacks — deploy the durable-topic composition "
            "(streaming_pipeline_end2end) instead, or install protobuf"
        )
    proc = make_window_change_processor(
        size, threshold, key_col, value_col, order_col
    )
    return (
        stream.select(key_col, value_col, order_col)
        .groupBy(key_col)
        .transformWithStateInPandas(
            proc,
            outputStructType=(
                f"{key_col} long, window_id long, w_sum double,"
                " w_avg double"
            ),
            outputMode="Append",
            timeMode="None",
        )
    )
