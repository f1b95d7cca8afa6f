"""Structured Streaming surface (SURVEY.md §2.C — extension, no reference
counterpart: Mrs's "async" is task scheduling, not event-time streaming).

Window/session/watermark operators are declared through their exact
batch-mode twins (``window()`` / ``session_window()`` behave identically in
batch), so the DuckDB oracle stays strong. True ``readStream`` →
``writeStream`` paths (file source, Trigger.AvailableNow, loud-on-timeout
memory-sink drains) run in ``stream_watermark``, ``stream_foreach_batch``,
``stream_static_join``, the five-mode dual-stream join matrix
(``sinks._dual_stream_join``) and the ``applyInPandasWithState``
stateful queries (``stream_stateful``, ``stream_ewma_state``) — all
oracle-checked against exact batch equivalents, and all drained
through the one ``sinks._drain``.
"""
