"""Incremental processing: the per-tile checkpoint and the event streams.

- ``checkpoint.py``: resume from a manifest of per-tile commits, with
  per-tile lineage and metrics. This is how the tiled job resumes; it
  does not use Structured Streaming.
- ``events_stream.py``: three Structured Streaming queries over the
  events table (tumbling windows, session windows, stateful dedup), each
  run to completion with ``Trigger.AvailableNow``. The reference, a batch
  GUI plugin, has no streaming operators (SURVEY.md §2.9).
"""
