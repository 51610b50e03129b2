"""Structured Streaming RT path: checkpointed file-source ingest
(subsumes A7 PURGE idempotence + A24 sensors) in rt_stream; the
timer-driven gap sessionizer (b136) in stateful; KMV sketch
accumulation in sketch_state."""
