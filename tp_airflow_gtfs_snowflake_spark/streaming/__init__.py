"""Structured Streaming RT path: checkpointed file-source ingest
(subsumes A7 PURGE idempotence + A24 sensors), watermarked windowed
aggregations (B5 streaming flavor) in rt_stream; one implementation of
each stateful operator (session windows, dedup, odometer, gap
sessionizer, stream-stream join) in stateful; KMV sketch accumulation
in sketch_state."""
