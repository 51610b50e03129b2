"""Sources: CSV-with-COPY-options scan, GTFS static fetch and ingest,
GTFS-RT feed flattening (JSON and protobuf) and the streaming
landing-directory reader.
tests/test_engine_conventions.py::test_guarded_packages_have_consumers
fails on a public name no non-test code reaches unless its allowlist
gives the reason."""
