"""Engine operators, one implementation each — the one a registry
query or pipeline step runs: incremental watermark loader and keyed
merge, dedup family, similarity search, as-of join, sessionization,
sketches, graph components, skew salting, multimodal columns.
tests/test_engine_conventions.py::test_guarded_packages_have_consumers
fails on a public name no non-test code reaches."""
