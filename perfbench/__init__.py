"""Engine benchmark: the ingest and trec_run workloads (see README.md)."""
