"""LogiFlow benchmark: two closed-loop workloads over the engine, with a traced per-layer split (see README.md)."""
