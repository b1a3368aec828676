"""Engine benchmark: seeded workloads, reference checks and tracing."""
