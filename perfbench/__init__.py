"""Feature-store benchmark: workloads, generators, checks and tracing."""
