"""Closed-loop benchmark and per-layer tracing of the engine's user flows."""
