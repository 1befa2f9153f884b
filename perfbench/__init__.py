"""Repository benchmark: end-to-end and per-layer timings of the sketch
library on three generated workloads (see README.md)."""
