"""Repository benchmark: end-to-end runs of the production PIT job and the
corpus/streaming kernels, with a separate traced run for per-layer metrics.
Entry point: ``python3 perfbench/run.py --help``."""
