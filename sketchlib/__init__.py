"""sketchlib — a from-scratch PySpark-native distributed sketch library.

Centered on hashing-function-agnostic Cuckoo filters (FP8/FP16/FP32 widths
with partial-key cuckoo kicking; add/check/remove/count with exact-deletion
correctness and a no-false-negative guarantee), plus Bloom, HyperLogLog,
count-min, KLL and t-digest sketches — all mergeable aggregators built over
plain DataFrames with Arrow-vectorized numpy kernels (no per-row Python).

Reference semantics: kristoff-it/redis-cuckoofilter (see SURVEY.md). This is
a brand-new Spark-first design, not a port.
"""

__all__ = [
    "BrokenError",
    "CuckooFilter",
    "TooFullError",
    "capacity",
    "size_for",
    "size_for_exactly",
    "size2str",
    "str2size",
]

__version__ = "0.1.0"


def __getattr__(name: str):
    # Lazy, so that importing a submodule (e.g. the Python-worker daemon,
    # sketchlib.spark._pydaemon) does not load numpy.
    if name in __all__:
        from sketchlib.kernels import cuckoo

        return getattr(cuckoo, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
