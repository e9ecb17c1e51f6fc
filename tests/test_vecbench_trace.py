"""The benchmark's traced run (``vecbench/run.py --trace 1``) wraps engine
functions by name; a rename must fail here, not at benchmark time."""

from __future__ import annotations


def test_trace_patches_resolve_and_restore():
    from pyrope_spark.operators import delta_index, segments
    from vecbench.tracing import PATCHES, Tracer

    original = segments.segment_knn
    tracer = Tracer(None)
    tracer.install()
    try:
        assert len(tracer._patched) == sum(len(attrs) for _, _, attrs in PATCHES)
        assert segments.segment_knn.__wrapped__ is original
        assert delta_index.ivf_search_packed.__name__ == "ivf_search_packed"
    finally:
        tracer.uninstall()
    assert segments.segment_knn is original
