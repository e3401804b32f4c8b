"""The traced benchmark run (perfbench/trace.py) wraps package functions
by name; a rename that breaks it must fail here, not only in a traced
benchmark run."""

from __future__ import annotations


def test_trace_install_uninstall_round_trip():
    from perfbench import trace

    saved = trace.install(trace.Tracer(enabled=False))
    try:
        assert saved
        for owner, attr, orig in saved:
            wrapped = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)
            assert wrapped.__wrapped__ is orig, attr
    finally:
        trace.uninstall(saved)
    for owner, attr, orig in saved:
        now = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)
        assert now is orig, attr
