"""Post-run executed-plan capture for streaming queries (r6 verdict #6).

The static plan-lint census (`tools/plan_lint.py`) audits every batch
query's physical plan without executing it, but a streaming query's
plan only exists per-trigger while the stream runs — planning one
means running it.  That left the stream-driving registry queries
exempt from the uniform CartesianProduct / BatchEvalPython / exchange
censuses (they had individual pins only).

This module closes the asymmetry: ``streaming.bounded.drain`` — the
one place the package drives a stream — calls :func:`capture` on its
``StreamingQuery`` right after ``processAllAvailable`` and BEFORE
``stop()``, recording the last trigger's executed plan
(``explainInternal`` — the same string ``q.explain(extended=True)``
prints) plus the final ``lastProgress`` JSON.  ``tools/plan_lint.py``
builds every registry entry, drains this buffer after each build, and
applies the identical checks to whatever plans a build captured.

Capture is always best-effort: a plan string is diagnostics, and a
failure to fetch it must never fail the harness that produced correct
results (a stopped/errored stream raises from ``explainInternal``).
The buffer is process-global and append-only between explicit
``drain()`` calls, because one registry query may run several streams
(q270 drives three, q232 two) and they must all land in the same
census bucket.  It is CAPPED (r7 ADVICE): only the census tools drain
it, so a long-lived session (the full bench sweep runs every streaming
query) would otherwise accumulate plan strings indefinitely.  The
cap keeps the newest entries — plan_lint drains immediately after each
query it builds, so within a census window the buffer never nears
the cap and nothing a census wants is ever evicted.
"""

from __future__ import annotations

from typing import Any

# (label, executed-plan string, lastProgress dict or None), in run order.
_CAPTURED: list[tuple[str, str, dict[str, Any] | None]] = []

# Largest plausible single-census burst is q270's three streams plus a
# couple of nested harnesses; 64 leaves an order of magnitude of slack
# while bounding a full 299-query sweep to ~64 plan strings (<10 MB).
_MAX_CAPTURED = 64


def capture(q, label: str) -> None:
    """Record the last trigger's executed plan + progress of ``q``.

    Call after the drain and before ``stop()`` — Spark drops the
    incremental execution when the query stops.  Never raises.
    """
    try:
        plan = q._jsq.explainInternal(True)
    except Exception:  # noqa: BLE001 — diagnostics must not break runs
        return
    progress = None
    try:
        progress = q.lastProgress
    except Exception:  # noqa: BLE001
        pass
    _CAPTURED.append((label, plan, progress))
    if len(_CAPTURED) > _MAX_CAPTURED:
        del _CAPTURED[: len(_CAPTURED) - _MAX_CAPTURED]


def drain() -> list[tuple[str, str, dict[str, Any] | None]]:
    """Return and clear everything captured since the last drain."""
    out = list(_CAPTURED)
    _CAPTURED.clear()
    return out
