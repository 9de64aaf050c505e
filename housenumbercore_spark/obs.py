"""Observability helpers: Spark job descriptions that name the layer.

A job description shows in the Spark UI and the event log next to every
job started while it is set, so a run can be read per operator and per
layer.
"""

from __future__ import annotations

from contextlib import contextmanager

_KEY = "spark.job.description"


@contextmanager
def job_description(sc, text: str):
    """Describe the jobs started in the body as ``text``, nested under the
    caller's own description as ``<caller> / <text>`` when there is one.
    The previous description is restored on exit, also when the body
    raises."""
    prev = sc.getLocalProperty(_KEY)
    sc.setJobDescription(f"{prev} / {text}" if prev else text)
    try:
        yield
    finally:
        sc.setLocalProperty(_KEY, prev)
