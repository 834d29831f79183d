"""In-memory spans for the traced run.

A span has a name, start, end and parent, and may carry counters. Spans
that ask for it run under their own Spark job group, so the jobs launched
inside them can be listed afterwards, and count the py4j round trips made
inside them. Spans are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext

JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self) -> None:
        self.sc = None      # set by attach() once the session exists
        self.py4j = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def attach(self, sc, py4j) -> None:
        self.sc, self.py4j = sc, py4j

    @contextmanager
    def span(self, name: str, jobs: bool = False, **attrs):
        parent = self._stack[-1]["id"] if self._stack else None
        sp = {"id": len(self.spans), "name": name, "parent": parent, **attrs}
        self.spans.append(sp)
        self._stack.append(sp)
        prev_group = None
        if jobs and self.sc is not None:
            prev_group = self.sc.getLocalProperty(JOB_GROUP)
            sp["job_group"] = f"bench-span-{sp['id']}"
            self.sc.setLocalProperty(JOB_GROUP, sp["job_group"])
        if self.py4j is not None:
            self.py4j.active += 1
            calls0 = self.py4j.calls
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            if self.py4j is not None:
                self.py4j.active -= 1
                sp["py4j_calls"] = self.py4j.calls - calls0
            if jobs and self.sc is not None:
                self.sc.setLocalProperty(JOB_GROUP, prev_group)
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a version that runs inside a span —
        for calls the program makes internally (e.g. ``compile_rule`` from
        ``apply_match``), which the benchmark cannot wrap at its call site."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def span(tracer: Tracer | None, name: str, jobs: bool = False):
    """``tracer.span(...)`` or, in the untraced run, nothing at all."""
    if tracer is None:
        return nullcontext({})
    return tracer.span(name, jobs=jobs)
