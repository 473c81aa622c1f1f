"""Spans around the pipeline's public layer boundaries, recorded from the
benchmark's side: the program itself carries no tracing.

`Tracer.install()` wraps, for the lifetime of the tracer:

- `PipelineRunner.run_stage`: a "stage:<name>" span, and for the
  calling thread only, `spark.jobGroup.id = stage:<name>` so the jobs of
  the three concurrently running stage chains stay apart;
- `TableIO.write` ("ckpt.write") and `TableIO.read` / `TableIO.manifest`
  ("ckpt.read");
- `dedup_pipeline.input_fingerprint` ("fingerprint.input", job group
  "fingerprint");
- the `materialize_barrier` binding of `operators/components`, whose
  calls count connected-components rounds (one barrier for the input
  edges, then one per round).

While `active` is false the wrappers pass straight through, so traced
and untraced runs can alternate in one process."""

from __future__ import annotations

import functools
import threading
import time

GROUP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[dict] = []
        self.barriers = 0
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def reset(self) -> None:
        with self._lock:
            self.spans = []
            self.barriers = 0

    def _record(self, name: str, start: float, end: float) -> None:
        with self._lock:
            self.spans.append({"name": name, "start": start, "end": end})

    def _span(self, name_of, group_of=None):
        """Decorator factory: time the call as a span named
        name_of(*args); with group_of, tag the calling thread's jobs."""

        def wrap(fn):
            @functools.wraps(fn)
            def inner(*args, **kwargs):
                if not self.active:
                    return fn(*args, **kwargs)
                prev = None
                if group_of is not None:
                    prev = self.sc.getLocalProperty(GROUP)
                    self.sc.setLocalProperty(GROUP, group_of(*args, **kwargs))
                t0 = time.time()
                try:
                    return fn(*args, **kwargs)
                finally:
                    self._record(name_of(*args, **kwargs), t0, time.time())
                    if group_of is not None:
                        self.sc.setLocalProperty(GROUP, prev)

            return inner

        return wrap

    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrapper(orig))

    def install(self) -> Tracer:
        from app_dupfind_spark.operators import components, dedup_pipeline
        from app_dupfind_spark.plans.pipeline import PipelineRunner, TableIO

        def stage_name(_runner, name, *a, **k):
            return f"stage:{name}"

        self._patch(PipelineRunner, "run_stage", self._span(stage_name, stage_name))
        self._patch(TableIO, "write", self._span(lambda *a, **k: "ckpt.write"))
        self._patch(TableIO, "read", self._span(lambda *a, **k: "ckpt.read"))
        self._patch(TableIO, "manifest", self._span(lambda *a, **k: "ckpt.read"))
        self._patch(
            dedup_pipeline, "input_fingerprint",
            self._span(lambda *a, **k: "fingerprint.input", lambda *a, **k: "fingerprint"),
        )

        def count_barriers(fn):
            @functools.wraps(fn)
            def inner(*args, **kwargs):
                if self.active:
                    with self._lock:
                        self.barriers += 1
                return fn(*args, **kwargs)

            return inner

        self._patch(components, "materialize_barrier", count_barriers)
        return self

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    @property
    def cc_rounds(self) -> int:
        return max(self.barriers - 1, 0)
