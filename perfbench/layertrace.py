"""Per-layer tracing for the benchmark's traced run.

Spans are recorded from the benchmark side: :meth:`Tracer.install` wraps
the public functions of each engine layer at the names the CLI paths call
them through, and restores them on :meth:`Tracer.uninstall`. Nothing in
the engine is edited.

Spark is lazy, so a span around a call alone would time plan building and
bill the work to whoever executes the plan later. Each layer's output is
therefore FORCED (persisted and counted) at its boundary, inside a span of
that layer:

- eagerly on return, where the caller hands the output straight on
  (``read_rdf``, ``normalize``, each IC of ``validate_all``);
- deferred, where the output reaches a ``StageRunner.run`` build: it is
  forced when the stage builds it.

The report sink and the stage runner get a span around the call; the
stage runner's self time is its snapshot writes, lineage and counts.

Counters (jobs, tasks, shuffle-read bytes, disk spill bytes) come from the
Spark status store, diffed around each span. A layer's figures are the
SELF part of its spans: the span minus the intervals and counters of the
spans nested in it.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time

COUNTERS = ("jobs", "tasks", "shuffle_read_bytes", "spill_bytes")

LAYERS = (
    "session",
    "sources.rdf",
    "functions.extraction",
    "functions.linking",
    "pipeline.graph",
    "pipeline.stage_write",
    "plans.encoding",
    "operators.normalize",
    "operators.validate",
    "report",
)


class StatusCounters:
    """Cumulative job/task/shuffle/spill totals from the status store.

    Stages are read once each, when they reach a final state; the store
    lists stages newest first, so a snapshot reads only stages newer than
    the oldest one not yet final. Raises if a cumulative figure the store
    reports ever decreases (evicted stages or jobs would undercount)."""

    FINAL = ("COMPLETE", "FAILED", "SKIPPED")

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._store = self._sc.statusStore()
        self._jvm = sc._jvm
        self._gateway = sc._gateway
        self._final: set[int] = set()
        self._floor = -1  # every stage id <= floor is final and summed
        self._sums = dict.fromkeys(COUNTERS[1:], 0)
        self._seen_stages = 0
        self._seen_jobs = 0

    def snapshot(self) -> dict:
        # the status listener runs asynchronously; let it catch up with the
        # events of the action that just returned
        self._sc.listenerBus().waitUntilEmpty()
        empty = self._jvm.java.util.ArrayList()
        stages = self._store.stageList(
            empty, False, False, self._gateway.new_array(self._jvm.double, 0), empty
        )
        n_stages = stages.size()
        n_jobs = self._store.jobsList(None).size()
        if n_stages < self._seen_stages or n_jobs < self._seen_jobs:
            raise RuntimeError(
                f"status store shrank (stages {self._seen_stages}->{n_stages}, "
                f"jobs {self._seen_jobs}->{n_jobs}): raise spark.ui.retainedStages/Jobs"
            )
        self._seen_stages, self._seen_jobs = n_stages, n_jobs
        lowest_open = None
        for i in range(n_stages):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._floor:
                break
            if sid in self._final:
                continue
            if s.status().toString() not in self.FINAL:
                lowest_open = sid
                continue
            self._final.add(sid)
            self._sums["tasks"] += s.numCompleteTasks()
            self._sums["shuffle_read_bytes"] += s.shuffleReadBytes()
            self._sums["spill_bytes"] += s.diskBytesSpilled()
        top = max(self._final, default=-1)
        self._floor = top if lowest_open is None else min(top, lowest_open - 1)
        self._final = {sid for sid in self._final if sid > self._floor}
        return {"jobs": n_jobs, **self._sums}


class Tracer:
    """Span recorder plus the wrappers that feed it."""

    def __init__(self):
        self.spans: list[dict] = []
        self.rows: dict[str, int] = {}  # forced output rows per function
        self._stack: list[dict] = []
        self._pending: dict[int, tuple] = {}  # id(frame) -> (layer, name, frame)
        self._persisted: list = []
        self._patches: list[tuple[object, str, object]] = []
        self._counters: StatusCounters | None = None
        self.bookkeeping_s = 0.0  # time spent reading the status store
        self.forced = 0  # outputs persisted and counted at a boundary
        self._next_id = 0

    # -- spans -----------------------------------------------------------
    def attach(self, spark) -> None:
        self._counters = StatusCounters(spark)

    def _snap(self) -> dict:
        if self._counters is None:
            return dict.fromkeys(COUNTERS, 0)
        t0 = time.perf_counter()
        try:
            return self._counters.snapshot()
        finally:
            self.bookkeeping_s += time.perf_counter() - t0

    def _new_id(self) -> int:
        self._next_id += 1
        return self._next_id

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        rec = {
            "layer": layer,
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": self._new_id(),
            "child_s": 0.0,
            "child": dict.fromkeys(COUNTERS, 0),
        }
        c0 = self._snap()
        t0 = time.perf_counter()
        self._stack.append(rec)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["s"] = time.perf_counter() - t0
            c1 = self._snap()
            rec["counters"] = {k: c1[k] - c0[k] for k in COUNTERS}
            self.spans.append(rec)
            if self._stack:
                parent = self._stack[-1]
                parent["child_s"] += rec["s"]
                for k in COUNTERS:
                    parent["child"][k] += rec["counters"][k]

    def session_span(self, seconds: float, spark) -> None:
        """Record the session set-up (get_spark + warm-up) after the fact:
        no status store exists before it, so its counters start at zero."""
        self.attach(spark)
        c = self._snap()
        self.spans.append(
            {
                "layer": "session",
                "name": "get_spark",
                "parent": None,
                "id": self._new_id(),
                "s": seconds,
                "child_s": 0.0,
                "counters": {k: c[k] for k in COUNTERS},
                "child": dict.fromkeys(COUNTERS, 0),
            }
        )

    # -- forcing ---------------------------------------------------------
    def _materialize(self, name: str, df):
        self.forced += 1
        df = df.persist()
        self._persisted.append(df)
        self.rows[name] = self.rows.get(name, 0) + df.count()
        return df

    def force(self, df):
        """Force a pending layer output inside a span of its layer; other
        frames pass through untouched."""
        entry = self._pending.pop(id(df), None)
        if entry is None or entry[2] is not df:
            return df
        layer, name, _ = entry
        with self.span(layer, name):
            return self._materialize(name, df)

    def release(self) -> None:
        """Unpersist every frame forced during the job."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()
        self._pending.clear()

    # -- wrappers --------------------------------------------------------
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def _wrap_deferred(self, owner, attr: str, layer: str):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(layer, attr):
                out = orig(*args, **kwargs)
            self._pending[id(out)] = (layer, attr, out)
            return out

        self._patch(owner, attr, wrapper)

    def _wrap_eager(self, owner, attr: str, layer: str):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(layer, attr):
                return self._materialize(attr, orig(*args, **kwargs))

        self._patch(owner, attr, wrapper)

    def _wrap_store(self, owner, attr: str, layer: str):
        """TripleStore in, TripleStore out: the input (``<name>_input``
        rows) and the output are counted inside the span."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(store, *args, **kwargs):
            with self.span(layer, attr):
                self.rows[f"{attr}_input"] = self.rows.get(f"{attr}_input", 0) + store.df.count()
                out = orig(store, *args, **kwargs)
                out.df = self._materialize(attr, out.df)
                return out

        self._patch(owner, attr, wrapper)

    def _wrap_span(self, owner, attr: str, layer: str):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with self.span(layer, attr):
                return orig(*args, **kwargs)

        self._patch(owner, attr, wrapper)

    def install(self) -> None:
        from nospa_rdf_data_cube_validator_spark import pipeline, report
        from nospa_rdf_data_cube_validator_spark.operators import validate
        from nospa_rdf_data_cube_validator_spark.plans import encoding
        from nospa_rdf_data_cube_validator_spark.sources import rdf

        normalize = importlib.import_module("nospa_rdf_data_cube_validator_spark.operators.normalize")
        self._wrap_eager(rdf, "read_rdf", "sources.rdf")
        self._wrap_deferred(pipeline, "extract_mentions", "functions.extraction")
        for fn in ("surface_dict", "alias_edges", "resolve_aliases", "link_mentions", "canonicalize"):
            self._wrap_deferred(pipeline, fn, "functions.linking")
        self._wrap_deferred(pipeline, "edges_to_graph", "pipeline.graph")
        for fn in ("build_dictionary", "encode_triples"):
            self._wrap_deferred(encoding, fn, "plans.encoding")
        self._wrap_store(normalize, "normalize", "operators.normalize")
        self._wrap_stage_run(pipeline.StageRunner)
        self._wrap_validate_all(validate.CubeValidator)
        self._wrap_span(report, "write_validation_report", "report")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _wrap_stage_run(self, cls) -> None:
        orig = cls.run
        tracer = self

        @functools.wraps(orig)
        def run(runner, stage, build, *args, **kwargs):
            with tracer.span("pipeline.stage_write", stage):
                return orig(runner, stage, lambda: tracer.force(build()), *args, **kwargs)

        self._patch(cls, "run", run)

    def _wrap_validate_all(self, cls) -> None:
        tracer = self

        def validate_all(validator):
            # fixed order: a memoized sub-plan is billed to the first IC
            # that builds it
            out = {}
            for i in range(1, 22):
                with tracer.span("operators.validate", f"ic{i}"):
                    out[f"ic{i}"] = tracer._materialize(f"ic{i}", getattr(validator, f"ic{i}")())
            return out

        self._patch(cls, "validate_all", validate_all)

    # -- aggregation -----------------------------------------------------
    def layer_metrics(self) -> dict:
        """Per-layer self time and counters, summed over the recorded spans."""
        out: dict[str, float] = {}
        for layer in LAYERS:
            out[f"{layer}.busy_s"] = 0.0
            for k in COUNTERS:
                out[f"{layer}.{k}"] = 0
        for i in range(1, 22):
            out[f"operators.validate.ic{i}_s"] = 0.0
        for rec in self.spans:
            layer = rec["layer"]
            self_s = rec["s"] - rec["child_s"]
            out[f"{layer}.busy_s"] += self_s
            for k in COUNTERS:
                out[f"{layer}.{k}"] += rec["counters"][k] - rec["child"][k]
            if layer == "operators.validate":
                out[f"operators.validate.{rec['name']}_s"] += self_s
        return out
