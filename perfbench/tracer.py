"""In-memory spans around the engine's public functions.

The tracer wraps functions and methods of ``mongo_olap_spark`` from
outside: nothing in the package changes. Each span records its name,
the operation it belongs to (a service request id or a query id), its
start and end, and its parent span's name. Operations run under their
own Spark job group, so their jobs, stages, tasks, shuffle bytes and
spill are read back from the status tracker and status store once the
operation ends. Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import threading
import time

from stats import mean, median

#: (module, attribute path, span name) of every wrapped callable
TARGETS = (
    ("mongo_olap_spark.service", "OlapService._rows_payload", "service.collect"),
    ("mongo_olap_spark.engine", "OlapEngine.query", "engine.query"),
    ("mongo_olap_spark.engine", "OlapEngine.query_pipeline", "engine.query_pipeline"),
    ("mongo_olap_spark.engine", "OlapEngine.explain", "engine.explain"),
    ("mongo_olap_spark.engine", "OlapEngine.pump_cdc", "engine.pump_cdc"),
    ("mongo_olap_spark.engine", "OlapEngine.create_cube", "cube_build.create"),
    ("mongo_olap_spark.cube.catalog", "CubeCatalog.create_lattice", "cube_build.create"),
    ("mongo_olap_spark.plans.router", "CubeRouter.route", "router.route"),
    ("mongo_olap_spark.plans.router", "CubeRouter.execute", "router.execute"),
    ("mongo_olap_spark.plans.pipeline_compiler", "compile_pipeline", "compiler.compile"),
    ("mongo_olap_spark.cube.catalog", "CubeCatalog.manifest", "catalog.manifest"),
    ("mongo_olap_spark.cube.catalog", "CubeCatalog.cells", "catalog.cells"),
    ("mongo_olap_spark.cube.catalog", "CubeCatalog.cells_for_partitions", "catalog.cells"),
    ("mongo_olap_spark.cube.catalog", "CubeCatalog.cells_in_range", "catalog.cells"),
    ("mongo_olap_spark.cube.query", "query_cube", "cube_query.build"),
    ("mongo_olap_spark.cube.query", "distinct_rollup", "cube_query.build"),
    ("mongo_olap_spark.cube.query", "quantile_rollup", "cube_query.build"),
    ("mongo_olap_spark.cube.query", "topk_rollup", "cube_query.build"),
    ("mongo_olap_spark.cube.query", "extremes_rollup", "cube_query.build"),
    ("mongo_olap_spark.cube.query", "top_by_rollup", "cube_query.build"),
    ("mongo_olap_spark.cube.build", "delta_cells", "cube_build.delta_cells"),
    ("mongo_olap_spark.cube.ivm", "merge_cells", "ivm.merge_cells"),
    ("mongo_olap_spark.streaming.pipeline", "CubeMaintainer.apply_batch",
     "maintainer.apply_batch"),
    ("mongo_olap_spark.sources.adapters",
     "FileChangeStreamSource.read_change_stream", "adapters.pull"),
    ("mongo_olap_spark.sources.tables", "load_table", "sources.load_table"),
)
COMMITS = ("commit_partitions", "overwrite_cells")


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[dict] = []
        self.ops: dict[str, dict] = {}
        self.commit_conflicts = 0
        self._tls = threading.local()
        # perf_counter → epoch ms, to place Spark job submission times
        self._epoch_ms = time.time() * 1e3 - time.perf_counter() * 1e3

    # -- spans -------------------------------------------------------------
    def active(self) -> bool:
        """This thread's operation decides; outside one, ``enabled``."""
        traced = getattr(self._tls, "traced", None)
        return self.enabled if traced is None else traced

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _record(self, name, t0, t1, parent, attrs=None):
        self.spans.append({
            "name": name, "op": getattr(self._tls, "op", None), "t0": t0,
            "t1": t1, "parent": parent, "thread": threading.get_ident(),
            **(attrs or {})})

    def wrap(self, fn, name, attrs=None, pre=None):
        """``pre(args, kwargs)`` runs before the call; ``attrs(args,
        kwargs, out, pre_state)`` adds fields to the span after it."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active():
                return fn(*args, **kwargs)
            st = tracer._stack()
            parent = st[-1] if st else None
            st.append(name)
            extra = {}
            state = pre(args, kwargs) if pre is not None else None
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
                if attrs is not None:
                    extra = attrs(args, kwargs, out, state)
                return out
            finally:
                t1 = time.perf_counter()
                st.pop()
                tracer._record(name, t0, t1, parent, extra)

        return traced

    def install(self) -> None:
        """Wrap every target, rebinding each module-level alias too
        (``from x import f`` copies the function into the importer)."""
        importlib.import_module("mongo_olap_spark.queries")
        for mod_name, path, span in TARGETS:
            mod = importlib.import_module(mod_name)
            owner_name, _, attr = path.rpartition(".")
            owner = getattr(mod, owner_name) if owner_name else mod
            orig = owner.__dict__[attr]
            attrs = _route_attrs if span == "router.route" else None
            new = self.wrap(orig, span, attrs)
            setattr(owner, attr, new)
            if not owner_name:
                for m in list(sys.modules.values()):
                    if (getattr(m, "__name__", "").startswith("mongo_olap_spark")
                            and m.__dict__.get(attr) is orig):
                        setattr(m, attr, new)
        self._install_service()
        self._install_commits()

    def _install_service(self) -> None:
        from mongo_olap_spark.service import OlapService

        orig = OlapService.handle_stream
        tracer = self

        def handle_stream(svc, req):
            op = str(req.get("id")) if isinstance(req, dict) else ""
            tracer.begin_op(op, tracer.enabled and op.startswith("t"))
            if not tracer.active():
                try:
                    yield from orig(svc, req)
                finally:
                    tracer.end_op()
                return
            t0 = time.perf_counter()
            try:
                for resp in orig(svc, req):
                    tracer._record("service.handle", t0, time.perf_counter(),
                                   None, {"kind": req.get("op")})
                    yield resp
            finally:
                tracer.end_op()

        OlapService.handle_stream = handle_stream

    def _install_commits(self) -> None:
        from mongo_olap_spark.cube import catalog as cat

        def data_dir(args):
            catalog, name = args[0], args[1]
            return os.path.join(catalog._dir(name), "data")

        def listing(args, kwargs):
            d = data_dir(args)
            return set(os.listdir(d)) if os.path.isdir(d) else set()

        def written(args, kwargs, out, before):
            d, files, size = data_dir(args), 0, 0
            for new in set(os.listdir(d)) - before:
                for root, _, names in os.walk(os.path.join(d, new)):
                    for f in names:
                        if f.endswith(".parquet"):
                            files += 1
                            size += os.path.getsize(os.path.join(root, f))
            return {"files": files, "bytes": size}

        for meth in COMMITS:
            setattr(cat.CubeCatalog, meth, self.wrap(
                getattr(cat.CubeCatalog, meth), "catalog.commit", written, listing))

        tracer = self
        orig_cas = cat.CubeCatalog._commit_manifest

        def commit_manifest(catalog, name, manifest):
            try:
                return orig_cas(catalog, name, manifest)
            except cat.CommitConflict:
                tracer.commit_conflicts += 1
                raise

        cat.CubeCatalog._commit_manifest = commit_manifest

    # -- operations and their Spark jobs -------------------------------------
    def begin_op(self, op: str, traced: bool = True) -> None:
        """Start an operation on this thread; a traced one gets spans
        and its own Spark job group."""
        self._tls.op, self._tls.traced = op, traced
        if traced:
            self.sc.setJobGroup(f"perfbench-{op}", op, False)

    def end_op(self) -> None:
        op, traced = self._tls.op, self._tls.traced
        self._tls.op = self._tls.traced = None
        if traced:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.ops[op] = {"group": f"perfbench-{op}"}

    def collect_spark_stats(self) -> None:
        """Read each operation's jobs back from the status store (after
        the listener bus has drained). Entries the store has already
        evicted are not counted."""
        from py4j.protocol import Py4JJavaError

        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        defaults = [getattr(store, f"stageData$default${i}")() for i in range(2, 6)]
        for op, rec in self.ops.items():
            jobs, stages, tasks, shuffle, spill = [], 0, 0, 0, 0
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                try:
                    jd = store.job(jid)
                except Py4JJavaError:
                    continue
                sub = jd.submissionTime()
                jobs.append(sub.get().getTime() if sub.isDefined() else 0)
                ids = jd.stageIds()
                for i in range(ids.size()):
                    try:
                        attempts = store.stageData(ids.apply(i), *defaults)
                    except Py4JJavaError:
                        continue
                    for a in range(attempts.size()):
                        sd = attempts.apply(a)
                        if sd.status().toString() == "SKIPPED":
                            continue
                        stages += 1
                        tasks += sd.numCompleteTasks()
                        shuffle += sd.shuffleWriteBytes()
                        spill += sd.diskBytesSpilled()
            rec.update(job_times=jobs, jobs=len(jobs), stages=stages,
                       tasks=tasks, shuffle_bytes=shuffle, spill_bytes=spill)

    def jobs_between(self, op: str, t0: float, t1: float) -> int:
        lo, hi = self._epoch_ms + t0 * 1e3, self._epoch_ms + t1 * 1e3
        return sum(lo - 1 <= t <= hi + 1 for t in self.ops.get(op, {}).get("job_times", ()))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
            f.write(json.dumps({"ops": self.ops,
                                "commit_conflicts": self.commit_conflicts}) + "\n")


def _route_attrs(args, kwargs, decision, _):
    return {"hit": decision.cube is not None}


# -- per-layer metrics ---------------------------------------------------------

def _outer(spans, name):
    """Spans of ``name`` not nested in another span of the same name."""
    return [s for s in spans if s["name"] == name and s["parent"] != name]


def _ms(spans, name):
    return median([(s["t1"] - s["t0"]) * 1e3 for s in _outer(spans, name)])


def layer_metrics(tr: Tracer, t0: float, t1: float, *, read_ops: list[str],
                  write_ops: list[str], rtt: dict, payload: dict) -> dict:
    """Per-layer figures over the spans of one timed phase."""
    spans = [s for s in tr.spans if t0 <= s["t0"] <= t1]
    by_op: dict[str, list] = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    ops = [o for o in read_ops + write_ops if o in by_op]
    handle = {s["op"]: s for s in spans if s["name"] == "service.handle"}

    def lock_wait(op):
        first = min((s["t0"] for s in by_op.get(op, ()) if s["name"].startswith("engine.")),
                    default=None)
        return 0.0 if first is None or op not in handle else (first - handle[op]["t0"]) * 1e3

    routes = _outer(spans, "router.route")
    commits = _outer(spans, "catalog.commit")
    applies = _outer(spans, "maintainer.apply_batch")
    n_ops = max(len(ops), 1)
    per_op = [tr.ops.get(o, {}) for o in ops]
    m = {
        "service.handle_ms": median([(handle[o]["t1"] - handle[o]["t0"]) * 1e3
                                     for o in read_ops if o in handle]),
        # a mean: most reads never wait, the few that queue behind a write do
        "service.lock_wait_ms": mean([lock_wait(o) for o in read_ops if o in handle]),
        "service.wire_ms": median([rtt[o] - (handle[o]["t1"] - handle[o]["t0"]) * 1e3
                                   for o in read_ops if o in handle and o in rtt]),
        "service.payload_bytes": median([payload[o] for o in read_ops if o in payload]),
        "engine.query_ms": _ms(spans, "engine.query"),
        "engine.query_pipeline_ms": _ms(spans, "engine.query_pipeline"),
        "engine.pump_cdc_ms": _ms(spans, "engine.pump_cdc"),
        "router.route_us": _ms(spans, "router.route") * 1e3,
        "router.execute_ms": _ms(spans, "router.execute"),
        "router.cube_hit_ratio": (sum(s["hit"] for s in routes) / len(routes)) if routes else 0.0,
        "compiler.compile_ms": _ms(spans, "compiler.compile"),
        "catalog.manifest_ms": _ms(spans, "catalog.manifest"),
        "catalog.manifest_reads_per_op": len(_outer(spans, "catalog.manifest")) / n_ops,
        "catalog.cells_ms": _ms(spans, "catalog.cells"),
        "catalog.commit_ms": _ms(spans, "catalog.commit"),
        "catalog.files_per_commit": (sum(s["files"] for s in commits) / len(commits)) if commits else 0.0,
        "catalog.commit_conflicts": tr.commit_conflicts,
        "cube_query.build_ms": _ms(spans, "cube_query.build"),
        "cube_build.delta_cells_ms": _ms(spans, "cube_build.delta_cells"),
        "ivm.merge_cells_ms": _ms(spans, "ivm.merge_cells"),
        "maintainer.apply_batch_ms": _ms(spans, "maintainer.apply_batch"),
        "maintainer.jobs_per_batch": (sum(tr.jobs_between(s["op"], s["t0"], s["t1"])
                                          for s in applies) / len(applies)) if applies else 0.0,
        "adapters.pull_ms": _ms(spans, "adapters.pull"),
        "spark.jobs_per_op": sum(o.get("jobs", 0) for o in per_op) / n_ops,
        "spark.stages_per_op": sum(o.get("stages", 0) for o in per_op) / n_ops,
        "spark.tasks_per_op": sum(o.get("tasks", 0) for o in per_op) / n_ops,
        "spark.shuffle_write_bytes_per_op": sum(o.get("shuffle_bytes", 0) for o in per_op) / n_ops,
        "spark.spill_bytes": sum(o.get("spill_bytes", 0) for o in per_op),
        "spark.collect_ms": _ms(spans, "service.collect"),
    }
    m["_commit_bytes"] = sum(s["bytes"] for s in commits)
    return m


def setup_metrics(tr: Tracer, t0: float, t1: float) -> dict:
    spans = [s for s in tr.spans if t0 <= s["t0"] <= t1]
    return {
        "cube_build.create_s": _ms(spans, "cube_build.create") / 1e3,
        "sources.load_table_ms": _ms(spans, "sources.load_table"),
    }
