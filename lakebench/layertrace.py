"""Outside-in layer trace.

``install()`` wraps public functions of the engine modules from here, so
nothing inside ``flink_table_store_spark/`` changes. Each call records a
span (name, layer, kind, start, end, parent span, op id) in memory; a call
made while a span of the same layer is already open is nested and adds no
new span to the layer's counts. Spark-side numbers come from the status
stores: job intervals, stage task metrics and the Exchange nodes of each
SQL execution an op ran.

Per-layer metrics are named ``<op>.<layer>.<metric>`` and reported as the
mean per op instance; a layer's time is the union of its spans.
"""

from __future__ import annotations

import functools
import importlib
import json
import re
import sys
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JError

# layer -> [(module, qualified function, kind)]; kind splits a layer's
# timer where one layer has two metrics of time (manifest read/write,
# write stats).
LAYERS = {
    "snapshot": [
        ("flink_table_store_spark.snapshot", "SnapshotManager.latest", "ms"),
        ("flink_table_store_spark.snapshot", "SnapshotManager.load", "ms"),
        ("flink_table_store_spark.snapshot", "SnapshotManager.try_commit", "ms"),
    ],
    "manifest": [
        ("flink_table_store_spark.manifest", "ManifestManager.read_live_entries", "read_ms"),
        ("flink_table_store_spark.manifest", "ManifestManager.read_entries", "read_ms"),
        ("flink_table_store_spark.manifest", "ManifestManager.read_manifest", "read_ms"),
        ("flink_table_store_spark.manifest", "ManifestManager.write_manifest", "write_ms"),
        ("flink_table_store_spark.manifest", "ManifestManager.write_manifest_list", "write_ms"),
    ],
    "plan": [
        ("flink_table_store_spark.read", "plan_scan", "ms"),
        ("flink_table_store_spark.table", "ReadBuilder._plan_entries", "ms"),
    ],
    "fileindex": [
        ("flink_table_store_spark.fileindex", "stats_with_sidecar", "ms"),
        ("flink_table_store_spark.fileindex", "rowgroup_selection", "ms"),
    ],
    "assemble": [("flink_table_store_spark.read", "build_dataframe", "ms")],
    "write": [
        ("flink_table_store_spark.write", "stage_and_collect", "ms"),
        ("flink_table_store_spark.manifest", "collect_parquet_stats", "stats_ms"),
    ],
    "commit": [("flink_table_store_spark.commit", "FileStoreCommit.commit", "ms")],
    "compact": [
        ("flink_table_store_spark.table", "Table.compact", "ms"),
        ("flink_table_store_spark.table", "Table._compact_universal", "ms"),
    ],
    "datapipe": [
        ("flink_table_store_spark.datapipe.incdedup", "dedup_exact_against_index", "exact_probe_ms"),
        ("flink_table_store_spark.datapipe.incdedup", "dedup_against_index", "near_probe_ms"),
        ("flink_table_store_spark.datapipe.incdedup", "index_minhash_batch", "near_probe_ms"),
    ],
}

# Every per-layer metric the traced run reports (the per_layer list of
# BENCHMARK.json). An op/layer pair is listed only where an op of some
# workload exercises it.
_ALL = ("commit", "scan", "pruned_scan", "lookup", "compact")
_READS = ("scan", "pruned_scan", "lookup")
_SPEC = [
    (_ALL, "snapshot", ("ms", "calls")),
    (("commit",), "snapshot", ("cas_retries",)),
    (_ALL, "manifest", ("read_ms", "entries_read")),
    (("commit", "compact"), "manifest", ("write_ms", "files_written")),
    (("commit",) + _READS, "plan", ("ms", "entries_in", "entries_out")),
    (_READS, "plan", ("kept_ratio",)),
    (("scan", "lookup"), "plan", ("merge_files",)),
    (("lookup",), "fileindex", ("ms", "sidecars_read", "files_skipped")),
    (("commit",) + _READS + ("compact",), "assemble", ("ms",)),
    (("commit", "compact"), "write", ("ms", "files", "rows", "bytes", "stats_ms", "footers_read")),
    (("commit", "compact"), "commit", ("ms", "attempts")),
    (("compact",), "compact", ("ms", "files_in", "files_out", "bytes_in", "bytes_out")),
    (("commit",), "compact", ("ms", "files_out", "bytes_out")),  # inline compaction
    (("commit",), "datapipe", ("exact_probe_ms", "near_probe_ms", "docs_in", "docs_kept", "kept_ratio")),
    (_ALL, "spark", ("exec_ms", "jobs", "tasks", "input_bytes", "shuffle_write_bytes", "exchanges", "core_busy_ratio")),
    (("commit",), "spark", ("failed_tasks",)),
    (_ALL, "driver", ("only_ms",)),
    (_ALL, "residual", ("ms",)),
]
METRICS = [f"{op}.{layer}.{m}" for ops, layer, ms in _SPEC for op in ops for m in ms]
_TIME = re.compile(r"(^|[._])ms$")
# metrics that are counts (exact across two runs of the same seed and cycles)
COUNT_METRICS = [m for m in METRICS if not _TIME.search(m) and not m.endswith(("_ratio", "kept_ratio"))]


def unit(metric: str) -> str:
    if _TIME.search(metric):
        return "ms"
    if metric.endswith("ratio"):
        return "ratio"
    if metric.endswith("bytes"):
        return "bytes"
    return "count"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    kind: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: int | None = None
    nested: bool = False


@dataclass
class OpRecord:
    id: int
    op: str
    start: float
    end: float = 0.0
    epoch_offset: float = 0.0  # time.time() - perf_counter() at start
    counters: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)  # (start, end) in perf seconds
    executions: list = field(default_factory=list)  # SQL executions, same clock
    spark: dict = field(default_factory=dict)


def _union(intervals, lo: float, hi: float) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(lo, s), min(hi, e)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, spark):
        self.active = False
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.ops: list[OpRecord] = []
        self.op: OpRecord | None = None
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []
        jsc = spark.sparkContext._jsc.sc()
        self.store = jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.cores = spark.sparkContext.defaultParallelism

    # --- wrapping -------------------------------------------------------

    def install(self) -> None:
        for layer, fns in LAYERS.items():
            for mod_name, qual, kind in fns:
                mod = importlib.import_module(mod_name)
                if "." in qual:
                    cls_name, attr = qual.split(".")
                    owner = getattr(mod, cls_name)
                    orig = owner.__dict__[attr]
                    self._patch(owner, attr, self._wrap(orig, layer, kind, qual))
                else:
                    orig = getattr(mod, qual)
                    wrapped = self._wrap(orig, layer, kind, qual)
                    # names imported with ``from module import fn`` are
                    # separate bindings: rebind every one of them
                    for m in list(sys.modules.values()):
                        if getattr(m, "__name__", "").startswith("flink_table_store_spark"):
                            if getattr(m, qual, None) is orig:
                                self._patch(m, qual, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def _patch(self, owner, attr, new) -> None:
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, new)

    def _wrap(self, fn, layer: str, kind: str, qual: str):
        tracer = self
        annotate = _ANNOTATE.get(qual)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active or tracer.op is None:
                return fn(*args, **kwargs)
            return tracer._call(fn, layer, kind, qual, annotate, args, kwargs)

        return wrapper

    def _call(self, fn, layer, kind, qual, annotate, args, kwargs):
        nested = any(s.layer == layer for s in self.stack)
        span = Span(self._next, qual, layer, kind, time.perf_counter(),
                    parent=self.stack[-1].id if self.stack else None,
                    op_id=self.op.id, nested=nested)
        self._next += 1
        self.stack.append(span)
        try:
            result = fn(*args, **kwargs)
        finally:
            span.end = time.perf_counter()
            self.stack.pop()
            self.spans.append(span)
        if annotate is not None:
            annotate(self, span, args, kwargs, result)
        return result

    def count(self, key: str, n: float = 1) -> None:
        c = self.op.counters
        c[key] = c.get(key, 0) + n

    def open_span(self, layer: str) -> Span | None:
        for s in reversed(self.stack):
            if s.layer == layer:
                return s
        return None

    # --- ops -------------------------------------------------------------

    def begin_op(self, name: str, traced: bool) -> None:
        self.active = traced
        if not traced:
            return
        self._job_mark = self._max_job_id()
        self._sql_mark = self._max_execution_id()
        now = time.perf_counter()
        self.op = OpRecord(len(self.ops), name, now, epoch_offset=time.time() - now)

    def end_op(self, traced: bool, extra: dict | None = None) -> None:
        if not traced or self.op is None:
            self.active = False
            return
        self.op.end = time.perf_counter()
        op, self.op, self.active = self.op, None, False
        for k, v in (extra or {}).items():
            op.counters[k] = op.counters.get(k, 0) + v
        for table, delta_list in op.counters.pop("_compactions", []):
            # the rewrite's own delta manifest, read after the op's clock stopped
            read = _orig(type(table.manifests).read_entries)
            for e in read(table.manifests, delta_list):
                side = "out" if e.kind == "ADD" else "in"
                op.counters[f"compact.files_{side}"] = op.counters.get(f"compact.files_{side}", 0) + 1
                op.counters[f"compact.bytes_{side}"] = op.counters.get(f"compact.bytes_{side}", 0) + e.file_size
        self._collect_spark(op)
        self.ops.append(op)

    def _max_job_id(self) -> int:
        jl = self.store.jobsList(None)
        return jl.apply(0).jobId() if jl.size() else -1

    def _max_execution_id(self) -> int:
        lst = self.sql_store.executionsList()
        n = lst.size()
        return lst.apply(n - 1).executionId() if n else -1

    def _collect_spark(self, op: OpRecord) -> None:
        jobs = stages = tasks = failed = 0
        run_ms = in_b = sh_b = 0
        intervals = []
        top = self._max_job_id()
        seen_stages = set()
        for jid in range(self._job_mark + 1, top + 1):
            try:
                j = self.store.job(jid)
            except Py4JError:  # evicted from the status store
                continue
            jobs += 1
            sub = j.submissionTime()
            done = j.completionTime()
            if sub.isDefined():
                s = sub.get().getTime() / 1000.0 - op.epoch_offset
                e = (done.get().getTime() / 1000.0 - op.epoch_offset) if done.isDefined() else op.end
                intervals.append((s, e))
            ids = j.stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JError:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                stages += 1
                tasks += st.numCompleteTasks() + st.numFailedTasks()
                failed += st.numFailedTasks()
                run_ms += st.executorRunTime()
                in_b += st.inputBytes()
                sh_b += st.shuffleWriteBytes()
        exch = 0
        executions = []
        lst = self.sql_store.executionsList()
        for i in range(lst.size() - 1, -1, -1):
            e = lst.apply(i)
            if e.executionId() <= self._sql_mark:
                break
            exch += len(set(re.findall(r"(?<![A-Za-z])Exchange \(\d+\)", e.physicalPlanDescription())))
            done = e.completionTime()
            executions.append((
                e.submissionTime() / 1000.0 - op.epoch_offset,
                (done.get().getTime() / 1000.0 - op.epoch_offset) if done.isDefined() else op.end,
            ))
        op.jobs = intervals
        # a SQL execution also covers the driver's re-planning between
        # its jobs (AQE), so Spark's share of the op is the union of both
        op.executions = executions
        wall = op.end - op.start
        op.spark = {
            "exec_ms": _union(intervals + executions, op.start, op.end) * 1000,
            "jobs": jobs,
            "tasks": tasks,
            "failed_tasks": failed,
            "input_bytes": in_b,
            "shuffle_write_bytes": sh_b,
            "exchanges": exch,
            "core_busy_ratio": run_ms / 1000.0 / (self.cores * wall) if wall > 0 else 0.0,
        }

    # --- aggregation -----------------------------------------------------

    def per_op_values(self) -> list[tuple[str, dict[str, float]]]:
        """Every metric of every traced op instance, before averaging."""
        by_op: dict[int, list[Span]] = {}
        for s in self.spans:
            by_op.setdefault(s.op_id, []).append(s)
        out = []
        for op in self.ops:
            spans = by_op.get(op.id, [])
            v: dict[str, float] = {}
            lo, hi = op.start, op.end
            kinds: dict[tuple[str, str], list] = {}
            layers: dict[str, list] = {}
            for s in spans:
                kinds.setdefault((s.layer, s.kind), []).append((s.start, s.end))
                layers.setdefault(s.layer, []).append((s.start, s.end))
            for (layer, kind), iv in kinds.items():
                if kind != "ms":
                    v[f"{layer}.{kind}"] = _union(iv, lo, hi) * 1000
            for layer, iv in layers.items():
                if layer not in ("manifest", "datapipe"):
                    v[f"{layer}.ms"] = _union(iv, lo, hi) * 1000
            v.update({f"{k}": c for k, c in op.counters.items()})
            if v.get("plan.entries_in"):
                v["plan.kept_ratio"] = v.get("plan.entries_out", 0) / v["plan.entries_in"]
            if v.get("datapipe.docs_in"):
                v["datapipe.kept_ratio"] = v.get("datapipe.docs_kept", 0) / v["datapipe.docs_in"]
            for k, x in op.spark.items():
                v[f"spark.{k}"] = x
            wall = hi - lo
            v["driver.only_ms"] = (wall - _union(op.jobs, lo, hi)) * 1000
            covered = [(s.start, s.end) for s in spans] + op.jobs + op.executions
            v["residual.ms"] = (wall - _union(covered, lo, hi)) * 1000
            v["wall_ms"] = wall * 1000
            out.append((op.op, v))
        return out

    def metrics(self) -> dict[str, float]:
        """Mean per op instance of every listed metric (0 where the op ran
        but the layer did not)."""
        per: dict[str, list[dict]] = {}
        for op, v in self.per_op_values():
            per.setdefault(op, []).append(v)
        out = {}
        for name in METRICS:
            op, rest = name.split(".", 1)
            vals = per.get(op, [])
            out[name] = sum(v.get(rest, 0.0) for v in vals) / len(vals) if vals else 0.0
        return out

    def residual_shares(self) -> dict[str, float]:
        """Per op: the largest share of an op's time that no span covers."""
        out: dict[str, float] = {}
        for op, v in self.per_op_values():
            share = v["residual.ms"] / v["wall_ms"] if v["wall_ms"] else 0.0
            out[op] = max(out.get(op, 0.0), share)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")
            for op in self.ops:
                fh.write(json.dumps({"op_id": op.id, "op": op.op, "start": op.start, "end": op.end,
                                     "jobs": op.jobs, "spark": op.spark, "counters": op.counters}) + "\n")


# --- per-function annotations: counters derived from args and results -----


def _snapshot(tr: Tracer, span: Span, args, kwargs, result) -> None:
    if not span.nested:
        tr.count("snapshot.calls")


def _try_commit(tr: Tracer, span: Span, args, kwargs, result) -> None:
    _snapshot(tr, span, args, kwargs, result)
    if tr.open_span("commit") is not None:
        tr.count("commit.attempts")
    if result is False:
        tr.count("snapshot.cas_retries")


def _manifest_read(tr, span, args, kwargs, result) -> None:
    if not span.nested:
        tr.count("manifest.entries_read", len(result))


def _manifest_write(tr, span, args, kwargs, result) -> None:
    if not span.nested:
        tr.count("manifest.files_written")


def _plan_scan(tr, span, args, kwargs, result) -> None:
    entries = args[0] if args else kwargs.get("entries", [])
    tr.count("plan.entries_in", len(entries))
    tr.count("plan.entries_out", len(result.entries))
    tr.count("plan.merge_files", len(result.merge_entries))


def _stats_with_sidecar(tr, span, args, kwargs, result) -> None:
    if result is None:
        return
    tr.count("fileindex.sidecars_read")
    entry = args[1] if len(args) > 1 else kwargs["entry"]
    predicate = args[2] if len(args) > 2 else kwargs["predicate"]
    if not predicate.test(result, entry.row_count):
        tr.count("fileindex.files_skipped")


def _rowgroup_selection(tr, span, args, kwargs, result) -> None:
    if result == []:
        tr.count("fileindex.files_skipped")


def _stage(tr, span, args, kwargs, result) -> None:
    if span.nested:
        return
    tr.count("write.files", len(result))
    tr.count("write.rows", sum(e.row_count for e in result))
    tr.count("write.bytes", sum(e.file_size for e in result))


def _footer(tr, span, args, kwargs, result) -> None:
    tr.count("write.footers_read")


def _compact(tr, span, args, kwargs, result) -> None:
    if span.nested or result is None or not getattr(result, "delta_manifest_list", None):
        return
    tr.op.counters.setdefault("_compactions", []).append((args[0], result.delta_manifest_list))


def _orig(fn):
    return getattr(fn, "__wrapped__", fn)


_ANNOTATE = {
    "SnapshotManager.latest": _snapshot,
    "SnapshotManager.load": _snapshot,
    "SnapshotManager.try_commit": _try_commit,
    "ManifestManager.read_live_entries": _manifest_read,
    "ManifestManager.read_entries": _manifest_read,
    "ManifestManager.read_manifest": _manifest_read,
    "ManifestManager.write_manifest": _manifest_write,
    "ManifestManager.write_manifest_list": _manifest_write,
    "plan_scan": _plan_scan,
    "stats_with_sidecar": _stats_with_sidecar,
    "rowgroup_selection": _rowgroup_selection,
    "stage_and_collect": _stage,
    "collect_parquet_stats": _footer,
    "Table.compact": _compact,
    "Table._compact_universal": _compact,
}
