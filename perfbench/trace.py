"""Tracing from outside the program.

``Tracer`` wraps public functions of the program's modules (and the two
PySpark calls that run jobs) with in-memory spans: layer, name, start,
end, parent span and op id. Wrappers record only while the tracer is
active, so traced and untraced ops can alternate in one process and the
difference is the tracing overhead.

Spark evaluates framing, decode and projection lazily, so their spans
measure plan building only. ``replay_ingest`` times those layers by
forcing one more of them per stage with a ``noop`` write.
``SparkRest`` reads per-stage task metrics and per-operator row counts
from the driver's REST API.

A missing function or module attribute is an error: a renamed entry
point fails the traced run instead of reading as zero.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import json
import time
import urllib.request
from collections import defaultdict
from typing import Any, Callable, Iterator, Optional


@dataclasses.dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float
    parent: Optional[int]
    op: int


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.active = False
        self.op = -1
        self._stack: list[int] = []
        self._undo: list[Callable[[], None]] = []

    # -- span recording ------------------------------------------------------
    def begin(self, op: int) -> None:
        self.active, self.op = True, op

    def end(self) -> None:
        self.active = False

    def count(self, key: str, n: float = 1) -> None:
        if self.active:
            self.counts[self.op][key] += n

    @contextlib.contextmanager
    def span(self, layer: str, name: str) -> Iterator[None]:
        idx = self._open(layer, name)
        try:
            yield
        finally:
            self._close(idx)

    def _open(self, layer: str, name: str) -> Optional[int]:
        if not self.active:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(layer, name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: Optional[int]) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.perf_counter()
        self._stack.pop()

    # -- wrapping the program's functions -------------------------------------
    def wrapped(self, fn: Callable, layer: str, name: str, after: Optional[Callable] = None) -> Callable:
        """``fn`` recording a span per call while the tracer is active.
        ``after`` gets (args, kwargs, result) to record counts."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = self._open(layer, name)
            try:
                result = fn(*args, **kwargs)
            finally:
                self._close(idx)
            if after is not None and idx is not None:
                after(args, kwargs, result)
            return result

        return wrapper

    def wrap(self, owner: Any, attr: str, layer: str, after: Optional[Callable] = None) -> None:
        """Replace ``owner.attr`` by its ``wrapped`` form until
        ``restore``."""
        self.patch(owner, attr, self.wrapped(owner.__dict__[attr], layer, attr, after))

    def patch(self, owner: Any, attr: str, value: Any) -> None:
        """Set ``owner.attr`` (which must exist) until ``restore``."""
        orig = owner.__dict__[attr]
        setattr(owner, attr, value)
        self._undo.append(lambda: setattr(owner, attr, orig))

    @contextlib.contextmanager
    def job_group(self, spark, tag: str) -> Iterator[None]:
        """Label the Spark jobs run inside the block with the traced op
        and ``tag``, so their operator metrics can be found afterwards
        (``SparkRest.scan_rows``)."""
        if not self.active:
            yield
            return
        sc = spark.sparkContext
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setLocalProperty("spark.jobGroup.id", f"perfbench.{tag}.{self.op}")
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", prev)

    def group_jobs(self, spark, tag: str) -> dict[int, list[int]]:
        """Traced op -> ids of the jobs run inside ``job_group(tag)``."""
        tracker = spark.sparkContext.statusTracker()
        return {op: list(tracker.getJobIdsForGroup(f"perfbench.{tag}.{op}")) for op in self.ops()}

    def restore(self) -> None:
        while self._undo:
            self._undo.pop()()

    def install(self) -> None:
        """Wrap the program's public entry points, one layer each."""
        from pyspark.sql.readwriter import DataFrameWriter

        try:  # the class session DataFrames are instances of
            from pyspark.sql.classic.dataframe import DataFrame
        except ImportError:
            from pyspark.sql import DataFrame

        import huckli_spark.runtime as runtime
        import huckli_spark.session as session
        import huckli_spark.sources.listing as listing
        import huckli_spark.sources.framing as framing
        import huckli_spark.ingest.decode as decode
        import huckli_spark.ingest.filetypes as filetypes
        import huckli_spark.ingest.warehouse as warehouse

        W = warehouse.Warehouse
        self.wrap(session, "get_spark", "session")
        self.wrap(runtime, "ensure_package_on_executors", "session")

        def listed(args, kwargs, result):
            self.count("listing.calls")
            self.count("listing.files_returned", len(result))

        self.wrap(listing, "list_local", "sources.listing", listed)
        # directory entries the listing module itself reads
        self.patch(listing, "os", _CountingOs(listing.os, self))
        self.wrap(listing.FileSelection, "resolve_files", "sources.listing")
        # warehouse.py binds frames_df/decode_frames at import: wrap both names
        for mod in (framing, warehouse):
            self.wrap(mod, "frames_df", "sources.framing")
        for mod in (decode, warehouse):
            self.wrap(mod, "decode_frames", "ingest.decode")
        self.wrap(filetypes, "helium_pubkey_udf", "functions.keys")
        for name, spec in list(filetypes.REGISTRY.items()):
            project = self.wrapped(spec.project, "ingest.filetypes", "project")
            filetypes.REGISTRY[name] = dataclasses.replace(spec, project=project)
            self._undo.append(functools.partial(filetypes.REGISTRY.__setitem__, name, spec))

        def appended(args, kwargs, result):
            self.count("append.jobs")

        def registered(args, kwargs, result):
            if any(s.name == "sql" for s in self._open_spans()):
                self.count("query.views_registered")

        for attr in ("ingest", "ingest_files", "save_files_processed", "sql", "has_table"):
            self.wrap(W, attr, "ingest.warehouse")
        self.wrap(W, "append", "ingest.warehouse", appended)
        checkpoint_read = W.__dict__["latest_file_processed_timestamp"]

        def tagged_checkpoint_read(wh, *args, **kwargs):
            with self.job_group(wh.spark, "checkpoint"):
                return checkpoint_read(wh, *args, **kwargs)

        self.patch(W, "latest_file_processed_timestamp", tagged_checkpoint_read)
        self.wrap(W, "latest_file_processed_timestamp", "ingest.warehouse")
        self.wrap(W, "table", "ingest.warehouse", registered)
        # the calls that run Spark jobs: time inside them is the engine's
        self.wrap(DataFrameWriter, "parquet", "spark")
        self.wrap(DataFrame, "collect", "spark")

    def _open_spans(self) -> list[Span]:
        return [self.spans[i] for i in self._stack]

    # -- summaries ------------------------------------------------------------
    def ops(self) -> list[int]:
        return sorted({s.op for s in self.spans})

    def self_times(self) -> dict[int, dict[str, float]]:
        """Per op: layer -> self time (span duration minus the part of
        it covered by child spans)."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for i, s in enumerate(self.spans):
            out[s.op][s.layer] += (s.end - s.start) - child_time[i]
        return out

    def span_time(self, op: int, layer: str, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.op == op and s.layer == layer and s.name == name)


class _CountingOs:
    """The ``os`` module as the listing module sees it while traced:
    ``listdir`` also counts the entries it returns."""

    def __init__(self, real, tracer: Tracer):
        self._real, self._tracer = real, tracer

    def __getattr__(self, name: str) -> Any:
        return getattr(self._real, name)

    def listdir(self, path="."):
        names = self._real.listdir(path)
        self._tracer.count("listing.entries_scanned", len(names))
        return names


# ---------------------------------------------------------------------------
# Spark's own metrics, from the driver's REST API
# ---------------------------------------------------------------------------
class SparkRest:
    def __init__(self, spark):
        self.base = spark.sparkContext.uiWebUrl
        self.app = spark.sparkContext.applicationId

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/api/v1/applications/{self.app}/{path}", timeout=10) as r:
            return json.load(r)

    def watermark(self) -> tuple[int, int]:
        """Highest job and stage ids so far."""
        self.settle()
        jobs = self.get("jobs")
        stages = self.get("stages")
        return (
            max((j["jobId"] for j in jobs), default=-1),
            max((s["stageId"] for s in stages), default=-1),
        )

    def settle(self, timeout: float = 5.0) -> None:
        """The UI store fills from an async listener bus: wait until no
        job is still running and the job count stops changing."""
        deadline, last = time.time() + timeout, None
        while time.time() < deadline:
            jobs = self.get("jobs")
            n = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
            if n == last and n[1] == 0:
                return
            last = n
            time.sleep(0.2)

    def totals(self, since: tuple[int, int]) -> dict[str, float]:
        """Task-metric sums over the jobs and stages after ``since``."""
        self.settle()
        job0, stage0 = since
        jobs = [j for j in self.get("jobs") if j["jobId"] > job0]
        stages = [s for s in self.get("stages") if s["stageId"] > stage0]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "input_bytes": sum(s["inputBytes"] for s in stages),
            "output_bytes": sum(s["outputBytes"] for s in stages),
        }

    def executions(self, keep: Callable[[list[int]], bool]) -> list[dict]:
        """The SQL executions whose job ids satisfy ``keep``, with their
        operator metrics. Call ``settle`` first."""
        out = []
        for e in self.get("sql?details=true&planDescription=false&length=100000"):
            jobs = e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"]
            if jobs and keep(jobs):
                out.append(e)
        return out

    def scan_rows(self, job_ids: list[int]) -> int:
        """Rows out of the file scans of the SQL executions made of
        ``job_ids``. Call ``settle`` first."""
        ids = set(job_ids)
        return sum(sum(node_rows(e, "Scan")) for e in self.executions(lambda jobs: set(jobs) <= ids))

    def since(self, mark: tuple[int, int]) -> list[dict]:
        """The SQL executions that ran after ``mark``."""
        self.settle()
        return self.executions(lambda jobs: min(jobs) > mark[0])


def node_rows(execution: dict, name_prefix: str) -> list[int]:
    """``number of output rows`` of each operator of one SQL execution
    whose name starts with ``name_prefix``."""
    out = []
    for node in execution["nodes"]:
        if node["nodeName"].startswith(name_prefix):
            value = next(m["value"] for m in node["metrics"] if m["name"] == "number of output rows")
            out.append(int(str(value).replace(",", "").strip() or 0))
    return out


# ---------------------------------------------------------------------------
# staged replay of the lazy ingest layers
# ---------------------------------------------------------------------------
def _noop(df) -> float:
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def replay_ingest(spark, rest: SparkRest, file_type: str, paths: list[str], scratch_wh: str) -> dict[str, float]:
    """Time the lazy ingest layers on one op's input by forcing one more
    layer per stage: frames_df, + decode_frames, + spec.project (over a
    persisted decode, as ingest_files does), then the full
    ingest_files into a scratch warehouse. Each layer's time is its
    stage's wall minus the stages it builds on; row counts come from
    the stages' operator metrics."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from huckli_spark.ingest.decode import decode_frames
    from huckli_spark.ingest.filetypes import REGISTRY
    from huckli_spark.ingest.warehouse import Warehouse
    from huckli_spark.sources.framing import frames_df
    from huckli_spark.sources.listing import FileInfo

    spec = REGISTRY[file_type]
    out: dict[str, float] = {}
    mark = rest.watermark()
    framing_s = _noop(frames_df(spark, paths))
    out["framing.shuffle_bytes"] = rest.totals(mark)["shuffle_write_bytes"]
    frames = sum(sum(node_rows(e, "MapInPandas")) for e in rest.since(mark))
    out["framing.payload_bytes"] = frames_df(spark, paths).agg(F.sum(F.length("payload"))).collect()[0][0]
    mark = rest.watermark()
    decode_total = _noop(decode_frames(frames_df(spark, paths), spec.msg))
    # framing's operator emits the frames, decode's the decoded rows
    decoded_rows = sum(sum(node_rows(e, "MapInPandas")) for e in rest.since(mark)) - frames
    decoded = decode_frames(frames_df(spark, paths), spec.msg).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        decoded.count()
        tables = spec.project(decoded)
        project_s = sum(_noop(df) for df in tables.values())
    finally:
        decoded.unpersist()
    infos = [FileInfo.from_key(p) for p in paths]
    mark = rest.watermark()
    t = time.perf_counter()
    Warehouse(spark, scratch_wh).ingest_files(file_type, infos, paths={p: p for p in paths})
    full_s = time.perf_counter() - t
    out.update(
        {
            "framing.s": framing_s,
            "framing.frames": frames,
            "decode.s": max(decode_total - framing_s, 0.0),
            "decode.frames": decoded_rows,
            "project.s": project_s,
            "project.tables": len(tables),
            "append.s": max(full_s - decode_total - project_s, 0.0),
            "project.decode_passes": _decode_passes(rest.since(mark)),
        }
    )
    return out


def _decode_passes(executions: list[dict]) -> float:
    """How many times the given SQL executions ran the frame decode:
    each pass is a pair of MapInPandas operators (framing, then decode)
    that produced rows."""
    return float(sum(sum(1 for n in node_rows(e, "MapInPandas") if n) // 2 for e in executions))
