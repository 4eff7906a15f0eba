"""Spans for the traced run, recorded from the benchmark's side only.

A :class:`Tracer` wraps each layer's public functions at every binding the
program holds (module globals, closure cells and class attributes, since
callers mostly use ``from … import``) and records one span per call:
layer, start, end, thread and parent. Spans stay in memory until the run
ends. Each span also sets a thread-local Spark job description, so the
event log attributes every job to the innermost span that launched it;
thread pools inside the program are replaced by one that carries the
submitting span into its workers. Nothing in the program's files changes,
and the untraced run installs nothing.
"""

from __future__ import annotations

import contextvars
import functools
import importlib
import itertools
import json
import os
import re
import sys
import threading
import time
import types
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import stats

DESC_PREFIX = "perfbench:"
_DESC_KEY = "spark.job.description"


@dataclass
class Span:
    id: int
    layer: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


def _partition_streams(span: Span, args, kwargs, result) -> None:
    n = kwargs.get("n", args[4] if len(args) > 4 else None)
    span.attrs["streams"] = len(result) if result else 1
    span.attrs["requested"] = n


# (module, names, layer, post-call hook). Each name is a full-match
# pattern that must match at least one function of the module, so a
# rename in the program breaks the benchmark loudly.
LAYER_FUNCTIONS = (
    ("pgcp_spark.pg.catalog",
     ("list_tables", "table_exists", "column_definitions", "get_indexes"), "pg.catalog", None),
    ("pgcp_spark.pg.partition", ("partition_predicates",), "pg.partition", _partition_streams),
    ("pgcp_spark.sources.tables", ("load_table", "load_table_parallel"), "sources.tables", None),
    ("pgcp_spark.sources.lake",
     ("write_snapshot", "append_delta", "delete_delta", "merge_cdc_delta", "upsert",
      "merge_cdc", "flatten_deltas", "compact", "vacuum"), "sources.lake.commit", None),
    ("pgcp_spark.sources.lake", ("read_current", "read_current_with_deltas"),
     "sources.lake.read", None),
    ("pgcp_spark.sources.lake", ("state_changes", "table_changes", "pending_changes"),
     "sources.lake.diff", None),
    ("pgcp_spark.sources.view_maintenance",
     (r"fold_(\w+_)?join_view", "apply_distinct_feed", "stamp_applied_state"),
     "sources.view_maintenance.fold", None),
    ("pgcp_spark.streaming.ingest_view", ("apply_cdc_batches", r"fold_(\w+_)?view_batch\w*"),
     "streaming.ingest_view", None),
    ("pgcp_spark.functions.text_index",
     ("update_text_index", "remove_from_text_index", "fold_text_index_from_docs_state"),
     "functions.text_index.apply", None),
    ("pgcp_spark.indexes.loop",
     ("maybe_flatten", "ensure_built", "copy_index", "stage_group_files",
      "run_availablenow_stream", "compact_tables", "reclaim_by_mode"), "indexes.loop", None),
    ("pgcp_spark.sources.txn", ("commit_group",), "sources.txn.commit", None),
    ("pgcp_spark.sources.txn", ("read_group",), "sources.txn.read", None),
    ("pgcp_spark.plans.materialize", ("materialize",), "plans.materialize", None),
)
TRANSPORT_METHODS = ("copy_table", "copy_tables")


class NullTracer:
    """The untraced run: spans cost nothing and record nothing."""

    enabled = False

    def span(self, layer: str):
        return nullcontext()


class Tracer:
    """Records spans once :meth:`install` has run; until then its spans
    are no-ops, so wrappers can be put in place before the warm pass."""

    enabled = True

    def __init__(self, spark):
        self.active = False
        self._sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._current: contextvars.ContextVar[Span | None] = contextvars.ContextVar(
            "perfbench_span", default=None
        )
        self._desc = threading.local()
        self._main = threading.main_thread()
        self._main_stack: list[Span] = []

    # ---------------- spans ----------------

    def _swap_desc(self, span: Span | None) -> str | None:
        """Make ``span`` this thread's Spark job description; return the
        previous description."""
        prev = getattr(self._desc, "value", None)
        value = None if span is None else f"{DESC_PREFIX}{span.id}"
        if value != prev:
            self._sc.setLocalProperty(_DESC_KEY, value)
            self._desc.value = value
        return prev

    def _restore_desc(self, prev: str | None) -> None:
        if getattr(self._desc, "value", None) != prev:
            self._sc.setLocalProperty(_DESC_KEY, prev)
            self._desc.value = prev

    def span(self, layer: str):
        return self._span(layer) if self.active else nullcontext()

    @contextmanager
    def _span(self, layer: str):
        on_main = threading.current_thread() is self._main
        parent = self._current.get()
        if parent is None and not on_main and self._main_stack:
            # a callback thread the program did not start from a pool
            # (e.g. a streaming foreachBatch): one client runs one
            # operation at a time, so it belongs to the main thread's span
            parent = self._main_stack[-1]
        sp = Span(next(self._ids), layer, parent.id if parent else None, time.time())
        token = self._current.set(sp)
        prev = self._swap_desc(sp)
        if on_main:
            self._main_stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if on_main:
                self._main_stack.pop()
            self._restore_desc(prev)
            self._current.reset(token)
            with self._lock:
                self.spans.append(sp)

    def carry(self, fn):
        """Bind ``fn`` to the span current now, for a worker thread."""
        parent = self._current.get()

        def run(*args, **kwargs):
            token = self._current.set(parent)
            prev = self._swap_desc(parent)
            try:
                return fn(*args, **kwargs)
            finally:
                self._restore_desc(prev)
                self._current.reset(token)

        return run

    def wrap(self, fn, layer: str, after=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer) as sp:
                result = fn(*args, **kwargs)
                if after is not None and sp is not None:
                    after(sp, args, kwargs, result)
                return result

        return traced

    # ---------------- installation ----------------

    def install(self, transport_cls) -> None:
        """Wrap every layer function at all of its bindings; swap the
        program's thread pools for span-carrying ones; wrap
        ``plans.overlap`` to measure its branches."""
        swaps: dict[int, tuple[object, object]] = {}
        for modname, patterns, layer, after in LAYER_FUNCTIONS:
            mod = importlib.import_module(modname)
            functions = {
                n: v for n, v in vars(mod).items()
                if isinstance(v, types.FunctionType) and v.__module__ == modname
            }
            for pattern in patterns:
                names = [n for n in functions if re.fullmatch(pattern, n)]
                if not names:
                    raise RuntimeError(f"{modname} has no function matching {pattern!r}")
                for n in names:
                    fn = functions[n]
                    swaps[id(fn)] = (fn, self.wrap(fn, layer, after))
        overlap = importlib.import_module("pgcp_spark.plans.overlap").overlap
        swaps[id(overlap)] = (overlap, self._wrap_overlap(overlap))
        tracer = self

        class CarryingPool(ThreadPoolExecutor):
            def submit(self, fn, /, *args, **kwargs):
                return super().submit(tracer.carry(fn), *args, **kwargs)

        swaps[id(ThreadPoolExecutor)] = (ThreadPoolExecutor, CarryingPool)
        _rebind(swaps)
        for name in TRANSPORT_METHODS:
            setattr(transport_cls, name, self.wrap(getattr(transport_cls, name), "transport"))
        self.active = True

    def _wrap_overlap(self, overlap):
        @functools.wraps(overlap)
        def traced(*thunks):
            branch_s: list[float] = []
            lock = threading.Lock()

            def timed(thunk):
                def run():
                    t0 = time.time()
                    try:
                        return thunk()
                    finally:
                        with lock:
                            branch_s.append(time.time() - t0)

                return run

            with self.span("plans.overlap") as sp:
                try:
                    return overlap(*[timed(t) for t in thunks])
                finally:
                    sp.attrs["branch_s"] = sum(branch_s)

        return traced


def _rebind(swaps: dict[int, tuple[object, object]]) -> None:
    """Replace each original object by its wrapper in the globals of every
    loaded program module and in the closure cells of the program's
    functions (registered queries bind their helpers at registration)."""
    # closures of one scope share cells, so a cell may already hold a
    # wrapper when reached again; wrappers themselves are never walked
    seen: set[int] = {id(wrapper) for _, wrapper in swaps.values()}
    todo: list[types.FunctionType] = []
    for name, mod in list(sys.modules.items()):
        if not name.startswith("pgcp_spark") or mod is None:
            continue
        for attr, value in list(vars(mod).items()):
            hit = swaps.get(id(value))
            if hit is not None and hit[0] is value:
                setattr(mod, attr, hit[1])
            elif isinstance(value, types.FunctionType):
                todo.append(value)
    from pgcp_spark.registry import all_queries

    todo += [q.fn for q in all_queries().values()]
    while todo:
        fn = todo.pop()
        if id(fn) in seen or not fn.__module__.startswith("pgcp_spark"):
            continue
        seen.add(id(fn))
        for cell in fn.__closure__ or ():
            try:
                value = cell.cell_contents
            except ValueError:  # empty cell
                continue
            hit = swaps.get(id(value))
            if hit is not None and hit[0] is value:
                cell.cell_contents = hit[1]
            elif isinstance(value, types.FunctionType):
                todo.append(value)


# ---------------- the event log ----------------


@dataclass
class Job:
    id: int
    start: float
    end: float
    desc: str | None


def read_jobs(event_dir: str) -> list[Job]:
    """Spark jobs from the event log: ids, submission/completion times in
    epoch seconds and the job description each was launched under."""
    starts: dict[int, tuple[float, str | None]] = {}
    jobs = []
    paths = sorted(os.path.join(r, n) for r, _, names in os.walk(event_dir) for n in names)
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerJob' not in line[:40]:
                    continue
                ev = json.loads(line)
                if ev["Event"] == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get(_DESC_KEY)
                    starts[ev["Job ID"]] = (ev["Submission Time"] / 1000.0, desc)
                elif ev["Event"] == "SparkListenerJobEnd" and ev["Job ID"] in starts:
                    t0, desc = starts.pop(ev["Job ID"])
                    jobs.append(Job(ev["Job ID"], t0, ev["Completion Time"] / 1000.0, desc))
    return jobs


# ---------------- aggregation ----------------


def layer_totals(spans: list[Span], jobs: list[Job]) -> dict[str, dict[str, float]]:
    """calls, self_s and jobs per layer. Self time is a span's duration
    minus the union of its children (which may run concurrently); a job
    counts for the innermost span whose description it carries."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    by_id = {s.id: s for s in spans}
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        row = out.setdefault(s.layer, {"calls": 0, "self_s": 0.0, "jobs": 0})
        row["calls"] += 1
        row["self_s"] += stats.self_time(
            (s.start, s.end), [(c.start, c.end) for c in children.get(s.id, ())]
        )
    for j in jobs:
        sp = by_id.get(span_id(j.desc))
        if sp is not None:
            out[sp.layer]["jobs"] += 1
    return out


def span_id(desc: str | None) -> int | None:
    if desc and desc.startswith(DESC_PREFIX):
        return int(desc[len(DESC_PREFIX):])
    return None


# ---------------- the injected psql client ----------------


def statement_kind(sql: str) -> str:
    """Group a psql statement of the copy path by what it does."""
    s = sql.lstrip().lower()
    if s.startswith("\\copy ("):
        return "export"
    if s.startswith("\\copy "):
        return "load"
    if s.startswith(("create index", "create unique index")) or (
        s.startswith("alter table") and "primary key" in s
    ):
        return "index_replay"
    if s.startswith(("create table", "create schema", "drop table")):
        return "ddl"
    return "other"


class TracedClient:
    """Times every statement of an injected ``PgClient`` by kind; the
    hotswap is the client's only multi-statement transaction."""

    def __init__(self, tracer: Tracer, inner):
        self._tracer = tracer
        self._inner = inner

    def fetch(self, sql: str) -> list[tuple]:
        with self._tracer.span("pg.psql_client.other"):
            return self._inner.fetch(sql)

    def execute(self, sql: str) -> None:
        with self._tracer.span("pg.psql_client." + statement_kind(sql)):
            self._inner.execute(sql)

    def execute_transaction(self, statements: list[str]) -> None:
        with self._tracer.span("pg.psql_client.hotswap"):
            self._inner.execute_transaction(statements)

    def __getattr__(self, name):
        return getattr(self._inner, name)
