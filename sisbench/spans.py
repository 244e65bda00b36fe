"""Tracing for the ``--trace 1`` run: spans around the package's public
functions, a py4j call counter, and Spark's own per-job, per-stage and
per-operator counters read back from the status stores.

Nothing here edits package code.  ``Tracer.install`` replaces module and
class attributes with timing wrappers and rebinds every ``from x import f``
copy (under any alias) already held by a loaded ``ago_sisdb_spark`` module;
``uninstall`` puts the originals back.  The untraced run never constructs a Tracer.

Spans stay in memory (name, start, end, parent, op id) until the run ends.
Each wrapper also sets the Spark job description to its span name, so jobs
launched inside a layer can be attributed to it from the status store.
"""

from __future__ import annotations

import functools
import re
import sys
import time
from dataclasses import dataclass, field

# (module, attribute, span name).  A dotted attribute names a class method.
TARGETS = [
    ("ago_sisdb_spark.plans.engine", "Engine.get", "engine"),
    ("ago_sisdb_spark.plans.engine", "Engine.gets", "engine"),
    ("ago_sisdb_spark.plans.engine", "Engine.psub", "engine"),
    ("ago_sisdb_spark.catalog", "Catalog.load", "catalog.load"),
    ("ago_sisdb_spark.operators.rangescan", "time_range", "operators.build"),
    ("ago_sisdb_spark.operators.rangescan", "tail_n", "operators.build"),
    ("ago_sisdb_spark.operators.rangescan", "head_n", "operators.build"),
    ("ago_sisdb_spark.operators.lastper", "last_per_key", "operators.build"),
    ("ago_sisdb_spark.operators.rollup", "ohlcv", "operators.build"),
    ("ago_sisdb_spark.operators.asof", "asof_join", "operators.build"),
    ("ago_sisdb_spark.streaming.replay", "replay_range", "operators.build"),
    ("ago_sisdb_spark.sources.formats", "render", "formats.render"),
    ("ago_sisdb_spark.streaming.write", "write_partitioned", "write"),
    ("ago_sisdb_spark.sources.ingest", "incremental_rollup", "rollup"),
    ("ago_sisdb_spark.operators.prep", "full_prep_pipeline", "prep.build"),
    ("ago_sisdb_spark.materialize", "materialize", "materialize"),
    ("ago_sisdb_spark.operators.textsearch", "bm25_topk_indexed", "search.build"),
    ("ago_sisdb_spark.operators.textsearch", "prf_bm25_topk", "search.build"),
    ("ago_sisdb_spark.operators.similarity", "ivf_topk", "search.build"),
    ("ago_sisdb_spark.operators.pq", "pq_topk", "search.build"),
    ("ago_sisdb_spark.operators.rag", "chunk_topk_indexed", "search.build"),
    ("ago_sisdb_spark.operators.textsearch", "load_text_index", "index.load"),
    ("ago_sisdb_spark.operators.similarity", "load_ivf_centroids", "index.load"),
    ("ago_sisdb_spark.operators.pq", "load_pq_codebooks", "index.load"),
]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    op: int = -1


@dataclass
class Tracer:
    sc: object
    spans: list[Span] = field(default_factory=list)
    op: int = -1
    overhead_s: float = 0.0
    py4j_calls: dict[int, int] = field(default_factory=dict)
    py4j_s: dict[int, float] = field(default_factory=dict)
    _stack: list[int] = field(default_factory=list)
    _undo: list = field(default_factory=list)
    _internal: bool = False

    # -- spans -------------------------------------------------------------
    def open(self, name: str) -> int:
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(Span(name, t0, parent=parent, op=self.op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self._describe(name)
        self.overhead_s += time.perf_counter() - t0
        self.spans[idx].start = time.perf_counter()
        return idx

    def close(self, idx: int) -> None:
        t0 = time.perf_counter()
        self.spans[idx].end = t0
        self._stack.pop()
        parent = self._stack[-1] if self._stack else -1
        self._describe(self.spans[parent].name if parent >= 0 else None)
        self.overhead_s += time.perf_counter() - t0

    def _describe(self, name: str | None) -> None:
        self._internal = True
        try:
            self.sc.setJobDescription(name)
        finally:
            self._internal = False

    def _wrapper(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)

        traced.__sisbench_wrapped__ = fn
        return traced

    # -- install / uninstall -------------------------------------------------
    def install(self) -> None:
        import importlib

        # import every target module first, so the rebinding below sees
        # all the copies they hold
        mods = {m: importlib.import_module(m) for m, _, _ in TARGETS}
        for mod_name, attr, span in TARGETS:
            mod = mods[mod_name]
            owner, _, name = attr.rpartition(".")
            holder = getattr(mod, owner) if owner else mod
            orig = getattr(holder, name)
            wrapped = self._wrapper(orig, span)
            self._set(holder, name, wrapped)
            if not owner:
                # rebind `from mod import f [as g]` copies in loaded package
                # modules
                for m in list(sys.modules.values()):
                    if m is mod or not getattr(m, "__name__", "").startswith(
                            "ago_sisdb_spark"):
                        continue
                    for alias, value in list(vars(m).items()):
                        if value is orig:
                            self._set(m, alias, wrapped)
        self._count_py4j()

    def _set(self, holder, name, value) -> None:
        self._undo.append((holder, name, holder.__dict__[name]))
        setattr(holder, name, value)

    def _count_py4j(self) -> None:
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            if self._internal:
                return send(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                op = self.op
                self.py4j_calls[op] = self.py4j_calls.get(op, 0) + 1
                self.py4j_s[op] = self.py4j_s.get(op, 0.0) + time.perf_counter() - t0

        client.send_command = counted
        self._undo.append((client, "send_command", None))

    def uninstall(self) -> None:
        for holder, name, orig in reversed(self._undo):
            if orig is None:
                delattr(holder, name)
            else:
                setattr(holder, name, orig)
        self._undo.clear()

    # -- per-op accounting -------------------------------------------------
    def self_times(self) -> dict[tuple[int, str], float]:
        """Self time (span minus the union its children cover), summed per
        (op, span name)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        out: dict[tuple[int, str], float] = {}
        for i, s in enumerate(self.spans):
            covered = union_len([(c.start, c.end) for c in kids.get(i, [])])
            key = (s.op, s.name)
            out[key] = out.get(key, 0.0) + (s.end - s.start) - covered
        return out

    def totals(self, name: str) -> tuple[dict[int, float], dict[int, int]]:
        """Inclusive time and call count of ``name`` spans per op."""
        ms: dict[int, float] = {}
        n: dict[int, int] = {}
        for s in self.spans:
            if s.name == name:
                ms[s.op] = ms.get(s.op, 0.0) + s.end - s.start
                n[s.op] = n.get(s.op, 0) + 1
        return ms, n


def count_wrapped() -> int:
    """Package functions currently replaced by a tracing wrapper."""
    n = 0
    for m in list(sys.modules.values()):
        if not getattr(m, "__name__", "").startswith("ago_sisdb_spark"):
            continue
        for v in list(vars(m).values()):
            targets = [v] + (list(vars(v).values()) if isinstance(v, type) else [])
            n += sum(hasattr(t, "__sisbench_wrapped__") for t in targets)
    return n


def union_len(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# -- Spark status stores -----------------------------------------------------
def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def spark_jobs(sc, group_prefix: str) -> list[dict]:
    """Every job whose group starts with ``group_prefix``, with its stages'
    executor counters."""
    store = sc._jsc.sc().statusStore()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = {}
    for st in _seq(store.stageList(None, False, False, no_quantiles, None)):
        if st.status().toString() == "SKIPPED":
            continue
        stages[st.stageId()] = {
            "tasks": st.numCompleteTasks(),
            "run_ms": st.executorRunTime(),
            "cpu_ms": st.executorCpuTime() / 1e6,
            "input_bytes": st.inputBytes(),
            "shuffle_read_bytes": st.shuffleReadBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
        }
    jobs = []
    for j in _seq(store.jobsList(None)):
        group = _opt(j.jobGroup())
        if not group or not group.startswith(group_prefix):
            continue
        sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
        jobs.append({
            "id": j.jobId(),
            "op": int(group[len(group_prefix):]),
            "desc": _opt(j.description()),
            "start_ms": sub.getTime() if sub else 0,
            "end_ms": done.getTime() if done else 0,
            "stages": [stages[s] for s in _seq(j.stageIds()) if s in stages],
        })
    return jobs


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
          "ms": 1, "s": 1000, "m": 60_000, "min": 60_000, "h": 3_600_000}
_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*(TiB|GiB|MiB|KiB|B|ms|min|s|m|h)?\b")


def parse_metric(text: str) -> float:
    """Spark's formatted SQL metric string → a number (bytes or ms for sized
    and timed metrics; the total, not the per-task breakdown)."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


def sql_metrics(spark, job_op: dict[int, int], names: dict[str, str]) -> dict:
    """Sum the plan-operator SQL metrics whose name is a key of ``names``
    over executions attributed (through their jobs) to an op; returns
    {label: {op: value}}."""
    store = spark._jsparkSession.sharedState().statusStore()
    out: dict[str, dict[int, float]] = {label: {} for label in names.values()}
    for ex in _seq(store.executionsList()):
        ops = {job_op.get(int(k)) for k in _seq(ex.jobs().keys().toSeq())} - {None}
        if not ops:
            continue
        op = min(ops)
        values = {}
        for kv in _seq(store.executionMetrics(ex.executionId()).toSeq()):
            values[kv._1()] = kv._2()
        seen = set()  # a plan's metric list repeats nodes across AQE updates
        for m in _seq(ex.metrics()):
            label = names.get(m.name())
            acc = m.accumulatorId()
            v = values.get(acc) if label and acc not in seen else None
            seen.add(acc)
            if v is not None:
                out[label][op] = out[label].get(op, 0.0) + parse_metric(v)
    return out


def jvm_gc_ms(sc) -> float:
    mf = sc._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))


def jvm_heap_used_mb(sc) -> float:
    mf = sc._jvm.java.lang.management.ManagementFactory
    return mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20
