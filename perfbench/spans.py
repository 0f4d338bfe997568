"""Tracing for ``--trace 1`` runs: spans around calls into the program's
modules, and Spark's stage metrics from the status store.

The tracer rebinds each traced function where its caller looks it up
(a module attribute, or a method on its class) and restores the original
on ``uninstall``; no source file of the program is changed. Each span
records name, start, end, parent, iteration, the cycle phase it ran in
(dump, verify, restore, prepare) and a label: ``construct`` when the call
returned a lazy DataFrame and no Spark job started while it ran (it only
built a plan), otherwise ``execute``. Spans stay in memory and are written
out when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time

from pyspark.sql import DataFrame
from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

import cycles


class Span:
    """``root`` is the phase span (dump, verify, restore, prepare) the span
    ran in, ``phase`` its name."""

    __slots__ = ("name", "start", "end", "parent", "iteration", "root",
                 "label", "attrs")

    def __init__(self, name, start, parent, iteration, root):
        self.name, self.start, self.end = name, start, None
        self.parent, self.iteration, self.root = parent, iteration, root
        self.label, self.attrs = "execute", {}

    @property
    def phase(self) -> str | None:
        return self.root.name if self.root is not None else None

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """Duration minus the part of the span's interval its children cover."""
    covered, cur_s, cur_e = 0.0, None, None
    for c in sorted(children, key=lambda c: c.start):
        s, e = max(c.start, span.start), min(c.end, span.end)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


def tail(samples: list[float]) -> float:
    """The highest of p99/p90/p75/p50 with at least ten samples beyond it
    (the median when there are too few samples)."""
    n = len(samples)
    if n == 0:
        return 0.0
    s = sorted(samples)
    for q in (0.99, 0.9, 0.75):
        if n * (1 - q) >= 10:
            return s[min(n - 1, int(q * n))]
    return statistics.median(s)


def _targets():
    """(owner, attribute, span name, phase?) of every traced function, at
    the place its caller looks it up."""
    from mydumper_spark import catalog, cli, engine
    from mydumper_spark.functions import checksum
    from mydumper_spark.operators import contamination, corpus, dedup, text
    from mydumper_spark.plans.loader_dag import LoaderDag
    from mydumper_spark.sinks import manifest, writers
    from mydumper_spark.sources import dump_reader, insert_parser

    return [
        (engine, "dump", "dump", True),
        (manifest, "verify_manifest", "verify", True),
        (engine, "restore", "restore", True),
        (cli, "main", "prepare", True),
        (catalog.ParquetCatalog, "discover", "catalog.discover", False),
        (catalog.JdbcCatalog, "discover", "catalog.discover", False),
        (catalog.ParquetCatalog, "read", "catalog.read", False),
        (catalog.JdbcCatalog, "read", "catalog.read", False),
        (engine, "apply_transform", "transform.apply", False),
        (engine, "write_parquet", "writers.write", False),
        (writers, "insert_statements_stream", "writers.sql_statements", False),
        (DataFrameWriter, "text", "writers.write", False),
        (DataFrameWriter, "parquet", "writers.parquet", False),
        (manifest, "table_checksum", "checksum", False),
        (checksum, "table_checksum", "checksum", False),
        (engine, "write_manifest", "manifest.write", False),
        (manifest, "read_dumped_table", "reader.read", False),
        (insert_parser, "read_insert_sql", "reader.read", False),
        (dump_reader, "read_dump_table", "reader.read", False),
        (DataFrameReader, "parquet", "reader.read", False),
        (LoaderDag, "run", "loader_dag.run", False),
        (LoaderDag, "_run_one", "loader_dag.job", False),
        (cli, "persist_and_count", "prepare.stage", False),
        (dedup, "exact_dedup", "prepare.op", False),
        (dedup, "minhash_dedup", "prepare.op", False),
        (corpus, "dedup_lines_global", "prepare.op", False),
        (corpus, "exact_substring_dedup", "prepare.op", False),
        (corpus, "chunk_documents", "prepare.op", False),
        (text, "gopher_quality", "prepare.op", False),
        (contamination, "repetition_metrics", "prepare.op", False),
        (contamination, "decontaminate", "prepare.op", False),
    ]


class Tracer:
    """Installs the span wrappers and folds each traced cycle's spans and
    Spark stages into per-layer metrics."""

    def __init__(self, spark, ncpu: int):
        self.spark, self.ncpu = spark, ncpu
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patches: list = []
        self.iteration = -1
        self._phase_span: Span | None = None
        #: iteration → per-iteration metric dict
        self.per_iter: list[dict] = []
        #: pooled samples for the p50/tail metrics
        self.pooled: dict[str, list[float]] = {}
        self._table_done: dict[str, float] = {}
        self._dags: list = []
        self._t0_wall = 0.0

    # -- installing -------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _wrap(self, owner, attr: str, name: str, phase: bool) -> None:
        orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            parent = stack[-1] if stack else tracer._phase_span
            span = Span(name, time.perf_counter(), parent, tracer.iteration,
                        tracer._phase_span)
            stack.append(span)
            if phase:
                span.root = tracer._phase_span = span
            result = None
            try:
                result = orig(*args, **kwargs)
                return result
            finally:
                stack.pop()
                if phase:
                    tracer._phase_span = None
                span.end = time.perf_counter()
                if isinstance(result, DataFrame):
                    span.label = "construct"
                tracer._annotate(span, args, kwargs, result)
                with tracer._lock:
                    tracer.spans.append(span)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def _annotate(self, span: Span, args, kwargs, result) -> None:
        if span.name == "catalog.read":
            span.attrs["table"] = args[1].name
            chunks = args[2] if len(args) > 2 else kwargs.get("num_chunks")
            span.attrs["bounds"] = bool(chunks and chunks > 1
                                        and type(args[0]).__name__ == "JdbcCatalog")
        elif span.name == "checksum" and isinstance(result, dict):
            span.attrs["rows"] = result.get("rows") or 0
        elif span.name == "loader_dag.run":
            self._dags.append((self.iteration, args[0]))
        elif span.name == "prepare.stage":
            key, counts = args[2], args[1]
            span.attrs["key"] = key
            span.attrs["kept_frac"] = counts.get(key, 0) / max(1, counts.get("input", 0))

    def install(self) -> None:
        for owner, attr, name, phase in _targets():
            self._wrap(owner, attr, name, phase)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def table_done(self, table: str, files) -> None:
        """The dump's per-table completion callback."""
        t = time.perf_counter()
        with self._lock:
            self._table_done[(id(self._phase_span), table)] = t

    # -- per iteration ----------------------------------------------------

    def begin_iteration(self) -> None:
        self.iteration += 1
        self._table_done = {}
        self._t0_wall = time.time()

    def end_iteration(self, out: dict, cycle_s: float) -> None:
        """Fold this iteration's spans and Spark stages into metrics."""
        t1_wall = time.time()
        it = self.iteration
        spans = [s for s in self.spans if s.iteration == it and s.phase]
        jobs, stages = self._spark_window(self._t0_wall * 1000, t1_wall * 1000)
        m: dict[str, float] = {}

        def total(pred) -> float:
            return sum(s.duration for s in spans if pred(s))

        def outermost(name):
            return lambda s: s.name == name and (s.parent is None or s.parent.name != name)

        reads = [s for s in spans if s.name == "catalog.read"]
        m["catalog.discover_s"] = total(lambda s: s.name == "catalog.discover")
        m["planner.bounds_s"] = total(lambda s: s.name == "catalog.read" and s.attrs["bounds"])
        m["transform.construct_s"] = total(lambda s: s.name == "transform.apply")
        m["writers.write_s"] = total(lambda s: s.name == "writers.write" and s.phase == "dump")
        m["writers.bytes_out"], m["writers.files_out"] = cycles.tree_bytes(out["dump_dir"])
        m["checksum.dump_s"] = total(lambda s: s.name == "checksum" and s.phase == "dump")
        m["checksum.verify_s"] = total(
            lambda s: s.name == "checksum" and s.phase in ("verify", "restore"))
        m["checksum.rows"] = sum(s.attrs.get("rows", 0) for s in spans if s.name == "checksum"
                                 and s.phase in ("verify", "restore"))
        m["reader.read_s"] = total(lambda s: outermost("reader.read")(s)
                                   and s.phase in ("verify", "restore"))
        m["manifest.write_s"] = total(lambda s: s.name == "manifest.write")

        # verify_manifest checks tables one after another: a table's time
        # runs from the previous table's checksum end
        for v in (s for s in spans if s.name == "verify"):
            prev = v.start
            for s in sorted((s for s in spans if s.name == "checksum" and s.root is v),
                            key=lambda s: s.end):
                self.pooled.setdefault("verify_table", []).append(s.end - prev)
                prev = s.end

        # per dump: a table runs from its first catalog.read (discovery's
        # schema probes excluded) to its table_done callback
        first_read: dict[tuple, float] = {}
        for s in reads:
            if s.phase == "dump" and (s.parent is None or s.parent.name != "catalog.discover"):
                key = (id(s.root), s.attrs["table"])
                first_read[key] = min(first_read.get(key, s.start), s.start)
        idle = []
        for d in (s for s in spans if s.name == "dump"):
            times = [(first_read[k], self._table_done[k]) for k in first_read
                     if k[0] == id(d) and k in self._table_done]
            if times:
                table_s = [e - b for b, e in times]
                self.pooled.setdefault("table", []).extend(table_s)
                busy = max(e for _, e in times) - min(b for b, _ in times)
                idle.append(1 - sum(table_s) / (busy * self.ncpu))
        if idle:
            m["engine.pool_idle_frac"] = statistics.median(idle)

        runs = [s for s in spans if s.name == "loader_dag.run"]
        jobs_s = [s.duration for s in spans if s.name == "loader_dag.job"]
        self.pooled.setdefault("loader_job", []).extend(jobs_s)
        m["loader_dag.run_s"] = sum(s.duration for s in runs)
        dags = [d for i, d in self._dags if i == it]
        width = max((d.parallelism for d in dags), default=1)
        if runs:
            m["loader_dag.idle_frac"] = 1 - sum(jobs_s) / (m["loader_dag.run_s"] * width)
        m["loader_dag.retries"] = sum(max(0, r.attempts - 1)
                                      for d in dags for r in d.results.values())

        prepare = [s for s in spans if s.name == "prepare"]
        if prepare:
            p = prepare[0]
            m["prepare.construct_s"] = total(outermost("prepare.op"))
            for s in spans:
                if s.name == "prepare.stage":
                    m[f"prepare.stage_s.{s.attrs['key']}"] = s.duration
                    m[f"prepare.kept_frac.{s.attrs['key']}"] = s.attrs["kept_frac"]
            m["prepare.stage_s.write"] = total(
                lambda s: s.name == "writers.parquet" and s.parent is p)
            m["prepare.docs_per_s"] = out["input_docs"] / p.duration

        self._label_by_jobs(spans, jobs)
        m.update(self._stage_metrics(stages, jobs, cycle_s, spans))
        self.per_iter.append(m)

    # -- Spark status store ------------------------------------------------

    def _spark_window(self, lo_ms: float, hi_ms: float):
        """Jobs and stages submitted in [lo_ms, hi_ms] (epoch ms)."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        jvm, gw = sc._jvm, sc._gateway

        def ms(opt):
            return opt.get().getTime() if opt.isDefined() else None

        jobs = []
        jl = store.jobsList(None)
        for i in range(jl.size()):
            j = jl.apply(i)
            sub = ms(j.submissionTime())
            if sub is not None and lo_ms <= sub <= hi_ms:
                jobs.append({"id": j.jobId(), "submit": sub,
                             "end": ms(j.completionTime()) or hi_ms})
        stages = []
        sl = store.stageList(None, False, False, gw.new_array(jvm.double, 0),
                             jvm.java.util.ArrayList())
        for i in range(sl.size()):
            s = sl.apply(i)
            sub = ms(s.submissionTime())
            if sub is None or not lo_ms <= sub <= hi_ms:
                continue
            desc = s.description()
            stages.append({
                "id": s.stageId(), "attempt": s.attemptId(), "submit": sub,
                "desc": desc.get() if desc.isDefined() else "",
                "tasks": s.numCompleteTasks(), "failed": s.numFailedTasks(),
                "run_ms": s.executorRunTime(), "cpu_ns": s.executorCpuTime(),
                "gc_ms": s.jvmGcTime(), "in": s.inputBytes(), "out": s.outputBytes(),
                "shuffle_w": s.shuffleWriteBytes(),
            })
        return jobs, stages

    def _label_by_jobs(self, spans: list[Span], jobs: list[dict]) -> None:
        """A span that returned a DataFrame but saw a Spark job start while
        it ran did execute work: relabel it."""
        t_off = time.time() - time.perf_counter()
        starts = sorted(j["submit"] / 1000 - t_off for j in jobs)
        for s in spans:
            if s.label == "construct" and any(s.start <= t <= s.end for t in starts):
                s.label = "execute"

    def _stage_metrics(self, stages, jobs, cycle_s: float, spans) -> dict:
        run_s = sum(s["run_ms"] for s in stages) / 1000
        m = {
            "spark.jobs": len(jobs), "spark.stages": len(stages),
            "spark.tasks": sum(s["tasks"] for s in stages),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
            "spark.gc_s": sum(s["gc_ms"] for s in stages) / 1000,
            "spark.core_busy_frac": run_s / (cycle_s * self.ncpu),
            "spark.input_bytes": sum(s["in"] for s in stages),
            "spark.output_bytes": sum(s["out"] for s in stages),
            "spark.shuffle_write_bytes": sum(s["shuffle_w"] for s in stages),
            "spark.failed_tasks": sum(s["failed"] for s in stages),
        }
        # JDBC scan skew: in each table's dump jobs the first stage with
        # more than one task is the partitioned JDBC scan (the MIN/MAX
        # bounds query before it runs as one task)
        if any(s.name == "catalog.read" and s.attrs.get("bounds") for s in spans):
            store = self.spark.sparkContext._jsc.sc().statusStore()
            first: dict[str, dict] = {}
            for s in sorted(stages, key=lambda s: s["id"]):
                if s["desc"].startswith("dump ") and s["tasks"] > 1:
                    first.setdefault(s["desc"], s)
            skews = []
            for s in first.values():
                tl = store.taskList(s["id"], s["attempt"], 100000)
                recs = [tl.apply(i).taskMetrics().get().inputMetrics().recordsRead()
                        for i in range(tl.size()) if tl.apply(i).taskMetrics().isDefined()]
                if recs and sum(recs):
                    skews.append(max(recs) / (sum(recs) / len(recs)))
            m["planner.partition_skew"] = max(skews, default=0.0)
        return m

    # -- results -----------------------------------------------------------

    def metrics(self, session_start_s: float, untraced_cycle_s: float,
                traced_cycle_s: float, names: list[str]) -> dict:
        """Per-layer metrics: the median over traced iterations of each
        per-iteration value (0 where the layer did not run), pooled p50 and
        tail for per-table and per-job times, and the tracing overhead."""
        out = {}
        for name in names:
            vals = [m.get(name, 0.0) for m in self.per_iter]
            out[name] = statistics.median(vals) if vals else 0.0
        pooled = {"manifest.verify_table_s": "verify_table", "engine.table_s": "table",
                  "loader_dag.job_s": "loader_job"}
        for prefix, key in pooled.items():
            samples = self.pooled.get(key, [])
            out[f"{prefix}_p50"] = statistics.median(samples) if samples else 0.0
            out[f"{prefix}_tail"] = tail(samples)
        out["session.start_s"] = session_start_s
        out["trace.overhead_s"] = traced_cycle_s - untraced_cycle_s
        return {n: out.get(n, 0.0) for n in names}

    def write_spans(self, path: str) -> None:
        """All spans, one JSON object per line, with their self time."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(id(s.parent), []).append(s)
        ids = {id(s): i for i, s in enumerate(self.spans)}
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": ids.get(id(s.parent)), "iteration": s.iteration,
                    "phase": s.phase, "label": s.label,
                    "self_s": self_time(s, children.get(id(s), [])),
                    **s.attrs}) + "\n")
