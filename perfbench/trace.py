"""Span tracing for the benchmark's traced mode, kept outside the library.

* Public functions of the library's layers are wrapped at run time
  (`Tracer.install`); every wrapped call becomes a span.
* Each span runs under its own Spark job group, so the jobs it launches
  can be told apart.  Streaming micro-batch jobs carry the query's run id
  as their group; a `StreamingQueryListener` maps that id to the span that
  started the query and records each batch's progress.
* Job and stage statistics come from the SparkContext status store over
  py4j after each top-level span (`Tracer.sweep`), so they are read
  outside the timed region.
* Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import importlib
import json
import threading
import time
from contextlib import contextmanager

# (module, attribute, span name): the layer boundaries of rbql_spark.
# `run_query` is bound by name into `api`, so both bindings are wrapped.
WRAPPED = (
    ('rbql_spark.session', 'build_session', 'session.build'),
    ('rbql_spark.parser', 'parse_query', 'parser.parse'),
    ('rbql_spark.engine', 'run_query', 'engine.run_query'),
    ('rbql_spark.api', 'run_query', 'engine.run_query'),
    ('rbql_spark.engine', 'make_workframe', 'binding.make_workframe'),
    ('rbql_spark.tuning', 'apply_plan_width', 'tuning.apply_plan_width'),
    ('rbql_spark.sources.csv', 'read_csv', 'sources.csv.read'),
    ('rbql_spark.sources.csv', 'write_csv', 'sources.csv.write'),
    ('rbql_spark.api', 'query_table', 'api.query_table'),
    ('rbql_spark.api', 'collect_result_rows', 'api.collect'),
)

STAGE_FIELDS = ('stages', 'tasks', 'executor_run_ms', 'executor_cpu_ns', 'shuffle_write_bytes',
                'shuffle_read_bytes', 'spill_bytes', 'failed_tasks', 'shuffle_tasks')


class Span:
    __slots__ = ('id', 'name', 'parent', 'attrs', 't0', 't1', 'wall0', 'wall1', 'jobs', 'stages')

    def __init__(self, sid, name, parent, attrs):
        self.id, self.name, self.parent, self.attrs = sid, name, parent, attrs
        self.t0 = self.t1 = 0.0
        self.wall0 = self.wall1 = 0.0
        self.jobs: list[int] = []
        self.stages = dict.fromkeys(STAGE_FIELDS, 0)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def as_dict(self) -> dict:
        return {'id': self.id, 'name': self.name, 'parent': self.parent, 'attrs': self.attrs,
                'start': self.t0, 'end': self.t1, 'jobs': self.jobs, 'stages': self.stages}


class Tracer:
    """Records spans; with `enabled=False` every method is a no-op, so the
    untraced run executes exactly the library calls and nothing more."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._ctx = 0
        self._seen_jobs: set[tuple[int, int]] = set()
        self.unassigned_jobs = 0
        self.store_jobs = 0
        self._run_span: dict[str, int] = {}
        self.progress: dict[int, list[dict]] = {}
        self._lock = threading.Lock()
        self._originals: list[tuple[object, str, object]] = []
        self._listener = None
        self.bookkeeping_s = 0.0

    # -- wrapping ---------------------------------------------------------
    def install(self) -> None:
        if not self.enabled:
            return
        for mod_name, attr, span_name in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._originals.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, span_name))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._originals):
            setattr(mod, attr, orig)
        self._originals.clear()

    def _wrap(self, fn, span_name):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(span_name) as sp:
                out = fn(*args, **kwargs)
                tel = getattr(out, 'telemetry', None)
                if isinstance(tel, dict):   # StageResult: translator decisions
                    sp.attrs['native'] = tel.get('native_count', 0)
                    sp.attrs['hosted'] = tel.get('fallback_count', 0)
                return out
        return traced

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp.wall0, sp.t0 = time.time(), time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1, sp.wall1 = time.perf_counter(), time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp) -> None:
        if self._sc is None:
            return
        if sp is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup('pb{}'.format(sp.id), sp.name)

    # -- Spark state ------------------------------------------------------
    def attach(self, spark) -> None:
        """Follow a (new) SparkContext; called after every build_session."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        self._ctx += 1
        self._set_group(self._stack[-1] if self._stack else None)
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                # delivered synchronously from start(): the span stack is
                # the one that started the query
                with tracer._lock:
                    top = tracer._stack[0] if tracer._stack else None
                    tracer._run_span[str(event.runId)] = top.id if top else -1

            def onQueryProgress(self, event):
                p = event.progress
                with tracer._lock:
                    sid = tracer._run_span.get(str(p.runId), -1)
                    tracer.progress.setdefault(sid, []).append({
                        'batch': p.batchId, 'rows': p.numInputRows,
                        'ms': dict(p.durationMs),
                        'state_rows': sum(s.numRowsTotal for s in p.stateOperators)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def detach(self) -> None:
        """Account every job of the current context before it is stopped."""
        if not self.enabled or self._sc is None:
            return
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        self.store_jobs += self.sweep()
        self._sc = None

    def sweep(self) -> int:
        """Assign finished jobs of the current context to spans.

        A job in one of our groups belongs to that span.  Any other job (a
        streaming micro-batch, or one launched from a thread without the
        group) belongs to the top-level span whose wall interval holds its
        submission time; one outside every span stays unassigned, which
        the self-test reports."""
        if not self.enabled or self._sc is None:
            return 0
        t0 = time.perf_counter()
        jsc = self._sc._jsc.sc()
        gw = self._sc._gateway
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        n = jobs.length()
        no_tasks = gw.jvm.java.util.ArrayList()
        no_q = gw.new_array(gw.jvm.double, 0)
        for i in range(n):
            j = jobs.apply(i)
            jid = j.jobId()
            key = (self._ctx, jid)
            if key in self._seen_jobs or str(j.status().toString()) == 'RUNNING':
                continue
            self._seen_jobs.add(key)
            grp = j.jobGroup()
            grp = str(grp.get()) if grp.isDefined() else ''
            sp = None
            if grp.startswith('pb') and grp[2:].isdigit():
                sp = self.spans[int(grp[2:])]
            else:
                sid = self._run_span.get(grp)
                if sid is not None and sid >= 0:
                    sp = self.spans[sid]
                else:
                    sub = j.submissionTime()
                    at = sub.get().getTime() / 1000.0 if sub.isDefined() else None
                    sp = self._top_span_at(at)
            if sp is None:
                self.unassigned_jobs += 1
                continue
            sp.jobs.append(jid)
            sids = j.stageIds()
            for k in range(sids.length()):
                for s in _iter_seq(store.stageData(sids.apply(k), False, no_tasks, False, no_q)):
                    if str(s.status().toString()) in ('SKIPPED', 'PENDING'):
                        continue
                    st = sp.stages
                    st['stages'] += 1
                    st['tasks'] += s.numCompleteTasks()
                    st['failed_tasks'] += s.numFailedTasks()
                    st['executor_run_ms'] += s.executorRunTime()
                    st['executor_cpu_ns'] += s.executorCpuTime()
                    st['shuffle_write_bytes'] += s.shuffleWriteBytes()
                    st['shuffle_read_bytes'] += s.shuffleReadBytes()
                    st['spill_bytes'] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    if s.shuffleReadBytes() > 0:
                        st['shuffle_tasks'] += s.numCompleteTasks()
        self.bookkeeping_s += time.perf_counter() - t0
        return n

    def _top_span_at(self, wall):
        if wall is None:
            return None
        for sp in self.spans:
            if sp.parent is None and sp.wall0 - 0.05 <= wall <= (sp.wall1 or time.time()) + 0.05:
                return sp
        return None

    def gc_seconds(self, spark) -> float:
        beans = spark.sparkContext._gateway.jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def write(self, path: str) -> None:
        with open(path, 'w') as f:
            json.dump({'spans': [s.as_dict() for s in self.spans],
                       'streaming': {str(k): v for k, v in self.progress.items()}}, f)


def _iter_seq(seq):
    for i in range(seq.length()):
        yield seq.apply(i)

