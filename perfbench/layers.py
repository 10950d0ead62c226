"""Per-layer metrics of a traced run, computed from its spans.

Times and counts are per measured op (total over the measured passes
divided by the number of op samples), so runs of different lengths
compare.  A layer that a workload does not reach reports 0.
"""

from __future__ import annotations

import statistics

from perfbench.workloads import PIPELINE_BATCH, PIPELINE_STREAM

ACTIONS = ('execute', 'sources.csv.write', 'api.collect')
MB = 1e6


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def names() -> list[tuple[str, str]]:
    """(metric, unit) of every per-layer metric, in report order."""
    out = [('session.build_s', 's'), ('parser.parse_s', 's'), ('engine.run_query_s', 's'),
           ('engine.eager_jobs', 'count'), ('binding.make_workframe_s', 's'),
           ('translator.native_exprs', 'count'), ('translator.hosted_exprs', 'count'),
           ('translator.native_ratio', 'ratio'), ('tuning.apply_plan_width_s', 's'),
           ('tuning.shuffle_tasks', 'count'), ('sources.csv.read_s', 's'),
           ('sources.csv.read_jobs', 'count'), ('sources.csv.write_s', 's'),
           ('sources.csv.output_mb', 'MB'), ('api.query_table_self_s', 's'),
           ('api.collect_s', 's'), ('execute.s', 's'), ('execute.jobs', 'count'),
           ('execute.stages', 'count'), ('execute.tasks', 'count'),
           ('execute.executor_run_s', 's'), ('execute.executor_cpu_s', 's'),
           ('execute.shuffle_write_mb', 'MB'), ('execute.shuffle_read_mb', 'MB'),
           ('execute.spill_mb', 'MB'), ('execute.failed_tasks', 'count')]
    for g in PIPELINE_BATCH:
        out += [('ops.{}.build_s'.format(g), 's'), ('ops.{}.build_jobs'.format(g), 'count'),
                ('ops.{}.execute_s'.format(g), 's')]
    out.append(('ops.batch_pass_s', 's'))
    for g in PIPELINE_STREAM:
        out += [('streaming.{}.batches'.format(g), 'count'),
                ('streaming.{}.batch_s.p50'.format(g), 's'),
                ('streaming.{}.add_batch_s'.format(g), 's'),
                ('streaming.{}.query_planning_s'.format(g), 's'),
                ('streaming.{}.wal_commit_s'.format(g), 's')]
    out += [('streaming.pass_s', 's'), ('streaming.state_rows', 'count'),
            ('jvm.gc_s', 's'), ('jvm.peak_rss_mb', 'MB'), ('driver.peak_rss_mb', 'MB'),
            ('trace.latency_s', 's'), ('trace.pass_s', 's'), ('trace.bookkeeping_s', 's')]
    return out


def layer_metrics(tracer, wl, samples, latency_s, pass_s, gc_s, jvm_rss, py_rss) -> dict:
    spans = tracer.spans
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)

    def tree(root):
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, ()))
        return out

    def outermost(sp, names_):
        """True when no ancestor of `sp` has one of `names_`."""
        p = sp.parent
        while p is not None:
            if spans[p].name in names_:
                return False
            p = spans[p].parent
        return True

    measured = [s for s in spans if s.name == 'op' and s.attrs.get('phase') == 'measure']
    n = max(1, len(measured))
    inside = [x for m in measured for x in tree(m)]
    by_name: dict[str, list] = {}
    for s in inside:
        by_name.setdefault(s.name, []).append(s)

    def total(name, fn=lambda s: s.dur, only_outer=True):
        return sum(fn(s) for s in by_name.get(name, ())
                   if not only_outer or outermost(s, (name,)))

    def self_t(s):
        return s.dur - sum(c.dur for c in kids.get(s.id, ()))

    def jobs_under(s):
        return sum(len(x.jobs) for x in tree(s))

    def stage_sum(field, ss=inside):
        return sum(x.stages[field] for x in ss)

    native = total('engine.run_query', lambda s: s.attrs.get('native', 0))
    hosted = total('engine.run_query', lambda s: s.attrs.get('hosted', 0))
    m = {
        'session.build_s': _median([s.dur for s in spans if s.name == 'session.build']),
        'parser.parse_s': total('parser.parse') / n,
        'engine.run_query_s': total('engine.run_query', self_t, only_outer=False) / n,
        'engine.eager_jobs': total('engine.run_query', jobs_under) / n,
        'binding.make_workframe_s': total('binding.make_workframe') / n,
        'translator.native_exprs': native / n,
        'translator.hosted_exprs': hosted / n,
        'translator.native_ratio': native / (native + hosted) if native + hosted else 0.0,
        'tuning.apply_plan_width_s': total('tuning.apply_plan_width') / n,
        'tuning.shuffle_tasks': stage_sum('shuffle_tasks') / n,
        'sources.csv.read_s': total('sources.csv.read') / n,
        'sources.csv.read_jobs': total('sources.csv.read', jobs_under) / n,
        'sources.csv.write_s': total('sources.csv.write') / n,
        'sources.csv.output_mb': sum(getattr(op, 'out_bytes', 0) for op in wl.ops) / MB / n,
        'api.query_table_self_s': total('api.query_table', self_t, only_outer=False) / n,
        'api.collect_s': total('api.collect') / n,
        'execute.s': sum(s.dur for s in inside if s.name in ACTIONS and outermost(s, ACTIONS)) / n,
        'execute.jobs': sum(len(s.jobs) for s in inside) / n,
        'execute.stages': stage_sum('stages') / n,
        'execute.tasks': stage_sum('tasks') / n,
        'execute.executor_run_s': stage_sum('executor_run_ms') / 1e3 / n,
        'execute.executor_cpu_s': stage_sum('executor_cpu_ns') / 1e9 / n,
        'execute.shuffle_write_mb': stage_sum('shuffle_write_bytes') / MB / n,
        'execute.shuffle_read_mb': stage_sum('shuffle_read_bytes') / MB / n,
        'execute.spill_mb': stage_sum('spill_bytes') / MB / n,
        'execute.failed_tasks': stage_sum('failed_tasks') / n,
    }

    lat_by_op: dict[str, list[float]] = {}
    for name, dt, err in samples:
        if err is None:
            lat_by_op.setdefault(name, []).append(dt)
    op_spans: dict[str, list] = {}
    for s in measured:
        op_spans.setdefault(s.attrs['op'], []).append(s)

    for g in PIPELINE_BATCH:
        builds = [b for s in op_spans.get(g, ()) for b in kids.get(s.id, ())
                  if b.name == 'ops.build']
        execs = [b for s in op_spans.get(g, ()) for b in kids.get(s.id, ())
                 if b.name == 'execute']
        m['ops.{}.build_s'.format(g)] = _median([b.dur for b in builds])
        m['ops.{}.build_jobs'.format(g)] = _median([jobs_under(b) for b in builds])
        m['ops.{}.execute_s'.format(g)] = _median([b.dur for b in execs])
    m['ops.batch_pass_s'] = sum(_median(lat_by_op.get(g, ())) for g in PIPELINE_BATCH)

    state_rows = []
    for g in PIPELINE_STREAM:
        drains = [tracer.progress.get(s.id, []) for s in op_spans.get(g, ())]

        def per_drain(key, drains=drains):
            return _median([sum(b['ms'].get(key, 0) for b in d) / 1e3 for d in drains])
        m['streaming.{}.batches'.format(g)] = _median([len(d) for d in drains])
        m['streaming.{}.batch_s.p50'.format(g)] = _median(
            [b['ms'].get('triggerExecution', 0) / 1e3 for d in drains for b in d])
        m['streaming.{}.add_batch_s'.format(g)] = per_drain('addBatch')
        m['streaming.{}.query_planning_s'.format(g)] = per_drain('queryPlanning')
        m['streaming.{}.wal_commit_s'.format(g)] = per_drain('walCommit')
        state_rows += [max(b['state_rows'] for b in d) for d in drains if d]
    m['streaming.pass_s'] = sum(_median(lat_by_op.get(g, ())) for g in PIPELINE_STREAM)
    m['streaming.state_rows'] = _median(state_rows)

    m['jvm.gc_s'] = gc_s / n
    m['jvm.peak_rss_mb'] = jvm_rss
    m['driver.peak_rss_mb'] = py_rss
    m['trace.latency_s'] = latency_s
    m['trace.pass_s'] = pass_s
    m['trace.bookkeeping_s'] = tracer.bookkeeping_s / n
    return {k: (float(m[k]), unit) for k, unit in names()}
