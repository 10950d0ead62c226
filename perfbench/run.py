#!/usr/bin/env python3
"""rbql_spark benchmark: one workload, one process, local[nproc], one
closed-loop client.

    python3 perfbench/run.py --workload interactive|pipeline \\
        --seed N --seconds S --trace 0|1

Phases of a run:
1. generate the workload's inputs from the seed (untimed);
2. launch the JVM, then set up three times -- `build_session` plus the
   workload's first op, stopping the previous session in between
   (`setup_s` = JVM launch + median set-up);
3. calibrate the box with `bench.calibrate` and evaluate every op's DuckDB
   reference (untimed);
4. two warm-up passes over every op (untimed);
5. measured passes: every op once per pass, in an order drawn from the
   seed; at least three passes, and then up to the pass boundary nearest
   to `--seconds`.

Each op's output is checked outside its timed region; an exception or a
mismatch counts as failed and the run goes on.  The last stdout line is
the result; the line before it carries calibration, load average, pass
count and the failed ops.  `--trace 1` wraps the library's layer
functions and reports per-layer metrics instead of end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 3
# after the cold pass an op still gets 10-20% faster in the next one while
# the JIT compiles, so two untimed passes come before the measured ones
WARMUP_PASSES = 2
MIN_PASSES = 3


def _isolate(work: Path) -> dict:
    """Per-run temp and Spark dirs inside the checkout, removed at the end:
    the gates cache replay dirs, classifier weights and centroids under
    the temp dir, and those must not carry over between runs."""
    tmp, local = work / 'tmp', work / 'spark-local'
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ['TMPDIR'] = str(tmp)
    tempfile.tempdir = None
    os.environ['SPARK_LOCAL_DIRS'] = str(local)
    # Python workers import rbql_spark (hosted evaluator, pandas UDFs)
    os.environ['PYTHONPATH'] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get('PYTHONPATH', '')) if p)
    # every JVM (launcher and driver): temp files in the run dir, and no
    # hsperfdata file under /tmp
    os.environ['JAVA_TOOL_OPTIONS'] = '-XX:-UsePerfData -Djava.io.tmpdir={}'.format(tmp)
    return {'spark.sql.warehouse.dir': str(work / 'warehouse'),
            'spark.ui.enabled': 'false',
            'spark.ui.showConsoleProgress': 'false',
            'spark.ui.retainedJobs': '100000',
            'spark.ui.retainedStages': '100000'}


def _launch_jvm(conf: dict) -> float:
    """Start the gateway JVM alone.  The settings become JVM system
    properties, which every later SparkConf (build_session's too) loads."""
    from pyspark import SparkConf, SparkContext
    t0 = time.perf_counter()
    SparkContext._ensure_initialized(conf=SparkConf(loadDefaults=False).setAll(conf.items()))
    return time.perf_counter() - t0


def _shutdown() -> None:
    """Stop the session and the JVM, if still up, and wait for the JVM."""
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    _stop_jvm()


def _stop_jvm() -> None:
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, 'proc', None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _vm_hwm_mb(pid) -> float:
    with open('/proc/{}/status'.format(pid)) as f:
        for line in f:
            if line.startswith('VmHWM:'):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Harness:
    def __init__(self, args, work: Path):
        self.args, self.work = args, work
        from perfbench.trace import Tracer
        self.tracer = Tracer(bool(args.trace))
        self.samples: list[tuple] = []
        self.warmup_errors: dict[str, str] = {}

    def _run_op(self, spark, op, phase):
        err, out = None, None
        with self.tracer.span('op', op=op.name, phase=phase):
            t0 = time.perf_counter()
            try:
                out = op.run(spark, self.tracer)
            except Exception as e:  # an op that raises is a failed sample
                err = '{}: {}'.format(type(e).__name__, str(e).splitlines()[0][:300] if str(e) else '')
            dt = time.perf_counter() - t0
        if err is None:
            try:
                err = op.check(out)
            except Exception as e:
                err = 'check {}: {}'.format(type(e).__name__, e)
        spark.catalog.clearCache()
        self.tracer.sweep()
        return dt, err

    def run(self):
        from perfbench import workloads
        from rbql_spark import session
        args, tracer = self.args, self.tracer
        conf = _isolate(self.work)
        os.chdir(self.work)   # stray warehouse/derby files land in the run dir
        tracer.install()
        marks = {'start': time.perf_counter() - T_START}
        wl = workloads.BUILDERS[args.workload](str(self.work), args.seed, str(ROOT), args.sf)
        rng = random.Random(args.seed)
        marks['inputs'] = time.perf_counter() - T_START

        jvm_launch_s = _launch_jvm(conf)
        spark, setups = None, []
        for k in range(SETUPS):
            if spark is not None:
                tracer.detach()
                spark.stop()
            t0 = time.perf_counter()
            with tracer.span('setup', cycle=k):
                spark = session.build_session(app_name='perfbench')
                tracer.attach(spark)
                spark.sparkContext.setLogLevel('ERROR')
                wl.first_op.run(spark, tracer)
            setups.append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        marks['setup'] = time.perf_counter() - T_START
        import bench
        with tracer.span('calibrate'):
            cal = bench.calibrate(spark)
        marks['calibrate'] = time.perf_counter() - T_START
        wl.prepare()
        marks['oracle'] = time.perf_counter() - T_START
        load_start = os.getloadavg()

        for _ in range(WARMUP_PASSES):
            for op in rng.sample(wl.ops, len(wl.ops)):
                _dt, err = self._run_op(spark, op, 'warmup')
                if err:
                    self.warmup_errors.setdefault(op.name, err)

        marks['warmup'] = time.perf_counter() - T_START
        gc0 = tracer.gc_seconds(spark) if tracer.enabled else 0.0
        # whole passes only, so every op has the same number of samples:
        # at least MIN_PASSES, and then up to the pass boundary nearest to
        # --seconds
        t_start = time.perf_counter()
        pass_times: list[float] = []
        while True:
            t_pass = time.perf_counter()
            for op in rng.sample(wl.ops, len(wl.ops)):
                dt, err = self._run_op(spark, op, 'measure')
                self.samples.append((op.name, dt, err))
            pass_times.append(time.perf_counter() - t_pass)
            elapsed = time.perf_counter() - t_start
            if (len(pass_times) >= MIN_PASSES
                    and elapsed + elapsed / len(pass_times) / 2 >= args.seconds):
                break
        passes = len(pass_times)
        measure_s = time.perf_counter() - t_start
        gc_s = tracer.gc_seconds(spark) - gc0 if tracer.enabled else 0.0
        jvm_pid = spark.sparkContext._gateway.jvm.java.lang.ProcessHandle.current().pid()
        jvm_rss, py_rss = _vm_hwm_mb(jvm_pid), _vm_hwm_mb('self')
        tracer.detach()
        _shutdown()
        tracer.uninstall()
        marks['shutdown'] = time.perf_counter() - T_START

        failed = [s for s in self.samples if s[2] is not None]
        per_op: dict[str, list[float]] = {}
        for name, dt, err in self.samples:
            if err is None:
                per_op.setdefault(name, []).append(dt)
        # each op's median over the passes, so one slow pass (a noisy
        # neighbour, a GC) does not move the run's figures; the geometric
        # mean weighs a relative change of every op alike, where a median
        # across ops would jump between ops of similar cost
        op_median = [_median(v) for v in per_op.values()]
        pass_s = sum(op_median)
        gmean = math.exp(sum(map(math.log, op_median)) / len(op_median)) if op_median else 0.0
        e2e = {
            'setup_s': (jvm_launch_s + _median(setups), 's'),
            'latency_s': (gmean, 's'),
            'ops_per_s': (len(op_median) / pass_s if pass_s else 0.0, '1/s'),
        }
        detail = {
            'workload': args.workload, 'seed': args.seed, 'trace': args.trace,
            'passes': passes, 'samples': len(self.samples), 'measure_s': round(measure_s, 3),
            'pass_s': pass_s, 'peak_rss_mb': jvm_rss + py_rss,
            'failed_ratio': len(failed) / max(1, len(self.samples)),
            'failed_ops': sorted({s[0] for s in failed}),
            'first_errors': {s[0]: s[2] for s in failed},
            'warmup_errors': self.warmup_errors,
            'jvm_launch_s': jvm_launch_s, 'setups_s': setups,
            'input_mb': wl.input_bytes / 1e6,
            'op_median_s': {k: round(_median(v), 4) for k, v in sorted(per_op.items())},
            'op_samples_s': {k: [round(x, 3) for x in v] for k, v in sorted(per_op.items())},
            'pass_times_s': [round(x, 3) for x in pass_times],
            'marks_s': {k: round(v, 2) for k, v in marks.items()},
            'calibration': cal,
            'loadavg': {'start': list(load_start), 'end': list(os.getloadavg())},
        }
        if tracer.enabled:
            from perfbench.layers import layer_metrics
            metrics = layer_metrics(tracer, wl, self.samples, e2e['latency_s'][0], pass_s,
                                    gc_s, jvm_rss, py_rss)
            assigned = len(tracer._seen_jobs) - tracer.unassigned_jobs
            detail['jobs'] = {'assigned': assigned, 'store': tracer.store_jobs}
            out_dir = ROOT / '.perfbench'
            out_dir.mkdir(exist_ok=True)
            tracer.write(str(out_dir / 'spans-{}-s{}.json'.format(args.workload, args.seed)))
        else:
            metrics = e2e
        result = {
            'correct': not failed,
            'attempted': len(self.samples),
            'failed': len(failed),
            'metrics': {k: {'value': v, 'unit': u} for k, (v, u) in metrics.items()},
        }
        return detail, result


def main(argv=None) -> int:
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import BUILDERS
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument('--workload', required=True, choices=sorted(BUILDERS))
    ap.add_argument('--seed', type=int, default=1)
    ap.add_argument('--seconds', type=float, default=10.0)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    ap.add_argument('--sf', type=float, default=None,
                    help='input scale factor instead of the workload default (self-test)')
    args = ap.parse_args(argv)
    if not (ROOT / 'rbql_spark' / '__init__.py').is_file():
        print('perfbench: no rbql_spark package in {}; run from a full checkout'.format(ROOT),
              file=sys.stderr)
        return 2
    work = ROOT / '.perfbench' / 'run-{}-{}-{}'.format(args.workload, args.seed, os.getpid())
    cwd = os.getcwd()
    try:
        detail, result = Harness(args, work).run()
    finally:
        _shutdown()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == '__main__':
    sys.exit(main())
