#!/usr/bin/env python3
"""Benchmark of the production extraction job path.

    python3 perfbench/run.py --workload paystubs_flagship --seed 1 \\
        --seconds 15 --trace 0

Runs one workload (see perfbench/workloads.py and perfbench/README.md)
through `spark.pipeline.run_extraction_job`: seeded parquet input in
the input-contract schema → job → bucketed parquet output plus
lineage.  Load model: a batch job in a closed loop, one job call at a
time, from this single driver process on local[SPARK_GRAFT_CPUS]
(default: the CPUs this process may run on).

--trace 0 prints the end-to-end metrics (docs_per_s, setup_s,
peak_rss_mb; error_ratio on the summary line); --trace 1 is the separate
traced run that prints the per-layer metrics.  Either way the output is
checked and the last line of stdout is one JSON object.  Exit status is
non-zero on any wrong output, and when the program is not there.

Everything the run writes goes under .perfbench/ in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow.dataset as ds

import probes
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, '.perfbench')
DEADLINE_S = 170        # the whole run, set-up and checks included
SETUPS = 3              # set-ups per untraced run; setup_s is their median
MIN_CALLS = 2           # timed job calls per untraced run, at least


def parse_args():
  ap = argparse.ArgumentParser(description=__doc__.split('\n')[0])
  ap.add_argument('--workload', required=True)
  ap.add_argument('--seed', type=int, required=True)
  ap.add_argument('--seconds', type=float, required=True)
  ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
  return ap.parse_args()


def prepare_environment() -> int:
  """Point every process the run starts at the checkout: the package
  path for Spark's Python workers, and temp / Spark local dirs inside
  .perfbench.  Returns the core count."""
  tmp = os.path.join(WORK, 'tmp')
  os.makedirs(tmp, exist_ok=True)
  path = os.environ.get('PYTHONPATH')
  os.environ['PYTHONPATH'] = REPO + (os.pathsep + path if path else '')
  os.environ['TMPDIR'] = tmp
  os.environ['SPARK_LOCAL_DIRS'] = os.path.join(WORK, 'spark-local')
  # the JVM's perf-data file would otherwise land in /tmp
  os.environ['JAVA_TOOL_OPTIONS'] = (
      os.environ.get('JAVA_TOOL_OPTIONS', '') + ' -XX:-UsePerfData').strip()
  import tempfile
  tempfile.tempdir = None
  if REPO not in sys.path:
    sys.path.insert(0, REPO)
  cpus = os.environ.get('SPARK_GRAFT_CPUS')
  return int(cpus) if cpus else len(os.sched_getaffinity(0))


def start_session(cores: int):
  from pyspark.sql import SparkSession
  spark = (SparkSession.builder
           .master(f'local[{cores}]')
           .appName('perfbench')
           .config('spark.ui.enabled', 'false')
           .config('spark.ui.showConsoleProgress', 'false')
           .config('spark.sql.shuffle.partitions', str(cores))
           .config('spark.sql.execution.arrow.pyspark.enabled', 'true')
           .config('spark.sql.session.timeZone', 'UTC')
           .config('spark.sql.warehouse.dir',
                   os.path.join(WORK, 'warehouse'))
           .config('spark.driver.extraJavaOptions',
                   f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
                   '-Xms1g -XX:+AlwaysPreTouch')
           .getOrCreate())
  spark.sparkContext.setLogLevel('ERROR')
  return spark


def stop_everything(spark) -> None:
  """Stop Spark, then the gateway JVM (it exits when its stdin
  closes), and wait for it."""
  from pyspark import SparkContext
  if spark is not None:
    spark.stop()
  gw = SparkContext._gateway
  if gw is None:
    return
  proc = getattr(gw, 'proc', None)
  gw.shutdown()
  SparkContext._gateway = SparkContext._jvm = None
  if proc is not None:
    proc.stdin.close()
    try:
      proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
      proc.kill()
      proc.wait(timeout=30)


class Run:
  """One benchmark run of one workload."""

  def __init__(self, wl, cores: int, seconds: float):
    self.wl = wl
    self.cores = cores
    self.seconds = seconds
    self.root = wl.root()
    self.spark = None
    self.input_dir = None
    self.n_input = 0

  def transform(self):
    if self.root is not None:
      from blueprint_oss_spark.spark.pipeline import extract_documents
      root = self.root
      return lambda df: extract_documents(df, root)
    return self.wl.transform()

  def start(self) -> float:
    """Cold set-up: launch the JVM with the first SparkSession, write
    this seed's input table if it is not there yet (not timed), then
    warm up.  Returns the set-up seconds."""
    t0 = time.perf_counter()
    self.spark = start_session(self.cores)
    t1 = time.perf_counter()
    self.input_dir = self.wl.ensure_input(self.spark, WORK)
    self.n_input = ds.dataset(self.input_dir, format='parquet').count_rows()
    t2 = time.perf_counter()
    self.warm_up()
    t3 = time.perf_counter()
    print(f'{self.wl.name} jvm_start_s={t1 - t0:.3f} input_s={t2 - t1:.3f}')
    return (t1 - t0) + (t3 - t2)

  def restart(self) -> float:
    """Stop the SparkSession, then time getting ready again on the
    running JVM."""
    self.spark.stop()
    t0 = time.perf_counter()
    self.spark = start_session(self.cores)
    self.warm_up()
    return time.perf_counter() - t0

  def warm_up(self) -> None:
    """Get ready for the first document: Python workers fork and import
    the package, the blueprint is compiled and broadcast, and the
    transform runs over a one-batch slice spread over every core into
    Spark's no-op sink."""
    df = self.spark.read.parquet(self.input_dir)
    self.noop_pass(self.transform(),
                   df.limit(8 * self.cores).repartition(self.cores))

  def prime(self, out_root: str, checker: 'Checker') -> float:
    """An untimed, checked job call over the whole input: the JVM's first
    pass through the job's write and lineage path runs about 40% slower
    than later ones.  Returns its seconds."""
    dt, lineage = self.job(os.path.join(out_root, 'prime'))
    checker.lineage(lineage, self.n_input)
    return dt

  def job(self, out_dir: str, df=None) -> tuple:
    """One run_extraction_job call over the input table (or `df`);
    returns (seconds, lineage)."""
    from blueprint_oss_spark.spark.pipeline import run_extraction_job
    if df is None:
      df = self.spark.read.parquet(self.input_dir)
    t0 = time.perf_counter()
    lineage = run_extraction_job(self.spark, df, out_dir, self.root,
                                 transform=self.wl.transform())
    return time.perf_counter() - t0, lineage

  def noop_pass(self, transform, df=None) -> float:
    """Time `transform` over the input table (or `df`) into Spark's
    no-op sink."""
    if df is None:
      df = self.spark.read.parquet(self.input_dir)
    t0 = time.perf_counter()
    transform(df).write.format('noop').mode('overwrite').save()
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# Correctness
# ---------------------------------------------------------------------------

def written(lineage) -> int:
  """Docs the job wrote, from its lineage rows."""
  return sum(r['metrics']['docs'] for r in lineage)


class Checker:
  """Counts docs attempted and failed; a doc fails when its output row
  is missing, is an error row, or differs from its expected result."""

  def __init__(self):
    self.attempted = 0
    self.failed = 0
    self.problems = []

  def lineage(self, lineage, n_input: int) -> None:
    """Per-call counts from the lineage rows: every input doc written
    once, none of them an error row."""
    docs = written(lineage)
    errors = sum(r['metrics'].get('errors') or 0 for r in lineage)
    self.attempted += n_input
    bad = abs(n_input - docs) + errors
    self.failed += bad
    if bad:
      self.problems.append(f'lineage: {docs} docs written of {n_input}, '
                           f'{errors} error rows')

  def compare(self, label: str, rows: dict, expected: dict) -> None:
    """Compare output rows against expected results by doc_id.  Missing
    docs and error rows were already counted by `lineage`; here a doc
    fails when its row differs from the expected result."""
    for doc_id, want in expected.items():
      row = rows.get(doc_id)
      why = workloads.mismatch(row, want)
      if why:
        if row is not None and not row.get('error'):
          self.failed += 1
        if len(self.problems) < 10:
          self.problems.append(f'{label} {doc_id}: {why}')

  @property
  def correct(self) -> bool:
    return not self.problems


def in_process(run: Run, sample, tracer: probes.Tracer,
               wrap: bool) -> dict:
  """Run the sample through the engine in this process — run_doc, or
  main_content_doc — one span per doc, under the layer wrappers when
  `wrap`.  Returns each doc's result in the shape `mismatch` expects."""
  from blueprint_oss_spark.engine import runner
  from blueprint_oss_spark.ops import html_extract
  from blueprint_oss_spark.spark.pipeline import (
      compile_blueprint, tree_from_payload)
  tree = (tree_from_payload(compile_blueprint(run.root))
          if run.root is not None else None)
  results = {}
  with (probes.layer_wrappers(tracer) if wrap
        else contextlib.nullcontext()):
    for doc_id, spans in sample:
      if tree is None:
        with tracer.span('html_extract.main_content_doc', doc=doc_id):
          html_extract.main_content_doc(spans)
        continue
      rows = [(s['kind'], s['text'] or '', s['media_ref'] or '',
               int(s['offset'])) for s in spans]
      with tracer.span('runner.run_doc', doc=doc_id):
        r = runner.run_doc(doc_id, rows, tree, pre_optimized=True)
      results[doc_id] = {
          'fields': r['fields'], 'score': round(r['score'], 9),
          'n_entities': r['n_entities'], 'n_words': r['n_words'],
          'out_spans': [tuple(s) for s in r['out_spans']]}
  return results


# ---------------------------------------------------------------------------
# The two kinds of run
# ---------------------------------------------------------------------------

def measure(run: Run, checker: Checker) -> dict:
  """Untraced run: the cold set-up, an untimed priming call, timed job
  calls while another one is expected to end within --seconds and at
  least MIN_CALLS of them, then SETUPS - 1 more set-ups (restarts on the
  running JVM).  The restarts come last so that the timed calls run on
  the workers the priming call warmed up."""
  setups = [run.start()]
  out_root = os.path.join(WORK, 'out')
  shutil.rmtree(out_root, ignore_errors=True)
  prime_s = run.prime(out_root, checker)
  jvm_pid = run.spark._jvm.java.lang.ProcessHandle.current().pid()
  calls = []
  with probes.PeakRss(jvm_pid) as rss:
    t_start = time.perf_counter()
    while (len(calls) < MIN_CALLS
           or time.perf_counter() - t_start + calls[-1][0] <= run.seconds):
      out_dir = os.path.join(out_root, f'call-{len(calls)}')
      dt, lineage = run.job(out_dir)
      calls.append((dt, lineage, out_dir))
  setups += [run.restart() for _ in range(SETUPS - 1)]
  rates = []
  for dt, lineage, _ in calls:
    checker.lineage(lineage, run.n_input)
    rates.append(written(lineage) / dt)
  wl = run.wl
  rows = workloads.read_output(calls[-1][2], wl.output_columns)
  checker.compare('oracle', rows, wl.expected(WORK))
  if run.root is not None:
    sample = wl.sample(run.input_dir, wl.check_sample)
    results = in_process(run, sample, probes.Tracer('check'), wrap=False)
    checker.compare('run_doc', rows, results)
  q = statistics.quantiles(rates, n=4) if len(rates) > 1 else rates * 3
  print(f'{wl.name} seed={wl.seed} docs={run.n_input} calls={len(calls)} '
        f'docs_per_s median={statistics.median(rates):.2f} '
        f'q1={q[0]:.2f} q3={q[2]:.2f} prime_s={prime_s:.2f} '
        f'call_s={[round(c[0], 2) for c in calls]} | setup_s median='
        f'{statistics.median(setups):.3f} of '
        f'{[round(s, 3) for s in setups]} | peak_rss_mb={rss.mb:.1f} '
        f'(jvm {rss.hwm.get(jvm_pid, 0) / 1024:.1f}) | '
        f'error_ratio={checker.failed / checker.attempted:.6f} '
        f'({checker.failed}/{checker.attempted})')
  return {
      'docs_per_s': (statistics.median(rates), '1/s'),
      'setup_s': (statistics.median(setups), 's'),
      'peak_rss_mb': (rss.mb, 'MB'),
  }


def traced(run: Run, checker: Checker) -> dict:
  """Traced run: the per-layer numbers."""
  from pyspark.sql import Observation, functions as F
  from blueprint_oss_spark.spark.pipeline import compile_blueprint
  wl = run.wl
  tracer = probes.Tracer(f'{wl.name}-seed{wl.seed}-{os.getpid()}')
  with tracer.span('setup'):
    run.start()
  sc = run.spark.sparkContext
  out_root = os.path.join(WORK, 'out')
  shutil.rmtree(out_root, ignore_errors=True)
  plain, traced_calls = [], []

  def plain_call():
    dt, lineage = run.job(os.path.join(out_root, f'plain-{len(plain)}'))
    checker.lineage(lineage, run.n_input)
    plain.append(written(lineage) / dt)

  # after the priming call, plain and traced calls alternate, starting
  # and ending with a plain one, so that a warm-up trend does not bias
  # trace.overhead_ratio; another traced and plain pair runs while it
  # fits in --seconds
  with tracer.span('prime'):
    run.prime(out_root, checker)
  t_start = time.perf_counter()
  plain_call()
  while (not traced_calls
         or time.perf_counter() - t_start + 2 * traced_calls[-1][0]
         <= run.seconds):
    group = f'perfbench-{len(traced_calls)}'
    out_dir = os.path.join(out_root, f'traced-{len(traced_calls)}')
    df = run.spark.read.parquet(run.input_dir)
    sc.setJobGroup(group, 'traced run_extraction_job call')
    with tracer.span('pipeline.run_extraction_job') as job_span:
      dt, lineage = run.job(out_dir, df)
    sc.setLocalProperty('spark.jobGroup.id', None)
    checker.lineage(lineage, run.n_input)
    stages = probes.group_tasks(run.spark, group)
    for sid, tasks in stages.items():
      for start, dur in tasks:
        tracer.add('spark.task', start, start + dur, job_span['id'],
                   stage=sid)
    traced_calls.append((dt, lineage, out_dir, stages,
                         len(sc.statusTracker().getJobIdsForGroup(group))))
    plain_call()
  dt, lineage, out_dir, stages, n_jobs = traced_calls[-1]
  docs = written(lineage)
  traced_rate = statistics.median([written(c[1]) / c[0]
                                   for c in traced_calls])

  engine_core = Observation('engine_core')

  def observed(df):
    out = run.transform()(df)
    if run.root is None:
      return out
    return out.observe(engine_core, F.sum('elapsed_ms').alias('ms'))
  with tracer.span('pipeline.single_pass'):
    single_pass_s = run.noop_pass(observed)
  with tracer.span('pipeline.scan'):
    scan_s = run.noop_pass(lambda df: df)

  rows = workloads.read_output(out_dir, wl.output_columns)
  checker.compare('oracle', rows, wl.expected(WORK))
  sample = wl.sample(run.input_dir, wl.trace_sample)
  with tracer.span('in_process'):
    results = in_process(run, sample, tracer, wrap=True)
  if run.root is not None:
    checker.compare('run_doc', rows, results)

  files = [os.path.join(d, f) for d, _, fs in os.walk(out_dir)
           for f in fs if f.endswith('.parquet')]
  m = {}

  def put(name, value, unit):
    m[name] = (float(value), unit)

  def durations(name):
    return [s['end'] - s['start'] for s in tracer.spans
            if s['name'] == name]

  n = len(sample)
  solve = [s for s in tracer.spans if s['name'] == 'solver.best_extraction']
  solve_ms = [(s['end'] - s['start']) * 1e3 for s in solve]
  kernel_s = sum(s.get('kernel_s', 0.0) for s in solve)
  put('entity_gen.ms_per_doc',
      sum(durations('entity_gen.build_doc_pool')) * 1e3 / n, 'ms')
  put('entity_gen.entities_per_doc',
      sum(r.get('n_entities', 0) for r in results.values()) / n, 'count')
  put('entity_gen.words_per_doc',
      sum(r.get('n_words', 0) for r in results.values()) / n, 'count')
  put('solver.self_ms_per_doc', (sum(solve_ms) - kernel_s * 1e3) / n, 'ms')
  ms_tail, tail_pct = probes.tail(solve_ms) if solve_ms else (0.0, 0.0)
  put('solver.ms_tail', ms_tail, 'ms')
  put('solver.ms_tail_pct', tail_pct, 'pct')
  put('solver.candidates_per_doc',
      sum(s.get('candidates', 0) for s in solve) / n, 'count')
  put('kernels.calls_per_doc',
      sum(s.get('kernel_calls', 0) for s in solve) / n, 'count')
  put('kernels.ms_per_doc', kernel_s * 1e3 / n, 'ms')
  put('runner.decode_us_per_doc',
      sum(durations('runner.spans_to_pages')) * 1e6 / n, 'us')
  if run.root is not None:
    compile_s = []
    for _ in range(5):
      t0 = time.perf_counter()
      payload = compile_blueprint(run.root)
      compile_s.append(time.perf_counter() - t0)
    put('model.compile_ms', statistics.median(compile_s) * 1e3, 'ms')
    put('model.payload_bytes', len(payload), 'bytes')
  else:
    put('model.compile_ms', 0.0, 'ms')
    put('model.payload_bytes', 0, 'bytes')
  put('pipeline.job_s', dt, 's')
  put('pipeline.single_pass_s', single_pass_s, 's')
  put('pipeline.scan_s', scan_s, 's')
  put('pipeline.spark_jobs', n_jobs, 'count')
  put('pipeline.output_files', len(files), 'count')
  put('pipeline.output_bytes_per_doc',
      sum(os.path.getsize(f) for f in files) / docs, 'bytes')
  main_content = durations('html_extract.main_content_doc')
  if run.root is not None:
    engine_core_s = engine_core.get['ms'] / 1e3
    doc_ms = [r['elapsed_ms'] for r in rows.values() if r]
  else:
    # no elapsed_ms column: the in-process time per doc stands in
    engine_core_s = sum(main_content) / n * docs
    doc_ms = [d * 1e3 for d in main_content]
  put('pipeline.engine_core_s', engine_core_s, 's')
  put('pipeline.overhead_ms_per_doc',
      (single_pass_s * run.cores - engine_core_s) * 1e3 / docs, 'ms')
  put('pipeline.task_skew', probes.task_skew(stages), 'ratio')
  doc_tail, doc_tail_pct = probes.tail(doc_ms)
  put('pipeline.doc_ms_p50', probes.percentile(doc_ms, 50), 'ms')
  put('pipeline.doc_ms_tail', doc_tail, 'ms')
  put('pipeline.doc_ms_tail_pct', doc_tail_pct, 'pct')
  html = durations('html_extract.extract_main_content')
  pdfs = durations('pdf.parse_pdf')
  put('html_extract.ms_per_doc', sum(main_content) * 1e3 / n, 'ms')
  put('html_extract.html_ms_per_span',
      sum(html) * 1e3 / len(html) if html else 0.0, 'ms')
  put('pdf.parse_ms_per_span',
      sum(pdfs) * 1e3 / len(pdfs) if pdfs else 0.0, 'ms')
  put('trace.overhead_ratio', traced_rate / statistics.median(plain),
      'ratio')
  tracer.write(os.path.join(WORK, 'traces', f'{tracer.run_id}.jsonl'))
  for name, (value, unit) in m.items():
    print(f'{wl.name} {name} = {value:.6g} {unit}')
  return m


def main() -> int:
  args = parse_args()
  if args.workload not in workloads.WORKLOADS:
    print(f'unknown workload {args.workload!r}; one of '
          f'{sorted(workloads.WORKLOADS)}', file=sys.stderr)
    return 2
  cores = prepare_environment()
  try:
    import blueprint_oss_spark  # noqa: F401 - the program under test
  except ImportError as e:
    print(f'cannot import the program from {REPO}: {e}', file=sys.stderr)
    return 2
  if not os.path.isdir(os.path.join(REPO, 'oracles')):
    print(f'no oracles/ directory in {REPO}', file=sys.stderr)
    return 2

  def on_deadline(signum, frame):
    raise TimeoutError(f'run exceeded {DEADLINE_S} s')
  signal.signal(signal.SIGALRM, on_deadline)
  signal.alarm(DEADLINE_S)

  wl = workloads.WORKLOADS[args.workload](REPO, args.seed)
  run = Run(wl, cores, args.seconds)
  checker = Checker()
  try:
    metrics = (traced if args.trace else measure)(run, checker)
  finally:
    stop_everything(run.spark)
    signal.alarm(0)
  for p in checker.problems:
    print(f'MISMATCH {p}')
  print(json.dumps({
      'correct': checker.correct,
      'attempted': checker.attempted,
      'failed': checker.failed,
      'metrics': {k: {'value': v, 'unit': u}
                  for k, (v, u) in metrics.items()}}))
  return 0 if checker.correct else 1


if __name__ == '__main__':
  sys.exit(main())
