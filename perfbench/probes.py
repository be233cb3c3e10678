"""Measurement helpers that sit outside the program: an in-memory span
tracer, timing wrappers around the public names each layer calls, the
Spark status store, and resident memory read from /proc."""

from __future__ import annotations

import contextlib
import json
import math
import os
import threading
import time
from statistics import median
from typing import Dict, Iterator, List, Optional


class Tracer:
  """Spans (name, start, end, parent, run id) kept in memory and
  written as JSON lines when the run ends.  Times are epoch seconds so
  that Spark task spans from the status store share the clock."""

  def __init__(self, run_id: str):
    self.run_id = run_id
    self.spans: List[dict] = []
    self._stack: List[dict] = []

  @contextlib.contextmanager
  def span(self, name: str, **attrs) -> Iterator[dict]:
    rec = {'id': len(self.spans), 'name': name, 'run': self.run_id,
           'parent': self._stack[-1]['id'] if self._stack else None,
           'start': time.time(), 'end': None, **attrs}
    self.spans.append(rec)
    self._stack.append(rec)
    try:
      yield rec
    finally:
      self._stack.pop()
      rec['end'] = time.time()

  def current(self) -> Optional[dict]:
    return self._stack[-1] if self._stack else None

  def add(self, name: str, start: float, end: float,
          parent: Optional[int], **attrs) -> None:
    self.spans.append({'id': len(self.spans), 'name': name,
                       'run': self.run_id, 'parent': parent,
                       'start': start, 'end': end, **attrs})

  def write(self, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, 'w') as f:
      for s in self.spans:
        f.write(json.dumps(s) + '\n')


def _patch(module, name: str, make) -> tuple:
  orig = getattr(module, name)
  setattr(module, name, make(orig))
  return module, name, orig


@contextlib.contextmanager
def layer_wrappers(tracer: Tracer) -> Iterator[None]:
  """Wrap the names `engine.runner`, `engine.solver` and
  `ops.html_extract` look up at call time, in this process only.

  Layer calls become spans; kernel calls and leaf candidates are
  counted on the enclosing span (one span per kernel call would cost
  more than many kernels do)."""
  from blueprint_oss_spark.engine import kernels, runner, solver
  from blueprint_oss_spark.ops import html_extract
  from blueprint_oss_spark.spark import pdf

  def spanned(name):
    def make(fn):
      def wrapper(*a, **kw):
        with tracer.span(name):
          return fn(*a, **kw)
      return wrapper
    return make

  def counted(fn):
    def wrapper(*a, **kw):
      t0 = time.perf_counter()
      try:
        return fn(*a, **kw)
      finally:
        cur = tracer.current()
        if cur is not None:
          cur['kernel_calls'] = cur.get('kernel_calls', 0) + 1
          cur['kernel_s'] = (cur.get('kernel_s', 0.0)
                             + time.perf_counter() - t0)
    return wrapper

  def candidates(fn):
    def wrapper(*a, **kw):
      got = fn(*a, **kw)
      cur = tracer.current()
      if cur is not None:
        seen = cur.setdefault('_cand_lists', set())
        if id(got) not in seen:  # memoized lists count once
          seen.add(id(got))
          cur['candidates'] = cur.get('candidates', 0) + len(got)
      return got
    return wrapper

  patches = [
      _patch(runner, 'spans_to_pages', spanned('runner.spans_to_pages')),
      _patch(runner, 'build_doc_pool', spanned('entity_gen.build_doc_pool')),
      _patch(runner, 'best_extraction', spanned('solver.best_extraction')),
      _patch(solver, 'score_predicate', counted),
      _patch(kernels, 'score_predicate_batch', counted),
      _patch(solver, 'leaf_candidates', candidates),
      _patch(html_extract, 'extract_main_content',
             spanned('html_extract.extract_main_content')),
      _patch(pdf, 'parse_pdf', spanned('pdf.parse_pdf')),
  ]
  try:
    yield
  finally:
    for module, name, orig in reversed(patches):
      setattr(module, name, orig)
    for s in tracer.spans:
      s.pop('_cand_lists', None)


def _rank(n: int, p: float) -> int:
  return max(1, math.ceil(p * n / 100.0))


def percentile(values: List[float], p: float) -> float:
  """Nearest-rank percentile."""
  return sorted(values)[_rank(len(values), p) - 1]


def tail(values: List[float]) -> tuple:
  """(value, percentile) of the highest percentile in a fixed ladder
  that has at least ten samples beyond it."""
  n = len(values)
  best = 50.0
  for p in (90.0, 95.0, 99.0, 99.9, 99.99):
    if n - _rank(n, p) >= 10:
      best = p
  return percentile(values, best), best


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

def group_tasks(spark, group: str) -> Dict[int, List[tuple]]:
  """Tasks of every stage run under a job group, as
  {stage id: [(launch epoch s, duration s), ...]}."""
  sc = spark.sparkContext
  tracker = sc.statusTracker()
  store = sc._jsc.sc().statusStore()
  out: Dict[int, List[tuple]] = {}
  for job_id in tracker.getJobIdsForGroup(group):
    info = tracker.getJobInfo(job_id)
    if info is None:
      continue
    for sid in info.stageIds:
      stage = tracker.getStageInfo(sid)
      if stage is None or sid in out:
        continue
      tasks = []
      it = store.taskList(sid, stage.currentAttemptId, 100000).iterator()
      while it.hasNext():
        t = it.next()
        if t.duration().isDefined():
          tasks.append((t.launchTime().getTime() / 1000.0,
                        t.duration().get() / 1000.0))
      out[sid] = tasks
  return out


def task_skew(stages: Dict[int, List[tuple]]) -> float:
  """Mean over stages of (slowest task ÷ median task); stages with one
  task have no skew to show and are left out."""
  ratios = []
  for tasks in stages.values():
    d = [dur for _, dur in tasks]
    if len(d) >= 2 and median(d) > 0:
      ratios.append(max(d) / median(d))
  return sum(ratios) / len(ratios) if ratios else 1.0


# ---------------------------------------------------------------------------
# Resident memory from /proc
# ---------------------------------------------------------------------------

def _children() -> Dict[int, List[int]]:
  kids: Dict[int, List[int]] = {}
  for entry in os.listdir('/proc'):
    if not entry.isdigit():
      continue
    try:
      with open(f'/proc/{entry}/stat') as f:
        stat = f.read()
    except OSError:
      continue
    ppid = int(stat.rsplit(')', 1)[1].split()[1])
    kids.setdefault(ppid, []).append(int(entry))
  return kids


def _comm(pid: int) -> str:
  try:
    with open(f'/proc/{pid}/comm') as f:
      return f.read().strip()
  except OSError:
    return ''


def python_tree(root: int) -> List[int]:
  """`root` and every Python process below it.  Other descendants are
  short-lived helpers; between fork and exec a child of the JVM still
  reports the JVM's resident pages, which must not count twice."""
  kids = _children()
  out, todo = [root], list(kids.get(root, []))
  while todo:
    pid = todo.pop()
    if _comm(pid).startswith('python'):
      out.append(pid)
      todo.extend(kids.get(pid, []))
  return out


def _hwm_kb(pid: int) -> Optional[int]:
  try:
    with open(f'/proc/{pid}/status') as f:
      for line in f:
        if line.startswith('VmHWM:'):
          return int(line.split()[1])
  except OSError:
    pass
  return None


class PeakRss:
  """Peak resident memory of the driver JVM and the Python processes
  under it (the pyspark daemon and its workers) over a window.

  On start the kernel's per-process high-water mark is reset
  (clear_refs 5); a sampler then records each process's VmHWM, so a
  worker that exits mid-window still counts.  The result is the sum
  of per-process peaks."""

  def __init__(self, root_pid: int, interval_s: float = 0.2):
    self.root = root_pid
    self.interval = interval_s
    self.hwm: Dict[int, int] = {}
    self._stop = threading.Event()
    self._thread: Optional[threading.Thread] = None

  def _sample(self) -> None:
    for pid in python_tree(self.root):
      kb = _hwm_kb(pid)
      if kb is not None:
        self.hwm[pid] = max(self.hwm.get(pid, 0), kb)

  def _loop(self) -> None:
    while not self._stop.wait(self.interval):
      self._sample()

  def __enter__(self) -> 'PeakRss':
    for pid in python_tree(self.root):
      try:
        with open(f'/proc/{pid}/clear_refs', 'w') as f:
          f.write('5')
      except OSError:
        pass
    self._thread = threading.Thread(target=self._loop, daemon=True)
    self._thread.start()
    return self

  def __exit__(self, *exc) -> None:
    self._stop.set()
    self._thread.join(timeout=10)
    self._sample()

  @property
  def mb(self) -> float:
    return sum(self.hwm.values()) / 1024.0
