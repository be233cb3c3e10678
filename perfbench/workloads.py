"""The benchmark's three workloads: seeded input tables in the input
contract schema, the job each one runs, and the expected outputs the
run is checked against.

Every input table is written once per (workload, seed) as parquet
files under the work directory; the program only ever sees those
files.  Doc ids of the seeded part are prefixed with the seed so the
fixed oracle documents mixed into the same table keep their own ids.
"""

from __future__ import annotations

import json
import os
import random
import shutil
from typing import Dict, List, Optional, Tuple

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

SPAN_TYPE = pa.struct([('kind', pa.string()), ('text', pa.string()),
                       ('media_ref', pa.string()),
                       ('offset', pa.int32())])
SPANS_ARROW = pa.schema([('doc_id', pa.string()),
                         ('spans', pa.list_(SPAN_TYPE))])
INPUT_FILES = 16  # fixed file layout, independent of the host's cores

# A canonical output span: (kind, text, media_ref, order); the pipeline
# writes '' where the engine has no value, main-content writes None.
OutSpan = Tuple[str, Optional[str], Optional[str], int]

_VOCAB = ('key agg row scan slow fast table value part hash merge batch '
          'spark line sort window order data column join small customer '
          'query group filter big vector stream the a of to and').split()


class Workload:
  """One named input table plus the job that runs over it, and the
  expected results its output is checked against."""

  name = ''
  seeded_docs = 0
  check_sample = 0   # docs compared with in-process run_doc per run
  trace_sample = 0   # docs in the traced run's in-process layer pass
  output_columns = ['doc_id', 'out_spans', 'fields', 'score', 'n_entities',
                    'n_words', 'error', 'elapsed_ms']

  def __init__(self, repo: str, seed: int):
    self.repo = repo
    self.seed = seed

  def root(self):
    """The blueprint, or None for a workload that runs `transform`."""
    return None

  def transform(self):
    """The job's per-group transform, or None for the blueprint
    extraction default."""
    return None

  def input_dir(self, work: str) -> str:
    return os.path.join(work, 'data', self.name,
                        f'seed-{self.seed}-n{self.seeded_docs}')

  def ensure_input(self, spark, work: str) -> str:
    """Write the input table for this seed unless it already exists;
    returns the directory of its parquet files."""
    path = self.input_dir(work)
    if not os.path.exists(os.path.join(path, '_DONE')):
      tmp = path + '.tmp'
      shutil.rmtree(tmp, ignore_errors=True)
      os.makedirs(tmp)
      self._generate(spark, tmp)
      with open(os.path.join(tmp, '_DONE'), 'w') as f:
        f.write('ok\n')
      shutil.rmtree(path, ignore_errors=True)
      os.replace(tmp, path)
    return os.path.join(path, 'input')

  def _generate(self, spark, tmp: str) -> None:
    raise NotImplementedError

  def seeded_key(self, doc_id: str):
    """Sort key of a seeded doc, None for a fixed oracle doc."""
    return doc_id if f'-s{self.seed}-' in doc_id else None

  def sample(self, input_dir: str, n: int) -> list:
    """The first n docs, seeded ones first, as (doc_id, spans as
    dicts)."""
    def order(r):
      key = self.seeded_key(r['doc_id'])
      return (key is None, r['doc_id'] if key is None else key)
    rows = ds.dataset(input_dir, format='parquet').to_table().to_pylist()
    rows.sort(key=order)
    return [(r['doc_id'], r['spans']) for r in rows[:n]]

  def expected(self, work: str) -> Dict[str, dict]:
    raise NotImplementedError


def _write_spans(docs, out_dir: str) -> None:
  os.makedirs(out_dir)
  rows = [{'doc_id': d,
           'spans': [{'kind': k, 'text': t, 'media_ref': m, 'offset': o}
                     for (k, t, m, o) in spans]}
          for d, spans in docs]
  for i in range(INPUT_FILES):
    pq.write_table(pa.Table.from_pylist(rows[i::INPUT_FILES],
                                        schema=SPANS_ARROW),
                   os.path.join(out_dir, f'part-{i:03d}.parquet'))


def _renamed(docs, seed: int):
  """Give seeded docs ids of their own (media refs embed the id)."""
  out = []
  for doc_id, spans in docs:
    new = doc_id.replace('-', f'-s{seed}-', 1)
    out.append((new, [(k, t, m.replace(f'/{doc_id}/', f'/{new}/'), o)
                      for (k, t, m, o) in spans]))
  return out


def canonical_extraction(fields: Dict[str, str], spans) -> List[OutSpan]:
  """Sorted field texts, then the input media spans in offset order —
  the output span sequence of a blueprint extraction."""
  out: List[OutSpan] = [('text', fields[f], '', i)
                        for i, f in enumerate(sorted(fields))]
  for (kind, _t, media_ref, _o) in sorted(spans, key=lambda s: s[3]):
    if kind == 'media':
      out.append(('media', '', media_ref, len(out)))
  return out


class _Extraction(Workload):
  """Blueprint extraction: seeded docs from a fixture generator plus
  the fixed oracle corpus, so every job output is checked against the
  reference engine's results."""

  oracle_file = ''
  oracle_docs = 0
  oracle_seed = 0

  def corpus(self, n: int, seed: int):
    raise NotImplementedError

  def seeded(self):
    return _renamed(self.corpus(self.seeded_docs, self.seed), self.seed)

  def _generate(self, spark, tmp: str) -> None:
    docs = self.seeded() + self.corpus(self.oracle_docs, self.oracle_seed)
    _write_spans(docs, os.path.join(tmp, 'input'))

  def expected(self, work: str) -> Dict[str, dict]:
    """Oracle rows by doc_id: fields, score (9 dp), n_entities,
    n_words and out_spans."""
    spans = dict(self.corpus(self.oracle_docs, self.oracle_seed))
    table = pq.read_table(os.path.join(self.repo, 'oracles',
                                       self.oracle_file)).to_pylist()
    out = {}
    for r in table:
      fields = json.loads(r['fields_json'])
      if 'out_spans_json' in r:
        out_spans = [(s['kind'], s['text'], s['media_ref'], s['order'])
                     for s in json.loads(r['out_spans_json'])]
      else:
        out_spans = canonical_extraction(fields, spans[r['doc_id']])
      out[r['doc_id']] = {
          'fields': fields, 'score': round(r['score'], 9),
          'n_entities': r['n_entities'], 'n_words': r['n_words'],
          'out_spans': out_spans}
    if len(out) != self.oracle_docs:
      raise RuntimeError(f'{self.oracle_file}: {len(out)} rows, '
                         f'expected {self.oracle_docs}')
    return out


class ReadmeBulk(_Extraction):
  name = 'readme_bulk'
  seeded_docs = 3600
  check_sample, trace_sample = 64, 400
  oracle_file = 'bp_extract_readme.parquet'
  oracle_docs, oracle_seed = 400, 42

  def corpus(self, n, seed):
    from blueprint_oss_spark.fixtures import readme_corpus
    return readme_corpus(n, seed=seed)

  def root(self):
    from blueprint_oss_spark.fixtures import readme_blueprint
    return readme_blueprint()


class PaystubsFlagship(_Extraction):
  name = 'paystubs_flagship'
  seeded_docs = 40
  check_sample, trace_sample = 16, 100
  oracle_file = 'bp_extract_paystubs.parquet'
  oracle_docs, oracle_seed = 120, 52

  def corpus(self, n, seed):
    from blueprint_oss_spark.bp_examples.paystub_fixtures import \
        paystub_corpus
    return paystub_corpus(n, seed=seed)

  def root(self):
    from blueprint_oss_spark.bp_examples.paystubs import root
    return root


class MainContentJob(Workload):
  """The main-content pipeline over interleaved HTML + media + PDF
  spans synthesized from a seeded documents table.  Every output is
  recoverable from the documents table, so every doc is checked."""

  name = 'main_content_job'
  seeded_docs = 3000
  trace_sample = 200
  output_columns = ['doc_id', 'out_spans']

  def transform(self):
    from blueprint_oss_spark.ops.html_extract import main_content_from_spans
    return main_content_from_spans

  def documents(self) -> pa.Table:
    rng = random.Random(self.seed)
    texts = [' '.join(rng.choice(_VOCAB)
                      for _ in range(rng.randrange(20, 240)))
             for _ in range(self.seeded_docs)]
    return pa.table({
        'doc_id': pa.array(range(self.seeded_docs), pa.int64()),
        'text': texts,
        'lang': ['en'] * len(texts),
        'source': [f'src{i % 7}' for i in range(len(texts))],
        'n_chars': pa.array([len(t) for t in texts], pa.int64())})

  def _generate(self, spark, tmp: str) -> None:
    from pyspark.sql import functions as F
    from blueprint_oss_spark.ops.html_extract import interleaved_html_table
    docs = self.documents()
    # a directory of parquet files, so the synthesis runs on every core
    os.makedirs(os.path.join(tmp, 'documents.parquet'))
    bounds = [i * len(docs) // INPUT_FILES for i in range(INPUT_FILES + 1)]
    for i in range(INPUT_FILES):
      pq.write_table(docs.slice(bounds[i], bounds[i + 1] - bounds[i]),
                     os.path.join(tmp, 'documents.parquet',
                                  f'part-{i:03d}.parquet'))
    (interleaved_html_table(spark, tmp)
     .repartition(INPUT_FILES, F.col('doc_id'))
     .write.parquet(os.path.join(tmp, 'input')))

  def seeded_key(self, doc_id: str):
    return int(doc_id)

  def expected(self, work: str) -> Dict[str, dict]:
    """Ground truth of each doc: its part-0 text, the closing section,
    the media refs and (even ids) the PDF appendix words, in order."""
    docs = pq.read_table(os.path.join(self.input_dir(work),
                                      'documents.parquet'))
    out = {}
    for doc_id, text in zip(docs['doc_id'].to_pylist(),
                            docs['text'].to_pylist()):
      d = str(doc_id)
      parts = [('text', ' '.join(f'Document {d} part 0. {text}'.split()),
                None),
               ('media', None, f'media/{d}/0'),
               ('text', f'Document {d} closing section part 1.', None)]
      if doc_id % 3 == 0:
        parts.append(('media', None, f'media/{d}/1'))
      if doc_id % 2 == 0:
        parts.append(('text', f'PDF appendix for document {d}', None))
      out[d] = {'out_spans': [(k, t, m, i)
                              for i, (k, t, m) in enumerate(parts)]}
    return out


WORKLOADS = {w.name: w for w in (ReadmeBulk, PaystubsFlagship,
                                  MainContentJob)}


def read_output(out_dir: str, columns: List[str]) -> Dict[str, dict]:
  """The job's output table (hive-partitioned parquet; `_lineage` and
  other `_`-prefixed entries are skipped) as rows by doc_id.  A doc_id
  written twice maps to None."""
  table = ds.dataset(out_dir, format='parquet',
                     partitioning='hive').to_table(columns=columns)
  rows: Dict[str, dict] = {}
  for r in table.to_pylist():
    rows[r['doc_id']] = None if r['doc_id'] in rows else r
  return rows


def mismatch(row: Optional[dict], want: dict) -> Optional[str]:
  """Why an output row differs from its expected result, or None."""
  if row is None:
    return 'missing or duplicated'
  if row.get('error'):
    return f"error row: {row['error']}"
  got = {'out_spans': [(s['kind'], s['text'], s['media_ref'], s['order'])
                       for s in row['out_spans']]}
  if 'fields' in want:
    got.update(fields=dict(row['fields']), score=round(row['score'], 9),
               n_entities=row['n_entities'], n_words=row['n_words'])
  for k, v in want.items():
    if got[k] != v:
      return f'{k}: got {got[k]!r:.200} want {v!r:.200}'
  return None
