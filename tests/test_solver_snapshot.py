"""Solver output against the verified extraction oracles, in process.

`oracles/bp_extract_*.parquet` hold the reference engine's exhaustive
best extraction per document (see oracles/MANIFEST.json for how each
corpus was verified).  These tests re-run the solver on the same
fixture corpora through the compiled tree — no Spark session, no
reference checkout — so any change to merge scoring, combine order or
tie-breaking shows up as a per-document diff.
"""

import json
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from blueprint_oss_spark.engine.entity_gen import build_doc_pool
from blueprint_oss_spark.engine.runner import run_doc, spans_to_pages
from blueprint_oss_spark.engine.solver import best_extraction, top_extractions
from blueprint_oss_spark.spark.pipeline import (
    compile_blueprint, tree_from_payload)

ORACLES = Path(__file__).resolve().parent.parent / 'oracles'

FIXTURE_CORPORA = ['readme', 'labelvalue', 'table', 'multipage',
                   'adversarial']
FLAGSHIP_CORPORA = ['paystubs', 'checks']


def _corpus(name):
  """(docs by doc_id, blueprint root) at the oracles' sizes: 400 docs per
  fixture corpus, 120 per flagship corpus."""
  if name == 'paystubs':
    from blueprint_oss_spark.bp_examples.paystub_fixtures import \
        paystub_corpus
    from blueprint_oss_spark.bp_examples.paystubs import root
    return dict(paystub_corpus(120)), root
  if name == 'checks':
    from blueprint_oss_spark.bp_examples.check_fixtures import check_corpus
    from blueprint_oss_spark.bp_examples.checks import root
    return dict(check_corpus(120)), root
  from blueprint_oss_spark.fixtures import ALL_CORPORA
  corpus_fn, bp_fn = ALL_CORPORA[name]
  return dict(corpus_fn(400)), bp_fn()


@pytest.mark.parametrize('name', FIXTURE_CORPORA + FLAGSHIP_CORPORA)
def test_run_doc_matches_oracle(name):
  docs, root = _corpus(name)
  tree = tree_from_payload(compile_blueprint(root))
  want = pq.read_table(ORACLES / f'bp_extract_{name}.parquet').to_pylist()
  assert sorted(r['doc_id'] for r in want) == sorted(docs)
  bad = []
  for row in want:
    r = run_doc(row['doc_id'], docs[row['doc_id']], tree,
                pre_optimized=True)
    got = (r['fields'], round(r['score'], 9), r['n_entities'],
           r['n_words'])
    exp = (json.loads(row['fields_json']), row['score'], row['n_entities'],
           row['n_words'])
    if 'out_spans_json' in row:
      got += ([tuple(s) for s in r['out_spans']],)
      exp += ([(s['kind'], s['text'], s['media_ref'], s['order'])
               for s in json.loads(row['out_spans_json'])],)
    if got != exp:
      bad.append((row['doc_id'], got, exp))
  assert not bad, f'{len(bad)} docs differ, first: {bad[0]}'


def _reordering_combine_corpus():
  """Dollar amounts scattered over one page, extracted as two fields
  joined by spatial rules at the combine node.  Those rules demote the
  first valid (a, b) pair in candidate order on many docs, so the
  best-only search must keep looking past it."""
  import random

  from blueprint_oss_spark.engine.runner import pack_offset
  from blueprint_oss_spark.model.nodes import combine, extract
  from blueprint_oss_spark.model.rules import (
      is_dollar_amount, left_to_right, top_down)

  rng = random.Random(5)
  docs = {}
  for k in range(40):
    spans = sorted(
        (('text', f'${rng.randrange(1, 999)}.{rng.randrange(10, 99)}', '',
          pack_offset(0, rng.randrange(30), rng.randrange(60)))
         for _ in range(6)), key=lambda s: s[3])
    docs[f'pairs-{k:02d}'] = spans
  root = combine(extract(is_dollar_amount('a')),
                 extract(is_dollar_amount('b'))).with_extra_rules(
                     top_down('a', 'b'), left_to_right('a', 'b'))
  return docs, root


@pytest.mark.parametrize('name,stride', [
    *((n, 20) for n in FIXTURE_CORPORA),
    # keep-all binding of the flagship trees costs seconds per doc
    *((n, 40) for n in FLAGSHIP_CORPORA),
    ('reordering_combine', 1)])
def test_best_extraction_is_head_of_top_extractions(name, stride):
  """The best-only branch-and-bound and the keep-all combine share one
  pair loop; the best must be exactly the head of the sorted list."""
  docs, root = (_reordering_combine_corpus() if name == 'reordering_combine'
                else _corpus(name))
  for doc_id in sorted(docs)[::stride]:
    pool = build_doc_pool(doc_id, spans_to_pages(docs[doc_id]))
    assign, _, score = best_extraction(root, pool)
    tops = top_extractions(root, pool)
    head = tops[0] if tops else ({}, 0.0)
    assert (assign, score) == head, doc_id
