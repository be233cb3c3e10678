"""Per-document robustness guards: a pathological document degrades to
an `error` row; healthy documents in the same batch are unaffected
(reference analogue: the 45 s SIGALRM per doc, bp/cli/run_model.py:32 —
executors cannot use signals, so the pipeline polls a deadline)."""

from blueprint_oss_spark.engine.runner import pack_offset, unpack_offset
from blueprint_oss_spark.fixtures import readme_blueprint, readme_corpus
from blueprint_oss_spark.spark.pipeline import (
    SPANS_SCHEMA, extract_documents,
)


def _df(spark, docs):
  rows = [(d, [{'kind': k, 'text': t, 'media_ref': m, 'offset': o}
               for (k, t, m, o) in spans]) for d, spans in docs]
  return spark.createDataFrame(rows, SPANS_SCHEMA)


def _inflate(spans, factor):
  out = []
  max_line = max(unpack_offset(o)[1] for (_, _, _, o) in spans) + 2
  for rep in range(factor):
    for (k, t, m, o) in spans:
      pg, ln, col = unpack_offset(o)
      out.append((k, t, m, pack_offset(pg, ln + rep * max_line, col)))
  return out


def test_span_count_guard_isolates_bad_doc(spark):
  docs = readme_corpus(4, seed=777)
  whale = ('whale', _inflate(docs[0][1], 30))
  df = _df(spark, docs + [whale]).coalesce(1)
  out = {r['doc_id']: r
         for r in extract_documents(df, readme_blueprint(),
                                    max_spans_per_doc=100).collect()}
  assert out['whale']['error'] is not None
  assert out['whale']['error'].startswith('budget:')
  for d, _ in docs:
    assert out[d]['error'] is None  # neighbors unaffected


def test_time_budget_isolates_slow_doc(spark):
  docs = readme_corpus(4, seed=787)
  whale = ('whale', _inflate(docs[0][1], 120))
  df = _df(spark, docs + [whale]).coalesce(1)
  out = {r['doc_id']: r
         for r in extract_documents(df, readme_blueprint(),
                                    doc_time_budget_s=0.02).collect()}
  # the whale blows the 20 ms budget; small docs may or may not fit in
  # it depending on machine speed, so assert only the whale + row shape
  assert out['whale']['error'] == 'timeout'
  assert out['whale']['score'] == 0.0
  assert len(out) == 5

  # generous budget: everyone healthy, whale included
  out2 = {r['doc_id']: r
          for r in extract_documents(df, readme_blueprint(),
                                     doc_time_budget_s=300).collect()}
  assert all(r['error'] is None for r in out2.values())


def test_malformed_rows_become_error_rows(spark):
  """At 10^12 docs, a null spans array / null struct field must yield a
  per-doc error row — never an executor task failure."""
  docs = readme_corpus(2, seed=797)
  good = _df(spark, docs)
  rows = [
      ('null-spans', None),
      ('null-kind', [{'kind': None, 'text': 'x', 'media_ref': '',
                      'offset': 0}]),
      ('null-offset', [{'kind': 'text', 'text': 'x', 'media_ref': '',
                        'offset': None}]),
      # null text / media_ref are LEGAL (media spans carry no text):
      # normalized to '' and processed
      ('null-text', [{'kind': 'text', 'text': None, 'media_ref': '',
                      'offset': 0},
                     {'kind': 'media', 'text': None,
                      'media_ref': 'm://1', 'offset': 16}]),
      (None, [{'kind': 'text', 'text': 'x', 'media_ref': '',
               'offset': 0}]),
  ]
  bad = spark.createDataFrame(rows, SPANS_SCHEMA)
  out = [r.asDict() for r in
         extract_documents(good.unionAll(bad).coalesce(1),
                           readme_blueprint()).collect()]
  by_id = {r['doc_id']: r for r in out}
  assert len(out) == len(docs) + len(rows)
  for d, _ in docs:
    assert by_id[d]['error'] is None
  assert by_id['null-spans']['error'].startswith('malformed:')
  assert by_id['null-kind']['error'].startswith('malformed:')
  assert by_id['null-offset']['error'].startswith('malformed:')
  assert by_id[None]['error'].startswith('malformed:')
  # legal nulls inside spans: processed; the null-text span normalizes
  # to '' and yields no word (same as spans_from_documents dropping
  # empty tokens), while the media span round-trips untouched
  nt = by_id['null-text']
  assert nt['error'] is None
  assert [s['kind'] for s in nt['out_spans']] == ['media']
  assert nt['out_spans'][0]['media_ref'] == 'm://1'


def test_doc_json_source_time_budget_isolates_slow_doc(spark, tmp_path):
  """The file sources share the spans pipeline's per-document deadline:
  a slow doc JSON file becomes a `timeout` row, its neighbours and a
  file that does not parse are rows of their own."""
  import json

  from blueprint_oss_spark.engine.doc_json import doc_json_from_pool
  from blueprint_oss_spark.engine.entity_gen import build_doc_pool
  from blueprint_oss_spark.engine.runner import spans_to_pages
  from blueprint_oss_spark.spark.sources import extract_from_doc_json_files

  docs = readme_corpus(4, seed=787)
  whale = ('whale', _inflate(docs[0][1], 120))
  for doc_id, spans in docs + [whale]:
    pool = build_doc_pool(doc_id, spans_to_pages(spans))
    (tmp_path / f'{doc_id}.json').write_text(
        json.dumps(doc_json_from_pool(pool)))
  (tmp_path / 'truncated.json').write_text('{"pages": [')

  out = {r['doc_id'].removesuffix('.json'): r
         for r in extract_from_doc_json_files(
             spark, str(tmp_path / '*.json'), readme_blueprint(),
             doc_time_budget_s=0.02).collect()}
  assert len(out) == len(docs) + 2
  assert out['whale']['error'] == 'timeout'
  assert out['whale']['score'] == 0.0
  assert out['truncated']['error'].startswith('malformed:')
  for d, _ in docs:
    assert out[d]['error'] is None, out[d]
