#!/usr/bin/env python3
"""Second-implementation oracle for the last two rows-only battery queries.

x3_partition_metrics: recomputes, in pure Python, the per-partition lineage
rollup that graft.pipeline.ExtractionPipeline.partitionMetrics produces —
including the doc -> partition assignment itself. Spark's hash
repartition is `repartition(8, hash(doc_id))` (full-range), which
physically routes each row by HashPartitioning's partition-id expression
`pmod(murmur3(exprValue), 8)` over the *expression value*; both Murmur3
layers (Spark's Murmur3_x86_32 variant with seed 42: 4-byte little-endian
words, sign-extended single-byte tail mixing, int re-hash) are
reimplemented here and validated against `org.apache.spark.sql.functions
.hash` outputs. Per-partition doc/page/span/failure counts and doc_id
min/max then come from the independent Python extraction kernel
(recompute_corpus.py). wall_ms is timing and is excluded by design.

x4_golden_verdicts: recomputes the span-sequence verdict table for the 14
transcribed reference fixtures — the Python kernel extracts each fixture
doc and the verdict logic (full-outer vs the committed expected.json:
spans_match on the ordered (kind, text, media_ref, offset) sequence,
failure_match, PASS/FAIL) is re-derived without touching the Scala side.

CrossImplSpec asserts both against the Spark battery queries row-for-row.
Run from anywhere: writes src/test/resources/graft/corpus_expected/
x34_expected.json.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from recompute_corpus import doc_from_row, extract_doc, paginate  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# ------------------------------------------------- Spark Murmur3 (seed 42)

_M = 0xffffffff


def _mixk1(k1):
    k1 = (k1 * 0xcc9e2d51) & _M
    k1 = ((k1 << 15) | (k1 >> 17)) & _M
    return (k1 * 0x1b873593) & _M


def _mixh1(h1, k1):
    h1 ^= k1
    h1 = ((h1 << 13) | (h1 >> 19)) & _M
    return (h1 * 5 + 0xe6546b64) & _M


def _fmix(h1, length):
    h1 ^= length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85ebca6b) & _M
    h1 ^= h1 >> 13
    h1 = (h1 * 0xc2b2ae35) & _M
    return h1 ^ (h1 >> 16)


def _signed(x):
    return x - (1 << 32) if x >= (1 << 31) else x


def murmur3_utf8(s, seed=42):
    """Spark Murmur3_x86_32.hashUnsafeBytes over UTF-8 bytes: whole 4-byte
    little-endian words, then each remaining byte SIGN-EXTENDED and fully
    mixed on its own (Spark's documented deviation from reference
    murmur3)."""
    data = s.encode('utf-8')
    n = len(data) - len(data) % 4
    h1 = seed & _M
    for i in range(0, n, 4):
        h1 = _mixh1(h1, _mixk1(int.from_bytes(data[i:i + 4], 'little')))
    for i in range(n, len(data)):
        b = data[i]
        if b >= 128:
            b -= 256
        h1 = _mixh1(h1, _mixk1(b & _M))
    return _signed(_fmix(h1, len(data)))


def murmur3_int(v, seed=42):
    """Spark Murmur3_x86_32.hashInt."""
    return _signed(_fmix(_mixh1(seed & _M, _mixk1(v & _M)), 4))


def spark_partition(doc_id, parts=8):
    """Partition index of ExtractionPipeline's hash repartition: the user
    expression is the full-range hash, and HashPartitioning re-hashes that
    int value (murmur3, same seed 42) and takes pmod(parts) — Python's %
    over a signed int equals Spark's pmod."""
    return murmur3_int(murmur3_utf8(doc_id)) % parts


# ------------------------------------------------------------ x3 recompute

def x3_rows(sf, parts=8):
    import duckdb
    path = '/root/testdata/%s/documents.parquet' % sf
    rows = duckdb.connect().execute(
        "SELECT doc_id, text, lang, source, n_chars FROM '%s' "
        "ORDER BY doc_id" % path).fetchall()
    agg = {}
    for doc_id, text, lang, source, n_chars in rows:
        tid, spans = doc_from_row(doc_id, text, lang, source, n_chars)
        pid = spark_partition(tid, parts)
        _, out, success, failure = extract_doc(tid, spans)
        n_pages = len(paginate(sorted(spans, key=lambda s: s['offset']))) \
            if spans else 0
        a = agg.setdefault(pid, [None, None, 0, 0, 0, 0])
        if a[0] is None or tid < a[0]:
            a[0] = tid
        if a[1] is None or tid > a[1]:
            a[1] = tid
        a[2] += 1
        a[3] += n_pages
        a[4] += len(out)
        a[5] += 0 if success else 1
    return [[pid] + agg[pid] for pid in sorted(agg)]


# ------------------------------------------------------------ x4 recompute

def fixture_docs():
    fdir = os.path.join(REPO, 'src/main/resources/graft/fixtures')

    def res(name):
        with open(os.path.join(fdir, name), encoding='utf-8') as f:
            return f.read()

    def text_doc(doc_id, *pages):
        return doc_id, [{'kind': 'text', 'text': p, 'media_ref': '',
                         'offset': i} for i, p in enumerate(pages)]

    p0, p1, p2 = res('mp_page0.txt'), res('mp_page1.txt'), res('mp_page2.txt')
    return [
        text_doc('fixture_mp_page0', p0),
        text_doc('fixture_mp_page1', p1),
        text_doc('fixture_mp_page2', p2),
        text_doc('fixture_mp_all', p0, p1, p2),
        text_doc('fixture_lb_page3', res('lb_page3.txt')),
        text_doc('fixture_lb_page4', res('lb_page4.txt')),
        text_doc('fixture_lb_page5', res('lb_page5.txt')),
        text_doc('fixture_lb_page6', res('lb_page6.txt')),
        text_doc('fixture_lb_page7', res('lb_page7.txt')),
        text_doc('fixture_lb_page8', res('lb_page8.txt')),
        text_doc('fixture_cp3_page0', res('cp3_page0.txt')),
        text_doc('fixture_cp6_page0', res('cp6_page0.txt')),
        text_doc('fixture_ex000_ocr', res('ex000_ocr.txt')),
        text_doc('fixture_ex000_truth_md', res('ex000_truth_md.txt')),
    ], json.loads(res('expected.json'))


def x4_rows():
    docs, expected = fixture_docs()
    out = []
    got_ids = set()
    for doc_id, spans in docs:
        got_ids.add(doc_id)
        _, got, success, failure = extract_doc(doc_id, spans)
        want = expected.get(doc_id)
        if want is None:
            out.append([doc_id, False, False, 'FAIL_NO_GOLDEN'])
            continue
        want_spans = [(s['kind'], s['text'], s['media_ref'], s['offset'])
                      for s in want['spans']]
        got_spans = [(s['kind'], s['text'], s['media_ref'], s['offset'])
                     for s in got]
        spans_match = got_spans == want_spans
        failure_match = failure == want['failure_code']
        verdict = 'PASS' if spans_match and failure_match else 'FAIL'
        out.append([doc_id, spans_match, failure_match, verdict])
    for doc_id in expected:
        if doc_id not in got_ids:
            out.append([doc_id, False, False, 'FAIL_MISSING_RESULT'])
    out.sort(key=lambda r: r[0])
    return out


def main():
    out_dir = os.path.join(REPO, 'src/test/resources/graft/corpus_expected')
    os.makedirs(out_dir, exist_ok=True)
    result = {
        'x3': {sf.replace('.', ''): x3_rows(sf)
               for sf in ('sf0.001', 'sf0.01', 'sf0.1')},
        'x4': x4_rows(),
    }
    path = os.path.join(out_dir, 'x34_expected.json')
    with open(path, 'w') as f:
        json.dump(result, f, ensure_ascii=False, indent=0)
    for sf, rows in result['x3'].items():
        print('x3', sf, 'partitions:', len(rows),
              'docs:', sum(r[3] for r in rows))
    print('x4 verdicts:', [(r[0], r[3]) for r in result['x4']])


if __name__ == '__main__':
    main()
