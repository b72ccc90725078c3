"""Wave-5 curation/retrieval ops: BM25 top-k, Gopher rules, ExactSubstr
spans. Each op is verified two ways: exact expected output on a
constructed corpus, and a pure-Python recomputation over the real
testdata (independent of both Spark SQL and the DuckDB oracle)."""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pytest

from habits_etl_spark.plans.ext_curation3 import (
    _ES_K,
    _ES_MIN_SPAN,
    _G_MAX_MEAN_LEN,
    _G_MAX_WORDS,
    _G_MIN_ALPHA_FRAC,
    _G_MIN_MEAN_LEN,
    _G_MIN_STOP_HITS,
    _G_MIN_WORDS,
    _G_STOPWORDS,
    exact_substr_spans_over,
    ext_exact_substr_spans,
    ext_gopher_rules,
    gopher_rules_over,
)
from habits_etl_spark.plans.ext_retrieval import (
    BM25_B,
    BM25_K1,
    _BM25_TERMS,
    bm25_topk_over,
    ext_bm25_topk,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def _r(x: float, digits: int) -> float:
    """Round half-UP like Spark's F.round / DuckDB round — Python's
    built-in round() is half-even and disagrees on exact ties
    (4.28125 -> 4.2812 vs the engines' 4.2813). repr(x) is the shortest
    round-trip decimal, matching the JVM's BigDecimal.valueOf(double)."""
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))


# --- BM25 --------------------------------------------------------------------


def _bm25_py(corpus: dict[int, list[str]], terms, k1=BM25_K1, b=BM25_B):
    n = len(corpus)
    avgdl = sum(len(w) for w in corpus.values()) / n
    df = {
        q: sum(1 for w in corpus.values() if q in w) for q in terms
    }
    out = {}
    for doc, w in corpus.items():
        s = 0.0
        hit = 0
        for q in terms:
            tf = w.count(q)
            if tf == 0:
                continue
            hit += 1
            idf = math.log(1.0 + (n - df[q] + 0.5) / (df[q] + 0.5))
            s += idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * len(w) / avgdl))
        if hit:
            out[doc] = (hit, _r(s, 4))
    return out


def test_bm25_constructed_corpus(spark):
    d = _docs(
        spark,
        [
            (1, "dup dup spark alpha beta"),
            (2, "spark join join join gamma"),
            (3, "alpha beta gamma delta"),
            (4, "join"),
        ],
    )
    got = {r.doc_id: (r.n_terms_hit, r.score) for r in bm25_topk_over(d).collect()}
    corpus = {
        1: "dup dup spark alpha beta".split(),
        2: "spark join join join gamma".split(),
        3: "alpha beta gamma delta".split(),
        4: "join".split(),
    }
    want = _bm25_py(corpus, _BM25_TERMS)
    assert got == want
    # doc 3 has no query term: absent
    assert 3 not in got
    # 'dup' is the rarest term -> doc 1 outranks the common-term docs
    assert got[1][1] == max(s for _, s in got.values())


def test_bm25_real_data_matches_python(spark, sf_dir):
    rows = ext_bm25_topk(spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    # scores are sorted desc with doc_id tie-break
    keys = [(-r.score, r.doc_id) for r in rows]
    assert keys == sorted(keys)
    corpus = {
        r.doc_id: r.text.split()
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    want = _bm25_py(corpus, _BM25_TERMS)
    for r in rows:
        assert want[r.doc_id] == (r.n_terms_hit, pytest.approx(r.score, abs=1e-9))
    # the returned set IS the top-k of the python ranking
    want_top = sorted(want.items(), key=lambda kv: (-kv[1][1], kv[0]))[: len(rows)]
    assert [k for k, _ in want_top] == [r.doc_id for r in rows]


# --- Gopher rules ------------------------------------------------------------


def test_gopher_rules_constructed(spark):
    long_ok = "the a " + "word " * 60  # 62 words, two stopword hits
    short = "tiny doc only"  # fails word count and stopwords
    d = _docs(spark, [(1, long_ok.strip()), (2, short)])
    got = {r.doc_id: r for r in gopher_rules_over(d).collect()}
    assert got[1].r_word_count and got[1].r_stopwords
    assert not got[2].r_word_count
    assert got[2].n_stop_hits == 0 and not got[2].r_stopwords
    assert not got[2].passed


def test_gopher_rules_real_data_matches_python(spark, sf_dir):
    rows = ext_gopher_rules(spark, sf_dir).collect()
    docs = {
        r.doc_id: r.text.split()
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    assert len(rows) == len(docs)
    stop = set(_G_STOPWORDS)
    for r in rows:
        w = docs[r.doc_id]
        assert r.n_words == len(w)
        assert r.mean_word_len == pytest.approx(
            _r(sum(len(x) for x in w) / len(w), 4), abs=1e-9
        )
        assert r.n_stop_hits == sum(1 for x in w if x in stop)
        alpha = sum(1 for x in w if any(c.isalpha() for c in x)) / len(w)
        assert r.alpha_frac == pytest.approx(_r(alpha, 4), abs=1e-9)
        assert r.r_word_count == (_G_MIN_WORDS <= len(w) <= _G_MAX_WORDS)
        assert r.passed == (
            r.r_word_count and r.r_mean_len and r.r_alpha and r.r_stopwords
        )
        assert r.r_mean_len == (
            _G_MIN_MEAN_LEN <= r.mean_word_len <= _G_MAX_MEAN_LEN
        )
        assert r.r_alpha == (r.alpha_frac >= _G_MIN_ALPHA_FRAC)
        assert r.r_stopwords == (r.n_stop_hits >= _G_MIN_STOP_HITS)


# --- ExactSubstr spans -------------------------------------------------------


def _spans_py(wa: list[str], wb: list[str], k: int, min_span: int):
    """Brute-force maximal shared spans between two token lists at one
    pair: seed every k-gram match, merge consecutive seeds per offset."""
    seeds = {}
    grams_b = {}
    for j in range(len(wb) - k + 1):
        grams_b.setdefault(tuple(wb[j : j + k]), []).append(j)
    for i in range(len(wa) - k + 1):
        for j in grams_b.get(tuple(wa[i : i + k]), []):
            seeds.setdefault(i - j, []).append(i)
    spans = []
    for off, pos in seeds.items():
        pos = sorted(pos)
        start = prev = pos[0]
        for p in pos[1:] + [None]:
            if p is not None and p == prev + 1:
                prev = p
                continue
            ln = prev - start + k
            if ln >= min_span:
                spans.append((start, start - off, ln))
            if p is not None:
                start = prev = p
    return spans


def test_exact_substr_constructed(spark):
    # doc 1 and doc 2 share the literal 12-token run w0..w11; doc 3 shares
    # nothing long enough.
    shared = " ".join(f"w{i}" for i in range(12))
    d = _docs(
        spark,
        [
            (1, "x1 x2 " + shared + " x3"),
            (2, "y1 " + shared + " y2 y3 y4"),
            (3, "w0 w1 w2 w3 z z z z z z z z"),
        ],
    )
    rows = exact_substr_spans_over(d, k=8, min_span=12).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.n_spans == 1 and r.max_span_tokens == 12 and r.shared_tokens == 12


def test_exact_substr_real_data_matches_python(spark, sf_dir):
    rows = ext_exact_substr_spans(spark, sf_dir).collect()
    assert rows, "testdata plants near-duplicates; expected shared spans"
    docs = {
        r.doc_id: r.text.split()
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    for r in rows:
        spans = _spans_py(docs[r.doc_a], docs[r.doc_b], _ES_K, _ES_MIN_SPAN)
        assert r.n_spans == len(spans)
        assert r.max_span_tokens == max(ln for _, _, ln in spans)
        assert r.shared_tokens == sum(ln for _, _, ln in spans)
        assert r.max_span_tokens >= _ES_MIN_SPAN
    # completeness: every pair the brute force finds is reported (the
    # postings cap cannot fire at this scale — max gram fan-out is ~3 docs)
    ids = sorted(docs)
    want_pairs = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if _spans_py(docs[a], docs[b], _ES_K, _ES_MIN_SPAN)
    }
    assert want_pairs == {(r.doc_a, r.doc_b) for r in rows}
