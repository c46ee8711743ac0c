"""Property fuzzing for the shared retrieval term-frequency pass.

Four registered queries (text_bm25_topk, retrieval_mrr_report,
retrieval_ndcg_report, similarity_hybrid_rrf / _ann) read the corpus
through ONE factored pipeline — ``textops._tf_table`` (map-side
run-length tf), ``_tfq_table`` (tf restricted to the BM25 query terms)
and ``_doc_len_table`` (map-side document lengths) — so a single bug
there corrupts every retrieval metric simultaneously. The fixed-corpus
oracles exercise one vocabulary; this fuzz pins the constructions on
random corpora:

- run-length tf == the naive explode+groupBy tf (the map-side boundary
  arithmetic: sorted tokens, run starts, try_element_at i-1 probe);
- restricted tf == unrestricted tf ∩ query terms (the _tfq_table
  restriction loses no (term, doc) and invents none);
- dl == SUM(tf) per doc (run lengths partition the token array).

Corpora are tiny; each example round-trips a real parquet file because
the pipeline loads through sources.catalog.load_table (spread_scan),
mirroring the registered queries exactly. derandomize keeps CI stable.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from hyperloglog_pyspark_spark import registry
from tests.helpers import write_documents

# vocabulary deliberately overlaps the BM25 query terms so the
# restriction is non-trivial, plus filler words it must drop
_QUERY_TERMS = ["hash", "join", "merge", "scan", "filter", "column",
                "stream", "window", "batch"]
_FILLER = ["alpha", "beta", "gamma", "delta", "zz"]
_VOCAB = _QUERY_TERMS + _FILLER


@st.composite
def corpora(draw):
    n = draw(st.integers(2, 8))
    return [
        " ".join(
            draw(st.lists(st.sampled_from(_VOCAB), min_size=1, max_size=12))
        )
        for _ in range(n)
    ]


@given(texts=corpora())
@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_shared_tf_pass_matches_naive_tokenization(texts, spark, tmp_path_factory):
    from hyperloglog_pyspark_spark.operators.textops import (
        _doc_len_table,
        _tf_table,
        _tfq_table,
    )

    sf_dir = str(tmp_path_factory.mktemp("tf_fuzz"))
    write_documents(sf_dir, texts, "fuzz")
    try:
        tf = {
            (r["doc_id"], r["token"]): r["tf"]
            for r in _tf_table(spark, sf_dir).collect()
        }
        tfq = {
            (r["doc_id"], r["term"]): r["tf"]
            for r in _tfq_table(spark, sf_dir).collect()
        }
        dl = {r["doc_id"]: r["dl"] for r in _doc_len_table(spark, sf_dir).collect()}
    finally:
        registry.release_caches()
    # naive tf: plain python split + count
    naive: dict[tuple[int, str], int] = {}
    for doc_id, text in enumerate(texts):
        for tok in text.split(" "):
            naive[(doc_id, tok)] = naive.get((doc_id, tok), 0) + 1
    assert tf == naive, "run-length tf drifted from naive tokenization"
    # restriction: exactly the query-term slice of the full tf
    qset = set(_QUERY_TERMS)
    assert tfq == {k: v for k, v in naive.items() if k[1] in qset}
    # document lengths: run lengths partition the token array
    assert dl == {
        doc_id: len(text.split(" ")) for doc_id, text in enumerate(texts)
    }
    for doc_id in dl:
        assert dl[doc_id] == sum(v for (d, _), v in naive.items() if d == doc_id)
