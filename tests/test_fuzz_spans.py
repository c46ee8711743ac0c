"""Property fuzzing for the repeated-span family (text_repeated_spans /
text_repeated_spans_trim): both read the corpus through one factored
posting pass (curation._span_postings — stride-1 positional windows,
60-bit md5 keys), so a bug there corrupts the signal AND the budget
accounting simultaneously. The fixed-corpus oracles exercise one
vocabulary; this fuzz pins the semantics on random corpora against a
pure-Python reference:

- signal: n_windows / n_dup_windows per doc, where a window is dup iff
  its exact token content occurs in >= 2 DISTINCT docs (self-repeats
  never mark);
- trim: keep-first at MIN(doc_id) per window content; tokens_cut =
  |union of [i, i+W-1] over this doc's marked windows| (overlap merged,
  never a window-count multiple); n_tokens recovered exactly from the
  posting list; docs shorter than W absent from both outputs.

A 3-word vocabulary makes cross-doc window collisions common at
W-token lengths; each example round-trips a real parquet file because
the operators load through sources.catalog.load_table, mirroring the
registered queries exactly. derandomize keeps CI stable.
"""

from __future__ import annotations

from collections import defaultdict
from unittest import mock

from hypothesis import HealthCheck, given, settings, strategies as st

from hyperloglog_pyspark_spark.operators.curation import SPAN_W
from hyperloglog_pyspark_spark.registry import REGISTRY, queries
from tests.helpers import write_documents

queries()

_VOCAB = ["a", "b", "c"]


@st.composite
def corpora(draw):
    n = draw(st.integers(2, 6))
    return [
        " ".join(
            draw(
                st.lists(
                    st.sampled_from(_VOCAB),
                    min_size=1,
                    max_size=SPAN_W + 8,
                )
            )
        )
        for _ in range(n)
    ]


def _reference(texts):
    """Pure-Python replay of both operators' semantics."""
    wins = {}  # doc -> list of (start, content)
    for doc, text in enumerate(texts):
        tk = text.split(" ")
        wins[doc] = [
            (i, " ".join(tk[i : i + SPAN_W]))
            for i in range(len(tk) - SPAN_W + 1)
        ]
    carriers = defaultdict(set)
    for doc, ws in wins.items():
        for _, content in ws:
            carriers[content].add(doc)
    signal, trim = {}, {}
    for doc, ws in wins.items():
        if not ws:
            continue
        n_dup = sum(1 for _, c in ws if len(carriers[c]) >= 2)
        signal[doc] = (len(ws), n_dup)
        cut = set()
        for i, c in ws:
            if len(carriers[c]) >= 2 and doc != min(carriers[c]):
                cut.update(range(i, i + SPAN_W))
        n_tokens = len(texts[doc].split(" "))
        trim[doc] = (n_tokens, len(cut), n_tokens - len(cut))
    return signal, trim


@given(texts=corpora())
@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_span_family_matches_reference(texts, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("spanfuzz"))
    write_documents(d, texts, "fuzz")
    signal_want, trim_want = _reference(texts)

    got_signal = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"])
        for r in REGISTRY["text_repeated_spans"].fn(spark, d).collect()
    }
    assert got_signal == signal_want

    got_trim = {
        r["doc_id"]: (r["n_tokens"], r["tokens_cut"], r["tokens_kept"])
        for r in REGISTRY["text_repeated_spans_trim"].fn(spark, d).collect()
    }
    assert got_trim == trim_want


# ---------------------------------------------------------------------------
# dedup_exact_substring: cross-doc verbatim-run recovery. Random corpora
# over a tiny vocab plus forced SPLICES (a contiguous slice of an earlier
# doc pasted into a later one) — the splice is what creates long shared
# runs; the tiny vocab creates short accidental ones that must NOT merge
# across diagonal breaks.
# ---------------------------------------------------------------------------

from hyperloglog_pyspark_spark.operators.dedup import (  # noqa: E402
    XSUB_DF_FLOOR,
    XSUB_DF_HEADROOM,
    XSUB_MIN_SPAN,
    XSUB_N,
)


def _derived_cap(df_by_gram):
    """The engine's derived whale cap, replayed in pure Python: exact
    p99.9 of the gram-df distribution (counting construction, integer
    threshold ceil(999*N/1000)) scaled by the headroom, floored."""
    dfs = sorted(df_by_gram.values())
    if not dfs:
        return XSUB_DF_FLOOR
    t = (999 * len(dfs) + 999) // 1000
    p999 = dfs[t - 1]
    return max(XSUB_DF_FLOOR, XSUB_DF_HEADROOM * p999)


@st.composite
def spliced_corpora(draw):
    n = draw(st.integers(2, 7))
    texts: list[list[str]] = []
    vocab = ["a", "b", "c"]
    for i in range(n):
        tk = draw(st.lists(st.sampled_from(vocab), min_size=XSUB_N, max_size=40))
        if i > 0 and draw(st.booleans()):
            src = texts[draw(st.integers(0, i - 1))]
            if len(src) >= XSUB_N:
                lo = draw(st.integers(0, len(src) - XSUB_N))
                hi = draw(st.integers(lo + XSUB_N, min(len(src), lo + 28)))
                at = draw(st.integers(0, len(tk)))
                tk = tk[:at] + src[lo:hi] + tk[at:]
        texts.append(tk)
    return [" ".join(tk) for tk in texts]


def _reference_xsub(texts, df_cap="derived"):
    """Pure-Python replay of dedup_exact_substring's contract: positional
    word XSUB_N-grams (df-capped, cap derived from the df distribution
    like the engine's), matched across doc pairs, merged into maximal
    runs per (pair, diagonal)."""
    toks = [t.split(" ") for t in texts]
    docs_of = defaultdict(set)
    grams: dict[int, list[str]] = {}
    for d, tk in enumerate(toks):
        grams[d] = (
            [" ".join(tk[i : i + XSUB_N]) for i in range(len(tk) - XSUB_N + 1)]
            if len(tk) >= XSUB_N
            else []
        )
        for g in grams[d]:
            docs_of[g].add(d)
    if df_cap == "derived":
        df_cap = _derived_cap({g: len(s) for g, s in docs_of.items()})
    dropped = {g for g, s in docs_of.items() if len(s) > df_cap}
    out = {}
    for a in range(len(texts)):
        for b in range(a + 1, len(texts)):
            by_gram = defaultdict(list)
            for j, g in enumerate(grams[b]):
                if g not in dropped:
                    by_gram[g].append(j)
            diags = defaultdict(list)
            for i, g in enumerate(grams[a]):
                if g in dropped:
                    continue
                for j in by_gram.get(g, ()):
                    diags[i - j].append(i)
            spans = []
            for pas in diags.values():
                pas.sort()
                run = 1
                for k in range(1, len(pas) + 1):
                    if k < len(pas) and pas[k] == pas[k - 1] + 1:
                        run += 1
                    else:
                        spans.append(run + XSUB_N - 1)
                        run = 1
            if spans and max(spans) >= XSUB_MIN_SPAN:
                out[(a, b)] = (max(spans), len(spans), sum(spans))
    return out


@given(texts=spliced_corpora())
@settings(
    max_examples=12,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_exact_substring_matches_reference(texts, spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("xsubfuzz"))
    write_documents(d, texts, "fuzz")
    want = _reference_xsub(texts)
    got = {
        (r["doc_a"], r["doc_b"]): (
            r["max_span_tokens"],
            r["n_spans"],
            r["shared_token_mass"],
        )
        for r in REGISTRY["dedup_exact_substring"].fn(spark, d).collect()
    }
    assert got == want


def _reference_novelty(texts, n=3):
    """Pure-Python replay of text_ngram_novelty: per doc, distinct word
    n-grams whose min-carrier doc_id is this doc."""
    sh = {}
    for d, t in enumerate(texts):
        tk = t.split(" ")
        sh[d] = {" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)}
    first = {}
    for d in sorted(sh):
        for g in sh[d]:
            first.setdefault(g, d)
    return {
        d: (
            len(gs),
            sum(1 for g in gs if first[g] == d),
            round(sum(1 for g in gs if first[g] == d) / len(gs), 6),
        )
        for d, gs in sh.items()
        if gs
    }


@given(texts=spliced_corpora())
@settings(
    max_examples=10,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_ngram_novelty_matches_reference(texts, spark, tmp_path_factory):
    """Ingest-order novelty on spliced corpora: a doc that copies an
    earlier doc's span must NOT get credit for the copied grams, a doc
    whose content is first must get full credit even if later docs copy
    it, and novelty fractions must track the distinct-shingle sets
    exactly (the operator shingles per-doc-DISTINCT)."""
    d = str(tmp_path_factory.mktemp("novfuzz"))
    write_documents(d, texts, "fuzz")
    want = _reference_novelty(texts)
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty"])
        for r in REGISTRY["text_ngram_novelty"].fn(spark, d).collect()
    }
    assert got == want


@given(texts=spliced_corpora())
@settings(
    max_examples=8,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_exact_substring_df_cap_binds(texts, spark, tmp_path_factory):
    """The whale-guard path under a cap the corpora can actually hit:
    with XSUB_DF_FLOOR = 2 and XSUB_DF_HEADROOM = 0 the derived cap is
    max(2, 0 × p99.9) = 2, so any gram shared by 3+ docs (the spliced
    splice-chains produce them) must be dropped BEFORE the self-join —
    distinct-DOC counting, boundary df == cap kept, df == cap+1 dropped
    — and a span must survive unless every one of its grams crossed
    the cap. The default-cap fuzz above never binds (corpora are <= 7
    docs vs cap 64); this one pins the guard itself. It calls the
    module function, not the registry wrapper, so the patched
    constants are read when the plan is built."""
    from hyperloglog_pyspark_spark.operators import dedup

    d = str(tmp_path_factory.mktemp("xsubcapfuzz"))
    write_documents(d, texts, "fuzz")
    want = _reference_xsub(texts, df_cap=2)
    with mock.patch.multiple(dedup, XSUB_DF_FLOOR=2, XSUB_DF_HEADROOM=0):
        got = {
            (r["doc_a"], r["doc_b"]): (
                r["max_span_tokens"],
                r["n_spans"],
                r["shared_token_mass"],
            )
            for r in dedup.dedup_exact_substring(spark, d).collect()
        }
    assert got == want


def test_exact_substring_derived_cap_drops_whale_keeps_rare(
    spark, tmp_path_factory
):
    """The derived whale cap BITES: 40 docs ending in one shared 20-token
    boilerplate tail (its 13 grams have df=40, >0.1% shy of the gram
    mass so p99.9 stays at the natural df=1 → cap = HEADROOM×1 = 16)
    plus one genuine 18-token splice between docs 0 and 1 (gram df=2,
    under the cap). The boilerplate clique — 780 pairs of span 20 —
    must vanish; the splice pair must survive. The uncapped reference
    confirms the cap (not the span rule) is what drops the clique."""
    boiler = [f"bp{i}" for i in range(20)]
    splice = [f"sp{i}" for i in range(18)]
    texts = []
    for d in range(40):
        filler = [f"w{d}_{i}" for i in range(400)]
        head = splice if d in (0, 1) else []
        texts.append(" ".join(head + filler + boiler))
    d = str(tmp_path_factory.mktemp("xsubcap"))
    write_documents(d, texts, "fuzz")
    got = {
        (r["doc_a"], r["doc_b"]): (r["max_span_tokens"], r["n_spans"])
        for r in REGISTRY["dedup_exact_substring"].fn(spark, d).collect()
    }
    want = {
        (a, b): (mx, n) for (a, b), (mx, n, _) in _reference_xsub(texts).items()
    }
    assert got == want
    assert set(got) == {(0, 1)}, "only the rare splice pair survives the cap"
    assert got[(0, 1)][0] == 18
    uncapped = _reference_xsub(texts, df_cap=10**9)
    assert len(uncapped) == 40 * 39 // 2, "uncapped clique would be quadratic"
