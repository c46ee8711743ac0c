"""Semantic tests for the LLM-pipeline operators (beyond oracle equality):
does LSH actually find the planted near-dups, does ANN recall clear a
floor, does the BMP/WAV decode path round-trip and reject lying headers."""

from __future__ import annotations

import pytest

from hyperloglog_pyspark_spark.functions.mediacodec import (
    bmp_row_stride,
    decode_bmp,
    decode_media,
    decode_wav,
    synth_bmp,
    synth_wav,
)
from hyperloglog_pyspark_spark.operators.multimodal import fake_decode_meta
from hyperloglog_pyspark_spark.registry import queries

ALL = queries()


def test_minhash_finds_all_high_jaccard_pairs(spark, sf_dir):
    """Every pair the exhaustive length-blocked scan finds at Jaccard ≥ 0.8
    must also be found by the LSH path (4 bands × 3 rows ⇒ detection prob
    ≈ 1 − (1 − s³)⁴ ≥ 0.996 at s = 0.8; the planted dups are ≥ 0.95)."""
    exhaustive = ALL["dedup_ngram_jaccard"](spark, sf_dir).toPandas()
    lsh = ALL["dedup_minhash_lsh"](spark, sf_dir).toPandas()
    want = {(r.doc_a, r.doc_b) for r in exhaustive.itertuples() if r.jaccard >= 0.8}
    got = {(r.doc_a, r.doc_b) for r in lsh.itertuples()}
    assert want, "fixture should contain planted near-duplicates"
    missed = want - got
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"


def test_ann_recall_floor(spark, sf_dir):
    """Multi-probe LSH recall@10 vs brute force. Uniform-random embeddings
    are the LSH worst case, so the floor is modest — the assertion guards
    against the bucketing being broken (recall ≈ 0), not against noise."""
    bf = ALL["similarity_topk_bruteforce"](spark, sf_dir).toPandas()
    ann = ALL["similarity_ann_lsh"](spark, sf_dir).toPandas()
    recalls = []
    for q in bf.query_id.unique():
        want = set(bf[bf.query_id == q].vec_id)
        got = set(ann[ann.query_id == q].vec_id)
        recalls.append(len(want & got) / len(want))
    avg = sum(recalls) / len(recalls)
    assert avg >= 0.15, f"ANN recall collapsed: {recalls}"


def test_simhash_enriches_for_near_dups(spark, sf_dir):
    """SimHash (unweighted, over token sets) is a weaker detector than
    MinHash on this tiny-vocabulary corpus — each differing token flips
    several of the 48 bits. The semantic claim to hold: true near-dups are
    flagged at a rate far above the all-pairs base rate (enrichment), even
    though recall is below MinHash's."""
    lsh = ALL["dedup_minhash_lsh"](spark, sf_dir).toPandas()
    sim = ALL["dedup_simhash"](spark, sf_dir).toPandas()
    sim_pairs = {(r.doc_a, r.doc_b) for r in sim.itertuples()}
    planted = {(r.doc_a, r.doc_b) for r in lsh.itertuples() if r.jaccard >= 0.95}
    assert planted
    n_docs = ALL["text_stats"](spark, sf_dir).count()
    base_rate = len(sim_pairs) / (n_docs * (n_docs - 1) / 2)
    hit_rate = len(planted & sim_pairs) / len(planted)
    assert hit_rate > 0, "simhash found no planted near-dup at all"
    assert hit_rate >= 3 * base_rate, f"no enrichment: hit={hit_rate:.3f} base={base_rate:.3f}"


def test_multimodal_meta_contract():
    assert fake_decode_meta(b"abc") == (3, 3, 21)


# --- real media decode (codec-free containers) ----------------------------


def test_bmp_roundtrip_and_integrity():
    payload = synth_bmp(33, 17, seed=9)
    meta = decode_bmp(payload)
    assert meta["width"] == 33 and meta["height"] == 17 and meta["bpp"] == 24
    assert meta["n_bytes"] == 54 + 17 * bmp_row_stride(33) == len(payload)
    # a lying header (truncated payload) must fail loudly, not mis-decode
    with pytest.raises(ValueError):
        decode_bmp(payload[:-1])
    # 1x1 edge: stride pads 3 bytes to 4
    assert decode_bmp(synth_bmp(1, 1))["n_bytes"] == 54 + 4


def test_wav_roundtrip_and_integrity():
    payload = synth_wav(16000, 1234)
    meta = decode_wav(payload)
    assert meta["sample_rate"] == 16000 and meta["channels"] == 1
    assert meta["duration_ms"] == 1234 * 1000 // 16000
    assert meta["n_bytes"] == 44 + 1234 * 2 == len(payload)
    with pytest.raises(ValueError):
        decode_wav(payload[:-2])
    stereo = decode_wav(synth_wav(8000, 100, channels=2))
    assert stereo["channels"] == 2 and stereo["duration_ms"] == 100 * 1000 // 8000


def test_png_roundtrip_and_integrity():
    from hyperloglog_pyspark_spark.functions.mediacodec import (
        decode_png,
        synth_png,
    )

    payload = synth_png(20, 7, seed=3)
    meta = decode_png(payload)
    assert meta["width"] == 20 and meta["height"] == 7
    assert meta["bit_depth"] == 8 and meta["color_type"] == 2
    assert meta["raw_len"] == 7 * (1 + 3 * 20)
    assert meta["n_bytes"] == len(payload)
    # any flipped byte must fail loudly: chunk CRC or inflate catches it
    for pos in (12, 40, len(payload) - 1):
        bad = payload[:pos] + bytes([payload[pos] ^ 0xFF]) + payload[pos + 1 :]
        with pytest.raises(ValueError):
            decode_png(bad)
    with pytest.raises(ValueError):  # truncation
        decode_png(payload[:-5])
    assert decode_png(synth_png(1, 1))["raw_len"] == 4


def test_gif_lzw_roundtrip_and_golden():
    """The hand-written GIF LZW coder: round-trip across code sizes
    (width bumps, table freeze at 4096, KwKwK self-reference) plus a
    golden decode of the canonical externally-encoded 1x1 GIF — proof the
    bit-level convention interops with stock encoders, not just itself."""
    import random

    from hyperloglog_pyspark_spark.functions.mediacodec import (
        decode_gif,
        lzw_decode,
        lzw_encode,
    )

    rng = random.Random(7)
    for mcs in (2, 3, 5, 8):
        for n in (0, 1, 2, 1000, 30000):
            data = bytes(rng.randrange(1 << mcs) for _ in range(n))
            assert lzw_decode(lzw_encode(data, mcs), mcs, n) == data
    run = b"\x01" * 500  # KwKwK: code references the entry being defined
    assert lzw_decode(lzw_encode(run, 2), 2, 500) == run
    big = bytes((i * 7) % 251 for i in range(80000))  # fills + freezes table
    assert lzw_decode(lzw_encode(big, 8), 8, 80000) == big

    onepx = bytes(
        int(h, 16)
        for h in (
            "47 49 46 38 39 61 01 00 01 00 80 00 00 00 00 00 FF FF FF "
            "21 F9 04 01 00 00 00 00 2C 00 00 00 00 01 00 01 00 00 02 "
            "02 44 01 00 3B"
        ).split()
    )
    meta = decode_gif(onepx)
    assert meta["width"] == meta["height"] == meta["pixel_count"] == 1
    assert meta["n_colors"] == 2


def test_gif_roundtrip_and_integrity():
    from hyperloglog_pyspark_spark.functions.mediacodec import (
        decode_gif,
        decode_media,
        synth_gif,
    )

    payload = synth_gif(40, 25, seed=3)
    meta = decode_media(payload)
    assert meta["media_type"] == "gif"
    assert meta["width"] == 40 and meta["height"] == 25
    assert meta["n_frames"] == 1 and meta["n_colors"] == 256
    assert meta["pixel_count"] == 1000 and meta["n_bytes"] == len(payload)
    with pytest.raises(ValueError, match="missing trailer"):
        decode_gif(payload[:-1])
    with pytest.raises(ValueError, match="after trailer"):
        decode_gif(payload + b"\x00")
    assert payload[799] == 8  # fixed synth layout puts LZW code size here
    with pytest.raises(ValueError, match="min code size"):
        decode_gif(payload[:799] + b"\x0c" + payload[800:])
    with pytest.raises(ValueError):  # wrong-but-legal code size: misparse
        decode_gif(payload[:799] + b"\x02" + payload[800:])
    assert decode_gif(synth_gif(1, 1))["pixel_count"] == 1
    # Trailing garbage INSIDE the image-data sub-blocks, after the EOI
    # code, must also surface: lzw_decode rejects any whole unconsumed
    # byte once EOI is read (only bit padding may remain), so a
    # corrupted byte can't hide in the one container region the
    # trailer/structure checks don't cover.
    from hyperloglog_pyspark_spark.functions.mediacodec import (
        lzw_decode,
        lzw_encode,
    )

    stream = lzw_encode(bytes(range(16)), 8)
    assert lzw_decode(stream, 8, 16) == bytes(range(16))
    with pytest.raises(ValueError, match="after EOI"):
        lzw_decode(stream + b"\x00", 8, 16)


def test_png_structural_ordering_is_enforced():
    """CRC-valid but RFC 2083-non-conformant streams must be rejected:
    chunks before IHDR, duplicate IHDR, chunks after IEND, and undefined
    scanline filter methods (ADVICE r5)."""
    import struct
    import zlib

    from hyperloglog_pyspark_spark.functions.mediacodec import (
        PNG_SIGNATURE,
        _png_chunk,
        decode_png,
        synth_png,
    )

    payload = synth_png(4, 3, seed=1)
    sig, rest = payload[:8], payload[8:]
    ihdr_chunk = rest[: 12 + 13]  # IHDR is first: 8 hdr + 13 data + 4 crc
    text = _png_chunk(b"tEXt", b"k\x00v")

    with pytest.raises(ValueError, match="precedes IHDR"):
        decode_png(sig + text + rest)
    with pytest.raises(ValueError, match="duplicate IHDR"):
        decode_png(sig + ihdr_chunk + rest)
    with pytest.raises(ValueError, match="after IEND"):
        decode_png(payload + text)

    # filter byte 5 is undefined; chunks stay CRC-valid so only the
    # scanline check can catch it
    w, h = 4, 3
    raw = bytearray()
    for row in range(h):
        raw.append(5 if row == 1 else 0)
        raw.extend(bytes(3 * w))
    bad = (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="filter byte"):
        decode_png(bad)


def test_decode_media_dispatches_on_magic():
    from hyperloglog_pyspark_spark.functions.mediacodec import synth_png

    assert decode_media(synth_bmp(2, 2))["media_type"] == "bmp"
    assert decode_media(synth_wav(8000, 8))["media_type"] == "wav"
    assert decode_media(synth_png(2, 2))["media_type"] == "png"
    with pytest.raises(ValueError):  # garbage after a PNG signature
        decode_media(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)
    with pytest.raises(ValueError):  # other compressed codecs out of scope
        decode_media(b"\xff\xd8\xff\xe0" + b"\x00" * 64)


def test_dedup_exact_drops_something(spark, sf_dir):
    out = ALL["dedup_exact"](spark, sf_dir).toPandas()
    assert out.n_dropped.sum() > 0, "events fixture should contain (user,type) dups"


# --- connected components (large-star/small-star) -------------------------


def _brute_components(edges):
    """Driver-side union-find oracle for small graphs."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {n: find(n) for n in parent}


def test_cc_long_path_beyond_label_prop_cap(spark):
    """A 60-node path (diameter 59) — plain min-label propagation capped at
    20 rounds would mislabel it; large-star/small-star converges in
    O(log^2 n) rounds and must get every node's component min."""
    from hyperloglog_pyspark_spark.operators.dedup import connected_components

    edges = [(i, i + 1) for i in range(100, 160)]
    df = spark.createDataFrame(edges, "u: long, v: long")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == {n: 100 for n in range(100, 161)}


def test_cc_random_graph_matches_union_find(spark):
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(400), rng.randrange(400)) for _ in range(300)]
    edges = [(u, v) for u, v in edges if u != v]
    df = spark.createDataFrame(edges, "u: long, v: long")
    got = {r.node: r.component for r in connected_components_import()(df).collect()}
    assert got == _brute_components(edges)


def connected_components_import():
    from hyperloglog_pyspark_spark.operators.dedup import connected_components

    return connected_components


def test_cc_empty_graph(spark):
    df = spark.createDataFrame([], "u: long, v: long")
    assert connected_components_import()(df).count() == 0


# --- PageRank: dangling mass + checkpoint cadence -------------------------


def _pr_mirror(nodes, edges, iters, n, scale=10**12):
    """Driver-side integer PageRank mirror (same floor arithmetic)."""
    from collections import Counter, defaultdict

    outdeg = Counter(s for s, _ in edges)
    base, tel = scale // n, scale * 15 // (100 * n)
    rank = {v: base for v in nodes}
    for _ in range(iters):
        dm = sum(r for v, r in rank.items() if outdeg[v] == 0) // n
        contrib = defaultdict(int)
        for s, d in edges:
            contrib[d] += rank[s] // outdeg[s]
        rank = {v: tel + 85 * (contrib[v] + dm) // 100 for v in nodes}
    return rank


def test_pagerank_redistributes_dangling_mass(spark):
    """A sink node (D: no out-edges) must not swallow rank mass: its rank
    feeds back into every node's next round. Exercised at iters=3 with
    checkpoint cadence 2 so the localCheckpoint path actually runs."""
    from hyperloglog_pyspark_spark.operators.graph import pagerank_scaled

    nodes_l = ["A", "B", "C", "D"]
    edges_l = [("A", "B"), ("A", "C"), ("B", "C"), ("C", "D")]
    nodes = spark.createDataFrame([(v,) for v in nodes_l], "node: string")
    edges = spark.createDataFrame(edges_l, "src: string, dst: string")
    got = {
        r.node: r.rank
        for r in pagerank_scaled(nodes, edges, n_nodes=4, iters=3, checkpoint_every=2).collect()
    }
    want = _pr_mirror(nodes_l, edges_l, iters=3, n=4)
    assert got == want
    # the dangling term must be non-zero somewhere in this topology —
    # i.e. the test would catch an engine that silently drops sink mass
    dropped = _pr_mirror_no_dangling(nodes_l, edges_l, iters=3, n=4)
    assert want != dropped, "fixture failed to exercise the dangling term"


def _pr_mirror_no_dangling(nodes, edges, iters, n, scale=10**12):
    from collections import Counter, defaultdict

    outdeg = Counter(s for s, _ in edges)
    base, tel = scale // n, scale * 15 // (100 * n)
    rank = {v: base for v in nodes}
    for _ in range(iters):
        contrib = defaultdict(int)
        for s, d in edges:
            contrib[d] += rank[s] // outdeg[s]
        rank = {v: tel + 85 * contrib[v] // 100 for v in nodes}
    return rank


def _pr_random_graph(seed=17, n=30):
    """Seeded directed graph with sinks, isolated nodes and nodes without
    in-edges: sources are drawn from the first 2/3 of the nodes, targets
    from the middle 2/3, and the last nodes touch no edge."""
    import random

    rng = random.Random(seed)
    nodes = [f"v{i:02d}" for i in range(n)]
    edges = sorted({
        (rng.choice(nodes[:20]), rng.choice(nodes[5:25])) for _ in range(70)
    } - {(v, v) for v in nodes})
    srcs, dsts = {s for s, _ in edges}, {d for _, d in edges}
    assert set(nodes) - srcs - dsts, "no isolated node"
    assert dsts - srcs, "no sink"
    assert srcs - dsts, "no node without in-edges"
    return nodes, edges


@pytest.mark.parametrize("checkpoint_every", [0, 2])
@pytest.mark.parametrize("iters", [1, 3, 12])
def test_pagerank_matches_mirror_on_random_graph(spark, iters, checkpoint_every):
    from hyperloglog_pyspark_spark.operators.graph import pagerank_scaled

    nodes_l, edges_l = _pr_random_graph()
    nodes = spark.createDataFrame([(v,) for v in nodes_l], "node: string")
    edges = spark.createDataFrame(edges_l, "src: string, dst: string")
    got = pagerank_scaled(
        nodes, edges, n_nodes=len(nodes_l), iters=iters,
        checkpoint_every=checkpoint_every,
    ).collect()
    assert len(got) == len(nodes_l)
    assert {r.node: r.rank for r in got} == _pr_mirror(
        nodes_l, edges_l, iters=iters, n=len(nodes_l)
    )


def _final_exchanges(df) -> int:
    """Exchange nodes of ``df``'s executed (final adaptive) plan, reused
    exchanges not counted."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    names = (line.lstrip(" :+-") for line in plan.toString().splitlines())
    return sum(n.startswith(("Exchange ", "BroadcastExchange ")) for n in names)


def test_pagerank_builds_without_jobs_and_hits_plan_memo(spark, sf_dir):
    """graph_pagerank_nations is a pure builder: building it runs no job,
    so the plan memo keeps it across a switch to another query; and its
    rounds add no exchange, so the executed plan has as many exchanges at
    6 rounds as at 3."""
    from hyperloglog_pyspark_spark import registry
    from hyperloglog_pyspark_spark.operators.graph import pagerank_scaled

    assert registry.EAGER_CACHES
    name = "graph_pagerank_nations"
    sc = spark.sparkContext
    registry.release_caches()
    build = registry.REGISTRY[name].fn.__wrapped__
    build(spark, sf_dir)  # the first load of each table infers its schema in a job
    group = "pagerank-build-shape"
    sc.setJobGroup(group, "jobs run while building graph_pagerank_nations")
    try:
        build(spark, sf_dir)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    first = ALL[name](spark, sf_dir)
    ALL["sample_stratified"](spark, sf_dir)
    assert ALL[name](spark, sf_dir) is first

    nodes_l, edges_l = _pr_random_graph()
    nodes = spark.createDataFrame([(v,) for v in nodes_l], "node: string")
    edges = spark.createDataFrame(edges_l, "src: string, dst: string")
    n = len(nodes_l)
    assert _final_exchanges(pagerank_scaled(nodes, edges, n, iters=3)) == (
        _final_exchanges(pagerank_scaled(nodes, edges, n, iters=6))
    )


def _is_cached(spark, df) -> bool:
    cm = spark._jsparkSession.sharedState().cacheManager()
    return cm.lookupCachedData(df._jdf).isDefined()


def _cache_frames(owner):
    from hyperloglog_pyspark_spark import registry

    return [df for k, (_, df) in registry.memo_entries("cache").items() if k[1] == owner]


def test_no_leaked_caches_after_query_switch(spark, sf_dir, monkeypatch):
    """Tracked persists are "cache" entries of the invoking query. Under
    the owner cap they outlive a switch to another query; with a cap of
    one owner the next query's plan-memo miss evicts every other owner's
    entries and frees their blocks — only the documented cross-query
    survivors ("_memo"-owned model checkpoints) remain — and a FULL
    release_caches() frees everything, memo blocks included: no RDD
    accumulates across a long multi-query session."""
    from hyperloglog_pyspark_spark import registry

    def owners():
        return {k[1] for k in registry.memo_entries("cache")} - {"_memo"}

    registry.release_caches()
    ALL["dedup_minhash_lsh"](spark, sf_dir).count()
    ALL["dedup_ngram_jaccard"](spark, sf_dir).count()
    assert owners() == {"dedup_minhash_lsh", "dedup_ngram_jaccard"}
    evicted = _cache_frames("dedup_minhash_lsh") + _cache_frames("dedup_ngram_jaccard")
    assert all(_is_cached(spark, df) for df in evicted)
    monkeypatch.setattr(registry, "CACHE_OWNERS", 1)
    ALL["text_tfidf_topk"](spark, sf_dir).count()
    assert owners() == {"text_tfidf_topk"}
    assert not any(_is_cached(spark, df) for df in evicted)
    registry.release_caches()
    assert not registry._MEMO
    jsc = spark.sparkContext._jsc
    assert jsc.getPersistentRDDs().size() == 0, "leaked persisted RDDs"


def test_cache_budget_evicts_least_recently_used_owner(spark, sf_dir, monkeypatch):
    """The cache budget is CACHE_OWNERS live owners. At the cap, a
    plan-memo miss evicts the least-recently-INVOKED owner first (a memo hit counts as an
    invocation): the evicted owner loses its cache entries, its blocks
    and every plan entry, the other owner keeps its cached blocks, and
    both rebuild to the same rows."""
    from hyperloglog_pyspark_spark import registry
    from tests.helpers import canon_rows

    registry.release_caches()
    monkeypatch.setattr(registry, "CACHE_OWNERS", 2)
    lru, mru = "corpus_overlap_grams", "dedup_minhash_lsh"
    rows = {}
    for name in (mru, lru):
        rows[name] = canon_rows(ALL[name](spark, sf_dir).toPandas())
        ALL[name](spark, sf_dir)  # the job-free rebuild is memoized
    assert any(k[-1] == mru for k in registry.memo_entries("plan"))
    ALL[mru](spark, sf_dir)  # a memo hit: mru becomes most recently used
    old, kept = _cache_frames(lru), _cache_frames(mru)
    assert old and kept and all(_is_cached(spark, df) for df in old + kept)
    ALL["scan_project_filter"](spark, sf_dir)  # a miss: evicts lru only
    assert not _cache_frames(lru)
    assert not any(_is_cached(spark, df) for df in old)
    assert _cache_frames(mru) == kept
    assert all(_is_cached(spark, df) for df in kept)
    assert not registry.memo_entries("plan")
    for name in (lru, mru):
        assert canon_rows(ALL[name](spark, sf_dir).toPandas()) == rows[name]
    registry.release_caches()
    jsc = spark.sparkContext._jsc
    assert jsc.getPersistentRDDs().size() == 0, "leaked persisted RDDs"


def test_cache_owner_cap_evicts_least_recently_used(spark, sf_dir, monkeypatch):
    """Cache owners are capped at CACHE_OWNERS (a live cache also pins
    driver heap that no byte count shows): a third owner's plan-memo miss
    evicts the least recently used one."""
    from hyperloglog_pyspark_spark import registry

    registry.release_caches()
    monkeypatch.setattr(registry, "CACHE_OWNERS", 2)
    for name in ("dedup_minhash_lsh", "corpus_overlap_grams", "text_tfidf_topk"):
        ALL[name](spark, sf_dir)
    owners = {k[1] for k in registry.memo_entries("cache")}
    assert owners == {"corpus_overlap_grams", "text_tfidf_topk"}
    registry.release_caches()


def test_pure_builders_alone_stay_under_the_owner_cap(spark, sf_dir, monkeypatch):
    """A pure builder's plan entry belongs to it like a cache entry, so a
    session of pure builders alone is bounded too: after every
    invocation at most CACHE_OWNERS queries hold plan entries, the most
    recently invoked ones."""
    from hyperloglog_pyspark_spark import registry

    registry.release_caches()
    monkeypatch.setattr(registry, "CACHE_OWNERS", 2)
    names = ("scan_project_filter", "sample_stratified", "join_shuffle_agg")
    planned = []
    for name in names * 2:
        ALL[name](spark, sf_dir)
        ALL[name](spark, sf_dir)  # the job-free rebuild is memoized
        planned.append({k[-1] for k in registry.memo_entries("plan")})
        assert name in planned[-1] and len(planned[-1]) <= 2
        assert not registry.memo_entries("cache")
    assert planned[-1] == set(names[1:])
    registry.release_caches()


def test_rerun_frees_its_earlier_checkpoints(spark, sf_dir):
    """A builder that checkpoints runs jobs, so it is never plan-memoized
    and every invocation rebuilds. No rebuilt plan can reach the previous
    run's localCheckpoint blocks, so each build frees them, and
    re-persisting an identical plan adds no cache entry: from the second
    run on, the persistent-RDD count and the store stay flat."""
    from hyperloglog_pyspark_spark import registry
    from tests.helpers import canon_rows

    registry.release_caches()
    jsc = spark.sparkContext._jsc
    first = canon_rows(ALL["graph_bfs_levels"](spark, sf_dir).toPandas())
    counts = []
    for _ in range(3):
        assert canon_rows(ALL["graph_bfs_levels"](spark, sf_dir).toPandas()) == first
        counts.append((jsc.getPersistentRDDs().size(), len(registry._MEMO)))
    assert counts == [counts[0]] * 3
    registry.release_caches()


def test_embedding_cosine_bucket_recall(spark, sf_dir, duck):
    """The (label, LSH-bucket) blocked query must keep a recall floor vs
    the unblocked label-only scan it replaced (multi-probe hamming <= 2;
    at the fixture's loose tau=0.4 some distant-bucket pairs are missed by
    design — at production thresholds ~0.9 the same probes catch >=95%)."""
    blocked = ALL["dedup_embedding_cosine"](spark, sf_dir).toPandas()
    unblocked = duck.execute("""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.4
    """).df()
    want = set(zip(unblocked.vec_a, unblocked.vec_b))
    got = set(zip(blocked.vec_a, blocked.vec_b))
    assert got <= want, "blocked query must not invent pairs"
    if want:
        recall = len(got & want) / len(want)
        assert recall >= 0.5, f"bucket-blocked recall collapsed: {recall}"


def test_observation_metrics_ride_the_curation_pass(spark, sf_dir):
    """Pipeline observability via df.observe(Observation): corpus-level
    accounting metrics (row count, char volume, per-pass min quality)
    are collected DURING the curation scan — no second job, which at
    100 TB is the difference between free telemetry and a rescan."""
    from pyspark.sql import Observation, functions as F

    from hyperloglog_pyspark_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    obs = Observation("curation_metrics")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("n_text_chars"),
        F.min("n_chars").alias("min_chars"),
    )
    kept = observed.filter(F.col("n_chars") > 100)
    n_kept = kept.count()  # one job: filter + metrics in the same pass
    metrics = obs.get
    want = docs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("text")).alias("c"),
        F.min("n_chars").alias("q"),
    ).first()
    assert metrics["n_docs"] == want["n"]
    assert metrics["n_text_chars"] == want["c"]
    assert metrics["min_chars"] == want["q"]
    assert n_kept <= metrics["n_docs"]


def test_cusum_identity_matches_recursive_reference(spark, sf_dir, duck):
    """The windowed prefix-minus-running-min formulation must equal the
    textbook recursion s_t = max(0, s_(t-1) + d_t) replayed driver-side
    on the same hourly series — guards the identity (and the BIGINT
    micro-unit discipline) independently of the DuckDB oracle."""
    from collections import defaultdict

    from hyperloglog_pyspark_spark.operators.streaming_batch import (
        CUSUM_H,
        CUSUM_SLACK,
    )

    got = {r.event_type: r for r in ALL["timeseries_drift_cusum"](spark, sf_dir).collect()}
    hourly = duck.execute("""
        SELECT event_type, date_trunc('hour', ts) AS slot,
               CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS v
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """).fetchall()
    from decimal import ROUND_HALF_UP, Decimal
    from math import floor

    def half_up_units(x: float) -> int:
        # sign-aware HALF_UP at micro-unit resolution — Spark's ROUND, not
        # Python round()'s banker's rounding
        return int((1 if x >= 0 else -1) * floor(abs(x) * 1e6 + 0.5))

    series = defaultdict(list)
    for t, _, v in hourly:
        series[t].append(v)
    q6 = Decimal("0.000001")
    for t, vs in series.items():
        # mirror the operator's mean exactly: DECIMAL(16,6)-quantized sum
        # cast to double, THEN divided by the count
        mu = float(sum(Decimal(v).quantize(q6, ROUND_HALF_UP) for v in vs)) / len(vs)
        s = mx = n_alert = 0
        for v in vs:
            s = max(0, s + half_up_units(v - mu - CUSUM_SLACK))
            mx = max(mx, s)
            n_alert += s > CUSUM_H * 1e6
        assert got[t].max_cusum == round(mx / 1e6, 6), t
        assert got[t].n_alert_hours == n_alert, t


def test_canonical_pick_elects_longest_member(spark, sf_dir):
    """The canonical doc must be a member of its cluster, carry the
    cluster's max token count, and break ties to the smallest doc_id;
    dropped_tokens must equal the cluster total minus the survivor."""
    comp = ALL["dedup_cluster_components"](spark, sf_dir).toPandas()
    pick = ALL["dedup_canonical_pick"](spark, sf_dir).toPandas()
    docs = {
        r.doc_id: len(r.text.split(" "))
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    members: dict[int, list[int]] = {}
    for r in comp.itertuples():
        members.setdefault(r.cluster_id, []).append(r.doc_id)
    assert set(pick.cluster_id) == set(members)
    for r in pick.itertuples():
        ms = members[r.cluster_id]
        assert r.canonical_doc in ms
        best = max(ms, key=lambda d: (docs[d], -d))
        assert r.canonical_doc == best
        assert r.kept_tokens == docs[best]
        assert r.dropped_tokens == sum(docs[d] for d in ms) - docs[best]
        assert r.n_members == len(ms)


def test_semdedup_prunes_only_within_assigned_cluster(spark, sf_dir):
    """Pruning must never remove ALL members of a cluster — the
    smallest-id vector of any cluster can never appear as a pruned vb,
    so at least one member survives. (Per-vector cluster agreement with
    the assignment is covered by the DuckDB oracle's shared CTEs.)"""
    conf = ALL["embedding_centroid_confusion"](spark, sf_dir).toPandas()
    pruned = ALL["semdedup_centroid_prune"](spark, sf_dir).toPandas()
    # cluster sizes from the confusion matrix's pred_label column
    sizes = conf.groupby("pred_label")["n"].sum().to_dict()
    dropped = pruned.groupby("cluster")["pruned_vec"].count().to_dict()
    for k, n_dropped in dropped.items():
        assert n_dropped < sizes[k], (
            f"cluster {k}: pruned {n_dropped} of {sizes[k]} members"
        )


def test_split_leakage_counts_cover_all_neardup_pairs(spark, sf_dir):
    """The audit's pair counts must total exactly the LSH pair count, and
    the is_leak flag must agree with the split columns row by row."""
    pairs = ALL["dedup_minhash_lsh"](spark, sf_dir).toPandas()
    audit = ALL["split_leakage_audit"](spark, sf_dir).toPandas()
    assert audit.n_pairs.sum() == len(pairs)
    for r in audit.itertuples():
        assert r.is_leak == (r.split_lo != r.split_hi)


def test_range_sort_buckets_are_disjoint_and_total(spark, sf_dir):
    """Bucket ranges must be pairwise disjoint and monotone in bucket id
    (the total-order proof), and the counts must cover every order row."""
    out = (
        ALL["layout_range_sort_buckets"](spark, sf_dir)
        .toPandas()
        .sort_values("bucket")
        .reset_index(drop=True)
    )
    n_orders = spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    assert out.n_rows.sum() == n_orders
    for i in range(1, len(out)):
        # Bucketing is a pure function of the cents value, so equal
        # values always share a bucket: ranges must be STRICTLY disjoint.
        assert out.min_cents[i] > out.max_cents[i - 1], "bucket ranges overlap"
        assert out.max_cents[i] >= out.max_cents[i - 1]


def test_unigram_logprob_orders_rare_token_docs_higher(spark, sf_dir):
    """A document made only of corpus-frequent tokens must score below
    one containing the corpus's rarest tokens — directionality of the
    surprisal signal, independent of the oracle's value equality."""
    import pandas as pd

    scored = ALL["text_unigram_logprob"](spark, sf_dir).toPandas()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").toPandas()
    freq: dict[str, int] = {}
    for t in docs.text:
        for w in t.split(" "):
            freq[w] = freq.get(w, 0) + 1
    mean_rank = docs.set_index("doc_id").text.map(
        lambda t: sum(freq[w] for w in t.split(" ")) / len(t.split(" "))
    )
    joined = pd.merge(
        scored, mean_rank.rename("mean_freq").reset_index(), on="doc_id"
    )
    commonest = joined.nlargest(5, "mean_freq").avg_surprisal_milli.mean()
    rarest = joined.nsmallest(5, "mean_freq").avg_surprisal_milli.mean()
    assert rarest > commonest


def test_rrf_scores_recompute_from_ranks(spark, sf_dir):
    """Every fused score must equal 1/(60+lex_rank) + 1/(60+dense_rank)
    recomputed directly from the emitted ranks (absent rank → 0), and
    fused ranks must be dense 1..k per query."""
    out = ALL["similarity_hybrid_rrf"](spark, sf_dir).toPandas()
    for r in out.itertuples():
        want = 0.0
        if r.lex_rank == r.lex_rank and r.lex_rank is not None:  # not NaN
            want += 1.0 / (60 + r.lex_rank)
        if r.dense_rank == r.dense_rank and r.dense_rank is not None:
            want += 1.0 / (60 + r.dense_rank)
        assert abs(r.rrf_score - round(want, 6)) < 1e-9
    for q, grp in out.groupby("query_id"):
        assert sorted(grp.fused_rank) == list(range(1, len(grp) + 1))


def test_winsorize_means_are_bounded_by_thresholds(spark, sf_dir):
    """The winsorized mean must lie within [lo, hi] (every clamped value
    does), never exceed the raw mean's distance from the band, and the
    clamp counts must be consistent with ~1% tails."""
    out = ALL["quality_winsorize_clamp"](spark, sf_dir).toPandas()
    assert len(out) > 0
    for r in out.itertuples():
        assert r.lo_cents <= r.hi_cents
        assert r.lo_cents <= r.mean_cents_winsorized <= r.hi_cents
        k = (r.n_rows + 99) // 100
        assert r.n_clamped_lo < k  # strictly-below-lo excludes rank k itself
        assert r.n_clamped_hi < k


def test_volume_spike_covers_all_events(spark, sf_dir):
    """Daily rows must account for every event, and the spike flag must
    agree with the emitted z at the documented threshold."""
    out = ALL["quality_anomaly_volume_spike"](spark, sf_dir).toPandas()
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert out.n_events.sum() == n_events
    for r in out.itertuples():
        assert bool(r.is_spike) == (abs(r.z) >= 2.0)


def test_erasure_sweep_chain_is_consistent(spark, sf_dir):
    """Purged+retained must equal each table's row count, and the
    lineitem purge count must equal the rows of erased customers'
    orders recomputed directly."""
    out = ALL["governance_erasure_sweep"](spark, sf_dir).toPandas().set_index("table_name")
    import pyspark.sql.functions as F

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    for tbl, df in [("customer", cust), ("orders", orders), ("lineitem", li)]:
        row = out.loc[tbl]
        assert row.n_purged + row.n_retained == df.count()
    erased_orders = orders.join(
        cust.filter(F.col("c_custkey") % 97 == 0).select("c_custkey"),
        orders.o_custkey == F.col("c_custkey"),
    ).select("o_orderkey")
    want = li.join(erased_orders, li.l_orderkey == F.col("o_orderkey")).count()
    assert out.loc["lineitem"].n_purged == want


def test_rfm_marginals_are_near_quintiles(spark, sf_dir):
    """Each RFM dimension's marginal bucket sizes must be ~n/5 (exact
    quintile ranks, ties can shift boundaries), and every cell's bucket
    ids must be in 1..5."""
    out = ALL["event_rfm_segmentation"](spark, sf_dir).toPandas()
    n = out.n_customers.sum()
    for dim in ("r_bucket", "f_bucket", "m_bucket"):
        assert set(out[dim]) <= {1, 2, 3, 4, 5}
        marg = out.groupby(dim)["n_customers"].sum()
        # ties (low-cardinality ints) can move mass between neighbors;
        # a bucket still never exceeds 2x the ideal fifth
        assert marg.max() <= 2 * (n / 5) + 1, (dim, dict(marg))
    assert n > 0


def test_mrr_agrees_with_bm25_ranking(spark, sf_dir):
    """reciprocal_rank must equal 1/first_rel_rank, the first relevant
    rank must point at a doc containing every query term, and
    n_rel_in_topk can never exceed min(topk, n_rel_total)."""
    rep = ALL["retrieval_mrr_report"](spark, sf_dir).toPandas()
    lex = ALL["text_bm25_topk"](spark, sf_dir).toPandas()
    docs = {
        r.doc_id: set(r.text.split(" "))
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    from hyperloglog_pyspark_spark.operators.textops import BM25_QUERIES

    terms: dict[int, set] = {}
    for q, t in BM25_QUERIES:
        terms.setdefault(q, set()).add(t)
    for r in rep.itertuples():
        assert r.n_rel_in_topk <= min(10, r.n_rel_total)
        if r.first_rel_rank == 0:
            assert r.reciprocal_rank == 0.0
            continue
        assert abs(r.reciprocal_rank - round(1.0 / r.first_rel_rank, 6)) < 1e-9
        doc = lex[(lex.query_id == r.query_id) & (lex["rank"] == r.first_rel_rank)].doc_id.iloc[0]
        assert terms[r.query_id] <= docs[doc]


def test_mixture_budget_waterfill_path_executes(spark, sf_dir):
    """At least one language must be supply-capped on the fixture (the
    redistribution arithmetic must actually run), grants can never exceed
    supply, and total grants never exceed the budget (floors undershoot)."""
    out = ALL["mixture_budget_rates"](spark, sf_dir).toPandas()
    assert out.capped.any(), "no capped language: waterfill path untested"
    assert (~out.capped).any(), "every language capped: budget infeasible"
    assert (out.granted_tokens <= out.tokens_available).all()
    budget = out.desired_tokens.sum()  # Σ floor(B·p) ≤ B
    assert out.granted_tokens.sum() <= budget + len(out)
    for r in out.itertuples():
        if r.capped:
            assert r.granted_tokens == r.tokens_available
            assert r.fill_rate < 1.0


def test_source_share_cap_fixpoint_on_skewed_corpus(spark, tmp_path_factory):
    """mixture_source_share_cap on a head-heavy synthetic corpus: only
    the dominant sources get capped, every kept share respects the cap,
    and the solve matches an independent pure-Python fixpoint search
    (try every m, keep the smallest valid); both engines agree via
    strict helpers.compare."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hyperloglog_pyspark_spark.operators.trainprep import SRC_CAP_PCT
    from hyperloglog_pyspark_spark.registry import REGISTRY, oracle_sql, queries
    from tests.helpers import compare

    queries()
    d = str(tmp_path_factory.mktemp("srccap"))
    # token supply per source: one whale, one mid, many small (enough
    # smalls that a 5% cap is satisfiable: 32 sources >> 1/c = 20)
    supply = {"whale": 400, "mid": 90, **{f"s{i}": 25 for i in range(30)}}
    rows = []
    for src, toks in supply.items():
        rows.append((len(rows), " ".join(f"t{j}" for j in range(toks)), src))
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows]),
                "lang": pa.array(["en"] * len(rows)),
                "source": pa.array([r[2] for r in rows]),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        os.path.join(d, "documents.parquet"),
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    df = REGISTRY["mixture_source_share_cap"].fn(spark, d)
    compare(df, con, oracle_sql()["mixture_source_share_cap"], "srccap_fix")

    # independent fixpoint reference: smallest m whose implied cap
    # separates the descending-token sort at position m
    toks = sorted(supply.values(), reverse=True)
    total, n, c = sum(toks), len(toks), SRC_CAP_PCT
    want_cap = None
    for m in range(n + 1):
        s_u, dd = total - sum(toks[:m]), 100 - m * c
        if dd <= 0:
            continue
        first_unc = toks[m] if m < n else 0
        last_cap = toks[m - 1] if m > 0 else None
        if first_unc * dd <= c * s_u and (m == 0 or last_cap * dd > c * s_u):
            want_cap = (c * s_u) // dd
            break
    out = {r["source"]: r for r in df.collect()}
    assert all(r["cap_tokens"] == want_cap for r in out.values())
    assert out["whale"]["capped"] and out["whale"]["granted_tokens"] == want_cap
    assert not out["s0"]["capped"]
    assert out["s0"]["granted_tokens"] == 25
    kept = sum(r["granted_tokens"] for r in out.values())
    for r in out.values():
        # the cap honored against the KEPT mixture (the Gopher contract)
        assert r["granted_tokens"] * 100 <= c * kept + 100  # floor slack
        assert r["kept_total_tokens"] == kept


# --- PNG codec properties (hypothesis) ------------------------------------

from hypothesis import given, settings, strategies as st  # noqa: E402


@given(
    w=st.integers(min_value=1, max_value=200),
    h=st.integers(min_value=1, max_value=80),
    seed=st.integers(min_value=0, max_value=2**31),
)
@settings(max_examples=60, deadline=None, derandomize=True)
def test_png_roundtrip_property(w, h, seed):
    """decode(synth(w, h)) returns exactly (w, h, 8-bit truecolor) with
    the scanline-length identity, for arbitrary dimensions/pixel data."""
    from hyperloglog_pyspark_spark.functions.mediacodec import (
        decode_png,
        synth_png,
    )

    payload = synth_png(w, h, seed=seed)
    meta = decode_png(payload)
    assert (meta["width"], meta["height"]) == (w, h)
    assert meta["raw_len"] == h * (1 + 3 * w)
    assert meta["n_bytes"] == len(payload)


@given(
    w=st.integers(min_value=1, max_value=60),
    h=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31),
    data=st.data(),
)
@settings(max_examples=60, deadline=None, derandomize=True)
def test_png_any_single_byte_flip_is_detected(w, h, seed, data):
    """Integrity property: flipping ANY single byte of a valid PNG makes
    decode_png raise (signature, chunk CRC32, or inflate failure) —
    never a silent wrong answer. This is the ingest-audit guarantee the
    multimodal_decode_png oracle leans on."""
    from hyperloglog_pyspark_spark.functions.mediacodec import (
        decode_png,
        synth_png,
    )

    payload = synth_png(w, h, seed=seed)
    pos = data.draw(st.integers(min_value=0, max_value=len(payload) - 1))
    bit = data.draw(st.integers(min_value=0, max_value=7))
    bad = payload[:pos] + bytes([payload[pos] ^ (1 << bit)]) + payload[pos + 1 :]
    with pytest.raises(ValueError):
        decode_png(bad)


def test_warm_rerun_is_deterministic(spark, sf_dir):
    """Invoking the same registered query twice in one session must give
    identical rows: the second run reads the persisted intermediates the
    first run built (tracked_persist keeps caches across SAME-query
    reruns — the bench warm path), and a stale or wrongly-scoped cache
    would surface here as a silent result drift."""
    from tests.helpers import canon_rows

    for name in (
        "dedup_minhash_lsh",       # persisted shingle table + LSH bands
        "text_unigram_logprob",    # persisted token explode
        "quality_winsorize_clamp", # persisted (grp, cents) histogram
    ):
        first = canon_rows(ALL[name](spark, sf_dir).toPandas())
        second = canon_rows(ALL[name](spark, sf_dir).toPandas())
        assert first == second, f"{name}: warm rerun diverged"


def test_warm_rerun_is_deterministic_across_query_switches(spark, sf_dir):
    """The same check across query switches: a long-lived session serving
    a query mix in rotation keeps every query's caches and plan entries
    live, so a stale cache would surface as a second-rotation result that
    differs from the first. The mix is perfbench's, whose two cache
    holders must hit the plan memo (same handle) in the second
    rotation."""
    from hyperloglog_pyspark_spark import registry
    from tests.helpers import canon_rows

    mix = (
        "graph_pagerank_nations", "timeseries_ewma_unbounded",
        "corpus_overlap_grams", "sink_ddsketch_store",
        "sink_partitioned_parquet", "udtf_bigrams", "sample_stratified",
        "dedup_minhash_lsh",
    )
    registry.release_caches()
    for name in mix:  # first reads of each table infer schemas in a job
        ALL[name](spark, sf_dir)
    rotations = []
    for _ in range(2):
        rot = {}
        for name in mix:
            df = ALL[name](spark, sf_dir)
            rot[name] = (df, canon_rows(df.toPandas()))
        rotations.append(rot)
    first, second = rotations
    for name in mix:
        assert second[name][1] == first[name][1], f"{name}: diverged after switches"
    for name in ("corpus_overlap_grams", "dedup_minhash_lsh"):
        assert second[name][0] is first[name][0], f"{name}: missed the plan memo"
    registry.release_caches()


def test_png_crc_consistent_corruption_still_raises_valueerror():
    """Review regression: corruption whose chunk CRCs are self-consistent
    (a malformed IHDR length, a non-zlib IDAT stream) must still raise
    ValueError — not leak struct.error / zlib.error past the operator's
    `except ValueError`."""
    import struct as _struct

    from hyperloglog_pyspark_spark.functions.mediacodec import (
        PNG_SIGNATURE,
        _png_chunk,
        decode_png,
    )

    short_ihdr = PNG_SIGNATURE + _png_chunk(b"IHDR", b"\x00" * 5) + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError):
        decode_png(short_ihdr)
    good_ihdr = _struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    bad_idat = (
        PNG_SIGNATURE
        + _png_chunk(b"IHDR", good_ihdr)
        + _png_chunk(b"IDAT", b"not zlib data")
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        decode_png(bad_idat)


def test_referential_orphans_empty_child_reports_zero_not_null(spark, sf_dir, tmp_path):
    """The audit's reason to exist is catching a silently EMPTY feed: an
    empty child table must report n_orphans = 0 / intact = true (the
    oracle's COUNT(*) semantics), not NULL from summing zero rows."""
    from hyperloglog_pyspark_spark.registry import REGISTRY, queries
    from hyperloglog_pyspark_spark.sources.catalog import load_table

    queries()
    empty_dir = tmp_path / "empty_sf"
    empty_dir.mkdir()
    for t in ["lineitem", "orders", "customer", "events", "part", "supplier"]:
        load_table(spark, sf_dir, t).limit(0).write.parquet(
            str(empty_dir / f"{t}.parquet")
        )
    rows = REGISTRY["quality_referential_orphans"].fn(spark, str(empty_dir)).collect()
    assert len(rows) == 6
    for r in rows:
        assert r["n_orphans"] == 0, r
        assert r["intact"] is True, r


def test_hll_merge_compat_single_parity_still_estimates():
    """hll_union NULL-propagates; when every key shares one parity the
    merge must still estimate from the populated sketch (the old
    union_agg form's ignore-NULL behavior), not emit NULL."""
    from pyspark.sql import functions as F

    from hyperloglog_pyspark_spark.session import get_spark

    spark = get_spark("tests")
    df = spark.createDataFrame([(2,), (4,), (6,)], "user_id long")
    agg = df.agg(
        F.hll_sketch_agg(
            F.when(F.col("user_id") % 2 == 0, F.col("user_id").cast("string")),
            F.lit(14),
        ).alias("s_hi"),
        F.hll_sketch_agg(
            F.when(F.col("user_id") % 2 == 1, F.col("user_id").cast("string")),
            F.lit(12),
        ).alias("s_lo"),
    )
    est = agg.select(
        F.hll_sketch_estimate(
            F.coalesce(F.hll_union("s_hi", "s_lo", True), F.col("s_hi"), F.col("s_lo"))
        ).alias("est")
    ).collect()[0]["est"]
    assert est == 3


def test_lsh_bucket_cap_stars_oversized_buckets(spark):
    """The boilerplate-skew guard (dedup_skew_probe.py / SCALE.md): an
    over-cap bucket must emit a linear star to its minimum instead of
    the |b|²/2 clique, while ≤cap buckets keep exact pairwise — and for
    identical documents the star spans the SAME connected component as
    the clique, so cluster-level dedup results are unchanged."""
    from pyspark.sql import functions as F

    from hyperloglog_pyspark_spark.operators.dedup import (
        _lsh_candidates,
        _minhash_sigs,
    )
    from hyperloglog_pyspark_spark.functions.texttools import word_shingles

    boiler = " ".join(f"w{i}" for i in range(30))
    rows = [(i, boiler) for i in range(20)]  # 20 identical docs → whale
    rows += [(100, "alpha beta gamma delta epsilon zeta"),
             (101, "alpha beta gamma delta epsilon eta")]  # small near-dup
    docs = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", word_shingles("text", 3).alias("sh")
    )
    sigs = _minhash_sigs(docs)
    full = {tuple(r) for r in _lsh_candidates(sigs).collect()}
    capped = {tuple(r) for r in _lsh_candidates(sigs, bucket_cap=5).collect()}

    whale_full = {p for p in full if p[0] < 100}
    whale_capped = {p for p in capped if p[0] < 100 or p[1] < 100}
    assert len(whale_full) == 20 * 19 // 2  # clique
    assert whale_capped == {(0, b) for b in range(1, 20)}  # star to min
    # small buckets are untouched by the cap
    assert {p for p in capped if p[0] >= 100} == {
        p for p in full if p[0] >= 100
    }

    # same connected components either way (star preserves the class)
    def components(pairs):
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            parent[find(a)] = find(b)
        groups = {}
        for n in parent:
            groups.setdefault(find(n), set()).add(n)
        return {frozenset(g) for g in groups.values()}

    assert components(full) == components(capped)


def test_incremental_probe_bucket_cap_digest_route(spark):
    """Index-side twin of the LSH bucket cap (SCALE.md §skewed band):
    (a) with every bucket under the cap, the capped probe reduces to the
    uncapped result exactly; (b) with a whale index bucket, batch docs
    probing it are routed through the exact-digest leg — byte-identical
    boilerplate keeps its is_dup verdict, nothing the exact probe would
    admit gets flagged, and the whale bucket is never pair-exploded
    (candidate counts collapse from |bucket| members to distinct
    digests)."""
    from hyperloglog_pyspark_spark.functions.texttools import word_shingles
    from hyperloglog_pyspark_spark.operators.dedup import (
        _incremental_probe_frame,
    )

    boiler = " ".join(f"w{i}" for i in range(30))
    uniq = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, boiler) for i in range(20)]  # ids 0,5,10,15 = batch; 16 hist
    rows += [(100, uniq), (101, uniq)]  # 100 = batch, identical hist twin
    rows += [(200, "one lone document with entirely novel words here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", word_shingles("text", 3).alias("sh")
    )

    def run(cap):
        return {
            r["doc_id"]: (r["n_candidates"], r["n_confirmed"], r["is_dup"])
            for r in _incremental_probe_frame(docs, cap).collect()
        }

    full = run(None)
    assert run(100) == full  # whale bucket (16) under cap → exact reduction
    capped = run(5)
    assert set(capped) == set(full)
    # verdicts agree on every doc: whale batch docs stay dropped (digest
    # hit), the identical unique pair stays dropped (pairwise route
    # untouched), the novel doc stays admitted
    assert {d: v[2] for d in full for v in [full[d]]} == {
        d: v[2] for d in capped for v in [capped[d]]
    }
    for whale_id in (0, 5, 10, 15):
        assert full[whale_id][0] == 16  # uncapped enumerates the bucket
        assert capped[whale_id] == (1, 1, True)  # one distinct digest
    assert capped[100] == full[100]  # small bucket: same pairwise numbers
    assert capped[200] == (0, 0, False)


def test_incremental_probe_cross_route_counts_once(spark):
    """A duplicate reachable through BOTH probe routes is counted once:
    doc 0 (batch) has a byte-identical hist twin (doc 1) that shares its
    under-cap band buckets (pairwise confirmation) while a whale of
    low-Jaccard one-word variants floods ONE band over the cap, routing
    doc 0 through the digest leg — which hits the same twin's digest.
    Pre-fix n_confirmed = 2 (pair + digest) where the exact probe says 1;
    the digest route now anti-joins away digests already represented
    among the doc's pairwise-confirmed hists. (Texts pinned from a
    search over one-word variants; the minhash permutations are fixed,
    so the band split is deterministic.)"""
    from hyperloglog_pyspark_spark.functions.texttools import word_shingles
    from hyperloglog_pyspark_spark.operators.dedup import (
        _incremental_probe_frame,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota"
    variants = [
        "alpha beta gamma delta epsilon %s eta theta iota" % w
        for w in ("xi", "pi", "rho", "phi", "chi", "v0", "v4")
    ]
    rows = [(0, base), (1, base)] + list(zip([2, 3, 4, 6, 7, 8, 9], variants))
    docs = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", word_shingles("text", 3).alias("sh")
    )

    def run(cap):
        return {
            r["doc_id"]: (r["n_candidates"], r["n_confirmed"], r["is_dup"])
            for r in _incremental_probe_frame(docs, cap).collect()
        }

    full = run(None)
    assert full == {0: (8, 1, True)}  # exact: 8 candidates, twin confirmed once
    capped = run(5)
    # whale band (twin + 7 variants = 8 > cap) digest-routed; under-cap
    # bands confirm the twin pairwise; the digest hit is excluded
    assert capped[0][1] == 1  # counted ONCE (pre-fix: 2)
    assert capped[0][2] and capped[0][1] <= full[0][1]


def test_sh_digest_is_injective_over_separator_bearing_tokens(spark):
    """The capped probe's digest route claims digest equality ⇔
    identical shingle set; a plain md5(array_join(sh, '|')) broke that
    for tokens containing '|' — ['x|y', 'z'] and ['x', 'y|z'] join to
    the same string. The per-element-md5 digest keeps them distinct
    (fixed-width hex elements make the join unambiguous) while still
    mapping identical sets to one digest."""
    from hyperloglog_pyspark_spark.operators.dedup import _sh_digest

    df = spark.createDataFrame(
        [(1, ["x|y", "z"]), (2, ["x", "y|z"]), (3, ["x|y", "z"])],
        "doc_id long, sh array<string>",
    ).select("doc_id", _sh_digest("sh").alias("dg"))
    got = {r["doc_id"]: r["dg"] for r in df.collect()}
    assert got[1] != got[2]  # old encoding collided these
    assert got[1] == got[3]  # identical sets still share one digest


def test_incremental_epochs_bucket_cap_digest_route(spark):
    """The epochs flow's whale guard: per-epoch census + digest route.
    (a) caps above every bucket reduce exactly to the uncapped result;
    (b) a whale seed bucket keeps rejecting identical later-epoch docs
    under a small cap (digest hit), admission verdicts never diverge
    from the exact probe; (c) epoch chaining still works through the
    capped path — an epoch-1 admit rejects its epoch-2 twin."""
    from hyperloglog_pyspark_spark.functions.texttools import word_shingles
    from hyperloglog_pyspark_spark.operators.dedup import (
        _incremental_epochs_frame,
    )

    boiler = " ".join(f"w{i}" for i in range(30))
    uniq = "alpha beta gamma delta epsilon zeta eta theta"
    chain = "kappa lambda mu nu xi omicron pi rho"
    rows = [(i, boiler) for i in range(18)]  # 6 whale docs per epoch
    rows += [(99, uniq), (100, uniq)]  # seed + identical epoch-1 twin
    rows += [(103, chain), (104, chain)]  # epoch-1 admit + epoch-2 twin
    rows += [(200, "one lone document with entirely novel words here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", word_shingles("text", 3).alias("sh")
    )

    def run(cap):
        return {
            r["doc_id"]: (
                r["epoch"],
                r["n_candidates"],
                r["n_confirmed"],
                r["admitted"],
            )
            for r in _incremental_epochs_frame(docs, cap).collect()
        }

    full = run(None)
    assert run(100) == full  # whale bucket (6) under cap → exact reduction
    capped = run(3)
    assert set(capped) == set(full)
    assert {d: v[3] for d, v in full.items()} == {
        d: v[3] for d, v in capped.items()
    }  # admission verdicts identical
    for whale_id in (1, 4, 7, 10, 13, 16):  # epoch-1 whales
        assert full[whale_id][1:] == (6, 6, False)  # uncapped enumerates
        assert capped[whale_id] == (1, 1, 1, False)  # one distinct digest
    for whale_id in (2, 5, 8, 11, 14, 17):  # epoch-2 whales stay rejected
        assert not capped[whale_id][3]
    assert capped[100] == full[100] == (1, 1, 1, False)  # pairwise route
    assert capped[103][3] and capped[104] == (2, 1, 1, False)  # chaining
    assert capped[200] == (2, 0, 0, True)


def test_incremental_epochs_cross_route_counts_once(spark):
    """Epochs twin of test_incremental_probe_cross_route_counts_once:
    the same pinned band-split corpus re-keyed onto the epoch layout
    (doc 1 = epoch-1 batch, doc 0 + the variants = epoch-0 index). The
    identical twin reachable through both an under-cap band (pairwise)
    and the whale band (digest) must count once."""
    from hyperloglog_pyspark_spark.functions.texttools import word_shingles
    from hyperloglog_pyspark_spark.operators.dedup import (
        _incremental_epochs_frame,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota"
    variants = [
        "alpha beta gamma delta epsilon %s eta theta iota" % w
        for w in ("xi", "pi", "rho", "phi", "chi", "v0", "v4")
    ]
    rows = [(1, base), (0, base)]  # 1 = epoch-1 batch, 0 = identical seed
    rows += list(zip([3, 6, 9, 12, 15, 18, 21], variants))  # epoch-0 whale
    docs = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", word_shingles("text", 3).alias("sh")
    )

    def run(cap):
        return {
            r["doc_id"]: (r["n_candidates"], r["n_confirmed"], r["admitted"])
            for r in _incremental_epochs_frame(docs, cap).collect()
        }

    full = run(None)
    assert full[1] == (8, 1, False)  # exact: twin confirmed once
    capped = run(5)
    assert capped[1][1] == 1  # counted ONCE across routes (pre-fix: 2)
    assert not capped[1][2] and capped[1][1] <= full[1][1]


def test_connected_components_memo_survives_query_release(spark):
    """The CC fixpoint memo contract: (a) a second call over a
    semantically-equal edge plan returns the memoized frame (no fixpoint
    re-run); (b) different edges never false-hit; (c) the memoized frame
    stays SERVABLE after another registered query's invocation releases
    per-query caches (its blocks are "_memo"-owned); (d) a FULL
    release_caches() empties the memo and a fresh call recomputes."""
    from hyperloglog_pyspark_spark import registry
    from hyperloglog_pyspark_spark.operators.dedup import connected_components

    registry.release_caches()  # start clean
    e1 = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "u long, v long"
    )
    cc1 = connected_components(e1)
    got1 = {(r["node"], r["component"]) for r in cc1.collect()}
    assert got1 == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    assert connected_components(e1) is cc1  # same plan -> memo hit
    # (two createDataFrame calls make distinct local RDD plans and must
    # MISS — the real dedup flow derives edges from canonical parquet
    # scans, whose re-built plans ARE semantically equal; that hit is
    # exercised by the registered queries below)
    e2 = spark.createDataFrame([(5, 6)], "u long, v long")
    got2 = {(r["node"], r["component"]) for r in connected_components(e2).collect()}
    assert got2 == {(5, 5), (6, 5)}  # no false hit
    # another query's invocation releases per-query caches; memo survives
    ALL["text_stats"](spark, "/root/testdata/sf0.001").collect()
    assert {(r["node"], r["component"]) for r in cc1.collect()} == got1
    # real flow: the registered dedup queries derive their edge plans
    # from canonical parquet scans, so re-invocation memo-HITS (one
    # entry serves cluster_components AND canonical_pick)
    n_before = len(registry.memo_entries("cc"))
    ALL["dedup_cluster_components"](spark, "/root/testdata/sf0.001").collect()
    assert len(registry.memo_entries("cc")) == n_before + 1
    ALL["dedup_cluster_components"](spark, "/root/testdata/sf0.001").collect()
    ALL["dedup_canonical_pick"](spark, "/root/testdata/sf0.001").collect()
    assert len(registry.memo_entries("cc")) == n_before + 1
    registry.release_caches()  # full release empties the memo
    assert not registry.memo_entries("cc")
    cc3 = connected_components(e1)
    assert cc3 is not cc1
    assert {(r["node"], r["component"]) for r in cc3.collect()} == got1
    registry.release_caches()


def test_connected_components_memo_evicts_replaced_and_overflow(spark, monkeypatch):
    """Memo hygiene: (a) FIFO overflow beyond the store's MEMO_CAP
    unpersists the evicted entry's "_memo"-owned checkpoint blocks and
    drops its "cache" entry (a long exploratory session over many
    distinct edge plans must not accumulate blocks unboundedly);
    (b) replacing an existing key releases the old frame's blocks too."""
    from hyperloglog_pyspark_spark import registry
    from hyperloglog_pyspark_spark.operators.dedup import connected_components

    registry.release_caches()  # start clean

    def n_memo_rows():
        return sum(1 for k in registry.memo_entries("cache") if k[1] == "_memo")

    monkeypatch.setattr(registry, "MEMO_CAP", 2)
    try:
        frames = []
        for i in range(3):  # 3 distinct edge plans > cap of 2
            e = spark.createDataFrame([(10 * i + 1, 10 * i + 2)], "u long, v long")
            frames.append(connected_components(e))
            frames[-1].collect()
        assert len(registry.memo_entries("cc")) == 2  # FIFO evicted the first
        assert n_memo_rows() == 2  # ...and released its "cache" entry
        # the survivors still serve
        assert {tuple(r) for r in frames[1].collect()} == {(11, 11), (12, 11)}
        assert {tuple(r) for r in frames[2].collect()} == {(21, 21), (22, 21)}
        # replacement under an existing key releases the old frame
        key, (jplans, old_frame) = next(iter(registry.memo_entries("cc").items()))
        registry.memo_put(
            key, registry._checkpoint(old_frame.limit(1), "_memo"), jplans
        )
        assert len(registry.memo_entries("cc")) == 2
        assert n_memo_rows() == 2
    finally:
        registry.release_caches()
    assert n_memo_rows() == 0
    assert not spark.sparkContext._jsc.getPersistentRDDs().size()


def test_connected_components_leaves_only_its_memo_rdd(spark):
    """The fixpoint's rounds are tracked localCheckpoints like every other
    loop's: the session needs no reliable checkpoint directory, and once
    the fixpoint's "_memo" copy exists the rounds are freed, so the only
    persistent RDD left is the memo's."""
    from hyperloglog_pyspark_spark import registry
    from hyperloglog_pyspark_spark.operators.dedup import connected_components

    registry.release_caches()
    jsc = spark.sparkContext._jsc
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "u long, v long"
    )
    got = {tuple(r) for r in connected_components(e).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (10, 10), (11, 10)}
    assert not jsc.sc().getCheckpointDir().isDefined()
    memo = [v[0] for k, v in registry.memo_entries("cache").items() if k[1] == "_memo"]
    assert len(memo) == 1
    assert set(jsc.getPersistentRDDs().keySet().toArray()) == set(memo[0])
    registry.release_caches()


def test_interval_overlap_null_user_ids_match_oracle(spark, sf_dir, tmp_path):
    """n_affected_users must be COUNT(a.user_id) — the oracle skips
    NULL-keyed activity rows, so a NULL user_id active during an incident
    hour must NOT inflate the count (a COUNT(*) over the joined rows
    would). Latent on the stock testdata (zero null user_ids); this
    fixture nulls every 5th id to force the divergence class."""
    import duckdb

    from hyperloglog_pyspark_spark.registry import REGISTRY, queries
    from hyperloglog_pyspark_spark.sources.catalog import load_table
    from pyspark.sql import functions as F
    from tests.helpers import compare

    queries()
    nulled = tmp_path / "nulled_sf"
    nulled.mkdir()
    # sf0.001 has no hour with >= 7 errors, so synthesize the incident:
    # 8 error rows in one hour plus per-user activity spanning it — ids
    # 5/10 nulled (every 5th), both ACTIVE during the incident window.
    rows = [
        (100 + i, f"2024-03-01 10:{i:02d}:00", 999, "error", 1.0, "{}")
        for i in range(8)
    ] + [
        (200 + u, f"2024-03-01 10:0{u % 6}:00", u, "click", 1.0, "{}")
        for u in range(1, 13)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string, value double, props string"
    ).select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        F.when(F.col("user_id") % 5 != 0, F.col("user_id")).alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    ev.write.parquet(str(nulled / "events.parquet"))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{nulled}/events.parquet/*.parquet')"
    )
    q = REGISTRY["join_interval_overlap"]
    df = q.fn(spark, str(nulled))
    assert df.count() > 0, "fixture must actually produce incidents"
    compare(df, con, q.oracle, "join_interval_overlap[nulled]")


def test_dhash_roundtrip_planted_distances_and_invariance():
    """The perceptual layer under multimodal_dedup_perceptual:

    - encode/decode identity: dHash of the rendered 9x8 gray BMP
      recovers _perc_bits(doc_id) exactly for a spread of ids;
    - planted group structure: within a 4-doc group the (j0,j1), (j0,j2),
      (j1,j2) distances are 1/2/1 (near-dups at T=3) and j3 is >= 4 bits
      from every sibling (the planted negative);
    - perceptual invariance (what byte-digest dedup can never give):
      a uniform brightness shift changes every payload byte but NO dHash
      bit — gradient signs are shift-invariant.
    """
    from hyperloglog_pyspark_spark.functions.mediacodec import (
        bmp_gray_grid,
        dhash_bands,
        synth_bmp_gray,
    )
    from hyperloglog_pyspark_spark.operators.multimodal import (
        _perc_bits,
        _perc_grid,
    )

    def hash64(doc):
        b = dhash_bands(bmp_gray_grid(synth_bmp_gray(_perc_grid(doc))))
        return b[0] | b[1] << 16 | b[2] << 32 | b[3] << 48

    for doc in [0, 1, 2, 3, 63, 64, 255, 499, 4999, 123456]:
        assert hash64(doc) == _perc_bits(doc), doc

    def dist(a, b):
        return bin(_perc_bits(a) ^ _perc_bits(b)).count("1")

    for g in range(50):
        base = 4 * g
        assert dist(base, base + 1) == 1
        assert dist(base, base + 2) == 2
        assert dist(base + 1, base + 2) == 1
        for j in range(3):
            assert dist(base + j, base + 3) >= 4

    # brightness invariance: +25 on every pixel, same 64 bits
    grid = _perc_grid(77)
    shifted = [[v + 25 for v in row] for row in grid]
    assert dhash_bands(bmp_gray_grid(synth_bmp_gray(shifted))) == dhash_bands(
        bmp_gray_grid(synth_bmp_gray(grid))
    )


def test_dhash_average_pool_reduces_larger_images():
    """dhash_bands must be a real average-pooling dHash, not a 9x8-only
    shortcut: a 18x16 image built by 2x2-duplicating a 9x8 grid pools
    back to the same 8x9 means, hence the identical 64-bit hash."""
    from hyperloglog_pyspark_spark.functions.mediacodec import (
        bmp_gray_grid,
        dhash_bands,
        synth_bmp_gray,
    )
    from hyperloglog_pyspark_spark.operators.multimodal import _perc_grid

    grid = _perc_grid(321)
    big = []
    for row in grid:
        wide = [v for v in row for _ in (0, 1)]
        big.append(wide)
        big.append(list(wide))
    assert dhash_bands(bmp_gray_grid(synth_bmp_gray(big))) == dhash_bands(
        bmp_gray_grid(synth_bmp_gray(grid))
    )


def test_repeated_spans_alignment_exact_and_self_repeat_clean(spark, tmp_path):
    """The repeated-span signal's two semantic contracts, on a corpus
    built to break the cheap implementations:

    - alignment exactness (SPAN_S = 1): docs A and B share one 20-token
      span planted at offsets that disagree mod 5, so any strided window
      grid would miss it — both must still be flagged, with exactly the
      windows inside the span marked;
    - self-repetition cleanliness: doc C repeats its own 20-token span
      twice but shares it with nobody — COUNT(DISTINCT doc_id) semantics
      must leave C with zero dup windows;
    - short-doc exclusion: doc D (< 20 tokens) yields no windows and no
      output row.

    Verified against the registered DuckDB oracle over the same parquet
    (the fixture is the regression net for the stride/alignment class)."""
    import duckdb

    from hyperloglog_pyspark_spark.operators.curation import SPAN_W
    from hyperloglog_pyspark_spark.registry import REGISTRY, queries
    from tests.helpers import compare

    queries()
    span = [f"s{i}" for i in range(SPAN_W)]

    def mk(doc, pre, post):
        # doc-UNIQUE filler so the only cross-doc common run is the span
        return " ".join(
            [f"p{doc}_{i}" for i in range(pre)]
            + span
            + [f"q{doc}_{i}" for i in range(post)]
        )

    rows = [
        (0, mk(0, 3, 7)),                   # span at offset 3
        (1, mk(1, 7, 4)),                   # span at offset 7 (3 vs 7: differ mod 5)
        (2, " ".join([f"t{i}" for i in range(SPAN_W)] + ["mid"]
                     + [f"t{i}" for i in range(SPAN_W)])),  # self-repeat only
        (3, "tiny doc under twenty tokens"),
    ]
    d = tmp_path / "spans_sf"
    d.mkdir()
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(d / "documents.parquet")
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    q = REGISTRY["text_repeated_spans"]
    df = q.fn(spark, str(d))
    compare(df, con, q.oracle, "text_repeated_spans[planted]")
    got = {r["doc_id"]: r.asDict() for r in df.collect()}
    assert got[0]["n_dup_windows"] == 1 and got[1]["n_dup_windows"] == 1
    # doc 2: 41 tokens -> 22 windows, none cross-doc duplicated
    assert got[2]["n_dup_windows"] == 0 and got[2]["n_windows"] == 22
    assert 3 not in got


def test_bmp_gray_grid_honors_topdown_and_pixel_offset():
    """bmp_gray_grid must honor the two legal header variants decode_bmp
    accepts: a NEGATIVE info-header height (top-down row order — no
    flip) and a pixel-array offset beyond 54 (gap bytes before the
    pixels). A reader that hardcodes bottom-up/offset-54 silently
    returns a flipped grid or gap garbage — different dHash, missed
    near-dup, no error."""
    import struct

    from hyperloglog_pyspark_spark.functions.mediacodec import (
        BMP_HEADER_LEN,
        bmp_gray_grid,
        bmp_row_stride,
        synth_bmp_gray,
    )

    grid = [[10 * (r + 1) + c for c in range(9)] for r in range(8)]
    base = synth_bmp_gray(grid)
    w, h = 9, 8
    stride = bmp_row_stride(w)

    # top-down variant: negate height, keep pixel rows in grid order
    rows = []
    for r in range(h):
        row = bytearray()
        for v in grid[r]:
            row += bytes((v, v, v))
        row += b"\x00" * (stride - len(row))
        rows.append(bytes(row))
    td = bytearray(base[:BMP_HEADER_LEN] + b"".join(rows))
    struct.pack_into("<i", td, 22, -h)
    assert bmp_gray_grid(bytes(td)) == bmp_gray_grid(base) == [
        [float(v) for v in row] for row in grid
    ]

    # offset variant: 4 gap bytes between header and pixel array
    gap = 4
    off = bytearray(
        base[:BMP_HEADER_LEN] + b"\xee" * gap + base[BMP_HEADER_LEN:]
    )
    struct.pack_into("<I", off, 10, BMP_HEADER_LEN + gap)  # pixel offset
    struct.pack_into("<I", off, 2, len(off))               # file size
    assert bmp_gray_grid(bytes(off)) == bmp_gray_grid(base)


def test_audio_fingerprint_roundtrip_and_invariances():
    """The perceptual-audio layer under multimodal_dedup_audio_fp:

    - encode/decode identity: energy-delta fingerprint of the rendered
      PCM recovers _perc_bits(doc_id) exactly (the cross-modal contract
      with the image dHash);
    - gain invariance: halving every sample (a re-encode at lower
      volume) changes every payload byte but no fingerprint bit;
    - phase invariance: negating the waveform changes nothing (energy);
    - too-short clips fail loudly (< 65 full frames)."""
    import pytest as _pytest

    from hyperloglog_pyspark_spark.functions.mediacodec import (
        energy_delta_bands,
        synth_wav_pcm,
        wav_pcm_samples,
    )
    from hyperloglog_pyspark_spark.operators.multimodal import (
        AUDIO_FP_FRAME,
        _audio_fp_samples,
        _perc_bits,
    )

    for doc in [0, 1, 2, 3, 255, 499, 4999, 123456]:
        samples = wav_pcm_samples(synth_wav_pcm(8000, _audio_fp_samples(doc)))
        b = energy_delta_bands(samples, AUDIO_FP_FRAME)
        h = b[0] | b[1] << 16 | b[2] << 32 | b[3] << 48
        assert h == _perc_bits(doc), doc
        assert energy_delta_bands([s // 2 for s in samples], AUDIO_FP_FRAME) == b
        assert energy_delta_bands([-s for s in samples], AUDIO_FP_FRAME) == b

    with _pytest.raises(ValueError):
        energy_delta_bands([100] * (AUDIO_FP_FRAME * 64), AUDIO_FP_FRAME)


def test_perc_media_payload_sizes_match_constants():
    """The canonical-pick oracle prices every doc's media at the derived
    constants PERC_IMG_BYTES/PERC_AUD_BYTES while the Spark side measures
    len(payload) in-batch — this pins the derivation to the real synth
    output across doc ids, so a container-layout change breaks HERE
    (named assertion) rather than as a bare oracle hash mismatch."""
    from hyperloglog_pyspark_spark.operators.multimodal import (
        PERC_AUD_BYTES,
        PERC_IMG_BYTES,
        PERC_MEDIA_BYTES,
        _perc_audio_synth,
        _perc_image_synth,
    )

    for doc in [0, 1, 2, 3, 255, 499, 4999, 123456]:
        assert len(_perc_image_synth(doc)) == PERC_IMG_BYTES, doc
        assert len(_perc_audio_synth(doc)) == PERC_AUD_BYTES, doc
    assert PERC_MEDIA_BYTES == PERC_IMG_BYTES + PERC_AUD_BYTES


def test_wav_pcm_samples_rejects_odd_data_chunk():
    """An odd data_len is malformed for 16-bit PCM — decode must refuse
    rather than silently drop the trailing byte (r9 advice): shrink a
    valid mono WAV's data chunk by one byte, keeping the RIFF size
    consistent so ONLY the odd-length check can catch it."""
    import struct

    import pytest as _pytest

    from hyperloglog_pyspark_spark.functions.mediacodec import (
        synth_wav_pcm,
        wav_pcm_samples,
    )

    good = synth_wav_pcm(8000, [100, -200, 300])
    assert wav_pcm_samples(good) == [100, -200, 300]
    bad = bytearray(good[:-1])  # drop one payload byte
    struct.pack_into("<I", bad, 4, len(bad) - 8)  # RIFF size stays true
    struct.pack_into("<I", bad, 40, 5)  # data_len 6 -> 5 (odd)
    with _pytest.raises(ValueError, match="odd"):
        wav_pcm_samples(bytes(bad))


def test_repeated_spans_trim_keep_first_and_union_accounting(spark, tmp_path):
    """The trim operator's two load-bearing semantics on a planted
    corpus, verified against its registered oracle AND by hand:

    - keep-first: the lowest-doc_id carrier of a duplicated span cuts
      nothing; every other carrier cuts it (doc 0 keeps, doc 1 cuts);
    - union accounting: doc 9's shared span is 24 tokens long => 5
      overlapping marked windows, but tokens_cut = 24 (the union), not
      5 x 20; its keeper (doc 8) still cuts 0;
    - self-repeats stay (doc 2 cuts 0), short docs absent (doc 3)."""
    import duckdb

    from hyperloglog_pyspark_spark.operators.curation import SPAN_W
    from hyperloglog_pyspark_spark.registry import REGISTRY, queries
    from tests.helpers import compare

    queries()
    span = [f"s{i}" for i in range(SPAN_W)]
    long_span = [f"L{i}" for i in range(SPAN_W + 4)]  # 24 tokens

    def pad(doc, pre, mid, post):
        return " ".join([f"p{doc}_{i}" for i in range(pre)] + mid + [f"q{doc}_{i}" for i in range(post)])

    rows = [
        (0, pad(0, 3, span, 7)),
        (1, pad(1, 7, span, 4)),
        (2, " ".join([f"t{i}" for i in range(SPAN_W)] + ["mid"] + [f"t{i}" for i in range(SPAN_W)])),
        (3, "tiny doc under twenty tokens"),
        (8, pad(8, 2, long_span, 5)),
        (9, pad(9, 6, long_span, 3)),
    ]
    d = tmp_path / "trim_sf"
    d.mkdir()
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(d / "documents.parquet")
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    q = REGISTRY["text_repeated_spans_trim"]
    df = q.fn(spark, str(d))
    compare(df, con, q.oracle, "text_repeated_spans_trim[planted]")
    got = {r["doc_id"]: r.asDict() for r in df.collect()}
    assert got[0]["tokens_cut"] == 0 and got[1]["tokens_cut"] == SPAN_W
    assert got[1]["tokens_kept"] == got[1]["n_tokens"] - SPAN_W
    assert got[2]["tokens_cut"] == 0
    assert 3 not in got
    assert got[8]["tokens_cut"] == 0
    assert got[9]["tokens_cut"] == SPAN_W + 4  # union of 5 overlapping windows
    # n_tokens derived from the posting list equals the real token count
    for doc, text in rows:
        if doc in got:
            assert got[doc]["n_tokens"] == len(text.split(" ")), doc


def test_ivf_pq_consistent_with_adc_scoring(spark, sf_dir):
    """similarity_ivf_pq_topk must be PURE RESTRICTION: wherever a
    (query, vec) pair also survives similarity_pq_adc_topk's unrestricted
    top-k, the ADC distance is bit-identical (same codebook, same LUT) —
    the IVF stage may only change WHICH pairs are scored, never a score.
    Plus ranking sanity: per query, ranks are dense from 1 and adc_d2 is
    non-decreasing with rank."""
    ivfpq = ALL["similarity_ivf_pq_topk"](spark, sf_dir).toPandas()
    adc = ALL["similarity_pq_adc_topk"](spark, sf_dir).toPandas()
    assert len(ivfpq) > 0
    both = ivfpq.merge(adc, on=["query_id", "vec_id"], suffixes=("_i", "_a"))
    assert len(both) > 0, "restriction shares no pairs with the full ADC top-k"
    assert (both["adc_d2_i"] == both["adc_d2_a"]).all()
    for q, grp in ivfpq.groupby("query_id"):
        grp = grp.sort_values("rank")
        assert list(grp["rank"]) == list(range(1, len(grp) + 1))
        assert grp["adc_d2"].is_monotonic_increasing


def test_banded_hamming_bucket_cap_star_fallback(spark):
    """The perceptual family's whale-band skew guard (_banded_hamming_pairs
    bucket_cap), same discipline as _lsh_candidates: a planted clique of
    6 IDENTICAL fingerprints (a corpus-wide boilerplate image) under
    cap=4 must emit the linear STAR to the clique minimum (5 edges at
    hamming 0 — spanning the same connected component as the C(6,2)=15
    pairwise edges), while an under-cap near-dup pair elsewhere keeps
    exact pairwise. cap=None reproduces full pairwise on the clique."""
    from hyperloglog_pyspark_spark.operators.multimodal import (
        _banded_hamming_pairs,
    )

    rows = [(i, 7, 7, 7, 7) for i in range(6)]          # identical clique
    rows += [(10, 100, 200, 300, 400), (11, 101, 200, 300, 400)]  # 1-bit pair
    hashes = spark.createDataFrame(
        rows, "doc_id long, b0 long, b1 long, b2 long, b3 long"
    )
    capped = {
        (r.doc_a, r.doc_b): r.hamming
        for r in _banded_hamming_pairs(hashes, bucket_cap=4).collect()
    }
    star = {(0, b) for b in range(1, 6)}
    assert {p for p in capped if p[0] < 10} == star
    assert all(capped[p] == 0 for p in star)
    assert capped[(10, 11)] == 1
    full = {
        (r.doc_a, r.doc_b)
        for r in _banded_hamming_pairs(hashes).collect()
        if r.doc_a < 10
    }
    assert len(full) == 15


def test_ivf_pq_recall_report_bounds(spark, sf_dir):
    """The IVF-PQ recall monitor's structural contract: one row per
    query, n_exact = TOP_K, 0 <= n_hits <= n_exact, recall =
    n_hits/n_exact at 4dp. Uniform-random embeddings are the
    partitioned-index worst case (expected recall ~ probed fraction),
    so the assertion guards the monitor's arithmetic, not a quality
    floor — the quality claim on this data is similarity_ivf_pq_topk's
    restriction-purity test."""
    from hyperloglog_pyspark_spark.operators.similarity import N_QUERIES, TOP_K

    rep = ALL["similarity_ivf_pq_recall"](spark, sf_dir).toPandas()
    assert len(rep) == N_QUERIES
    assert (rep["n_exact"] == TOP_K).all()
    assert ((rep["n_hits"] >= 0) & (rep["n_hits"] <= rep["n_exact"])).all()
    assert (rep["recall"] == (rep["n_hits"] / rep["n_exact"]).round(4)).all()


def test_canonical_bucket_cap_passthrough(spark, sf_dir):
    """The canonical pick exposes the same cap-and-star whale guard as
    its pair-query siblings; exercise the cap path end-to-end through
    CC + accounting (r10 review flagged it as untested surface):

    - a cap larger than every band bucket is a NO-OP — output equals
      the uncapped run exactly;
    - a tiny cap still yields well-formed clusters whose keeper IS the
      component label (MIN doc_id), and the capped star edges keep the
      planted same-group members connected (the r9 cap contract)."""
    from hyperloglog_pyspark_spark.operators.multimodal import (
        multimodal_dedup_canonical,
    )

    base = {tuple(r) for r in multimodal_dedup_canonical(spark, sf_dir).collect()}
    nocap = {
        tuple(r)
        for r in multimodal_dedup_canonical(spark, sf_dir, bucket_cap=10**6).collect()
    }
    assert nocap == base
    capped = multimodal_dedup_canonical(spark, sf_dir, bucket_cap=2).toPandas()
    assert len(capped) > 0
    assert (capped.canonical_doc == capped.cluster_id).all()
    assert (capped.reclaimed_bytes == (capped.n_members - 1) * capped.kept_bytes).all()


def test_package_zip_keyed_by_content():
    """The executor-shipped package zip is built once per process, under
    the process's scratch root, from the current package sources: a zip
    left by an earlier process or older code is never shipped (a stale
    zip once made executors raise AttributeError for symbols added since
    it was built). The zip holds exactly the current bytes of every
    package source file, and building it writes nothing outside the
    root."""
    import glob
    import os
    import tempfile
    import zipfile
    from pathlib import Path

    from hyperloglog_pyspark_spark import session

    tmp = tempfile.gettempdir()
    before = set(glob.glob(os.path.join(tmp, "hllps_*")))
    zpath = session._package_zip()
    root = session._scratch_root()
    assert os.path.dirname(zpath) == root
    assert set(glob.glob(os.path.join(tmp, "hllps_*"))) - before <= {root}
    assert session._package_zip() == zpath  # one build per process
    pkg = Path(session.__file__).resolve().parent
    want = {str(f.relative_to(pkg.parent)): f.read_bytes() for f in pkg.rglob("*.py")}
    with zipfile.ZipFile(zpath) as z:
        got = {n: z.read(n) for n in z.namelist()}
    assert "hyperloglog_pyspark_spark/session.py" in got
    assert got == want, "the shipped zip differs from the package sources"


_OTHER_PROCESS_SCRATCH = """
import os, sys
sys.path.insert(0, sys.argv[1])
from hyperloglog_pyspark_spark.session import (
    _build_store_atomically, _package_zip, _scratch, _store_dir,
)
path = _scratch("csv", sys.argv[2])
os.makedirs(path, exist_ok=True)
marker = os.path.join(path, "other-process")
open(marker, "w").close()
store = _store_dir(sys.argv[2], "customer", "other_store")
_build_store_atomically(
    store, lambda stage: open(os.path.join(stage, "payload"), "w").close()
)
print(marker, _package_zip(), store, flush=True)
sys.stdin.read()
"""


def test_rewrite_writers_keep_to_their_process_scratch(spark, sf_dir):
    """Every file the engine writes lives under its own process's scratch
    root: a second process's rewrite-every-time output for the same
    sf_dir survives this process's rewrite, and once that process exits
    nothing it wrote remains in the temp dir: not its writer output, its
    package zip, its build-once store or its root."""
    import glob
    import os
    import subprocess
    import sys
    import tempfile

    tmp = tempfile.gettempdir()
    before = set(glob.glob(os.path.join(tmp, "hllps_*")))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    other = subprocess.Popen(
        [sys.executable, "-c", _OTHER_PROCESS_SCRATCH, repo, sf_dir],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        made = other.stdout.readline().split()
        assert len(made) == 3, "the second process reported no scratch paths"
        marker, zpath, store = made
        assert os.path.isfile(zpath) and os.path.isdir(store)
        ALL["source_csv_roundtrip"](spark, sf_dir).collect()
        assert os.path.exists(marker), "the rewrite clobbered another process's output"
    finally:
        other.communicate("", timeout=120)
    assert other.returncode == 0
    for path in made:
        assert not os.path.exists(path), f"{path} outlived its process"
    assert not os.path.exists(os.path.dirname(os.path.dirname(marker)))
    leaked = set(glob.glob(os.path.join(tmp, "hllps_*"))) - before
    assert not leaked, f"the second process left {sorted(leaked)}"


def test_compaction_plan_bins_are_sound(spark, sf_dir):
    """Packing invariants of layout_compaction_plan that hold for ANY
    manifest (the oracle pins exact values; this pins the contract):
    running-total division never builds a bin larger than target + one
    small file (< 2 x target, since every packed file is < target), the
    planner always reduces file count on a small-file-heavy layout, and
    the derived whale file (even event_ids) is right-sized every day."""
    from hyperloglog_pyspark_spark.operators.layoutops import (
        COMPACT_TARGET_X,
        layout_compaction_plan,
    )
    from hyperloglog_pyspark_spark.registry import REGISTRY  # noqa: F401
    from hyperloglog_pyspark_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    plan = layout_compaction_plan(spark, sf_dir).toPandas()
    ev = load_table(spark, sf_dir, "events")
    manifest = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.when(F.pmod("event_id", F.lit(2)) == 0, F.lit(0).cast("long"))
        .otherwise(F.pmod("event_id", F.lit(16)).cast("long"))
        .alias("file_id"),
    ).agg(F.sum(F.lit(40) + F.length("props")).alias("file_bytes"))
    row = manifest.agg(
        F.expr("2 * (sum(file_bytes) div count(*))").alias("tgt")
    ).collect()[0]
    tgt = int(row["tgt"])

    assert (plan.max_bin_bytes < 2 * tgt).all()
    assert (plan.n_right_sized + plan.n_output_bins < plan.n_input_files).all()
    assert (plan.n_right_sized >= 1).all()  # the whale file, every day
    assert (plan.file_reduction > 1.0).all()
