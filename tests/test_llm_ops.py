"""Cross-validation for the LLM-data-pipeline operators beyond their
SQL oracles: approximate/scale-path implementations are checked against
their exact counterparts (recall / candidate-containment properties),
and the magic-dispatch multimodal decoder is checked for determinism,
schema, quarantine behavior, and closed-form roundtrip properties.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from health_etl_pipeline_and_analytics_with_machine_learning_spark.functions import (
    artifacts,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (
    dedup,
    multimodal,
    similarity,
)
from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
    round_cmp,
)

from conftest import SF_CORRECT, SF_SMOKE


def test_minhash_pairs_are_verified_near_dups(spark):
    """Banded-MinHash output is exact-verified: every returned pair's
    token-set Jaccard similarity must clear the 0.4 verify threshold."""
    pairs = dedup.dedup_minhash_lsh(spark, SF_CORRECT).collect()
    assert pairs, "expected near-dups in the synthetic corpus"
    for r in pairs:
        assert 0.4 <= r.jaccard_sim <= 1.0


def test_minhash_deterministic(spark):
    a = [tuple(r) for r in dedup.dedup_minhash_lsh(spark, SF_CORRECT).collect()]
    b = [tuple(r) for r in dedup.dedup_minhash_lsh(spark, SF_CORRECT).collect()]
    assert a == b


def test_lsh_topk_recall_vs_bruteforce(spark):
    """The LSH-bucketed ANN must recover a healthy fraction of the exact
    top-k (recall@5 ≥ 0.5 with 6 hash tables on 64-dim data)."""
    exact = similarity.similarity_bruteforce_topk(spark, SF_CORRECT).collect()
    approx = similarity.similarity_lsh_bucketed(spark, SF_CORRECT).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    assert exact_set, "brute force returned nothing"
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"LSH recall@5 too low: {recall:.2f}"


def test_ivf_topk_recall_vs_bruteforce(spark):
    """IVF multi-probe (4 of 16 cells) must recover most of the exact
    top-k — and be deterministic (seeded k-means)."""
    exact = similarity.similarity_bruteforce_topk(spark, SF_CORRECT).collect()
    approx = similarity.similarity_ivf_topk(spark, SF_CORRECT).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    assert exact_set, "brute force returned nothing"
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF recall@5 too low: {recall:.2f}"


def test_pq_topk_recall_and_structure_vs_bruteforce(spark):
    """PQ-ADC with exact re-rank must recover a healthy fraction of the
    exact top-k — FLOOR-BOUNDED at 0.75 (measured 0.82 on this
    near-isotropic corpus at the certified 20×TOP_K shortlist; the
    oracle certifies the ADC math, not the recall level), be
    deterministic from a COLD fit cache (the repeat run re-fits the
    codebooks), and obey the refine
    contract: every reported cosine must EQUAL the brute-force cosine
    for that (query, neighbor) pair (the re-rank is exact; only the
    shortlist membership is approximate)."""
    exact = similarity.similarity_bruteforce_topk(spark, SF_CORRECT).collect()
    approx = similarity.similarity_pq_topk(spark, SF_CORRECT).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    assert exact_set, "brute force returned nothing"
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.75, f"PQ recall@5 below floor: {recall:.2f}"
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    for r in approx:
        assert r.adc_d2 >= 0 or abs(r.adc_d2) < 1e-4, r  # quantized d2, FP floor
        key = (r.query_id, r.neighbor_id)
        if key in exact_cos:
            assert r.cosine == exact_cos[key], key
    artifacts.evict("kmeans_fit", SF_CORRECT)
    misses = artifacts.counts("kmeans_fit")[1]
    again = similarity.similarity_pq_topk(spark, SF_CORRECT).collect()
    assert artifacts.counts("kmeans_fit")[1] == misses + similarity._PQ_M  # refit
    assert [tuple(r) for r in again] == [tuple(r) for r in approx]


def test_ivf_pq_topk_recall_structure_and_composition(spark):
    """The composed IVF-ADC serve path (r14): recall@5 floor-bounded at
    0.5 (measured 0.6 at the 20×TOP_K shortlist — the ceiling is IVF
    cell membership, not the shortlist: the IVF cell pruning AND the
    code quantization both cut on this near-isotropic corpus, so the
    composition sits below either half alone, exactly as FAISS IVFADC
    does on random vectors), the refine contract holds (reported
    cosines EQUAL brute
    force — the re-rank is exact), the run is deterministic from a COLD
    fit cache, and the composition REUSES the certified halves: the
    coarse centroids must be byte-identical to similarity_ivf_topk's
    fit and the codebooks to similarity_pq_topk's (shared cache keys —
    the index artifact is built once)."""
    exact = similarity.similarity_bruteforce_topk(spark, SF_CORRECT).collect()
    approx = similarity.similarity_ivf_pq_topk(spark, SF_CORRECT).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    assert exact_set, "brute force returned nothing"
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"IVF-ADC recall@5 below floor: {recall:.2f}"
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    for r in approx:
        key = (r.query_id, r.neighbor_id)
        if key in exact_cos:
            assert r.cosine == exact_cos[key], key
    # a cold run refits the coarse quantizer and every subspace
    # codebook and answers the same
    artifacts.evict("kmeans_fit", SF_CORRECT)
    misses = artifacts.counts("kmeans_fit")[1]
    again = similarity.similarity_ivf_pq_topk(spark, SF_CORRECT).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in approx]
    misses += 1 + similarity._PQ_M
    assert artifacts.counts("kmeans_fit")[1] == misses
    # composition = pure reuse: the flat ops' fits are the SAME memo
    # slots (coarse: IVF geometry; codes: the per-subspace books), so
    # building them fits nothing
    similarity.similarity_ivf_topk(spark, SF_CORRECT)
    similarity.similarity_pq_topk(spark, SF_CORRECT)
    assert artifacts.counts("kmeans_fit")[1] == misses


def test_ivf_pq_residual_topk_recall_structure_and_reuse(spark):
    """The residual-encoded IVFADC variant (r14): recall@5
    floor-bounded at 0.5 (measured 0.6 at the certified shortlist —
    the same IVF-cell-membership ceiling as the raw-vector composed
    op; the docstring records the honest tight-shortlist measurement
    where residuals rank WORSE on this isotropic corpus), the refine
    contract holds (reported cosines EQUAL brute force — residuals
    only rank, never answer), the run is deterministic from a COLD
    residual-codebook cache, and the coarse half is REUSED
    byte-identical from similarity_ivf_topk's certified fit while the
    residual codebooks are their own cache entries (suffix #ivfpqres,
    distinct from the flat #pq books)."""
    exact = similarity.similarity_bruteforce_topk(spark, SF_CORRECT).collect()
    approx = similarity.similarity_ivf_pq_residual_topk(spark, SF_CORRECT).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    assert exact_set, "brute force returned nothing"
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"residual IVFADC recall@5 below floor: {recall:.2f}"
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    for r in approx:
        key = (r.query_id, r.neighbor_id)
        if key in exact_cos:
            assert r.cosine == exact_cos[key], key
    artifacts.evict("kmeans_fit", SF_CORRECT)
    misses = artifacts.counts("kmeans_fit")[1]
    again = similarity.similarity_ivf_pq_residual_topk(spark, SF_CORRECT).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in approx]
    misses += 1 + similarity._PQ_M  # the coarse fit and the residual books
    assert artifacts.counts("kmeans_fit")[1] == misses
    # the coarse fit is the flat IVF op's slot; the residual books are
    # their own slots, so the flat PQ books still have to be fit
    similarity.similarity_ivf_topk(spark, SF_CORRECT)
    assert artifacts.counts("kmeans_fit")[1] == misses
    similarity.similarity_pq_topk(spark, SF_CORRECT)
    assert artifacts.counts("kmeans_fit")[1] == misses + similarity._PQ_M


def test_bruteforce_topk_shape(spark):
    rows = similarity.similarity_bruteforce_topk(spark, SF_CORRECT).collect()
    assert len(rows) == similarity.N_QUERIES * similarity.TOP_K
    for r in rows:
        assert -1.0 <= r.cosine <= 1.0


def test_multimodal_ppm_decode_deterministic_and_typed(spark):
    df = multimodal.multimodal_ppm_decode(spark, SF_CORRECT)
    assert df.columns == ["doc_id", "width", "height", "maxval", "n_bytes", "px_mean"]
    a = [tuple(r) for r in df.limit(20).collect()]
    b = [tuple(r) for r in multimodal.multimodal_ppm_decode(spark, SF_CORRECT).limit(20).collect()]
    assert a == b
    for r in a:
        doc_id, w, h, mv, nb, mean = r
        assert w == 1 + doc_id % multimodal._PPM_W_MOD
        assert h == 1 + doc_id % multimodal._PPM_H_MOD
        assert mv == 255
        hdr = 3 + len(multimodal._PPM_COMMENT) + len(str(w)) + 1 + len(str(h)) + 1 + 4
        assert nb == hdr + w * h * 3
        # pixels are md5-hex ASCII: '0'-'9' (48-57) and 'a'-'f' (97-102)
        assert 48.0 <= mean <= 102.0


def test_ppm_parser_rejects_garbage_and_handles_comments():
    import pytest as _pytest

    good = multimodal._ppm_encode(7, "ab" * 16)
    w, h, mv, size, _ = multimodal._ppm_parse(good)
    assert (w, h, mv, size) == (8, 8, 255, len(good))
    # extra comment between dims and maxval must be skipped too
    tricky = good.replace(b"\n255\n", b"\n# late comment\n255\n", 1)
    w2, h2, mv2, size2, mean2 = multimodal._ppm_parse(tricky)
    assert (w2, h2, mv2) == (8, 8, 255) and size2 == len(tricky)
    # ValueError, never assert: python -O strips asserts, which would
    # turn malformed payloads into silently wrong means (ADVICE r6)
    with _pytest.raises(ValueError):
        multimodal._ppm_parse(b"P5\n1 1\n255\n\x00")
    with _pytest.raises(ValueError):
        multimodal._ppm_parse(good[:-1])  # truncated pixel data
    with _pytest.raises(ValueError):
        multimodal._bmp_parse(multimodal._bmp_encode(7, "ab" * 16)[:-1])
    with _pytest.raises(ValueError):
        multimodal._wav_parse(multimodal._wav_encode(7, "ab" * 16)[:-1])


def test_multimodal_frame_sample_shape_and_determinism(spark):
    df = multimodal.multimodal_frame_sample(spark, SF_CORRECT)
    rows = df.collect()
    assert rows and df.columns == ["doc_id", "frame_idx", "frame_offset", "frame_sig"]
    again = multimodal.multimodal_frame_sample(spark, SF_CORRECT).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]
    # at most FRAMES_PER_DOC frames per doc, ordered offsets within doc
    from collections import defaultdict

    per_doc = defaultdict(list)
    for r in rows:
        per_doc[r.doc_id].append(r)
    for doc, frames in per_doc.items():
        assert 1 <= len(frames) <= multimodal.FRAMES_PER_DOC
        offs = [f.frame_offset for f in frames]
        assert offs == sorted(offs)


def test_multimodal_meta_matches_decode_stage_bytes(spark):
    """decode_features must preserve the payload byte count
    multimodal_meta reports — the batch-contract invariant every parser
    in the magic-dispatch table must hold (opaque branch here: the raw
    corpus is UTF-8 text, not a media container)."""
    meta = multimodal.multimodal_meta(spark, SF_CORRECT).select(
        "doc_id", F.col("n_bytes").alias("nb_meta")
    )
    payloads = multimodal.with_binary_payload(
        multimodal.load(spark, SF_CORRECT, "documents")
    )
    decoded = payloads.mapInPandas(
        multimodal.decode_features, schema=multimodal.DECODED_SCHEMA
    ).select("doc_id", F.col("n_bytes").alias("nb_dec"))
    bad = meta.join(decoded, "doc_id").filter(F.col("nb_meta") != F.col("nb_dec")).count()
    assert bad == 0


def test_decode_one_dispatches_on_magic_and_quarantines_corrupt():
    """The magic-dispatch decoder routes each certified container to its
    parser, and payloads that LOOK like a container but fail spec
    validation (e.g. text starting with 'BM') fall back to the opaque
    branch instead of crashing the batch."""
    hx = "0123456789abcdef" * 2
    kind, size, w, h, nf, mean = multimodal._decode_one(multimodal._ppm_encode(7, hx))
    assert kind == "ppm" and (w, h, nf) == (8, 8, 1)
    kind, size, w, h, nf, mean = multimodal._decode_one(multimodal._bmp_encode(7, hx))
    assert kind == "bmp" and (w, h, nf) == (8, 8, 1)
    kind, size, w, h, nf, mean = multimodal._decode_one(multimodal._wav_encode(7, hx))
    assert kind == "wav" and (w, h) == (0, 0) and nf == 107
    kind, size, w, h, nf, mean = multimodal._decode_one(multimodal._y4m_encode(7, hx))
    assert kind == "y4m" and (w, h, nf) == (11, 11, 2)  # r11: Y4M magic joined
    kind, *_ = multimodal._decode_one(b"BMW makes cars, not bitmaps")
    assert kind == "opaque"
    # Y4M magic with a corrupt body quarantines like the other formats
    kind, *_ = multimodal._decode_one(b"YUV4MPEG2 W0 H0 C444\nFRAME\n")
    assert kind == "opaque"
    kind, *_ = multimodal._decode_one(multimodal._y4m_encode(7, hx)[:-1])
    assert kind == "opaque"
    kind, *_ = multimodal._decode_one("plain utf-8 text".encode())
    assert kind == "opaque"
    # degenerate-but-magic payloads (zero dims, empty PCM) quarantine
    # too, never ZeroDivisionError the batch
    for b in (
        b"P6\n0 0\n255\n",
        b"BM" + b"\x00" * 52,
        b"RIFF\x24\x00\x00\x00WAVEfmt \x10\x00\x00\x00\x01\x00\x01\x00"
        b"\x40\x1f\x00\x00\x80\x3e\x00\x00\x02\x00\x10\x00data\x00\x00\x00\x00",
    ):
        kind, *_ = multimodal._decode_one(b)
        assert kind == "opaque", b[:8]


def test_wav_encode_slice_equals_per_sample_form():
    """r11 lockstep pin for the C-speed _wav_encode rewrite (VERDICT
    r10 item 2): the slice-of-flipped-digest body must be bit-equal to
    the original per-sample struct.pack form on a doc_id sweep covering
    every (n % 32, rate) residue class."""
    import hashlib
    import struct

    def per_sample(doc_id: int, hex_digest: str) -> bytes:
        n = 100 + doc_id % multimodal._WAV_N_MOD
        rate = 8000 + 1000 * (doc_id % multimodal._WAV_RATES)
        src = hex_digest.encode("ascii")
        body = bytearray()
        for i in range(n):
            lo = src[(2 * i) % 32]
            hi = src[(2 * i + 1) % 32]
            body += struct.pack("<h", lo + 256 * hi - 32768)
        hdr = struct.pack(
            "<4sI4s4sIHHIIHH4sI", b"RIFF", 36 + len(body), b"WAVE", b"fmt ",
            16, 1, 1, rate, rate * 2, 2, 16, b"data", len(body),
        )
        return hdr + bytes(body)

    for doc_id in range(0, 2 * multimodal._WAV_N_MOD, 3):
        hx = hashlib.md5(str(doc_id).encode()).hexdigest()
        assert multimodal._wav_encode(doc_id, hx) == per_sample(doc_id, hx), doc_id


def test_y4m_stream_parse_closed_form():
    """The dispatch's Y4M branch (r11): whole-stream plane-byte mean
    must equal the brute-force rotated-cycle replay, geometry must
    match the doc_id formulas, and the shared header walk must keep
    the frame sampler's outputs unchanged."""
    import hashlib
    import math

    for doc_id in range(0, 200, 7):
        hx = hashlib.md5(str(doc_id).encode()).hexdigest()
        b = multimodal._y4m_encode(doc_id, hx)
        w, h, nf, size, mean = multimodal._y4m_stream_parse(b)
        assert (w, h, nf, size) == (
            4 + doc_id % multimodal._Y4M_W_MOD,
            4 + doc_id % multimodal._Y4M_H_MOD,
            2 + doc_id % multimodal._Y4M_NF_MOD,
            len(b),
        ), doc_id
        fb = 3 * w * h
        src = hx.encode("ascii")
        total = 0
        for f in range(nf):
            r = (f * multimodal._Y4M_FRAME_OFF) % 32
            total += sum((src * ((r + fb) // 32 + 1))[r : r + fb])
        want = math.floor(round(total / (nf * fb), 7) * 10000.0 + 0.5) / 10000.0
        assert mean == want, doc_id
        # the sampler sees the same geometry through the shared header
        sw, sh, snf, snb, _sums, _motion = multimodal._y4m_frame_sample_parse(b)
        assert (sw, sh, snf, snb) == (w, h, nf, size), doc_id


def test_semantic_dedup_reps_are_cluster_argmin(spark):
    """Each cluster's representative must be its true argmin-distance
    member (vec_id tiebreak), clusters must partition the corpus, and
    the seeded pipeline must be deterministic."""
    summary = {r.cluster: r for r in similarity.dedup_semantic_cluster(spark, SF_CORRECT).collect()}
    members = similarity.semantic_cluster_members(spark, SF_CORRECT).collect()
    by_cluster: dict[int, list] = {}
    for m in members:
        by_cluster.setdefault(m.cluster, []).append(m)
    assert set(summary) == set(by_cluster)
    n_vecs = sum(len(v) for v in by_cluster.values())
    assert sum(r.n_members for r in summary.values()) == n_vecs
    for cid, ms in by_cluster.items():
        best = min(ms, key=lambda m: (m.dist2, m.vec_id))
        assert summary[cid].rep_vec_id == best.vec_id, cid
        assert summary[cid].n_members == len(ms)
    again = {r.cluster: r.rep_vec_id for r in similarity.dedup_semantic_cluster(spark, SF_CORRECT).collect()}
    assert again == {c: r.rep_vec_id for c, r in summary.items()}


def test_hot_shingle_cap_suppresses_stop_phrase_candidates(spark):
    """A stop-phrase shingle shared by more docs than
    SHINGLE_DF_CAP must be dropped from the inverted index — above the
    cap it would generate k² candidate pairs while discriminating
    nothing. Genuine near-dups sharing sub-cap shingles must survive."""
    n_hot = dedup.SHINGLE_DF_CAP + 6
    rows = [
        # n_hot docs share ONLY the stop phrase "aaa bbb ccc"; their
        # remaining shingles are unique per doc → zero true near-dups
        (i, "en", f"aaa bbb ccc unique{i} tail{i}")
        for i in range(n_hot)
    ] + [
        # one genuine near-dup pair on sub-cap shingles
        (1000, "en", "xxx yyy zzz www vvv"),
        (1001, "en", "xxx yyy zzz www uuu"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "lang", "text"])

    idx = dedup._shingle_index(d)
    shingles = {r.sh for r in idx.collect()}
    assert "aaa bbb ccc" not in shingles, "hot shingle survived the DF cap"
    assert "xxx yyy zzz" in shingles

    edges = dedup._neardup_edges(d)
    pairs = {(r.doc_a, r.doc_b) for r in edges.collect()}
    assert pairs == {(1000, 1001)}, pairs


def test_neardup_exact_edges_are_star_shaped(spark):
    """Exact-text dup groups emit k−1 star edges (min doc → member),
    never the k² clique — components are identical under closure."""
    rows = [(i, "en", "same exact text everywhere here") for i in range(5)] + [
        (99, "en", "totally different text content here")
    ]
    d = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    pairs = {(r.doc_a, r.doc_b) for r in dedup._neardup_edges(d).collect()}
    # the 5-dup group yields exactly the 4 star edges from doc 0; the
    # docs also share sub-cap shingles, so Jaccard edges may add pairs —
    # but every pair must include doc 0..4 only, and the star edges exist
    assert {(0, 1), (0, 2), (0, 3), (0, 4)} <= pairs
    assert all(a in range(5) and b in range(5) for a, b in pairs)


def test_connected_components_resolves_transitive_chains(spark):
    """A~B, B~C must land in ONE component even though A≁C directly —
    the property the sf0.01 oracle can't exercise (its real components
    are all direct pairs). Chain of 5 forces multi-round propagation."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22)],
        ["doc_a", "doc_b"],
    )
    labels = {r.node: r.lbl for r in connected_components(pairs).collect()}
    assert {labels[n] for n in (1, 2, 3, 4, 5)} == {1}
    assert {labels[n] for n in (10, 11)} == {10}
    assert {labels[n] for n in (20, 21, 22)} == {20}


def test_embedding_dim_matches_similarity_constants(spark):
    """Canary against driver data-format flips (the r3 events.ts lesson):
    every similarity/quantizer constant assumes _DIM-wide vectors, and
    the unrolled SQL oracles bake that width in. If the driver ever
    regenerates embeddings at another dimension, fail HERE loudly
    instead of as cryptic null-bucket mismatches in the driver run."""
    from pyspark.sql import functions as F

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        load,
    )

    for sf in (SF_SMOKE, SF_CORRECT):
        dims = (
            load(spark, sf, "embeddings")
            .select(F.size("embedding").alias("d"))
            .distinct()
            .collect()
        )
        assert [r["d"] for r in dims] == [similarity._DIM], (sf, dims)


def test_documents_schema_assumptions(spark):
    """Same canary discipline for the documents table: the text/dedup/
    curation operator families assume these exact columns and that
    doc_id is unique — fail loudly here if the driver reshapes the
    table."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        load,
    )

    for sf in (SF_SMOKE, SF_CORRECT):
        d = load(spark, sf, "documents")
        assert set(d.columns) >= {"doc_id", "text", "lang", "source", "n_chars"}, (
            sf,
            d.columns,
        )
        n, n_ids = d.count(), d.select("doc_id").distinct().count()
        assert n == n_ids and n > 0, (sf, n, n_ids)


def test_encode_decode_roundtrip_matches_closed_forms():
    """Property: for arbitrary (doc_id, md5-like hex) inputs, the
    magic-dispatch decoder returns exactly what the oracle's closed-form
    formulas predict for every container — the pure-Python twin of the
    multimodal_decode_dispatch certification."""
    import hashlib

    from hypothesis import given, settings, strategies as st

    @settings(max_examples=200, deadline=None)
    @given(st.integers(min_value=0, max_value=10_000_000), st.binary(min_size=1, max_size=64))
    def check(doc_id, seed):
        hx = hashlib.md5(seed).hexdigest()
        # PPM: dims from doc_id, size from ASCII-header rule, mean from
        # the 32-char hex cycle
        w = 1 + doc_id % multimodal._PPM_W_MOD
        h = 1 + doc_id % multimodal._PPM_H_MOD
        n_px = w * h * 3
        kind, size, gw, gh, nf, mean = multimodal._decode_one(
            multimodal._ppm_encode(doc_id, hx)
        )
        assert (kind, gw, gh, nf) == ("ppm", w, h, 1)
        assert size == 3 + len(multimodal._PPM_COMMENT) + len(str(w)) + 1 + len(str(h)) + 1 + 4 + n_px
        # BMP: stride rule
        w = 1 + doc_id % multimodal._BMP_W_MOD
        h = 1 + doc_id % multimodal._BMP_H_MOD
        stride = ((w * 3 + 3) // 4) * 4
        kind, size, gw, gh, nf, mean = multimodal._decode_one(
            multimodal._bmp_encode(doc_id, hx)
        )
        assert (kind, gw, gh, nf) == ("bmp", w, h, 1)
        assert size == multimodal._BMP_HDR + h * stride
        # WAV: PCM16 framing; n_frames = n samples (mono)
        n = 100 + doc_id % multimodal._WAV_N_MOD
        kind, size, gw, gh, nf, mean = multimodal._decode_one(
            multimodal._wav_encode(doc_id, hx)
        )
        assert (kind, gw, gh, nf) == ("wav", 0, 0, n)
        assert size == multimodal._WAV_HDR + 2 * n

    check()


def test_split_leakage_audit_is_consistent_with_split_and_neardup(spark):
    """split_leakage_check composes the md5 hash split and blocked
    cosine near-dup: per-label split sizes must sum to the label's
    corpus size, a clean block must carry the -1.0 sentinel, and every
    reported leak must clear the cosine bar (recomputed independently
    from the corpus here)."""
    rows = similarity.split_leakage_check(spark, SF_CORRECT).collect()
    e = similarity._emb(spark, SF_CORRECT)
    sizes = {r["label"]: r["n"] for r in e.groupBy("label").count().withColumnRenamed("count", "n").collect()}
    assert {r["label"] for r in rows} == set(sizes)
    total_leaks = 0
    for r in rows:
        assert r["n_train"] + r["n_test"] == sizes[r["label"]], r
        if r["n_leak_pairs"] == 0:
            assert r["max_cosine"] == -1.0, r
        else:
            assert r["max_cosine"] >= similarity._LEAK_COSINE, r
            total_leaks += r["n_leak_pairs"]
    assert total_leaks > 0, "synthetic corpus should contain cross-split leaks"

    # independent recompute of the worst offender per leaking label
    tr = (
        F.substring(F.md5(F.encode(F.col("vec_id").cast("string"), "UTF-8")), 1, 2)
        < similarity._LEAK_SPLIT_HEX
    )
    e2 = e.withColumn("tr", tr)
    a, b = e2.filter(F.col("tr")).alias("a"), e2.filter(~F.col("tr")).alias("b")
    # the op gates on the round_cmp-pinned cosine (ADVICE r8) — the
    # independent recompute must pin identically or a half-boundary
    # pair could legitimately diverge from the audit
    cos = round_cmp(
        similarity._dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 6
    )
    best = {
        r["label"]: r["m"]
        for r in a.join(b, F.col("a.label") == F.col("b.label"))
        .select(F.col("a.label").alias("label"), cos.alias("c"))
        .filter(F.col("c") >= similarity._LEAK_COSINE)
        .groupBy("label")
        .agg(F.max("c").alias("m"))
        .collect()
    }
    for r in rows:
        if r["n_leak_pairs"]:
            assert r["max_cosine"] == best[r["label"]], r


def test_split_leakage_lsh_is_recall_bounded_subset_of_exact(spark):
    """The LSH-blocked leakage audit (engineered bucket bound) reports a
    SUBSET of the brute-force cross-split flagged pairs — grouped by the
    test-side label and WITHOUT the exact audit's same-label
    restriction — with measured recall that must not silently collapse:
    per label, lsh count ≤ brute-force count and lsh max_cosine ≤
    brute-force max; in total, recall ≥ 50% (measured ≈84% at sf0.01 —
    deterministic planes, deterministic corpus, so this is stable)."""
    rows = {r["label"]: r for r in similarity.split_leakage_lsh(spark, SF_CORRECT).collect()}
    assert rows

    tr = (
        F.substring(F.md5(F.encode(F.col("vec_id").cast("string"), "UTF-8")), 1, 2)
        < similarity._LEAK_SPLIT_HEX
    )
    e2 = similarity._emb(spark, SF_CORRECT).withColumn("tr", tr)
    a, b = e2.filter(F.col("tr")).alias("a"), e2.filter(~F.col("tr")).alias("b")
    cos = round_cmp(
        similarity._dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 6
    )
    exact = {
        r["label"]: (r["n"], r["m"])
        for r in a.join(b, F.lit(True))
        .select(F.col("b.label").alias("label"), cos.alias("c"))
        .filter(F.col("c") >= similarity._LEAK_COSINE)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.max("c").alias("m"))
        .collect()
    }
    got = lost = 0
    for lbl, r in rows.items():
        n_ex, m_ex = exact.get(lbl, (0, -1.0))
        assert r["n_leak_pairs"] <= n_ex, (lbl, r, n_ex)
        assert r["max_cosine"] <= m_ex or r["max_cosine"] == -1.0, (lbl, r, m_ex)
        got += r["n_leak_pairs"]
        lost += n_ex - r["n_leak_pairs"]
    assert got + lost > 0, "synthetic corpus should contain cross-split leaks"
    assert got >= 0.5 * (got + lost), f"LSH audit recall collapsed: {got}/{got + lost}"


def test_source_quantile_normalize_hits_global_extremes(spark):
    """Quantile normalization invariants: per-source doc counts sum to
    the corpus; the lowest doc of ANY source maps to the global minimum
    (pr=0 → rank 1) and the highest to the global maximum (pr=1 →
    rank N), so min-of-min_norm / max-of-max_norm equal the raw global
    extremes; every normalized value stays inside [global min, max]."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.curation import (
        source_quantile_normalize,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        load,
    )

    rows = source_quantile_normalize(spark, SF_CORRECT).collect()
    d = load(spark, SF_CORRECT, "documents")
    n = d.count()
    lo, hi = d.agg(F.min("n_chars"), F.max("n_chars")).first()
    assert sum(r["n_docs"] for r in rows) == n
    # pr = 0 is TIE-ROBUST (every row tied at a source's minimum has
    # rank 1, so percent_rank 0 → global rank 1 → the global minimum);
    # pr = 1 is NOT (a tied per-source maximum has rank < count, so it
    # maps strictly below the global max) — assert the max-side
    # equality only for sources whose maximum is untied
    mx = d.groupBy("source").agg(
        F.max("n_chars").alias("mx"), F.count(F.lit(1)).alias("cnt")
    )
    untied_max = {
        r["source"]
        for r in d.join(mx, "source")
        .filter(F.col("n_chars") == F.col("mx"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_at_max"), F.first("cnt").alias("cnt"))
        .collect()
        if r["n_at_max"] == 1 and r["cnt"] > 1
    }
    for r in rows:
        assert float(lo) <= r["min_norm"] <= r["max_norm"] <= float(hi), r
        assert r["min_norm"] == float(lo), r
        if r["source"] in untied_max:
            assert r["max_norm"] == float(hi), r


def test_hashed_bigram_xent_tracks_exact(spark):
    """The feature-hashed bigram LM is the exact op's bounded-memory
    twin: at this corpus's vocabulary the collision rate is tiny, so
    per-source avg_xent must track the exact op closely (measured max
    divergence ≈0.008 on values ≈3.4 at sf0.01; the 0.05 bar fails only
    if the hash plumbing itself breaks). Shapes must match exactly —
    the two ops score the same per-doc population."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.text import (
        bigram_cross_entropy,
        bigram_cross_entropy_hashed,
    )

    ex = {r["source"]: r for r in bigram_cross_entropy(spark, SF_CORRECT).collect()}
    hs = {r["source"]: r for r in bigram_cross_entropy_hashed(spark, SF_CORRECT).collect()}
    assert set(ex) == set(hs) and ex
    for s in ex:
        assert ex[s]["n_docs"] == hs[s]["n_docs"], s
        assert abs(ex[s]["avg_xent"] - hs[s]["avg_xent"]) < 0.05, (s, ex[s], hs[s])


def test_truncation_loss_curve_is_monotone_and_consistent(spark):
    """More context is never worse: kept tokens nondecreasing and loss
    fraction nonincreasing in max_len; counts reconcile with an
    independent token recompute."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.prep import (
        truncation_loss_curve,
        _TRUNC_LENS,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        load,
    )

    rows = sorted(
        truncation_loss_curve(spark, SF_CORRECT).collect(), key=lambda r: r["max_len"]
    )
    assert [r["max_len"] for r in rows] == list(_TRUNC_LENS)
    # End-to-end tie: totals recomputed from text_token_count's OUTPUT.
    # Both ops now consume the SHARED text.ascii_token_count pair
    # (hoisted r9; explicit-class since r13), so this pins that the
    # shared definition's two consumers agree —
    # a regression here means the helper itself broke, not drift
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.text import (
        text_token_count,
    )

    n_docs, total, mx = (
        text_token_count(spark, SF_CORRECT)
        .agg(
            F.count(F.lit(1)),
            F.sum("n_ws_tokens"),
            F.max("n_ws_tokens"),
        )
        .first()
    )
    kept_prev, loss_prev = -1, 2.0
    for r in rows:
        assert r["n_docs"] == n_docs
        assert 0 <= r["kept_tokens"] <= total
        assert 0.0 <= r["loss_frac"] < 1.0
        assert r["kept_tokens"] >= kept_prev and r["loss_frac"] <= loss_prev, r
        kept_prev, loss_prev = r["kept_tokens"], r["loss_frac"]
        assert (r["n_docs_truncated"] == 0) == (r["kept_tokens"] == total), r
    if mx <= rows[-1]["max_len"]:
        # no doc exceeds the largest candidate length → nothing is cut
        # and the curve's token total must equal the token op's exactly
        assert rows[-1]["kept_tokens"] == total and rows[-1]["loss_frac"] == 0.0


def test_doc_self_repetition_bounds_and_population(spark):
    """Rates live in [0, 1]; flagged docs never exceed the audited
    population; the audited population is exactly the docs carrying at
    least one shingle (>= 3 normalized tokens)."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.text import (
        doc_self_repetition,
        _norm_ascii,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        load,
    )

    rows = doc_self_repetition(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["avg_rep"] <= r["max_rep"] <= 1.0, r
        assert 0 <= r["n_flagged"] <= r["n_docs"], r
    d = load(spark, SF_CORRECT, "documents")
    eligible = d.filter(F.size(F.split(_norm_ascii(F.col("text")), " ")) >= 3).count()
    assert sum(r["n_docs"] for r in rows) == eligible


def test_self_repetition_shingles_lockstep_with_dedup_index(spark):
    """doc_self_repetition and dedup._shingle_index both consume the
    SHARED text.word3_shingles helper (hoisted r9 — previously mirrored
    copies this test patrolled for drift). The tie it pins now: the
    index's DISTINCT-explode path over the helper must agree per doc
    with the in-row array_distinct path over the same helper (cap
    disabled so hot-shingle suppression can't perturb the comparison) —
    a break means the helper or one consumption path regressed."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        load,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.text import (
        _norm_ascii,
        word3_shingles,
    )

    d = load(spark, SF_CORRECT, "documents")
    idx_counts = {
        r["doc_id"]: r["n"]
        for r in dedup._shingle_index(d, cap=10**9)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # the op's in-row uniq expression, replicated doc-level
    t = d.select("doc_id", F.split(_norm_ascii(F.col("text")), " ").alias("toks"))
    op_counts = {
        r["doc_id"]: r["uniq"]
        for r in t.select(
            "doc_id",
            F.size(F.array_distinct(word3_shingles(F.col("toks")))).alias("uniq"),
        ).collect()
        if r["uniq"] > 0
    }
    assert op_counts == idx_counts


def test_split_leakage_ngram_flags_planted_cross_split_overlap(spark):
    """The text-level cross-split audit must flag a
    test doc that shares a word-3-gram with a train doc, leave clean /
    shingle-less test docs unflagged, and ignore a hot shingle shared
    by more docs than the DF cap (it discriminates nothing)."""
    import hashlib

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (
        curation,
    )

    def is_train(i: int) -> bool:
        return hashlib.md5(str(i).encode()).hexdigest()[:2] < curation._LEAKN_SPLIT_HEX

    train_ids = [i for i in range(400) if is_train(i)]
    test_ids = [i for i in range(400) if not is_train(i)]
    n_hot = curation._LEAKN_CAP + 4
    assert len(train_ids) >= 2 and len(test_ids) >= n_hot + 3

    leaked, clean, tiny, hot_only = test_ids[0], test_ids[1], test_ids[2], test_ids[3]
    rows = [
        # train doc whose 3-gram "alpha beta gamma" the leaked test doc reuses
        (train_ids[0], "web", "alpha beta gamma delta epsilon"),
        # leaked test doc: shares exactly the planted shingle
        (leaked, "web", "prefix alpha beta gamma suffix"),
        # clean test doc: unique shingles only
        (clean, "web", "one two three four five"),
        # under-3-token test doc: no shingles at all
        (tiny, "web", "  short\ttext  "),
        # hot-only test doc: its ONLY shared shingle is the stop phrase
        (hot_only, "web", "zz yy xx"),
    ] + [
        # the stop phrase "zz yy xx" rides > cap docs (train side) with
        # unique tails, pushing its corpus DF past the cap
        (t, "web", f"zz yy xx filler{k} pad{k}")
        for k, t in enumerate(train_ids[1 : 1 + n_hot])
    ]
    d = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    out = {r["source"]: r for r in curation._leakage_ngram_audit(d).collect()}
    web = out["web"]
    assert web["n_test_docs"] == 4
    # only the planted-overlap doc is leaked: the clean, the tiny, and
    # the hot-only docs must not count
    assert web["n_leaked"] == 1
    assert web["max_shared"] == 1
    assert abs(web["leaked_share"] - 0.25) < 1e-9


def test_split_leakage_ngram_counts_distinct_shared_shingles(spark):
    """max_shared counts DISTINCT shared shingles per worst test doc."""
    import hashlib

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (
        curation,
    )

    def is_train(i: int) -> bool:
        return hashlib.md5(str(i).encode()).hexdigest()[:2] < curation._LEAKN_SPLIT_HEX

    tr = next(i for i in range(400) if is_train(i))
    te = next(i for i in range(400) if not is_train(i))
    # the test doc reuses a 4-token span → shares TWO distinct 3-grams
    rows = [
        (tr, "s", "alpha beta gamma delta tail"),
        (te, "s", "head alpha beta gamma delta"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    (row,) = curation._leakage_ngram_audit(d).collect()
    assert row["n_leaked"] == 1 and row["max_shared"] == 2


def test_bmp_phash_matches_closed_form_and_is_payload_invariant(spark):
    """image_phash_neardup's hash must (a) match an independent Python
    recomputation from the md5-hex cycle arithmetic (the oracle's
    derivation — neither path sees the other's bytes), and (b) be a
    function of the IMAGE alone: two doc_ids with identical text and
    identical BMP geometry (doc_id difference a multiple of 31·17)
    produce bit-identical signatures → a Hamming-0 near-dup pair."""
    import hashlib

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.multimodal import (
        _BMP_H_MOD,
        _BMP_W_MOD,
        _PHASH_BITS,
        _bmp_encode,
        _bmp_phash_parse,
    )

    def closed_form(doc_id: int, text: str) -> int:
        hx = hashlib.md5(text.encode()).hexdigest()
        w = 1 + doc_id % _BMP_W_MOD
        h = 1 + doc_id % _BMP_H_MOD
        n_px = w * h * 3
        total = sum(
            ord(hx[i % 32]) for i in range(n_px)
        )
        sig = 0
        for j in range(_PHASH_BITS):
            if ord(hx[((j * n_px) // _PHASH_BITS) % 32]) * n_px > total:
                sig |= 1 << j
        return sig

    texts = ["hello world", "", "x", "some longer document text body"]
    for doc_id in (0, 1, 7, 16, 30, 526, 527):
        for t in texts:
            hx = hashlib.md5(t.encode()).hexdigest()
            got = _bmp_phash_parse(_bmp_encode(doc_id, hx))
            assert got == closed_form(doc_id, t), (doc_id, t)

    # geometry+text-identical docs → identical signature
    hx = hashlib.md5(b"same image").hexdigest()
    period = _BMP_W_MOD * _BMP_H_MOD
    assert _bmp_phash_parse(_bmp_encode(3, hx)) == _bmp_phash_parse(
        _bmp_encode(3 + period, hx)
    )


def test_wav_fingerprint_matches_closed_form_and_is_payload_invariant(spark):
    """audio_fingerprint_neardup's hash must (a) match an independent
    Python recomputation from the md5-hex cycle arithmetic (the
    oracle's derivation — neither path sees the other's bytes), and
    (b) be a function of the WAVEFORM alone: two doc_ids with the same
    sample count and identical text (doc_id difference a multiple of
    _WAV_N_MOD) produce bit-identical signatures → a Hamming-0 pair."""
    import hashlib

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.multimodal import (
        _AUDIO_FRAMES,
        _PHASH_BITS,
        _WAV_N_MOD,
        _wav_encode,
        _wav_fingerprint_parse,
    )

    def closed_form(doc_id: int, text: str) -> int:
        hx = hashlib.md5(text.encode()).hexdigest()
        n = 100 + doc_id % _WAV_N_MOD
        fe = [0] * _AUDIO_FRAMES
        for i in range(n):
            s = ord(hx[(2 * i) % 32]) + 256 * ord(hx[(2 * i + 1) % 32]) - 32768
            fe[(i * _AUDIO_FRAMES) // n] += abs(s)
        sig = 0
        for j in range(_PHASH_BITS):
            if fe[j + 1] > fe[j]:
                sig |= 1 << j
        return sig

    texts = ["hello world", "", "x", "some longer document text body"]
    for doc_id in (0, 1, 7, 16, 99, 399, 400, 1234):
        for t in texts:
            hx = hashlib.md5(t.encode()).hexdigest()
            got = _wav_fingerprint_parse(_wav_encode(doc_id, hx))
            assert got == closed_form(doc_id, t), (doc_id, t)

    # same sample count + same text → identical signature
    hx = hashlib.md5(b"same audio").hexdigest()
    assert _wav_fingerprint_parse(_wav_encode(3, hx)) == _wav_fingerprint_parse(
        _wav_encode(3 + _WAV_N_MOD, hx)
    )


def test_banded_hamming_pairs_recall_and_bucket_cap(spark):
    """Direct contract test for the shared banded tail
    (`dedup._banded_hamming_pairs` — THE definition all three modality
    near-dup ops call): (a) pigeonhole recall — any planted pair within
    Hamming ≤ 4 shares an intact band and MUST surface; (b) pairs past
    the radius are excluded; (c) a degenerate hot bucket (> MAX_BUCKET
    identical signatures) is dropped from candidate generation
    entirely, which is the documented skew guarantee."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.dedup import (
        _SIMHASH_MAX_BUCKET,
        _SIMHASH_RADIUS,
        _banded_hamming_pairs,
    )

    base = 0b101101110010101011001010101101010101100110101010101010110101
    near = base ^ 0b1011  # Hamming 3 ≤ 4: pigeonhole guarantees recall
    far = base ^ ((1 << 60) - 1)  # Hamming 60: past any radius
    rows = [(1, base), (2, near), (3, far)]
    out = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in _banded_hamming_pairs(
            spark.createDataFrame(rows, "doc_id long, simhash long")
        ).collect()
    }
    assert out.get((1, 2)) == 3
    assert (1, 3) not in out and (2, 3) not in out
    assert _SIMHASH_RADIUS == 12  # oracle twin interpolates the same

    # hot-bucket cap: one signature repeated past the cap fills ALL its
    # buckets past MAX_BUCKET, so the clones generate zero candidates —
    # while a distinct small pair in the same frame still surfaces
    clones = [(i, base) for i in range(10, 10 + _SIMHASH_MAX_BUCKET + 1)]
    pair = [(500, far), (501, far ^ 0b1)]
    capped = _banded_hamming_pairs(
        spark.createDataFrame(clones + pair, "doc_id long, simhash long")
    ).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in capped}
    assert got == {(500, 501)}, got


def test_banded_hamming_pairs_probe_mode(spark):
    """Probe-mode contract (r11): with a probe side given, the tail
    joins probe×store only — (a) a probe doc near a store doc surfaces
    as (probe, store); (b) store×store and probe×probe pairs NEVER
    appear, even at Hamming 0; (c) the hot-bucket cap protects the
    STORE side (a mega-bucket store signature yields no candidates)
    while probe-side repetition is allowed through."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.dedup import (
        _SIMHASH_MAX_BUCKET,
        _banded_hamming_pairs,
    )

    base = 0b101101110010101011001010101101010101100110101010101010110101
    near = base ^ 0b1011  # Hamming 3
    schema = "doc_id long, simhash long"
    store = spark.createDataFrame([(1, base), (2, base)], schema)  # near-dup store pair
    probe = spark.createDataFrame([(100, near), (101, near)], schema)  # near-dup probe pair
    out = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in _banded_hamming_pairs(store, probe=probe).collect()
    }
    # every probe×store combination, nothing within either side
    assert out == {(100, 1): 3, (100, 2): 3, (101, 1): 3, (101, 2): 3}, out

    # store-side hot bucket: cap+1 identical store signatures vanish
    # from candidate generation; the same repetition on the PROBE side
    # is fine (the cap is a store-skew guarantee, probes stay linear)
    clones = [(i, base) for i in range(10, 10 + _SIMHASH_MAX_BUCKET + 1)]
    capped = _banded_hamming_pairs(
        spark.createDataFrame(clones, schema),
        probe=spark.createDataFrame([(100, near)], schema),
    ).collect()
    assert capped == [], capped
    probe_clones = [(100 + i, near) for i in range(_SIMHASH_MAX_BUCKET + 1)]
    through = _banded_hamming_pairs(
        spark.createDataFrame([(1, base)], schema),
        probe=spark.createDataFrame(probe_clones, schema),
    ).collect()
    assert len(through) == 50  # limit-50 presentation of cap+1 probe hits


def test_wav_fingerprint_closed_form_property():
    """Hypothesis patrol over the audio fingerprint: for ARBITRARY
    (doc_id, md5-like hex) inputs, the numpy byte-level parse equals
    the pure-Python replay of the oracle's cycle arithmetic — the
    property twin of the fixed-case test above."""
    import hashlib

    from hypothesis import given, settings, strategies as st

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.multimodal import (
        _AUDIO_FRAMES,
        _PHASH_BITS,
        _WAV_N_MOD,
        _wav_encode,
        _wav_fingerprint_parse,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        st.integers(min_value=0, max_value=10_000_000),
        st.binary(min_size=0, max_size=64),
    )
    def check(doc_id, seed):
        hx = hashlib.md5(seed).hexdigest()
        n = 100 + doc_id % _WAV_N_MOD
        fe = [0] * _AUDIO_FRAMES
        for i in range(n):
            s = ord(hx[(2 * i) % 32]) + 256 * ord(hx[(2 * i + 1) % 32]) - 32768
            fe[(i * _AUDIO_FRAMES) // n] += abs(s)
        want = 0
        for j in range(_PHASH_BITS):
            if fe[j + 1] > fe[j]:
                want |= 1 << j
        assert _wav_fingerprint_parse(_wav_encode(doc_id, hx)) == want

    check()


def test_y4m_frame_sample_matches_closed_form():
    """video_frame_sample's parse must match an independent Python
    recomputation from the md5-hex rotated-cycle arithmetic (the
    oracle's derivation — neither path sees the other's bytes), for
    fixed doc_ids AND under a Hypothesis patrol."""
    import hashlib

    from hypothesis import given, settings, strategies as st

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.multimodal import (
        _VIDEO_SAMPLES,
        _Y4M_FRAME_OFF,
        _Y4M_H_MOD,
        _Y4M_NF_MOD,
        _Y4M_W_MOD,
        _y4m_encode,
        _y4m_frame_sample_parse,
    )

    def closed_form(doc_id, text):
        hx = hashlib.md5(text.encode()).hexdigest()
        w = 4 + doc_id % _Y4M_W_MOD
        h = 4 + doc_id % _Y4M_H_MOD
        nf = 2 + doc_id % _Y4M_NF_MOD
        fb = 3 * w * h
        hdr = len(f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n")
        sums = []
        for j in range(_VIDEO_SAMPLES):
            fr = (j * nf) // _VIDEO_SAMPLES
            sums.append(
                sum(ord(hx[(i + fr * _Y4M_FRAME_OFF) % 32]) for i in range(fb))
            )
        motion = sum(
            abs(sums[k + 1] - sums[k]) for k in range(_VIDEO_SAMPLES - 1)
        )
        return (w, h, nf, hdr + nf * (6 + fb), sums, motion)

    for doc_id in (0, 1, 7, 12, 13, 142, 1000, 1001):
        for t in ("hello", "", "x", "longer video document body"):
            hx = hashlib.md5(t.encode()).hexdigest()
            got = _y4m_frame_sample_parse(_y4m_encode(doc_id, hx))
            assert got == closed_form(doc_id, t), (doc_id, t)

    @settings(max_examples=150, deadline=None)
    @given(
        st.integers(min_value=0, max_value=10_000_000),
        st.binary(min_size=0, max_size=64),
    )
    def check(doc_id, seed):
        hx = hashlib.md5(seed).hexdigest()
        got = _y4m_frame_sample_parse(_y4m_encode(doc_id, hx))
        # re-derive the closed form inline against the hex string
        w = 4 + doc_id % _Y4M_W_MOD
        h = 4 + doc_id % _Y4M_H_MOD
        nf = 2 + doc_id % _Y4M_NF_MOD
        fb = 3 * w * h
        hdr = len(f"YUV4MPEG2 W{w} H{h} F25:1 Ip A1:1 C444\n")
        sums = [
            sum(ord(hx[(i + ((j * nf) // _VIDEO_SAMPLES) * _Y4M_FRAME_OFF) % 32])
                for i in range(fb))
            for j in range(_VIDEO_SAMPLES)
        ]
        motion = sum(abs(sums[k + 1] - sums[k]) for k in range(_VIDEO_SAMPLES - 1))
        assert got == (w, h, nf, hdr + nf * (6 + fb), sums, motion)

    check()


def test_banded_probe_tail_dialects_agree_on_boundaries(spark):
    """Handcrafted-edge DIALECT lockstep for the probe tail (r11, the
    EDGE-AUDIT lesson: op oracles can't see bugs both engines share,
    and the corpus may never sit ON a boundary): plant signatures at
    the exact Hamming radius (12 in, 13 out), the exact hot-bucket cap
    (64 in, 65 out), and the band_key extremes (all-zeros /
    all-ones 60-bit), then run dedup._banded_hamming_pairs probe mode
    AND the _BANDED_PROBE_SQL_TAIL oracle twin over the SAME rows and
    compare row-for-row."""
    import duckdb

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.dedup import (
        _BANDED_PROBE_SQL_TAIL,
        _SIMHASH_MAX_BUCKET,
        _banded_hamming_pairs,
    )

    full60 = (1 << 60) - 1
    base = 0b101101110010101011001010101101010101100110101010101010110101
    ham12 = base
    # 12 flips CONFINED to bands 0-3 (bits 0-47), leaving band 4 intact
    # so the pair IS a candidate (pigeonhole only guarantees recall to
    # hamming 4; at the radius the test must plant the intact band)
    for k in (0, 5, 9, 13, 17, 22, 24, 31, 35, 38, 42, 47):
        ham12 ^= 1 << k
    ham13 = ham12 ^ (1 << 3)  # 13 bits from base, band 4 still intact:
    # candidate generated, then killed by the radius verify — the
    # sharpest boundary (join passes, WHERE excludes)
    store = [(1, base), (2, 0), (3, full60)]
    # an exactly-at-cap (bk=0, key=K) bucket: 64 DISTINCT store sigs
    # sharing only band 0 — doc 10 identical to the probe (hamming 0),
    # the other 63 carry a 13-bit run + unique id in the high bits, so
    # they are candidates but fail the radius (the limit-50 lesson: an
    # at-cap bucket of CLONES floods the top-50 with hamming-0 pairs
    # and crowds the radius-boundary pair out of the presentation)
    K = 0xABC
    store += [(10, K)]
    store += [
        (10 + i, K | (0x1FFF << 12) | (i << 25)) for i in range(1, _SIMHASH_MAX_BUCKET)
    ]
    # an over-cap bucket: cap+1 clones — every band bucket oversized,
    # so the whole family vanishes from candidate generation
    store += [(200 + i, 0x123456789ABCD) for i in range(_SIMHASH_MAX_BUCKET + 1)]
    probe = [
        (1000, ham12),  # exactly at the radius vs base → IN
        (1001, ham13),  # candidate via intact band 4, killed by radius
        (1002, 0),  # zero signature matches store doc 2 at hamming 0
        (1003, full60),  # all-ones matches store doc 3
        (1004, K),  # hits the exactly-at-cap bucket → (1004, 10) at hamming 0
        (1005, 0x123456789ABCD),  # hits the over-cap bucket → candidates dropped
    ]
    schema = "doc_id long, simhash long"
    got = [
        tuple(r)
        for r in _banded_hamming_pairs(
            spark.createDataFrame(store, schema),
            probe=spark.createDataFrame(probe, schema),
        ).collect()
    ]

    con = duckdb.connect()
    con.execute("CREATE TABLE store_t (doc_id BIGINT, simhash BIGINT)")
    con.executemany("INSERT INTO store_t VALUES (?, ?)", store)
    con.execute("CREATE TABLE probe_t (doc_id BIGINT, simhash BIGINT)")
    con.executemany("INSERT INTO probe_t VALUES (?, ?)", probe)
    want = con.execute(
        f"""WITH sig AS (SELECT doc_id, simhash FROM store_t),
        probe AS (SELECT doc_id, simhash FROM probe_t){_BANDED_PROBE_SQL_TAIL}"""
    ).fetchall()
    con.close()
    assert got == [tuple(r) for r in want], (got, want)

    got_pairs = {(a, b) for a, b, _ in got}
    assert (1000, 1) in got_pairs  # hamming exactly 12 survives
    assert (1001, 1) not in got_pairs  # hamming 13 is out vs base
    assert (1002, 2) in got_pairs and (1003, 3) in got_pairs
    assert (1004, 10) in got_pairs  # at-cap bucket kept
    assert not any(b > 10 for _, b in got_pairs)  # >12-ham cousins filtered
    assert not any(a == 1005 for a, _, _ in got)  # over-cap bucket dropped


def test_banded_selfjoin_tail_dialects_agree_on_boundaries(spark):
    """Self-join twin of the probe-tail boundary lockstep above: the
    THREE certified modality ops (simhash_near_pairs /
    image_phash_neardup / audio_fingerprint_neardup) all ride
    _BANDED_PAIRS_SQL_TAIL, whose corpus-level oracles may never sit ON
    a boundary — plant the same handcrafted signatures (hamming exactly
    12 in / 13 candidate-but-filtered, at-cap 64 kept / over-cap 65
    dropped, band-key extremes) and compare the Spark self-join mode
    row-for-row against the SQL tail."""
    import duckdb

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.dedup import (
        _BANDED_PAIRS_SQL_TAIL,
        _SIMHASH_MAX_BUCKET,
        _banded_hamming_pairs,
    )

    full60 = (1 << 60) - 1
    base = 0b101101110010101011001010101101010101100110101010101010110101
    ham12 = base
    for k in (0, 5, 9, 13, 17, 22, 24, 31, 35, 38, 42, 47):  # band 4 intact
        ham12 ^= 1 << k
    ham13 = ham12 ^ (1 << 3)

    def both(rows):
        got = [
            tuple(r)
            for r in _banded_hamming_pairs(
                spark.createDataFrame(rows, "doc_id long, simhash long")
            ).collect()
        ]
        con = duckdb.connect()
        con.execute("CREATE TABLE sig_t (doc_id BIGINT, simhash BIGINT)")
        con.executemany("INSERT INTO sig_t VALUES (?, ?)", rows)
        want = con.execute(
            f"WITH sig AS (SELECT doc_id, simhash FROM sig_t){_BANDED_PAIRS_SQL_TAIL}"
        ).fetchall()
        con.close()
        assert got == [tuple(r) for r in want], (rows[:6], got, want)
        return {(a, b): h for a, b, h in got}

    # scenario A — radius boundary + band-key extremes (kept SMALL: a
    # self-join at-cap bucket would flood the top-50 with its own
    # intra-bucket pairs, the clone-flood lesson squared)
    out = both(
        [(1, base), (2, ham12), (3, ham13), (4, full60), (5, full60 ^ 1), (6, 0)]
    )
    assert out.get((1, 2)) == 12  # hamming exactly 12 survives
    assert (1, 3) not in out  # hamming 13: candidate via band 4, filtered
    assert out.get((2, 3)) == 1  # the planted near-twins
    assert out.get((4, 5)) == 1  # all-ones extreme pairs its neighbor
    assert not any(6 in p for p in out)  # all-zeros pairs nothing here

    # scenario B — exactly-at-cap bucket is KEPT: 64 clones generate
    # C(64,2) hamming-0 pairs; the top-50 presentation is entirely
    # theirs, identically on both engines (the limit is part of the
    # contract), and the far 1-bit pair is crowded out
    clones = [(10 + i, 0x5A5A5A5A5A5A5A5) for i in range(_SIMHASH_MAX_BUCKET)]
    out = both(clones + [(500, full60), (501, full60 ^ 1)])
    assert len(out) == 50 and all(h == 0 for h in out.values())
    assert all(10 <= a < 500 and 10 <= b < 500 for a, b in out)

    # scenario C — ONE more clone tips every one of its buckets past
    # the cap: the whole family vanishes and the far pair is all that
    # remains
    clones_over = [(10 + i, 0x5A5A5A5A5A5A5A5) for i in range(_SIMHASH_MAX_BUCKET + 1)]
    out = both(clones_over + [(500, full60), (501, full60 ^ 1)])
    assert out == {(500, 501): 1}


def test_banded_probe_mode_matches_oracle_property(spark):
    """Hypothesis patrol over the probe tail: for ARBITRARY small
    store/probe signature sets, the Spark probe mode and the
    _BANDED_PROBE_SQL_TAIL oracle must agree row-for-row — the
    randomized complement of the handcrafted boundary corpus."""
    import duckdb

    from hypothesis import given, settings, strategies as st

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.dedup import (
        _BANDED_PROBE_SQL_TAIL,
        _banded_hamming_pairs,
    )

    sig = st.integers(min_value=0, max_value=(1 << 60) - 1)
    # near-collision-rich universe: signatures drawn from a small pool
    # of anchors XOR a few flipped bits, so bands collide often
    anchors = st.sampled_from(
        [0, (1 << 60) - 1, 0x5A5A5A5A5A5A5A5, 0xABC, 0x123456789ABCD]
    )
    near = st.builds(
        lambda a, flips: a ^ sum(1 << k for k in flips),
        anchors,
        st.lists(st.integers(min_value=0, max_value=59), max_size=14, unique=True),
    )
    sigs = st.lists(st.one_of(near, sig), min_size=0, max_size=12)

    @settings(max_examples=12, deadline=None)
    @given(store=sigs, probe=sigs)
    def _prop(store, probe):
        store_rows = [(i, s) for i, s in enumerate(store)]
        probe_rows = [(1000 + i, s) for i, s in enumerate(probe)]
        schema = "doc_id long, simhash long"
        got = [
            tuple(r)
            for r in _banded_hamming_pairs(
                spark.createDataFrame(store_rows, schema)
                if store_rows
                else spark.createDataFrame([], schema),
                probe=spark.createDataFrame(probe_rows, schema)
                if probe_rows
                else spark.createDataFrame([], schema),
            ).collect()
        ]
        con = duckdb.connect()
        con.execute("CREATE TABLE store_t (doc_id BIGINT, simhash BIGINT)")
        if store_rows:
            con.executemany("INSERT INTO store_t VALUES (?, ?)", store_rows)
        con.execute("CREATE TABLE probe_t (doc_id BIGINT, simhash BIGINT)")
        if probe_rows:
            con.executemany("INSERT INTO probe_t VALUES (?, ?)", probe_rows)
        want = con.execute(
            f"""WITH sig AS (SELECT doc_id, simhash FROM store_t),
            probe AS (SELECT doc_id, simhash FROM probe_t){_BANDED_PROBE_SQL_TAIL}"""
        ).fetchall()
        con.close()
        assert got == [tuple(r) for r in want], (store, probe, got, want)

    _prop()


def _run_maint_over_sig_rows(spark, rows, batch_size=1):
    """Drive the REAL maintenance building blocks (_probe_and_grow over
    a parquet band store, micro-batches of ``batch_size`` CONTIGUOUS
    ascending sources) over handcrafted (doc_id, simhash, src) rows —
    the signature-level twin of stream_neardup_store_maintenance minus
    simhash_sig and the stream transport, for boundary/property
    lockstep against _BANDED_MAINT_SQL_TAIL. batch_size > 1 exercises
    the whole-batch per-state-cap join (the r12 perf form) with
    intra-batch cross-source pairs."""
    import shutil as _shutil
    import tempfile as _tempfile

    from pyspark.sql import functions as F

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.dedup import (
        _NEARDUP_STORE_SOURCES,
        _bands_with_src,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.streaming.neardup import (
        _final_pairs,
        _probe_and_grow,
    )

    root = _tempfile.mkdtemp(prefix="maint_sig_rows_")
    try:
        store_dir, out_dir = f"{root}/store", f"{root}/pairs"
        schema = "doc_id long, simhash long, src int"
        sig_df = spark.createDataFrame(rows, schema) if rows else None
        hist = (
            sig_df.filter(F.col("src") < _NEARDUP_STORE_SOURCES)
            if sig_df is not None
            else spark.createDataFrame([], schema)
        )
        _bands_with_src(hist, hist).write.mode("overwrite").parquet(store_dir)
        import os as _os

        _os.makedirs(out_dir, exist_ok=True)
        ingest_srcs = sorted(
            {s for _, _, s in rows if s >= _NEARDUP_STORE_SOURCES}
        )
        # contiguous ascending batches, like the chunker delivers them
        for i in range(0, len(ingest_srcs), batch_size):
            batch = ingest_srcs[i : i + batch_size]
            sub = sig_df.filter(F.col("src").isin(batch))
            batch_bands = _bands_with_src(sub, sub).localCheckpoint(eager=True)
            _probe_and_grow(spark, store_dir, batch_bands, out_dir)
        return [tuple(r) for r in _final_pairs(spark, out_dir).collect()]
    finally:
        _shutil.rmtree(root, ignore_errors=True)


def _duck_maint_over_sig_rows(rows):
    import duckdb

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.dedup import (
        _BANDED_MAINT_SQL_TAIL,
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE sig_t (doc_id BIGINT, simhash BIGINT, src INT)")
    if rows:
        con.executemany("INSERT INTO sig_t VALUES (?, ?, ?)", rows)
    want = con.execute(
        f"WITH sig AS (SELECT doc_id, simhash, src FROM sig_t)"
        f"{_BANDED_MAINT_SQL_TAIL}"
    ).fetchall()
    con.close()
    return [tuple(r) for r in want]


def test_banded_maint_tail_dialects_agree_on_boundaries(spark):
    """Handcrafted-edge dialect lockstep for the MAINTAINED-store tail
    (r12) — the maintenance-specific boundary is the cap as a function
    of STORE STATE: a bucket can be open for early ingest and capped
    for later ingest as accepted clones accumulate. Plant a band-0
    bucket at population 63 (history), let two ingest clones push it
    through exactly-at-cap (64) to over-cap (65), and assert the THIRD
    clone loses its band-0-only match while keeping its all-band clone
    matches; plus the hamming 12-in/13-out radius boundary against
    history and the same-source exclusion (intra-batch near-dups are a
    separate dedup stage, not this operator's output)."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.dedup import (
        _SIMHASH_MAX_BUCKET,
    )

    assert _SIMHASH_MAX_BUCKET == 64  # the populations below bake it in

    base = 0b101101110010101011001010101101010101100110101010101010110101
    ham12 = base
    for k in (0, 5, 9, 13, 17, 22, 24, 31, 35, 38, 42, 47):  # band 4 intact
        ham12 ^= 1 << k
    ham13 = ham12 ^ (1 << 3)

    K0 = 0xABC  # the state-transition bucket's band-0 key
    P = K0  # probe-clone signature: band 0 = K0, bands 1-4 all zero
    # doc 10: shares ONLY band 0 with P — 12 flips, 3 in each of bands
    # 1-4, so the pair sits exactly AT the radius and its sole candidate
    # path is the (bk=0, K0) bucket whose population the ingest grows
    d10 = P
    for k in (13, 15, 18, 25, 27, 30, 37, 39, 42, 49, 51, 54):
        d10 ^= 1 << k
    # 62 junk cousins: band 0 = K0, a 13-bit run (bits 12-24) keeps them
    # past the radius vs P AND vs d10, unique band-4 ids keep them
    # distinct — population managers, never matches
    junk = [(20 + i, K0 | (0x1FFF << 12) | (i << 48)) for i in range(1, 63)]

    Y = 0x0F0F0F0F0F0F0F  # the plain ingest-x-ingest anchor

    rows = (
        [(1, base, 0), (10, d10, 0)]
        + [(d, s, 0) for d, s in junk]
        + [
            (1000, ham12, 10),  # exactly at radius vs history base → IN
            (1001, ham13, 10),  # candidate via band 4, killed by radius
            (1002, Y, 10),  # waits for its src11 twin
            (1004, P, 10),  # bucket@63 → pairs d10; grows bucket to 64
            (1100, Y, 11),  # ingest x earlier-ingest at hamming 0
            (1104, P, 11),  # bucket@64 (AT cap) → still pairs d10; → 65
            (1204, P, 12),  # bucket@65 → d10 match GONE; clone matches stay
        ]
    )

    got = _run_maint_over_sig_rows(spark, rows)
    want = _duck_maint_over_sig_rows(rows)
    assert got == want, (got, want)
    # the whole-batch form (several contiguous sources per micro-batch,
    # per-state caps + intra-batch cross-source pairs in ONE join) must
    # produce the identical answer
    assert _run_maint_over_sig_rows(spark, rows, batch_size=3) == want

    pairs = {(a, b): h for a, b, h in got}
    assert pairs.get((1000, 1)) == 12  # hamming exactly 12 survives
    assert (1001, 1) not in pairs  # hamming 13: candidate, filtered
    assert pairs.get((1100, 1002)) == 0  # later source x earlier source
    assert (1002, 1100) not in pairs  # never emitted in reverse
    assert (1001, 1000) not in pairs and (1000, 1001) not in pairs  # same src
    # the state transition: 63 → pairs, 64 (exactly at cap) → pairs,
    # 65 (over cap) → the band-0-only match vanishes
    assert pairs.get((1004, 10)) == 12
    assert pairs.get((1104, 10)) == 12
    assert (1204, 10) not in pairs
    # while the all-band clone matches (tiny per-band buckets) survive
    assert pairs.get((1104, 1004)) == 0
    assert pairs.get((1204, 1004)) == 0 and pairs.get((1204, 1104)) == 0
    # junk cousins managed population only
    assert not any(20 <= b < 90 for _, b in pairs)


def test_banded_maint_tail_matches_oracle_property(spark):
    """Hypothesis patrol over the maintained-store tail: for ARBITRARY
    small signature sets spread over history + up to two ingest
    sources, the real _probe_and_grow loop and _BANDED_MAINT_SQL_TAIL
    must agree row-for-row — the randomized complement of the
    state-transition boundary corpus."""
    from hypothesis import given, settings, strategies as st

    anchors = st.sampled_from(
        [0, (1 << 60) - 1, 0x5A5A5A5A5A5A5A5, 0xABC, 0x0F0F0F0F0F0F0F]
    )
    near = st.builds(
        lambda a, flips: a ^ sum(1 << k for k in flips),
        anchors,
        st.lists(st.integers(min_value=0, max_value=59), max_size=14, unique=True),
    )
    srcs = st.sampled_from([0, 3, 9, 10, 11])
    rows = st.lists(
        st.tuples(near, srcs), min_size=0, max_size=10
    )

    @settings(max_examples=6, deadline=None)
    @given(rows=rows, batch_size=st.sampled_from([1, 2]))
    def _prop(rows, batch_size):
        sig_rows = [(i, s, src) for i, (s, src) in enumerate(rows)]
        got = _run_maint_over_sig_rows(spark, sig_rows, batch_size=batch_size)
        want = _duck_maint_over_sig_rows(sig_rows)
        assert got == want, (sig_rows, batch_size, got, want)

    _prop()


def test_y4m_header_fuzz():
    """Hypothesis patrol over _y4m_header: for arbitrary
    junk bytes AND adversarial header-shaped inputs, the parser either
    returns a well-formed (w, h, frame_bytes, data_start) with positive
    dimensions, or raises ValueError (the class the dispatch's opaque
    quarantine catches) — never any other exception, never a nonsense
    acceptance. Found and pinned: the truthiness guard accepted
    negative dimension pairs ('W-1 H-6') whose product made
    frame_bytes positive."""
    from hypothesis import given, settings, strategies as st

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.multimodal import (
        _y4m_header,
        _y4m_stream_parse,
    )

    field = st.one_of(
        st.builds(lambda n: f"W{n}", st.integers(min_value=-5, max_value=5)),
        st.builds(lambda n: f"H{n}", st.integers(min_value=-5, max_value=5)),
        st.sampled_from(["C444", "C420", "F25:1", "Ip", "A1:1", "", "W", "H", "Wx"]),
        st.text(
            alphabet=st.characters(min_codepoint=33, max_codepoint=126), max_size=4
        ),
    )
    headerish = st.builds(
        lambda magic, fs, tail: (magic + "".join(" " + f for f in fs) + "\n").encode()
        + tail,
        st.sampled_from(["YUV4MPEG2", "YUV4MPEG", "yuv4mpeg2", "BM", ""]),
        st.lists(field, max_size=4),
        st.binary(max_size=64),
    )
    junk = st.one_of(st.binary(max_size=96), headerish)

    @settings(max_examples=400, deadline=None)
    @given(b=junk)
    def _prop(b):
        try:
            w, h, fb, start = _y4m_header(b)
        except ValueError:  # includes UnicodeDecodeError
            return
        assert w > 0 and h > 0, (b, w, h)
        assert fb == 3 * w * h
        assert 0 < start <= len(b)
        assert b[:9] == b"YUV4MPEG2"
        # and the stream walk on top never escapes the quarantine class
        try:
            _y4m_stream_parse(b)
        except ValueError:
            pass

    _prop()

    # the specific holes found (fuzz patrol: negative pairs; review
    # pass: int()'s Python-only spellings), pinned as regression cases
    for bad in (
        b"YUV4MPEG2 W-1 H-6\n",
        b"YUV4MPEG2 W-2 H-2\n",
        b"YUV4MPEG2 W0 H5\n",
        b"YUV4MPEG2 W1_0 H2\n",
        b"YUV4MPEG2 W+2 H2\n",
        b"YUV4MPEG2 W 2 H2\n",
    ):
        with pytest.raises(ValueError):
            _y4m_header(bad)


def test_container_parser_fuzz_ppm_bmp_wav():
    """Sibling sweep of the _y4m_header patrol (r12): for arbitrary
    junk AND adversarial header-shaped payloads, each container parser
    either returns sane values or raises within the dispatch's
    quarantine classes (ValueError / struct.error) — never another
    exception, never a nonsense acceptance. Found and fixed in the
    sweep: _ppm_parse accepted int()'s Python-only spellings
    ('1_0', '+2') in header numbers and any maxval; _bmp_parse accepted
    a pixel offset pointing inside the 54-byte header (aggregating
    header bytes as pixels)."""
    import struct

    from hypothesis import given, settings, strategies as st

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.multimodal import (
        _bmp_parse,
        _ppm_parse,
        _wav_fingerprint_parse,
        _wav_parse,
    )

    num = st.one_of(
        st.integers(min_value=-3, max_value=300).map(str),
        st.sampled_from(["1_0", "+2", "-0", "", "0x10", "７", "2e1"]),
    )
    ppmish = st.builds(
        lambda a, b_, c, tail: f"P6 {a} {b_} {c} ".encode() + tail,
        num,
        num,
        num,
        st.binary(max_size=96),
    )
    bmpish = st.builds(
        lambda off, w, h, bpp, tail: b"BM"
        + struct.pack("<IHHI", 0, 0, 0, off)
        + struct.pack("<IiiHH", 40, w, h, 1, bpp)
        + b"\x00" * 24
        + tail,
        st.integers(min_value=0, max_value=120),
        st.integers(min_value=-4, max_value=6),
        st.integers(min_value=-4, max_value=6),
        st.sampled_from([24, 1, 0]),
        st.binary(max_size=160),
    )
    wavish = st.builds(
        lambda fmt_id, fmt_len, codec, ch, bits, data_id, dlen, tail: b"RIFF"
        + b"\x00\x00\x00\x00WAVE"
        + struct.pack("<4sIHHI", fmt_id, fmt_len, codec, ch, 8000)
        + b"\x00" * 6
        + struct.pack("<H", bits)
        + struct.pack("<4sI", data_id, dlen)
        + tail,
        # junk fmt ids, WAVE_FORMAT_EX-style fmt
        # lengths, non-PCM codecs, stereo, wrong bit depths, junk data
        # ids, odd data lengths, and truncation at every boundary via
        # the free tail length
        st.sampled_from([b"fmt ", b"fmt\x00", b"LIST"]),
        st.sampled_from([16, 18, 14, 0, 4096]),
        st.sampled_from([1, 0, 7, 3, 0xFFFE]),
        st.sampled_from([1, 2, 0]),
        st.sampled_from([16, 8, 24, 0]),
        st.sampled_from([b"data", b"LIST", b"fact"]),
        st.integers(min_value=0, max_value=65),
        st.binary(max_size=96),
    )
    junk = st.one_of(st.binary(max_size=128), ppmish, bmpish, wavish)

    @settings(max_examples=300, deadline=None)
    @given(b=junk)
    def _prop(b):
        try:
            w, h, maxval, _size, _mean = _ppm_parse(b)
            # maxval capped at the 1-byte-sample range the reader
            # implements (2-byte-sample files would misparse silently)
            assert w > 0 and h > 0 and 0 < maxval < 256, b
        except (ValueError, struct.error):
            pass
        try:
            w, h, _bpp, _size, _mean = _bmp_parse(b)
            assert w > 0 and h > 0, b
        except (ValueError, struct.error):
            pass
        try:
            _rate, n, size, _mean = _wav_parse(b)
            assert n > 0 and size <= len(b), b
            assert size == 44 + 2 * n, b  # even data, 16-byte fmt only
        except (ValueError, struct.error):
            pass
        # the fingerprint reader consumes the SAME validated header
        # walk (r13 review) — anything _wav_parse rejects it must
        # reject too, and an acceptance implies frameable samples
        try:
            fp = _wav_fingerprint_parse(b)
            assert 0 <= fp < (1 << 60), b
        except (ValueError, struct.error):
            pass

    _prop()

    # r13 WAV holes found by the deepened patrol, pinned as regressions:
    # (a) fmt_len was read but never validated — an 18-byte
    # WAVE_FORMAT_EX fmt chunk parsed with 16-byte offsets reads `bits`
    # out of cbSize and can silently aggregate misaligned bytes;
    # (b) an odd data_len floored the trailing byte away silently.
    def _wav_hdr(fmt_len, data_len):
        return (
            b"RIFF\x00\x00\x00\x00WAVE"
            + struct.pack("<4sIHHI", b"fmt ", fmt_len, 1, 1, 8000)
            + b"\x00" * 6
            + struct.pack("<H", 16)
            + struct.pack("<4sI", b"data", data_len)
            + b"\x00" * data_len
        )

    with pytest.raises(ValueError):
        _wav_parse(_wav_hdr(18, 4))
    with pytest.raises(ValueError):
        _wav_parse(_wav_hdr(16, 5))
    rate, n, size, _ = _wav_parse(_wav_hdr(16, 4))  # the legal side
    assert (rate, n, size) == (8000, 2, 48)

    # the specific holes the sweep found, pinned as regression cases
    for bad in (b"P6 1_0 2 255 " + b"\x00" * 96, b"P6 +2 2 255 " + b"\x00" * 96,
                b"P6 2 2 0 " + b"\x00" * 96, b"P6 2 2 99999 " + b"\x00" * 96,
                # second review pass: spec-valid 16-bit maxval means TWO
                # bytes per sample — this 1-byte reader must reject it,
                # not average half the data as 8-bit samples
                b"P6 2 2 256 " + b"\x00" * 96,
                b"P6 2 2 65535 " + b"\x00" * 96):
        with pytest.raises(ValueError):
            _ppm_parse(bad)
    w, h, maxval, _, _ = _ppm_parse(b"P6 2 2 255 " + b"\x00" * 12)
    assert (w, h, maxval) == (2, 2, 255)  # the boundary's legal side
    inside_header = (
        b"BM" + struct.pack("<IHHI", 0, 0, 0, 2)
        + struct.pack("<IiiHH", 40, 2, 2, 1, 24) + b"\x00" * 64
    )
    with pytest.raises(ValueError):
        _bmp_parse(inside_header)


def test_bpe_train_merges_properties_and_determinism(spark):
    """The iterated BPE trainer (r14): steps are 1..N in order, every
    merged symbol is the concatenation of its pair, counts are
    positive integers, the run is deterministic, and the learned
    rules are CONSISTENT with the corpus: re-deriving round 1's pair
    counts from the word table must rank the trainer's first rule
    first (the greedy invariant the oracle certifies round by
    round)."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (
        text as T,
    )

    rows = T.bpe_train_merges(spark, SF_CORRECT).collect()
    assert [r.step for r in rows] == list(range(1, T._BPE_MERGES + 1))
    for r in rows:
        assert r.merged == r.merge_left + r.merge_right
        assert r.pair_count > 0
        assert " " not in r.merged  # symbols never contain the separator
    # determinism from COLD rules: evict the memoized rules so the
    # repeat run re-derives all training rounds, not trivially re-reads
    # them (same discipline as the PQ fit eviction)
    artifacts.evict("bpe_rules", SF_CORRECT)
    misses = artifacts.counts("bpe_rules")[1]
    again = T.bpe_train_merges(spark, SF_CORRECT).collect()
    assert artifacts.counts("bpe_rules")[1] == misses + 1
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]
    # greedy invariant for round 1 against the independently-certified
    # single-round op: the trainer's first rule is bpe_pair_counts' top
    # pair (same word table, same weighting)
    top = T.bpe_pair_counts(spark, SF_CORRECT).limit(1).collect()[0]
    assert top.pair == rows[0].merged and top.n_pairs == rows[0].pair_count


def test_bpe_encode_corpus_properties_losslessness_and_rule_sharing(spark):
    """The trainer's consumer (r15): per-source stats must satisfy the
    tokenizer identities — every word encodes to ≥1 and ≤len(word)
    tokens, so n_words ≤ total_tokens ≤ total_chars and
    n_word_types ≥ 1 — the corpus must actually compress (six merges
    over a natural-language corpus strictly reduce global token count
    vs the char-level baseline), the encoding must be LOSSLESS at the
    vocab level (concatenating a word's final symbols reproduces the
    word — merges regroup characters, never rewrite them), and the op
    must consume the EXACT rules the certified trainer learned: after
    popping the shared rules cache, a cold re-encode is identical."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (
        text as T,
    )
    from pyspark.sql import functions as F

    stats = T.bpe_encode_corpus(spark, SF_CORRECT).collect()
    assert stats and [r.source for r in stats] == sorted(r.source for r in stats)
    for r in stats:
        assert 1 <= r.n_word_types <= r.n_words
        assert r.n_words <= r.total_tokens <= r.total_chars
        assert abs(r.chars_per_token - r.total_chars / r.total_tokens) < 1e-3
        assert abs(r.tokens_per_word - r.total_tokens / r.n_words) < 1e-3
    assert sum(r.total_tokens for r in stats) < sum(r.total_chars for r in stats)

    # losslessness: apply the learned rules to the full vocab and check
    # the symbols concatenate back to every original word
    rules = T._bpe_train_rules(spark, SF_CORRECT)
    assert len(rules) == T._BPE_MERGES
    enc = T._word_freq(spark, SF_CORRECT).select(
        "w", T._bpe_symbolize(F.col("w")).alias("s")
    )
    for _step, l, r, _merged, _cnt in rules:
        enc = enc.select("w", T._bpe_merge_fold(F.col("s"), l, r).alias("s"))
    bad = enc.filter(
        (F.replace(F.col("s"), F.lit(" "), F.lit("")) != F.col("w"))
        | (F.size(F.split("s", " ")) > F.length("w"))
        | (F.size(F.split("s", " ")) < 1)
    ).count()
    assert bad == 0

    # rule sharing: cold rules must re-derive the identical encoding
    artifacts.evict("bpe_rules", SF_CORRECT)
    misses = artifacts.counts("bpe_rules")[1]
    again = T.bpe_encode_corpus(spark, SF_CORRECT).collect()
    assert artifacts.counts("bpe_rules")[1] == misses + 1
    assert [tuple(r) for r in again] == [tuple(r) for r in stats]


def test_bpe_vocab_topk_flags_and_token_mass_consistency(spark):
    """The learned-vocabulary artifact (r15): the merge-product flag
    must agree exactly with the trainer's merge table (a flagged
    symbol IS a learned merge's product; an unflagged one is a
    surviving single character), and the vocabulary's total token mass
    must equal the encoder's — Σ n_occurrences over the FULL vocab ==
    Σ total_tokens over sources (both count every symbol occurrence of
    the merged corpus once; the global word table is the per-source
    one rolled up)."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (
        text as T,
    )
    from pyspark.sql import functions as F

    vocab = T.bpe_vocab_topk(spark, SF_CORRECT).collect()
    rules = T._bpe_train_rules(spark, SF_CORRECT)
    merged = {m for _s, _l, _r, m, _c in rules}
    assert vocab
    for r in vocab:
        assert r.n_occurrences > 0
        assert r.is_merge_product == (r.symbol in merged)
        if not r.is_merge_product:
            assert len(r.symbol) == 1  # unmerged symbols are single chars

    # token-mass identity, computed over the UNLIMITED vocab (the op
    # itself reports a top-k slice)
    enc = T._word_freq(spark, SF_CORRECT).select(
        T._bpe_symbolize(F.col("w")).alias("s"), "wn"
    )
    for _step, l, r, _m, _c in rules:
        enc = enc.select(T._bpe_merge_fold(F.col("s"), l, r).alias("s"), "wn")
    vocab_mass = enc.select(
        F.sum(F.size(F.split("s", " ")) * F.col("wn")).alias("m")
    ).collect()[0]["m"]
    encode_mass = sum(
        r.total_tokens for r in T.bpe_encode_corpus(spark, SF_CORRECT).collect()
    )
    assert vocab_mass == encode_mass


def test_perplexity_tercile_split_properties(spark):
    """The CCNet-style split (r15) must satisfy the curation
    identities: buckets are a subset of {head, middle, tail} and sort
    in score order within every source (head's mean cross-entropy ≤
    middle's ≤ tail's — head is the LOW-perplexity slice CCNet keeps),
    per-source doc counts reconcile exactly with the independently
    certified unigram_cross_entropy op's n_docs, every bucket is
    roughly a tercile up to tie spillover (value-based thresholds keep
    equal scores together), and total_chars is positive wherever docs
    are."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (
        text as T,
    )

    rows = T.perplexity_tercile_split(spark, SF_CORRECT).collect()
    assert rows
    by_src: dict = {}
    for r in rows:
        assert r.bucket in ("head", "middle", "tail")
        assert r.n_docs > 0 and r.total_chars > 0
        by_src.setdefault(r.source, {})[r.bucket] = r
    ref = {
        r.source: r.n_docs
        for r in T.unigram_cross_entropy(spark, SF_CORRECT).collect()
    }
    assert set(by_src) == set(ref)
    for src, buckets in by_src.items():
        n = sum(b.n_docs for b in buckets.values())
        assert n == ref[src], src
        order = [b for b in ("head", "middle", "tail") if b in buckets]
        means = [buckets[b].avg_xent for b in order]
        assert means == sorted(means), (src, means)
        # value-based terciles: head holds at least its third (ties
        # only ever spill INTO an earlier bucket), and no bucket
        # dominates unless ties force it
        assert buckets["head"].n_docs >= n // 3, src


def test_bpe_oracles_survive_merge_exhaustion(spark, tmp_path):
    """On a corpus whose pair counts exhaust
    before {_BPE_MERGES} rounds (here: one two-char word — after 'ab'
    merges, every word is a single symbol and no pair remains), the
    Spark loop breaks early and the remaining rounds are identity. The
    oracles' CTE chain must carry the word tables FORWARD through the
    ruleless rounds (LEFT JOIN + identity fallback) — the original
    CROSS-join form emptied every downstream CTE, so the vocab and
    encoder oracles returned 0 rows where Spark returned real data.
    All three ops must agree with their oracles on such a corpus."""
    import duckdb
    import pandas as pd

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (
        text as T,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        REGISTRY,
    )

    sf_dir = str(tmp_path / "sf_degenerate")
    (tmp_path / "sf_degenerate").mkdir()
    docs = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": ["ab"] * 5,
            "lang": ["en"] * 5,
            "source": ["s1", "s1", "s1", "s2", "s2"],
            "n_chars": [2] * 5,
        }
    )
    docs.to_parquet(f"{sf_dir}/documents.parquet")

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    for op in (T.bpe_train_merges, T.bpe_vocab_topk, T.bpe_encode_corpus):
        name = op.__name__
        s_rows = sorted(map(tuple, op(spark, sf_dir).collect()), key=repr)
        o_rows = sorted(
            map(tuple, con.execute(REGISTRY[name].oracle).fetchall()),
            key=repr,
        )
        assert s_rows, f"{name}: Spark returned nothing"
        assert len(s_rows) == len(o_rows), (name, s_rows, o_rows)
        for a, b in zip(s_rows, o_rows):
            norm = lambda v: round(v, 6) if isinstance(v, float) else v
            assert tuple(map(norm, a)) == tuple(map(norm, b)), (name, a, b)
    # the trainer really did exhaust: exactly one rule was learnable
    assert len(T._bpe_train_rules(spark, sf_dir)) == 1


def test_bpe_merge_fold_is_canonical_and_cross_engine_identical(spark):
    """The trainer's merge step must be CANONICAL greedy left-to-right
    non-overlapping symbol-space BPE, identically on both engines.
    Pin the cases where a naive string ``replace`` genuinely disagrees
    (reviewed out in r14: replace consumes the shared separator and
    skips back-to-back occurrences): adjacent occurrences 'a b a b'
    must both merge; an odd identical-symbol run 'b b b b b' must
    group leftmost-first as 'bb bb b'; 'a a a a' as 'aa aa'."""
    import duckdb

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.text import (
        _bpe_merge_fold,
    )
    from pyspark.sql import functions as F

    cases = [
        ("a b a b", "a", "b", "ab ab"),
        ("b b b b b", "b", "b", "bb bb b"),
        ("a b c a b", "a", "b", "ab c ab"),
        ("x", "a", "b", "x"),
        ("a a a a", "a", "a", "aa aa"),
    ]
    for s, l, r, want in cases:
        got_spark = (
            spark.range(1)
            .select(_bpe_merge_fold(F.lit(s), l, r).alias("m"))
            .collect()[0]["m"]
        )
        got_duck = duckdb.sql(
            f"""SELECT list_reduce(str_split('{s}', ' '),
              (acc, x) -> CASE
                WHEN (acc = '{l}' OR ends_with(acc, ' ' || '{l}')) AND x = '{r}'
                  THEN left(acc, length(acc) - length('{l}')) || '{l}' || '{r}'
                ELSE acc || ' ' || x END)"""
        ).fetchone()[0]
        assert got_spark == got_duck == want, (s, l, r, got_spark, got_duck)


def test_bpe_roundtrip_invariant_oracle_side():
    """The encode path's per-row partition
    invariant — after ALL merges, concatenating a word's symbols
    reproduces the word exactly (merges regroup characters, never
    rewrite them) — asserted on the ORACLE side too. The Spark side is
    pinned in test_bpe_encode_corpus_properties_losslessness_and_rule_
    sharing; here the IDENTICAL derivation the certified oracles use
    (_word_freq_cte -> _bpe_chain_sql rule tables ->
    _BPE_MERGE_FOLD_SQL e-chain, same LEFT-JOIN identity fallback for
    merge-exhausted rounds) is replayed in DuckDB carrying the source
    word through every fold, and the violation count must be zero —
    closing the gap between "the statistics match" and "the encoding
    is a partition of the word"."""
    import duckdb

    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.text import (
        _BPE_MERGE_FOLD_SQL,
        _BPE_MERGES,
        _BPE_SYMBOLIZE_SQL,
        _bpe_chain_sql,
        _word_freq_cte,
    )

    e_chain = [
        f"e0 AS (SELECT w, {_BPE_SYMBOLIZE_SQL} AS s FROM words)"
    ]
    for t in range(1, _BPE_MERGES + 1):
        e_chain.append(
            f"""e{t} AS (SELECT w, CASE WHEN b.l IS NULL THEN s
                         ELSE {_BPE_MERGE_FOLD_SQL} END AS s
                 FROM e{t - 1} LEFT JOIN b{t} b ON TRUE)"""
        )
    sql = f"""
    WITH {_word_freq_cte("words")},{_bpe_chain_sql("words")},
    {",".join(e_chain)}
    SELECT COUNT(*) AS n_total,
           COUNT(*) FILTER (replace(s, ' ', '') <> w) AS n_broken,
           COUNT(*) FILTER (len(str_split(s, ' ')) > length(w)) AS n_overlong
    FROM e{_BPE_MERGES}
    """
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF_CORRECT}/documents.parquet')"
    )
    n_total, n_broken, n_overlong = con.execute(sql).fetchone()
    assert n_total > 0
    assert n_broken == 0
    assert n_overlong == 0


def test_perplexity_tercile_histogram_cache_is_bounded(spark, tmp_path):
    """The tercile histogram is one persisted entry per artifact-memo
    slot, so repeated invocations (bench min-of-N, repeated driver runs)
    never accumulate cached histograms. A SAME-stamp repeat must REUSE
    the entry (two invocations build the identical logical plan, so the
    cache manager gives them one shared entry — re-persist +
    unpersist-the-previous would destroy the new invocation's cache
    with the old); a rewritten documents table refills the slot, answers
    from the new rows and actually releases the previous blocks (persist
    blocks ARE releasable, unlike localCheckpoint blocks). Results are
    bit-identical across invocations of one stamp."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (
        text as T,
    )
    from test_oracle_parity import assert_matches_oracle
    from test_streaming_replay import _halve, _sf_copy

    sf = _sf_copy(tmp_path, "documents")
    a = [tuple(r) for r in T.perplexity_tercile_split(spark, sf).collect()]
    first_hist = T._tercile_hist(spark, sf)  # a hit: the op's own entry
    assert first_hist.storageLevel.useMemory  # actually persisted

    # same stamp: reuse, not re-persist — the entry object is unchanged
    hits, misses = artifacts.counts("tercile_hist")
    b = [tuple(r) for r in T.perplexity_tercile_split(spark, sf).collect()]
    assert a == b
    assert artifacts.counts("tercile_hist") == (hits + 1, misses)
    assert T._tercile_hist(spark, sf) is first_hist
    assert first_hist.storageLevel.useMemory  # still cached

    # rewritten source: the slot refills from the new rows and the
    # replaced histogram's blocks are released. The refilled histogram
    # has the identical logical plan (same path), so the cache manager
    # would answer ``first_hist.storageLevel`` with the NEW entry's
    # level; the old entry is identified by its cached RDD instead
    def cached_rdd(df):
        cm = spark._jsparkSession.sharedState().cacheManager()
        entry = cm.lookupCachedData(df._jdf).get()
        return entry.cachedRepresentation().cacheBuilder().cachedColumnBuffers().id()

    persistent = spark.sparkContext._jsc.getPersistentRDDs
    first_rdd = cached_rdd(first_hist)
    assert persistent().containsKey(first_rdd)
    _halve(f"{sf}/documents.parquet")
    c = [tuple(r) for r in T.perplexity_tercile_split(spark, sf).collect()]
    assert artifacts.counts("tercile_hist")[1] == misses + 1
    assert c != a
    assert_matches_oracle(spark, "perplexity_tercile_split", sf)
    assert not persistent().containsKey(first_rdd)  # released
    new_hist = T._tercile_hist(spark, sf)
    assert new_hist is not first_hist and new_hist.storageLevel.useMemory
    assert cached_rdd(new_hist) != first_rdd
    artifacts.evict("tercile_hist", sf)
    assert not new_hist.storageLevel.useMemory


def test_minhash_jaccard_calibration_properties(spark):
    """r16 estimator-calibration pins: the rollup has at most
    N_MINHASH+1 rows keyed by matching-slot count; est_jaccard is
    exactly n_match/N_MINHASH; every banded candidate pair is counted
    exactly once (the op and the near-dup op share the candidate
    machinery, so the pair totals must agree); all similarity values
    live in [0, 1]; and the estimator is UNBIASED in aggregate —
    each slot matches with probability equal to the pair's true
    Jaccard, so the pair-weighted mean estimate must sit near the
    pair-weighted mean exact Jaccard (binomial noise only)."""
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators import (
        dedup as D,
    )
    from health_etl_pipeline_and_analytics_with_machine_learning_spark.operators.registry import (
        load,
    )

    rows = D.minhash_jaccard_calibration(spark, SF_CORRECT).collect()
    assert 1 <= len(rows) <= D.N_MINHASH + 1
    assert len({r.n_match for r in rows}) == len(rows)
    for r in rows:
        assert 0 <= r.n_match <= D.N_MINHASH
        assert abs(r.est_jaccard - r.n_match / D.N_MINHASH) < 1e-9
        assert r.n_pairs >= 1
        assert 0.0 <= r.avg_exact_jaccard <= 1.0
        assert 0.0 <= r.avg_abs_err <= 1.0

    d = load(spark, SF_CORRECT, "documents")
    n_candidates = D._minhash_candidates(
        D._minhash_sig(D._minhash_toks_arr(d))
    ).count()
    assert sum(r.n_pairs for r in rows) == n_candidates

    n = sum(r.n_pairs for r in rows)
    mean_est = sum(r.est_jaccard * r.n_pairs for r in rows) / n
    mean_exact = sum(r.avg_exact_jaccard * r.n_pairs for r in rows) / n
    assert abs(mean_est - mean_exact) < 0.08, (mean_est, mean_exact)
