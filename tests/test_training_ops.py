"""Tests for dedup, similarity, text-analysis, and multimodal operators."""

import pytest
from pyspark.sql import Row, functions as F

from curies_spark.operators import dedup as D
from curies_spark.operators import multimodal as M
from curies_spark.operators import similarity as S
from curies_spark.operators import text as X
from curies_spark.operators.skew import salted_count_distinct

import differential_twins as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        Row(doc_id=3, text="the quick brown fox jumps over the lazy dog tonight"),  # near dup (jaccard 7/8)
        Row(doc_id=4, text="el rapido zorro marron salta sobre el perro con la luna"),
        Row(doc_id=5, text="completely different content about spark engines and data"),
        Row(doc_id=6, text="tiny"),
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup(spark, docs):
    kept = D.exact_dedup(docs)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [1, 3, 4, 5, 6]  # doc 2 deduped, min id wins

    groups = D.exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert list(groups[0]["doc_ids"]) == [1, 2]


def test_shingles(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="a b c d"), Row(doc_id=2, text="a b")])
    got = {
        r["doc_id"]: list(r["s"])
        for r in df.select("doc_id", T.shingles_col("text", k=3).alias("s")).collect()
    }
    assert got[1] == ["a b c", "b c d"]
    assert got[2] == ["a b"]  # shorter than k → whole doc


def test_arrow_shingles_and_fingerprint_match_native(spark):
    """Round-6 Arrow kernels (shingles_arrow_col, the batched
    doc_fingerprint_col) must be value-identical to their JVM twins on
    the edge cases that have historically diverged: NULL/empty/blank
    text, < k tokens, Unicode separators (NBSP, U+2028), casing, and
    repeated shingles (multiset order in the fingerprint)."""
    from pyspark.sql import functions as F

    from curies_spark.operators.text import doc_fingerprint_col
    from differential_twins import doc_fingerprint_native_col

    rows = [
        (1, None),
        (2, ""),
        (3, "   "),
        (4, "one"),
        (5, "one two"),
        (6, "one two three four"),
        (7, "A B a b A B a b"),  # repeated shingles → multiset matters
        (8, "nb\u00a0sp and\u2028line sep tokens here"),  # NBSP, U+2028
        (9, "x " * 50),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    native = df.select("doc_id", F.explode(T.shingles_col("text", k=3)).alias("s"))
    arrow = df.select(
        "doc_id", F.explode(D.shingles_arrow_col("text", k=3)).alias("s")
    )
    assert native.exceptAll(arrow).count() == 0
    assert arrow.exceptAll(native).count() == 0
    fps = df.select(
        doc_fingerprint_col("text").alias("a"),
        doc_fingerprint_native_col("text").alias("b"),
    ).collect()
    assert all(r["a"] == r["b"] for r in fps)


def test_minhash_lsh(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_candidate_pairs(docs, k=3).collect()
    }
    assert (1, 2) in pairs  # exact dups always collide on every band
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup should collide on ≥1 band
    assert (4, 5) not in pairs


def test_ngram_jaccard(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert (4, 5) not in pairs


def test_simhash(spark, docs):
    sh = docs.select("doc_id", D.simhash_col("text").alias("simhash"))
    vals = {r["doc_id"]: r["simhash"] for r in sh.collect()}
    assert vals[1] == vals[2]  # identical text → identical simhash

    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    # near-dup is measurably closer than unrelated content (short docs
    # give noisy simhashes, so compare relative distances, not absolutes)
    assert hamming(vals[1], vals[3]) < hamming(vals[1], vals[5])

    # the banded blocking finds exact dups (hamming 0 always shares all bands)
    pairs = D.simhash_candidate_pairs(sh, max_hamming=3).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got[(1, 2)] == 0


def test_simhash_pairs_rejects_hamming_past_pigeonhole_bound(spark):
    """Blocking on n_tables bands only guarantees recall below
    n_tables differing bits: two signatures differing by one bit in
    each 16-bit band (hamming 4) share no band, so max_hamming=4 with
    4 tables must fail loud instead of silently returning no pair."""
    one_bit_per_band = sum(1 << (16 * t) for t in range(4))
    sh = spark.createDataFrame(
        [Row(doc_id=1, simhash=0), Row(doc_id=2, simhash=one_bit_per_band)]
    )
    with pytest.raises(ValueError, match="n_tables"):
        D.simhash_candidate_pairs(sh, max_hamming=4)
    # eight 8-bit bands: the four clean bands find the pair
    got = D.simhash_candidate_pairs(sh, max_hamming=4, n_tables=8).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in got] == [(1, 2, 4)]


def test_cosine_topk(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows)
    top = S.cosine_topk(df, [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in top] == [0, 1]
    assert top[0]["cosine"] == pytest.approx(1.0)


def test_lsh_topk_matches_bruteforce_on_near_neighbors(spark):
    import math

    rows = []
    for i in range(50):
        angle = i * math.pi / 100
        rows.append(Row(vec_id=i, embedding=[math.cos(angle), math.sin(angle), 0.0]))
    df = spark.createDataFrame(rows)
    query = [1.0, 0.0, 0.0]
    exact = [r["vec_id"] for r in S.cosine_topk(df, query, k=5).collect()]
    approx = [r["vec_id"] for r in S.lsh_topk(df, query, k=5, n_planes=6).collect()]
    # the top hit must be found; recall@5 ≥ 3 for this easy distribution
    assert approx[0] == exact[0]
    assert len(set(exact) & set(approx)) >= 3


def test_lsh_topk_probes_every_bucket_within_multiprobe_bits(spark):
    """multiprobe_bits=2 probes the buckets two sign flips away: a
    vector whose signature differs from the query's in exactly 2 bits
    is found at radius 2 and missed at radius 1."""
    import random

    n_planes, dim = 6, 8
    planes = S.hyperplanes(dim, n_planes, seed=7)
    query = [1.0] * dim
    q_sig = S.query_signature(query, planes)
    rng = random.Random(3)
    far = None
    while far is None:
        v = [rng.uniform(-1.0, 1.0) for _ in range(dim)]
        if bin(S.query_signature(v, planes) ^ q_sig).count("1") == 2:
            far = v
    df = spark.createDataFrame([Row(vec_id=1, embedding=far)])

    def hits(bits):
        return [
            r["vec_id"]
            for r in S.lsh_topk(
                df, query, k=5, n_planes=n_planes, multiprobe_bits=bits
            ).collect()
        ]

    assert hits(1) == []
    assert hits(2) == [1]


def test_embedding_near_dup(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[0.999, 0.001]),
        Row(vec_id=2, embedding=[0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows)
    pairs = S.embedding_near_dup_pairs(df, threshold=0.99, n_planes=8, dim=2).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}


def test_embedding_near_dup_requires_dim(spark):
    df = spark.createDataFrame([Row(vec_id=0, embedding=[1.0, 0.0])])
    with pytest.raises(ValueError, match="dim"):
        S.embedding_near_dup_pairs(df, threshold=0.99)


def test_text_analysis(spark, docs):
    out = docs.select(
        "doc_id",
        X.token_count_col("text").alias("n_ws"),
        X.token_count_col("text", method="bpe").alias("n_bpe"),
        X.language_id_col("text").alias("lang"),
        X.doc_fingerprint_col("text").alias("fp"),
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[1]["n_ws"] == 9
    assert by_id[1]["lang"] == "en"
    assert by_id[4]["lang"] == "es"
    assert by_id[1]["fp"] == by_id[2]["fp"]
    assert by_id[1]["fp"] != by_id[3]["fp"]

    feats = X.quality_features(docs).filter(X.quality_score_col()).collect()
    kept = {r["doc_id"] for r in feats}
    assert 6 not in kept  # too short
    assert 1 in kept


def test_redaction(spark):
    rows = [
        (1, "mail me at a.user+tag@example.co.uk today"),
        (2, "see https://user:pw@example.com/path?x=1 and http://1.2.3.4/x"),
        (3, "server at 192.168.001.1 port 80"),
        (4, "no pii here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["red"]
        for r in df.select("doc_id", X.redact_col("text").alias("red")).collect()
    }
    assert got[1] == "mail me at <EMAIL> today"
    # the email-ish credential inside the URL is consumed as one URL
    assert got[2] == "see <URL> and <URL>"
    assert got[3] == "server at <IPV4> port 80"
    assert got[4] == "no pii here"
    only_email = {
        r["doc_id"]: r["red"]
        for r in df.select(
            "doc_id", X.redact_col("text", kinds=("email",)).alias("red")
        ).collect()
    }
    assert "192.168.001.1" in only_email[3]


def test_multimodal_plumbing(spark):
    rows = [
        Row(media_id=1, kind="image", mime="image/png", width=4, height=4,
            duration_ms=None, payload=bytearray(b"imgdata-1")),
        Row(media_id=2, kind="video", mime="video/mp4", width=16, height=16,
            duration_ms=3000, payload=bytearray(b"viddata-2")),
        Row(media_id=3, kind="image", mime="image/png", width=2, height=2,
            duration_ms=None, payload=None),
    ]
    df = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)

    feats = {r["media_id"]: r["feature"] for r in M.extract_features(df).collect()}
    assert feats[3] is None
    assert len(feats[1]) == 8 and all(0 <= x <= 1 for x in feats[1])
    # deterministic: same payload → same feature (float32 storage)
    assert feats[1] == pytest.approx(M.deterministic_fake_decode(b"imgdata-1"), abs=1e-6)

    frames = M.frame_sample(df, every_ms=1000).collect()
    assert [(r["media_id"], r["frame_ts"]) for r in frames] == [
        (2, 0), (2, 1000), (2, 2000), (2, 3000)
    ]

    # the real decoder stub must raise loudly
    with pytest.raises(Exception):
        M.extract_features(df, decode=M.decode_stub).collect()


def test_extract_features_custom_decode_roundtrip(spark):
    """A user decode callable flows end-to-end through the mapInPandas
    plumbing (the production swap-in path): the returned features are
    the callable's output, batched and schema'd by the engine."""
    rows = [
        Row(media_id=1, kind="image", mime="image/png", width=2, height=2,
            duration_ms=None, payload=bytearray(b"ab")),
        Row(media_id=2, kind="image", mime="image/png", width=2, height=2,
            duration_ms=None, payload=bytearray(b"wxyz")),
        Row(media_id=3, kind="image", mime=None, width=None, height=None,
            duration_ms=None, payload=None),
    ]
    df = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)

    def decode(payload: bytes):
        return [float(len(payload)), float(payload[0])]

    feats = {
        r["media_id"]: r["feature"]
        for r in M.extract_features(df, decode=decode).collect()
    }
    assert feats[1] == pytest.approx([2.0, ord("a")])
    assert feats[2] == pytest.approx([4.0, ord("w")])
    assert feats[3] is None


def test_pil_image_decode_end_to_end(spark):
    """Auto-activates where Pillow exists (lazy-import pattern): real
    PNG bytes decode through the full Spark path; where Pillow is
    absent the helper raises the install hint instead."""
    try:
        from PIL import Image
    except ImportError:
        with pytest.raises(ImportError, match="[Pp]illow"):
            M.pil_image_decode(b"not-an-image")
        pytest.skip("Pillow not installed — raise-path verified")
    import io

    def png_bytes(color: int) -> bytes:
        buf = io.BytesIO()
        Image.new("L", (8, 8), color=color).save(buf, format="PNG")
        return buf.getvalue()

    rows = [
        Row(media_id=1, kind="image", mime="image/png", width=8, height=8,
            duration_ms=None, payload=bytearray(png_bytes(0))),
        Row(media_id=2, kind="image", mime="image/png", width=8, height=8,
            duration_ms=None, payload=bytearray(png_bytes(255))),
    ]
    df = spark.createDataFrame(rows, schema=M.MEDIA_SCHEMA)
    feats = {
        r["media_id"]: r["feature"]
        for r in M.extract_features(df, decode=M.pil_image_decode).collect()
    }
    assert feats[1] == pytest.approx([0.0] * 16)
    assert feats[2] == pytest.approx([1.0] * 16)

    # metadata-only projection prunes the payload column at the scan
    import tempfile, os
    with tempfile.TemporaryDirectory() as tmp:
        p = os.path.join(tmp, "media")
        df.write.parquet(p)
        plan = (
            M.media_metadata(spark.read.parquet(p))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "payload" not in plan


def test_salted_count_distinct(spark, docs):
    exploded = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token"),
        F.col("doc_id"),
    )
    got = {
        r["token"]: r["n_distinct"]
        for r in salted_count_distinct(exploded, "token", "doc_id").collect()
    }
    want = {
        r["token"]: r["n"]
        for r in exploded.groupBy("token")
        .agg(F.countDistinct("doc_id").alias("n"))
        .collect()
    }
    assert got == want


def test_simhash_vote_sign(spark):
    """Regression: uint64 vote sums must not wrap — a doc where most bits
    lose the majority vote must produce a sparse signature, not ~all-ones.
    (sha256-derived reference value computed independently.)"""
    import hashlib

    df = spark.createDataFrame([Row(doc_id=1, text="Hello world hello")])
    got = df.select(D.simhash_col("text").alias("s")).collect()[0]["s"]

    tokens = "hello world hello".split()
    hashes = [
        int.from_bytes(hashlib.sha256(t.encode()).digest()[:8], "big") for t in tokens
    ]
    expected = 0
    for b in range(64):
        ones = sum((h >> b) & 1 for h in hashes)
        if 2 * ones - len(tokens) > 0:
            expected |= 1 << b
    if expected >= 1 << 63:
        expected -= 1 << 64
    assert got == expected
    # the broken form set nearly every bit; the real one is ~balanced
    assert 16 <= bin(got & ((1 << 64) - 1)).count("1") <= 48


def test_ann_index_roundtrip_and_pruning(spark, tmp_path):
    import math

    rows = []
    for i in range(120):
        angle = i * 2 * math.pi / 120  # full circle → many distinct buckets
        rows.append(Row(vec_id=i, embedding=[math.cos(angle), math.sin(angle), 0.0]))
    df = spark.createDataFrame(rows)
    query = [1.0, 0.0, 0.0]
    path = str(tmp_path / "ann_index")
    S.build_ann_index(df, path, dim=3, n_planes=6, seed=7)

    # same candidate set ⇒ same answer as the on-the-fly LSH probe
    idx_top = [
        r["vec_id"]
        for r in S.query_ann_index(spark, path, query, k=5, n_planes=6).collect()
    ]
    fly_top = [
        r["vec_id"] for r in S.lsh_topk(df, query, k=5, n_planes=6).collect()
    ]
    assert idx_top == fly_top

    # the probe plan prunes non-matching buckets at the source: the sig
    # filter lands in PartitionFilters (file pruning), and the probed
    # bucket count is strictly below the index's bucket count
    cand = S.probe_ann_index(spark, path, query, n_planes=6)
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [sig" in plan.replace("PartitionFilters: [(sig", "PartitionFilters: [sig")
    n_buckets = spark.read.parquet(path).select("sig").distinct().count()
    n_probed = cand.select("sig").distinct().count()
    assert 0 < n_probed <= 7 < n_buckets  # q_sig + 6 single-bit flips


def test_connected_components_and_cluster_dedup(spark):
    # two chains, a triangle, an isolated pair: components = min id
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21), (7, 30)],
        ["id_a", "id_b"],
    )
    got = {
        (r["node"], r["component"])
        for r in D.connected_components(pairs).collect()
    }
    want = {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
        (7, 7), (30, 7),
    }
    assert got == want

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 2, 3, 4, 5, 10, 11, 12, 20, 21, 7, 30]],
        ["doc_id", "text"],
    )
    kept = sorted(r["doc_id"] for r in D.dedup_by_pairs(docs, pairs).collect())
    # min-id per cluster survives; 5 is untouched by any pair
    assert kept == [1, 5, 7, 10, 20]


def test_connected_components_long_chain_converges(spark):
    n = 12  # diameter > a couple of rounds: exercises the iteration loop
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n)], ["id_a", "id_b"])
    rows = D.connected_components(pairs, max_iter=50).collect()
    assert {r["component"] for r in rows} == {0}
    assert len(rows) == n + 1


def _cc_edges(pairs):
    """The ``(_s, _d)`` edge list both component engines take, as
    :func:`D.connected_components` builds it."""
    return pairs.select(F.col("id_a").alias("_s"), F.col("id_b").alias("_d"))


def test_connected_components_star_engine_matches_label(spark):
    """large-star/small-star must produce the identical (node, component)
    map as min-label propagation on mixed topologies: chains, a
    triangle, an isolated pair, self loops, reversed orientation."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21),
         (7, 30), (30, 7), (40, 40), (50, 41), (41, 33)],
        ["id_a", "id_b"],
    )
    label = {
        (r["node"], r["component"])
        for r in D._label_components(_cc_edges(pairs), rounds=50).collect()
    }
    star = {
        (r["node"], r["component"])
        for r in D._star_components(_cc_edges(pairs), max_iter=50).collect()
    }
    assert star == label
    assert (33, 33) in star and (50, 33) in star  # reversed-order chain
    assert (40, 40) in star                       # self-loop node kept


def test_connected_components_star_random_differential(spark):
    """Randomized component-partition equivalence: star ≡ label on a
    random graph with many small components and one larger one."""
    import random

    rng = random.Random(11)
    edges = [(rng.randrange(120), rng.randrange(120)) for _ in range(150)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    label = {
        (r["node"], r["component"])
        for r in D._label_components(_cc_edges(pairs), rounds=50).collect()
    }
    star = {
        (r["node"], r["component"])
        for r in D._star_components(_cc_edges(pairs), max_iter=50).collect()
    }
    assert star == label


def test_connected_components_auto_switches_on_deep_chain(spark):
    """A 10^4-diameter chain — the adversarial templated-document shape —
    must converge via the auto star fallback in logarithmic rounds
    instead of hanging for diameter-many label rounds; label propagation
    alone at a low round count reports non-convergence (None), the
    signal the switch acts on."""
    n = 10_000
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    ).coalesce(8)
    # max_iter=20 bounds TOTAL star rounds: convergence within it IS the
    # <20-round guarantee (label propagation alone would need 10^4)
    rows = D.connected_components(pairs, max_iter=20, switch_after=2).collect()
    assert len(rows) == n + 1
    assert {r["component"] for r in rows} == {0}
    assert D._label_components(_cc_edges(pairs), rounds=5) is None


def test_index_incremental_append(spark, tmp_path):
    """Both persisted indexes accept increments without a rebuild: new
    vectors land in the same buckets/cells the build pass would give
    them, and probes find old and new rows together."""
    import math

    def ring(ids, cx):
        return [
            Row(
                vec_id=i,
                embedding=[cx + 0.5 * math.cos(i), 0.5 * math.sin(i), 0.0],
            )
            for i in ids
        ]

    base = spark.createDataFrame(ring(range(40), 10.0) + ring(range(40, 80), -10.0))
    increment = spark.createDataFrame(ring(range(100, 110), 10.0))

    # --- LSH index ---
    ann = str(tmp_path / "ann_inc")
    S.build_ann_index(base, ann, dim=3, n_planes=4)
    S.append_to_ann_index(increment, ann, dim=3, n_planes=4)
    # appended rows carry the same signature the build pass would give
    rebuilt = str(tmp_path / "ann_rebuilt")
    S.build_ann_index(base.unionByName(increment), rebuilt, dim=3, n_planes=4)
    a = {(r["vec_id"], r["sig"]) for r in spark.read.parquet(ann).collect()}
    b = {(r["vec_id"], r["sig"]) for r in spark.read.parquet(rebuilt).collect()}
    assert a == b
    got = {
        r["vec_id"]
        for r in S.query_ann_index(
            spark, ann, [10.5, 0.0, 0.0], k=50, n_planes=4, multiprobe_bits=2
        ).collect()
    }
    assert got & set(range(100, 110)), "appended vectors must be probeable"

    # --- IVF index ---
    ivf = str(tmp_path / "ivf_inc")
    S.build_ivf_index(base, ivf, dim=3, k=2, iters=3)
    S.append_to_ivf_index(increment, ivf)
    rows = spark.read.parquet(ivf).collect()
    by_cid = {}
    for r in rows:
        by_cid.setdefault(r["cid"], set()).add(r["vec_id"])
    # the increment (near cluster at +10) lands in the same cell as the
    # base vectors of that cluster
    cell_of_base = next(cid for cid, ids in by_cid.items() if 0 in ids)
    assert set(range(100, 110)) <= by_cid[cell_of_base]
    got = {
        r["vec_id"]
        for r in S.query_ivf_index(spark, ivf, [10.5, 0.0, 0.0], k=50, nprobe=1).collect()
    }
    assert got & set(range(100, 110))

    # mismatched build params must fail loud, not silently strand the
    # appended vectors in unreachable buckets
    with pytest.raises(ValueError, match="mismatch"):
        S.append_to_ann_index(increment, ann, dim=3, n_planes=6)


def test_ivf_index_clusters_prune_and_rank(spark, tmp_path):
    """IVF: deterministic k-means finds the planted clusters; a probe
    reads only nprobe cells (partition pruning) and returns the exact
    top-k within them."""
    import math

    rows = []
    # 4 well-separated planted clusters of 30 vectors each
    centers = [(10.0, 0.0), (-10.0, 0.0), (0.0, 10.0), (0.0, -10.0)]
    i = 0
    for cx, cy in centers:
        for j in range(30):
            angle = j * 2 * math.pi / 30
            rows.append(
                Row(
                    vec_id=i,
                    embedding=[cx + 0.5 * math.cos(angle), cy + 0.5 * math.sin(angle)],
                )
            )
            i += 1
    df = spark.createDataFrame(rows)
    path = str(tmp_path / "ivf_index")
    S.build_ivf_index(df, path, dim=2, k=4, iters=4)

    # every planted cluster maps to one cell, bijectively
    assigned = spark.read.parquet(path)
    cells = (
        assigned.withColumn("planted", F.floor(F.col("vec_id") / 30))
        .groupBy("planted")
        .agg(F.countDistinct("cid").alias("n_cids"))
        .collect()
    )
    assert all(r["n_cids"] == 1 for r in cells)
    assert assigned.select("cid").distinct().count() == 4

    # query near cluster 0: nprobe=1 reads exactly one cell's partition
    query = [10.0, 0.5]
    got = S.query_ivf_index(spark, path, query, k=5, nprobe=1)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan
    ids = [r["vec_id"] for r in got.collect()]
    assert len(ids) == 5 and all(0 <= i < 30 for i in ids)

    # nprobe=k equals the exact brute-force ranking
    full = [r["vec_id"] for r in S.query_ivf_index(spark, path, query, k=5, nprobe=4).collect()]
    brute = [r["vec_id"] for r in S.cosine_topk(df, query, k=5).collect()]
    assert full == brute

    # determinism: rebuilding yields the identical assignment
    path2 = str(tmp_path / "ivf_index2")
    S.build_ivf_index(df, path2, dim=2, k=4, iters=4)
    a1 = {(r["vec_id"], r["cid"]) for r in assigned.collect()}
    a2 = {(r["vec_id"], r["cid"]) for r in spark.read.parquet(path2).collect()}
    assert a1 == a2


def test_lsh_signature_blas_matches_hof(spark):
    """The BLAS-matmul signing kernel must produce bit-identical
    signatures to the original zip_with/aggregate expression form
    (which it replaced for throughput: interpreted HOFs pay
    n_planes × dim lambda calls per row)."""
    import random

    random.seed(17)
    rows = [
        Row(vec_id=i, embedding=[random.uniform(-1.0, 1.0) for _ in range(24)])
        for i in range(400)
    ]
    rows.append(Row(vec_id=9999, embedding=None))
    df = spark.createDataFrame(rows)
    planes = S.hyperplanes(24, 12, seed=5)
    cmp = df.select(
        S.lsh_signature_col(F.col("embedding"), planes).alias("blas"),
        T.lsh_signature_col_hof(F.col("embedding"), planes).alias("hof"),
    )
    bad = cmp.filter(~F.col("blas").eqNullSafe(F.col("hof"))).count()
    assert bad == 0
    # the driver-side query signature agrees with the column form too
    one = [r for r in rows if r["vec_id"] == 3][0]["embedding"]
    col_sig = (
        spark.createDataFrame([Row(embedding=one)])
        .select(S.lsh_signature_col(F.col("embedding"), planes).alias("s"))
        .collect()[0]["s"]
    )
    assert col_sig == S.query_signature(one, planes)


def test_simhash_vectorized_differential(spark):
    """The batch-vectorized SimHash (factorize + segment-summed votes)
    must match a straightforward per-row implementation on nulls,
    empties, unicode, repeats, and long docs."""
    texts = [
        "hello world hello",
        "",
        "   ",
        None,
        "Foo BAR foo bar baz",
        "ünïcode tökens ünïcode",
        "a",
        "x " * 500,
        "the quick brown fox " * 7,
        "MIXED case Mixed CASE",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {r["i"]: r["s"] for r in df.select("i", D.simhash_col("t").alias("s")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == T.simhash_reference_one(t), (i, t)


def test_minhash_batch_kernel_matches_exploded(spark):
    """The shuffle-free MinHash batch kernel must produce signatures
    identical to the explode+groupBy form on every edge shape: nulls,
    empty/whitespace-only text, short docs (< k tokens), exactly-k,
    repeats, case folding, long docs."""
    texts = [
        "hello world hello again and again",
        "",
        "   ",
        None,
        "one",
        "one two",
        "one two three",          # exactly k tokens → one window
        "one two three four",
        "Repeat repeat REPEAT repeat words words",
        "x " * 300,
        "the quick brown fox jumps over the lazy dog " * 5,
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    batch = {
        r["doc_id"]: tuple(r[f"mh{i}"] for i in range(D.N_PERM))
        for r in D.minhash_signature(df).collect()
    }
    exploded = {
        r["doc_id"]: tuple(r[f"mh{i}"] for i in range(D.N_PERM))
        for r in T.minhash_signature_exploded(df).collect()
    }
    assert set(batch) == set(exploded) == set(range(len(texts)))
    for i in batch:
        assert batch[i] == exploded[i], (i, texts[i])


def test_ws_class_matches_python_whitespace():
    """The explicit WS_CHARS class must equal Python's str.isspace()
    set exactly — the Arrow kernels tokenize with pandas
    ``.str.split()`` (Python whitespace), so any drift between the
    class and the interpreter would silently re-open the
    kernel-vs-JVM signature divergence this class closed."""
    from curies_spark.operators.text import WS_CHARS

    expected = {chr(c) for c in range(0x110000) if chr(c).isspace()}
    assert set(WS_CHARS) == expected
    assert len(WS_CHARS) == len(set(WS_CHARS))


def test_ws_class_java_fast_form_equivalent(spark):
    """The fast (?U)-property rendering the JVM tokenizer actually uses
    must match exactly WS_CHARS on the JVM: every WS_CHARS char is a
    separator, and (probing the 0x00-0x2000 low range plus the class
    itself) nothing outside WS_CHARS is."""
    from curies_spark.operators.text import WS_CHARS, WS_CLASS_JAVA

    probe_chars = sorted(
        set(WS_CHARS) | {chr(c) for c in range(0x00, 0x400)} | {"　", " "}
    )
    rows = [(i, f"a{ch}b") for i, ch in enumerate(probe_chars) if ch not in "ab"]
    df = spark.createDataFrame(rows, ["i", "text"])
    got = {
        r["i"]: len(r["t"])
        for r in df.select(
            "i",
            F.filter(
                F.split(F.col("text"), WS_CLASS_JAVA + "+"), lambda t: t != ""
            ).alias("t"),
        ).collect()
    }
    expected = {
        i: (2 if ch in set(WS_CHARS) else 1)
        for i, ch in enumerate(probe_chars)
        if ch not in "ab"
    }
    assert got == expected


#: separators that diverge between ASCII \s and Unicode whitespace —
#: NBSP, NEL, line/paragraph separators, narrow NBSP, ideographic
#: space, C0 information separator
UNICODE_SEPS = ["\xa0", "\x85", "\u2028", "\u2009", "\u205f", "\u3000", "\x1c"]


def test_minhash_unicode_separator_differential(spark):
    """Batch kernel ≡ exploded JVM form on non-ASCII separators — the
    round-4 qualification ('agrees on ASCII input') is gone: both sides
    split on the ONE explicit WS_CHARS class."""
    texts = [f"alpha{s}beta{s}gamma{s}delta" for s in UNICODE_SEPS]
    texts += [
        "alpha\xa0beta gamma delta",        # mixed ASCII + unicode
        "\u3000\u2028lead and trail\u2009",  # leading/trailing runs
        "nbsp\xa0\xa0double",                   # separator runs
        "single\xa0pair",                       # < k tokens after split
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    batch = {r["doc_id"]: tuple(r[f"mh{i}"] for i in range(D.N_PERM))
             for r in D.minhash_signature(df).collect()}
    exploded = {r["doc_id"]: tuple(r[f"mh{i}"] for i in range(D.N_PERM))
                for r in T.minhash_signature_exploded(df).collect()}
    assert batch == exploded
    # and the separators genuinely separate: the all-NBSP doc has 4
    # tokens, i.e. 2 shingles at k=3 — not one giant token
    from curies_spark.operators.text import tokens_col

    n = df.filter(F.col("doc_id") == 0).select(
        F.size(tokens_col("text")).alias("n")
    ).collect()[0]["n"]
    assert n == 4


def test_simhash_unicode_separator_differential(spark):
    """Vectorized SimHash ≡ per-row reference on non-ASCII separators,
    and ≡ the JVM tokenizer's view of the token stream."""
    texts = [f"one{s}two{s}three" for s in UNICODE_SEPS] + [
        "mixed\xa0and ascii separators"
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {r["i"]: r["s"] for r in df.select("i", D.simhash_col("t").alias("s")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == T.simhash_reference_one(t), (i, t)
    # all-unicode-separator docs tokenize identically to ASCII spaces
    assert got[0] == T.simhash_reference_one("one two three")


def test_oracle_tokenizer_matches_spark_on_unicode(spark):
    """The DuckDB oracle's RE2 whitespace class must split exactly like
    the Spark tokenizer on non-ASCII separators (the oracles previously
    used RE2's ASCII-only \\s)."""
    import duckdb

    from curies_spark.operators.text import tokens_col
    from curies_spark.plans.demo_training import _tokens

    texts = [f"Alpha{s}BETA{s}gamma" for s in UNICODE_SEPS] + [
        " plain ascii only ", "\xa0", ""
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "text"])
    spark_toks = {
        r["i"]: r["toks"]
        for r in df.select("i", tokens_col("text").alias("toks")).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    duck_toks = {
        i: toks
        for i, toks in con.execute(
            f"SELECT i, {_tokens()} FROM t"
        ).fetchall()
    }
    assert spark_toks == duck_toks


def test_minhash_batch_kernel_random_corpus(spark):
    """Randomized differential: 400 docs with mixed ASCII whitespace
    (spaces, tabs, newlines, runs), repeated tokens, case noise, and
    token counts straddling the shingle size — batch kernel ≡ exploded."""
    import random

    rng = random.Random(7)
    vocab = ["alpha", "Beta", "GAMMA", "delta0", "x", "ü", "a:b", "1.5", "-"]
    seps = [" ", "  ", "\t", "\n", " \t ", "\n\n"]
    texts = []
    for _ in range(400):
        k = rng.randint(0, 12)
        toks = rng.choices(vocab, k=k)
        sep = rng.choice(seps)
        texts.append(rng.choice(["", " ", sep]).join([sep.join(toks)]) if k else "")
    texts += [sep.join(rng.choices(vocab, k=3)) for sep in seps]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    batch = {r["doc_id"]: tuple(r[f"mh{i}"] for i in range(D.N_PERM))
             for r in D.minhash_signature(df).collect()}
    exploded = {r["doc_id"]: tuple(r[f"mh{i}"] for i in range(D.N_PERM))
                for r in T.minhash_signature_exploded(df).collect()}
    assert batch == exploded


def test_minhash_signature_plan_has_no_shuffle(spark, docs):
    """The batch-kernel signature is a map-only pass: no Exchange in
    the physical plan (the exploded twin shuffles by construction)."""
    plan = (
        D.minhash_signature(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan
    twin = (
        T.minhash_signature_exploded(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" in twin


def test_ann_probe_reads_build_params(spark, tmp_path):
    """Probing defaults to the index's OWN build parameters (from the
    _params side table); explicit mismatching params fail loud instead
    of silently probing the wrong buckets."""
    import math

    rows = [
        Row(vec_id=i, embedding=[math.cos(i * 0.3), math.sin(i * 0.3), 0.5])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows)
    path = str(tmp_path / "ann_nondefault")
    # NON-default build params
    S.build_ann_index(df, path, dim=3, n_planes=9, seed=42)

    query = [1.0, 0.0, 0.5]
    # no params passed: the probe must pick up n_planes=9/seed=42 itself
    got = [r["vec_id"] for r in S.query_ann_index(spark, path, query, k=5).collect()]
    brute = [r["vec_id"] for r in S.cosine_topk(df, query, k=60).collect()]
    assert set(got) <= set(brute) and len(got) > 0

    # explicit matching params are accepted
    S.probe_ann_index(spark, path, query, n_planes=9, seed=42).count()
    # mismatched explicit params fail loud
    with pytest.raises(ValueError, match="n_planes"):
        S.probe_ann_index(spark, path, query, n_planes=6)
    with pytest.raises(ValueError, match="seed"):
        S.probe_ann_index(spark, path, query, seed=7)
    # wrong-dimension query fails loud
    with pytest.raises(ValueError, match="dim"):
        S.probe_ann_index(spark, path, [1.0, 0.0])


def test_ivf_train_fraction_and_dim_guard(spark, tmp_path):
    """train_fraction trains Lloyd's on a deterministic sample but
    assigns the FULL corpus; a wrong-dimension query fails loud instead
    of zip-truncating to a dim prefix."""
    import math

    rows = []
    centers = [(10.0, 0.0), (-10.0, 0.0)]
    i = 0
    for cx, cy in centers:
        for j in range(40):
            angle = j * 2 * math.pi / 40
            rows.append(
                Row(
                    vec_id=i,
                    embedding=[cx + 0.5 * math.cos(angle), cy + 0.5 * math.sin(angle)],
                )
            )
            i += 1
    df = spark.createDataFrame(rows)
    path = str(tmp_path / "ivf_sampled")
    S.build_ivf_index(df, path, dim=2, k=2, iters=4, train_fraction=0.5)

    assigned = spark.read.parquet(path)
    # every row of the FULL corpus is assigned, sample or not
    assert assigned.count() == len(rows)
    # the planted separation is easy: each cluster lands in one cell
    cells = (
        assigned.withColumn("planted", F.floor(F.col("vec_id") / 40))
        .groupBy("planted")
        .agg(F.countDistinct("cid").alias("n"))
        .collect()
    )
    assert all(r["n"] == 1 for r in cells)

    with pytest.raises(ValueError, match="dim"):
        S.query_ivf_index(spark, path, [1.0, 0.0, 0.0], k=3)
    with pytest.raises(ValueError, match="train_fraction"):
        S.build_ivf_index(df, path, dim=2, k=2, train_fraction=0.0)


def test_blas_cosine_matches_hof_twin(spark):
    """The BLAS cosine kernels must agree with the interpreted
    higher-order-function forms they replaced — including NULL vectors,
    zero vectors (guarded and unguarded), and ragged batch slices."""
    from pyspark.sql import Row

    rows = [
        Row(vec_id=0, embedding=[1.0, 2.0, 3.0, 4.0]),
        Row(vec_id=1, embedding=[-1.0, 0.5, 0.0, 2.0]),
        Row(vec_id=2, embedding=[0.0, 0.0, 0.0, 0.0]),   # zero norm
        Row(vec_id=3, embedding=None),                    # null vector
        Row(vec_id=4, embedding=[4.0, 3.0, 2.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    q = [0.5, -1.0, 2.0, 0.25]
    got = {
        r["vec_id"]: r["c"]
        for r in df.select(
            "vec_id", S.cosine_vs_query_col(F.col("embedding"), q).alias("c")
        ).collect()
    }
    want = {
        r["vec_id"]: r["c"]
        for r in df.select(
            "vec_id",
            T.cosine_similarity_col_hof(F.col("embedding"), q).alias("c"),
        ).collect()
    }
    assert set(got) == set(want)
    for k in got:
        if want[k] is None:
            assert got[k] is None
        else:
            assert got[k] == pytest.approx(want[k], abs=1e-12)

    # pair kernel vs a hand computation (guarded and unguarded)
    pair_df = spark.createDataFrame(
        [Row(a=[1.0, 2.0], b=[2.0, 1.0]),
         Row(a=[1.0, 0.0], b=[0.0, 0.0]),
         Row(a=None, b=[1.0, 1.0])],
        "a array<double>, b array<double>",
    )
    guarded = [
        r["c"]
        for r in pair_df.select(
            S.cosine_pair_col(F.col("a"), F.col("b"), guard_zero=True).alias("c")
        ).collect()
    ]
    assert guarded[0] == pytest.approx(4.0 / 5.0)
    assert guarded[1] == pytest.approx(0.0)  # zero norm divides by 1
    assert guarded[2] is None
    raw = [
        r["c"]
        for r in pair_df.select(
            S.cosine_pair_col(F.col("a"), F.col("b")).alias("c")
        ).collect()
    ]
    # unguarded zero denominator yields NULL (the expression form
    # raised under ANSI; NULL keeps the batch kernel total)
    assert raw[0] == pytest.approx(4.0 / 5.0)
    assert raw[1] is None and raw[2] is None


def test_blas_cosine_rejects_ragged_batches(spark):
    """Ragged vector lengths must fail loud — a divisible total would
    otherwise silently misalign every row in the batch."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(v=[1.0, 2.0]), Row(v=[1.0, 2.0, 3.0, 4.0]),
         Row(v=[1.0, 2.0, 3.0, 4.0, 5.0, 6.0])],
        "v array<double>",
    ).coalesce(1)
    with pytest.raises(Exception, match="ragged"):
        df.select(S.cosine_vs_query_col(F.col("v"), [1.0, 0.0]).alias("c")).collect()


def test_blas_cosine_rejects_zero_length_batches(spark):
    """An all-zero-length batch passes the ragged check (lo == hi == 0)
    but cannot be reshaped — it must raise the descriptive dimension
    error, not numpy's opaque reshape failure."""
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [Row(v=[]), Row(v=[])], "v array<double>"
    ).coalesce(1)
    with pytest.raises(Exception, match="zero-length"):
        df.select(S.cosine_vs_query_col(F.col("v"), [1.0, 0.0]).alias("c")).collect()


def test_quantize_kernel_roundtrip(spark):
    """Int8 per-vector-scale quantization: codes are the rounded
    v/scale, scale = max|v|/127, NULL→NULL (including an all-null
    batch), zero vector → zero code + zero scale, and the dequantized
    vector is within one quantization step per element."""
    import numpy as np

    rows = [
        Row(vec_id=0, embedding=[1.0, -0.5, 0.25, 0.0]),
        Row(vec_id=1, embedding=None),
        Row(vec_id=2, embedding=[0.0, 0.0, 0.0, 0.0]),
        Row(vec_id=3, embedding=[10.0, 20.0, -30.0, 5.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["q"]
        for r in df.select(
            "vec_id", S.quantize_vector_col(F.col("embedding")).alias("q")
        ).collect()
    }
    assert got[1] is None
    assert got[2]["scale"] == 0.0 and got[2]["code"] == b"\x00" * 4
    for r in rows:
        if r.embedding is None or all(x == 0 for x in r.embedding):
            continue
        q = got[r.vec_id]
        code = np.frombuffer(q["code"], dtype=np.int8).astype(np.float64)
        assert np.abs(code).max() == 127  # scale anchored at max|v|
        deq = code * q["scale"]
        assert np.abs(deq - np.array(r.embedding)).max() <= q["scale"] * 0.5 + 1e-6

    # an ALL-null batch (every row in one partition null) must not crash
    nulls = spark.createDataFrame(
        [Row(vec_id=9, embedding=None)], "vec_id long, embedding array<double>"
    ).coalesce(1)
    assert nulls.select(S.quantize_vector_col(F.col("embedding")).alias("q")).collect()[
        0
    ]["q"] is None


def _clustered_corpus(spark, *, dim=16, clusters=8, per=200, seed=3):
    import random

    rng = random.Random(seed)
    rows = []
    for c in range(clusters):
        center = [rng.uniform(-1, 1) for _ in range(dim)]
        for i in range(per):
            rows.append(
                Row(
                    vec_id=c * 1000 + i,
                    embedding=[x + rng.uniform(-0.05, 0.05) for x in center],
                )
            )
    return spark.createDataFrame(rows), rows


def test_quantized_ann_index_matches_float(spark, tmp_path):
    """The quantized two-table index must return the same top-k as the
    float index under the default exact rerank; the codes-only path
    (rerank=0) keeps high recall; layout mismatches fail loud on
    append, and the streaming appender refuses a quantized index."""
    corpus, rows = _clustered_corpus(spark)
    qv = rows[5]["embedding"]
    fpath, qpath = str(tmp_path / "fidx"), str(tmp_path / "qidx")
    S.build_ann_index(corpus, fpath, dim=16, n_planes=6)
    S.build_ann_index(corpus, qpath, dim=16, n_planes=6, quantize=True)

    fl = [r["vec_id"] for r in S.query_ann_index(spark, fpath, qv, k=10).collect()]
    qu = [r["vec_id"] for r in S.query_ann_index(spark, qpath, qv, k=10).collect()]
    assert qu == fl  # exact rerank reproduces the float ranking
    codes_only = [
        r["vec_id"]
        for r in S.query_ann_index(spark, qpath, qv, k=10, rerank=0).collect()
    ]
    assert len(set(codes_only) & set(fl)) >= 8

    # layout recorded in _params: float append into quantized index fails
    with pytest.raises(ValueError, match="quantize"):
        S.append_to_ann_index(corpus.limit(1), qpath, dim=16, n_planes=6)
    # quantized append lands in both tables and is probe-visible
    S.append_to_ann_index(
        spark.createDataFrame([Row(vec_id=99999, embedding=qv)]),
        qpath, dim=16, n_planes=6, quantize=True,
    )
    top = {
        r["vec_id"] for r in S.query_ann_index(spark, qpath, qv, k=2).collect()
    }
    assert 99999 in top

    # the streaming appender writes the flat layout — it must refuse
    from curies_spark.streaming.ann import start_ann_index_stream

    with pytest.raises(ValueError, match="quantize"):
        start_ann_index_stream(
            spark, str(tmp_path / "nosrc"), qpath, str(tmp_path / "nockpt"),
            dim=16, n_planes=6,
        )


def test_quantized_ivf_matches_float(spark, tmp_path):
    """Quantized IVF: same top-k as float under exact rerank; appends
    follow the index's own layout; centroid-only seed cannot quantize."""
    corpus, rows = _clustered_corpus(spark, seed=5)
    qv = rows[7]["embedding"]
    fpath, qpath = str(tmp_path / "fivf"), str(tmp_path / "qivf")
    S.build_ivf_index(corpus, fpath, dim=16, k=8, iters=3)
    S.build_ivf_index(corpus, qpath, dim=16, k=8, iters=3, quantize=True)
    fl = [
        r["vec_id"]
        for r in S.query_ivf_index(spark, fpath, qv, k=10, nprobe=2).collect()
    ]
    qu = [
        r["vec_id"]
        for r in S.query_ivf_index(spark, qpath, qv, k=10, nprobe=2).collect()
    ]
    assert qu == fl
    # append follows the quantized layout automatically
    S.append_to_ivf_index(
        spark.createDataFrame([Row(vec_id=88888, embedding=qv)]), qpath
    )
    top = {
        r["vec_id"]
        for r in S.query_ivf_index(spark, qpath, qv, k=2, nprobe=2).collect()
    }
    assert 88888 in top
    # centroid-only seed with quantize=True records the layout (for the
    # streamed appender) without writing any payload
    seed_path = str(tmp_path / "seed")
    S.build_ivf_index(
        corpus, seed_path, dim=16, k=4, write_vectors=False, quantize=True
    )
    assert S._ivf_quantized(spark, seed_path)


def test_exact_dup_groups_max_ids_caps_before_aggregation(spark):
    from pyspark.sql import Row

    docs = spark.createDataFrame(
        [Row(doc_id=i, text="same") for i in range(10, 0, -1)]
        + [Row(doc_id=99, text="solo")]
    )
    got = D.exact_dup_groups(docs, max_ids=3).collect()
    assert len(got) == 1
    assert got[0]["n_docs"] == 10          # true count survives the cap
    assert got[0]["doc_ids"] == [1, 2, 3]  # smallest ids kept


def test_connected_components_empty_and_single_edge(spark):
    from pyspark.sql import Row

    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert D.connected_components(empty).count() == 0
    one = spark.createDataFrame([Row(id_a=5, id_b=2)])
    got = {(r["node"], r["component"]) for r in D.connected_components(one).collect()}
    assert got == {(2, 2), (5, 2)}


# ---------------------------------------------------------------------------
# Bloom-filter cross-snapshot dedup
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_fpp(spark):
    """Every inserted value is ALWAYS seen (the property exclude_seen's
    exactness shortcut rests on); the false-positive rate on disjoint
    values stays near the target."""
    from curies_spark.operators import bloom as B

    hist = spark.createDataFrame(
        [(f"doc number {i}",) for i in range(2000)], ["text"]
    ).repartition(4)
    bf = B.build_bloom_filter(hist, "text", expected_items=2000, fpp=0.01)
    assert bf.n_items == 2000

    seen = (
        hist.select(B.bloom_seen_col("text", bf).alias("s"))
        .agg(F.sum(F.col("s").cast("int")).alias("n"))
        .collect()[0]["n"]
    )
    assert seen == 2000  # no false negatives, ever

    novel = spark.createDataFrame(
        [(f"unrelated item {i}",) for i in range(2000)], ["text"]
    )
    fp = (
        novel.select(B.bloom_seen_col("text", bf).alias("s"))
        .agg(F.sum(F.col("s").cast("int")).alias("n"))
        .collect()[0]["n"]
    )
    assert fp / 2000 < 0.05  # ~1% target, generous bound

    # NULLs are never seen
    nulls = spark.createDataFrame([(None,), ("doc number 7",)], "text string")
    got = [r["s"] for r in nulls.select(B.bloom_seen_col("text", bf).alias("s")).collect()]
    assert got[0] is None and got[1] is True


def test_exclude_seen_exact_under_heavy_false_positives(spark):
    """With the verification join, exclude_seen must equal a plain
    left_anti join on the value — even when the filter is deliberately
    undersized (fpp ≈ 0.5) so false positives are everywhere. The
    bloom's only effect is to shrink the join input, never the answer."""
    import random

    from curies_spark.operators import bloom as B

    rng = random.Random(13)
    hist_vals = [f"hist {i}" for i in range(500)]
    inc_vals = (
        [f"hist {rng.randrange(500)}" for _ in range(200)]   # true dups
        + [f"novel {i}" for i in range(300)]
        + [None]
    )
    hist = spark.createDataFrame([(v,) for v in hist_vals], ["text"])
    inc = spark.createDataFrame(
        [(i, v) for i, v in enumerate(inc_vals)], "doc_id long, text string"
    )
    # undersized on purpose: expected 20 items, fed 500 → fpp ~ 1
    bf = B.build_bloom_filter(hist, "text", expected_items=20, fpp=0.3)
    got = {
        r["doc_id"]
        for r in B.exclude_seen(inc, bf, history=hist).collect()
    }
    want = {
        r["doc_id"]
        for r in inc.join(hist, on="text", how="left_anti").collect()
    }
    assert got == want
    # approximate mode only ever keeps a subset of the exact answer
    approx = {r["doc_id"] for r in B.exclude_seen(inc, bf).collect()}
    assert approx <= want


def test_exclude_seen_history_column_rename(spark):
    """The history side may name its key column differently
    (history_column=); exactness is unaffected."""
    from curies_spark.operators import bloom as B

    hist = spark.createDataFrame([("a",), ("b",)], ["content"])
    bf = B.build_bloom_filter(hist, "content", expected_items=2)
    inc = spark.createDataFrame([(1, "a"), (2, "z")], ["doc_id", "text"])
    got = {
        r["doc_id"]
        for r in B.exclude_seen(
            inc, bf, column="text", history=hist, history_column="content"
        ).collect()
    }
    assert got == {2}


def test_bloom_build_tree_reduction_matches_flat_collect(spark, monkeypatch):
    """Round 6: when partitions × bitmap bytes exceed the collect
    budget, build_bloom_filter ORs bitmaps executor-side first. Forcing
    a tiny budget must yield the exact same filter (bitmap AND count)
    as the flat-collect path — the reduction is pure plumbing."""
    from curies_spark.operators import bloom as B

    hist = spark.createDataFrame(
        [(f"doc number {i}",) for i in range(500)], ["text"]
    ).repartition(8)
    flat = B.build_bloom_filter(hist, "text", expected_items=500, fpp=0.01)
    monkeypatch.setattr(B, "BLOOM_COLLECT_BUDGET_BYTES", 1)
    reduced = B.build_bloom_filter(hist, "text", expected_items=500, fpp=0.01)
    assert reduced.bitmap == flat.bitmap
    assert reduced.n_items == flat.n_items == 500
    assert (reduced.m_bits, reduced.k) == (flat.m_bits, flat.k)


def test_bloom_probe_plan_is_shuffle_free(spark):
    """The bloom-negative fast path is a map-side filter: probing adds
    an Arrow stage but NO Exchange — the whole point vs the anti-join."""
    import re

    from curies_spark.operators import bloom as B

    hist = spark.createDataFrame([("a",), ("b",)], ["text"])
    bf = B.build_bloom_filter(hist, "text", expected_items=2)
    inc = spark.createDataFrame([(1, "a"), (2, "z")], ["doc_id", "text"])
    plan = (
        B.exclude_seen(inc, bf)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert not re.search(r"Exchange (hash|range|SinglePartition)", plan), plan
    assert "ArrowEvalPython" in plan, plan
