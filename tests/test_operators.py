"""Unit tests for the custom operators (SURVEY section 5.2 item 3):
checksum vs zlib ground truth, approximate dedup/ANN vs their exact
counterparts, HLL tolerance, dromap compiler validation."""

from __future__ import annotations

import zlib

import pytest
from pyspark.sql import functions as F

from iceberg_daq_spark.operators import dedup, similarity
from iceberg_daq_spark.operators.dromap import WIBS, compile_dromap, dromap_df
from iceberg_daq_spark.queries.daq import q32
from iceberg_daq_spark.queries.aggregates import q16
from iceberg_daq_spark.tables import load


def test_adler32_matches_zlib(spark, sf_dir):
    """A24: the pandas-UDF fold must equal python zlib over full bytes
    (16 KiB chunked fold == whole-buffer adler32)."""
    docs = {r["doc_id"]: r["text"] for r in load(spark, sf_dir, "documents").collect()}
    out = {r["doc_id"]: (r["adler32"], r["size_bytes"]) for r in q32(spark, sf_dir).collect()}
    assert set(out) == set(docs)
    for doc_id, text in docs.items():
        raw = text.encode("utf-8")
        assert out[doc_id] == (zlib.adler32(raw) & 0xFFFFFFFF, len(raw)), doc_id


def test_approx_count_distinct_tolerance(spark, sf_dir):
    """Q16: HLL estimate within 5% relative error of exact."""
    for r in q16(spark, sf_dir).collect():
        assert abs(r["approx_parts"] - r["exact_parts"]) <= max(1, 0.05 * r["exact_parts"])


def test_minhash_lsh_recall(spark, sf_dir):
    """MinHash-LSH must recover the high-similarity pairs the exact
    n-gram Jaccard finds (high recall at jaccard >= 0.7; its own
    output is exact-verified so precision is 1 by construction)."""
    d = load(spark, sf_dir, "documents")
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_pairs(d, threshold=0.7).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(d, threshold=0.5).collect()
    }
    if exact:
        recall = len(exact & lsh) / len(exact)
        assert recall >= 0.9, f"LSH recall {recall} over {len(exact)} exact pairs"
    # verified candidates must carry true jaccard >= threshold
    for r in dedup.minhash_lsh_pairs(d, threshold=0.5).collect():
        assert r["jaccard"] >= 0.5


def test_minhash_bucket_valve(spark, sf_dir):
    """The band-bucket occupancy valve is recall-only: with the valve
    off the output equals the default (the cap never engages on this
    corpus - buckets are small), and with a degenerate cap of 0 every
    bucket is dropped so no candidates survive, while precision of
    whatever survives any cap is guaranteed by exact verification."""
    d = load(spark, sf_dir, "documents")
    default = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(d, threshold=0.5).collect()
    }
    unvalved = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(d, threshold=0.5, bucket_max=None).collect()
    }
    assert default == unvalved and len(default) > 0
    assert dedup.minhash_lsh_pairs(d, threshold=0.5, bucket_max=0).count() == 0
    # a cap of 1 drops every >=2-doc bucket: a strict recall-only
    # subset of the unvalved output (likely empty on this corpus)
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(d, threshold=0.5, bucket_max=1).collect()
    }
    assert capped <= unvalved


def test_q58_sketch_percentiles_near_exact(spark, sf_dir):
    """q58's registered plan is the percentile_approx sketch; at any
    accuracy the rank error is bounded by 1/accuracy, so even at the
    DEFAULT accuracy (10000) the values must sit within one rank-step
    of the exact interpolated percentile at test scale."""
    from iceberg_daq_spark.operators import text as text_ops

    d = load(spark, sf_dir, "documents")
    n_words = F.size(text_ops.words(F.col("text"))).cast("double")
    tok = d.select("lang", n_words.alias("n_words"))
    rows = (
        tok.groupBy("lang")
        .agg(
            F.percentile_approx("n_words", 0.9).alias("approx"),
            F.percentile("n_words", 0.9).alias("exact"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r["approx"] - r["exact"]) <= max(2.0, 0.02 * r["exact"]), r


def test_ngram_jaccard_thresholds_exact_ratio(spark):
    """Boundary discipline: the >= threshold comparison must use the
    EXACT ratio, not the 4-decimal rounded value.  These two docs have
    true jaccard exactly 1/3 (1 common of 3 distinct shingles); with
    threshold=1/3 a round-first filter drops the pair (round(1/3,4) =
    0.3333 < 1/3) while the exact filter keeps it."""
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x")], ["doc_id", "text"]
    )
    rows = dedup.ngram_jaccard_pairs(docs, threshold=1 / 3).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in rows] == [(1, 2, 0.3333)]


def test_ngram_jaccard_df_max_valve_equality(spark, sf_dir):
    """The registered q41 runs with the df_max hot-shingle valve; on
    this corpus (max shingle df far below 128) the valved pair set must
    equal complete discovery exactly - same pairs, same n_common, same
    jaccard."""
    d = load(spark, sf_dir, "documents")
    full = sorted(
        map(tuple, dedup.ngram_jaccard_pairs(d, threshold=0.5).collect())
    )
    valved = sorted(
        map(tuple, dedup.ngram_jaccard_pairs(d, threshold=0.5, df_max=128).collect())
    )
    assert full == valved and len(full) > 0


def test_ngram_jaccard_df_max_drops_only_hot_pairs(spark):
    """With df_max below a shared shingle's document frequency, pairs
    whose every common shingle is hot disappear (the valve's documented
    loss mode), while pairs sharing a rare shingle survive with exact
    values."""
    # "x y z" is shared by all 4 docs (df=4); docs 3/4 also share the
    # rare "p q r" (df=2)
    docs = spark.createDataFrame(
        [
            (1, "x y z"),
            (2, "x y z"),
            (3, "x y z w p q r"),
            (4, "x y z v p q r"),
        ],
        ["doc_id", "text"],
    )
    full = {(r["doc_a"], r["doc_b"]) for r in dedup.ngram_jaccard_pairs(docs, 0.2).collect()}
    valved_rows = dedup.ngram_jaccard_pairs(docs, 0.2, df_max=3).collect()
    valved = {(r["doc_a"], r["doc_b"]) for r in valved_rows}
    assert (1, 2) in full and (1, 2) not in valved  # only-hot pair dropped
    assert (3, 4) in valved  # rare-shingle pair survives
    # and its verified stats still count the hot shingles
    row = next(r for r in valved_rows if (r["doc_a"], r["doc_b"]) == (3, 4))
    full_row = next(
        r
        for r in dedup.ngram_jaccard_pairs(docs, 0.2).collect()
        if (r["doc_a"], r["doc_b"]) == (3, 4)
    )
    assert (row["n_common"], row["jaccard"]) == (full_row["n_common"], full_row["jaccard"])


def test_ngram_jaccard_prefix_equals_exact(spark, sf_dir):
    """The registered q41 path (AllPairs prefix filtering) must equal
    complete inverted-index discovery exactly - same pairs, same
    n_common, same jaccard - on the real corpus."""
    d = load(spark, sf_dir, "documents")
    full = sorted(
        map(tuple, dedup.ngram_jaccard_pairs(d, threshold=0.5).collect())
    )
    pref = sorted(
        map(tuple, dedup.ngram_jaccard_prefix_pairs(d, threshold=0.5).collect())
    )
    assert full == pref and len(full) > 0


def test_ngram_jaccard_prefix_keeps_hot_only_pairs(spark):
    """Prefix filtering is lossless where the df_max valve is not: a
    pair whose ONLY shared shingle is hot (df = all docs) must still
    be discovered, because the rarest-first prefix of a doc with no
    rarer shingles IS that hot shingle.  Same corpus as the valve
    loss-mode test above - the valve drops (1,2); prefix keeps it."""
    docs = spark.createDataFrame(
        [
            (1, "x y z"),
            (2, "x y z"),
            (3, "x y z w p q r"),
            (4, "x y z v p q r"),
        ],
        ["doc_id", "text"],
    )
    full = sorted(
        map(tuple, dedup.ngram_jaccard_pairs(docs, 0.2).collect())
    )
    pref = sorted(
        map(tuple, dedup.ngram_jaccard_prefix_pairs(docs, 0.2).collect())
    )
    assert full == pref
    assert (1, 2) in {(a, b) for a, b, *_ in pref}


def test_ngram_jaccard_prefix_threshold_boundary(spark):
    """Boundary semantics match the exact path: jaccard exactly at
    threshold is kept, strictly below (even when it would ROUND to
    the threshold) is dropped."""
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x")], ["doc_id", "text"]
    )
    rows = dedup.ngram_jaccard_prefix_pairs(docs, threshold=1 / 3).collect()
    assert [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in rows] == [
        (1, 2, 0.3333)
    ]
    assert dedup.ngram_jaccard_prefix_pairs(docs, threshold=0.34).collect() == []


def test_simhash_pairs_sane(spark, sf_dir):
    """SimHash near-dup pairs: symmetric-free (a<b), hamming bound
    respected, and identical texts would give hamming 0."""
    d = load(spark, sf_dir, "documents")
    rows = dedup.simhash_pairs(d, max_hamming=8).collect()
    for r in rows:
        assert r["doc_a"] < r["doc_b"]
        assert 0 <= r["hamming"] <= 8
    # duplicate a doc -> hamming 0 pair must appear
    two = d.limit(1).select(F.lit(100000).alias("doc_id"), "text").union(
        d.limit(1).select(F.lit(100001).alias("doc_id"), "text")
    )
    dup_rows = dedup.simhash_pairs(two, max_hamming=0).collect()
    assert len(dup_rows) == 1 and dup_rows[0]["hamming"] == 0


def test_ivf_ann_recall(spark, sf_dir):
    """IVF-ANN top-5 vs brute force: same contract as the LSH path -
    plumbing correct (exact cosine on candidates, so every reported
    neighbor's score is true) plus bounded recall loss from probing
    only N_PROBE of N_CELLS cells."""
    e = load(spark, sf_dir, "embeddings")
    brute = {}
    for r in similarity.cosine_topk_bruteforce(e, k=5).collect():
        brute.setdefault(r["qid"], set()).add(r["cid"])
    ivf = {}
    for r in similarity.ivf_ann_topk(e, k=5).collect():
        ivf.setdefault(r["qid"], set()).add(r["cid"])
    recalls = [len(brute[q] & ivf.get(q, set())) / len(brute[q]) for q in brute]
    mean_recall = sum(recalls) / len(recalls)
    # measured ~0.50 at sf0.001/sf0.01 on the structureless random
    # embeddings (the ANN worst case - true neighbors are barely closer
    # than random points); floor set under that with margin
    assert mean_recall >= 0.4, f"mean recall@5 {mean_recall}"


def test_pq_ann_recall(spark, sf_dir):
    """IVF-PQ top-5 vs brute force: reported scores must be TRUE
    cosines (exact re-rank of the ADC shortlist), and recall is
    bounded below despite 8-byte codes standing in for vectors during
    candidate scoring.  The ADC shortlist factor (_PQ_REFINE) absorbs
    quantization error, so recall should track the full-vector IVF
    path's - the loss budget is probing, not quantization."""
    e = load(spark, sf_dir, "embeddings")
    brute, scores = {}, {}
    for r in similarity.cosine_topk_bruteforce(e, k=5).collect():
        brute.setdefault(r["qid"], set()).add(r["cid"])
        scores[(r["qid"], r["cid"])] = r["cos_sim"]
    pq = {}
    for r in similarity.pq_ann_topk(e, k=5).collect():
        pq.setdefault(r["qid"], set()).add(r["cid"])
        if (r["qid"], r["cid"]) in scores:
            # exact re-rank: a shared neighbor's score matches brute force
            assert abs(scores[(r["qid"], r["cid"])] - r["cos_sim"]) < 1e-9
    recalls = [len(brute[q] & pq.get(q, set())) / len(brute[q]) for q in brute]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.4, f"mean recall@5 {mean_recall}"


def test_lsh_ann_recall(spark, sf_dir):
    """LSH-ANN top-5 must overlap brute-force top-5 (recall@5 >= 0.3 on
    random-ish synthetic embeddings; buckets shrink the search space so
    some loss is expected - the contract is plumbing + bounded loss)."""
    e = load(spark, sf_dir, "embeddings")
    brute = {}
    for r in similarity.cosine_topk_bruteforce(e, k=5).collect():
        brute.setdefault(r["qid"], set()).add(r["cid"])
    ann = {}
    for r in similarity.lsh_ann_topk(e, k=5).collect():
        ann.setdefault(r["qid"], set()).add(r["cid"])
    recalls = [len(brute[q] & ann.get(q, set())) / len(brute[q]) for q in brute]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.3, f"mean recall@5 {mean_recall}"


def test_dromap_validation(spark):
    """A33: duplicate / unknown WIB ids rejected; full map is 48 rows
    with dense unique src_ids."""
    with pytest.raises(ValueError):
        compile_dromap(spark, [102, 102])
    with pytest.raises(ValueError):
        compile_dromap(spark, [999])
    full = dromap_df(spark)
    assert full.count() == 8 * len(WIBS)
    src = [r["src_id"] for r in full.select("src_id").collect()]
    assert sorted(src) == list(range(48))


def test_exact_dedup_finds_planted_duplicate(spark, sf_dir):
    """Planting a copy of doc 0 must collapse into one hash group."""
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = d.union(
        d.filter(F.col("doc_id") == 0).select(F.lit(99999).alias("doc_id"), "text")
    )
    out = dedup.exact_dedup(planted)
    dups = out.filter(F.col("n_copies") > 1).collect()
    assert len(dups) == 1
    assert dups[0]["canonical_doc_id"] == 0 and dups[0]["n_copies"] == 2


def test_ngram_jaccard_df_cap(spark, sf_dir):
    """The df_max hot-shingle valve: capped discovery emits a subset of
    the exact pairs with IDENTICAL (n_common, jaccard) values (verify
    runs on the full sets); a generous cap loses nothing on the test
    corpus; and a pair sharing only a hot shingle is pruned."""
    d = load(spark, sf_dir, "documents")
    exact = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(d, threshold=0.5).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): (r["n_common"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(d, threshold=0.5, df_max=1000).collect()
    }
    assert capped == exact  # cap far above any df on this corpus
    # synthetic: docs 1/2 share only the hot shingle "x y z" (df=3)
    docs = spark.createDataFrame(
        [(1, "x y z a b c"), (2, "x y z d e f"), (3, "x y z a b c")],
        ["doc_id", "text"],
    )
    full = {(r["doc_a"], r["doc_b"]) for r in dedup.ngram_jaccard_pairs(docs, 0.1).collect()}
    pruned = {(r["doc_a"], r["doc_b"]) for r in dedup.ngram_jaccard_pairs(docs, 0.1, df_max=2).collect()}
    assert (1, 2) in full and (1, 3) in full
    assert (1, 2) not in pruned  # only link was the hot shingle
    assert (1, 3) in pruned  # still discovered via rare shingles


def test_salted_join_equals_plain_join(spark):
    """A 90%-hot-key fact table salted-joined to a dim must produce
    exactly the plain join's rows (inner and left, incl. unmatched
    left rows), with the salt column dropped."""
    from iceberg_daq_spark.operators.skew import salted_join

    fact = spark.createDataFrame(
        [(1, i) for i in range(900)] + [(k, 900 + k) for k in range(2, 12)],
        ["k", "payload"],
    )
    dim = spark.createDataFrame([(1, "hot"), (2, "a"), (3, "b")], ["k", "name"])
    for how in ("inner", "left"):
        plain = sorted(map(tuple, fact.join(dim, ["k"], how).collect()))
        salted = sorted(map(tuple, salted_join(fact, dim, ["k"], how).collect()))
        assert salted == plain, how
    with pytest.raises(ValueError):
        salted_join(fact, dim, ["k"], "right")


def test_connected_components_chain(spark):
    """Transitive closure: a 5-node chain (needs multiple propagation
    rounds), a separate 2-node pair, and an isolated doc must get the
    right components; isolated docs are their own canonical group."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["doc_a", "doc_b"]
    )
    comp = {r["node"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
    docs = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 10, 11, 99]], ["doc_id"])
    groups = {r["doc_id"]: (r["component"], r["is_canonical"]) for r in dedup.dedup_groups(docs, pairs).collect()}
    assert groups[99] == (99, True)
    assert groups[5] == (1, False) and groups[1] == (1, True)
    assert groups[11] == (10, False)


def test_connected_components_shortcut_rounds(spark):
    """Path shortcutting keeps convergence logarithmic on long-chain
    graphs: a 64-node chain (diameter 63, which plain min-label
    propagation would need ~63 rounds for - past the default max_iter)
    must converge well under the cap, with every node labeled 0.
    CC_DRIVER_EDGE_MAX is pinned to 0 so the DISTRIBUTED branch runs
    (the default would route a 63-edge graph to the driver valve)."""
    n = 64
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["doc_a", "doc_b"]
    )
    old = dedup.CC_DRIVER_EDGE_MAX
    dedup.CC_DRIVER_EDGE_MAX = 0
    try:
        comp = {
            r["node"]: r["component"]
            for r in dedup.connected_components(pairs).collect()
        }
    finally:
        dedup.CC_DRIVER_EDGE_MAX = old
    assert comp == {i: 0 for i in range(n)}
    # neighbor-min alone moves the min one hop per round (~63 rounds);
    # with label[label] chasing the chain collapses geometrically
    assert 1 <= dedup.connected_components.last_rounds <= 15


def test_connected_components_valve_branches_agree(spark):
    """The driver union-find valve and the distributed min-label loop
    are the same operator: identical (node, component) output on a
    multi-component graph with chains, a clique, and id gaps."""
    edges = (
        [(i, i + 1) for i in range(0, 30)]          # 31-node chain
        + [(100 + a, 100 + b) for a in range(6) for b in range(a + 1, 6)]
        + [(7_000_000_000 + i, 7_000_000_001 + i) for i in range(0, 4, 2)]
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    via_driver = {
        (r["node"], r["component"])
        for r in dedup.connected_components(pairs).collect()
    }
    assert dedup.connected_components.last_rounds == 0  # valve engaged
    old = dedup.CC_DRIVER_EDGE_MAX
    dedup.CC_DRIVER_EDGE_MAX = 0
    try:
        via_spark = {
            (r["node"], r["component"])
            for r in dedup.connected_components(pairs).collect()
        }
    finally:
        dedup.CC_DRIVER_EDGE_MAX = old
    assert via_driver == via_spark and len(via_driver) == 41


def test_connected_components_driver_random_parity(spark):
    """The numpy star-contraction driver branch vs a reference
    union-find on seeded random graphs, including the clone-family
    geometry the 10x stress corpus produces (dense near-cliques with
    id offsets) plus self-loops and duplicate edges."""
    import numpy as np

    rng = np.random.default_rng(1234)
    cases = []
    for _ in range(4):  # sparse random
        n, m = int(rng.integers(5, 300)), int(rng.integers(4, 900))
        u = rng.integers(0, n, m) * 11 + 5
        v = rng.integers(0, n, m) * 11 + 5
        cases.append((u.astype("int64"), v.astype("int64")))
    fam = rng.integers(0, 120, 2500).astype("int64") * 10_000_019
    cases.append((fam + rng.integers(0, 9, 2500), fam + rng.integers(0, 9, 2500)))
    for eu, ev in cases:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for a, b in zip(eu.tolist(), ev.tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        want = {
            n: find(n) for n in set(eu.tolist()) | set(ev.tolist())
        }
        pairs = spark.createDataFrame(
            list(zip(eu.tolist(), ev.tolist())), "doc_a long, doc_b long"
        )
        got = {
            r["node"]: r["component"]
            for r in dedup.connected_components(pairs).collect()
        }
        assert dedup.connected_components.last_rounds == 0  # driver valve
        assert got == want


def test_multimodal_image_roundtrip(spark, sf_dir):
    """q51's decode path vs the closed form: pixel i of doc d is
    (d*31 + i*7) % 251, so mean/max/min are computable exactly in
    numpy without touching the FIMG codec."""
    import numpy as np

    from iceberg_daq_spark.operators import multimodal as mm

    d = load(spark, sf_dir, "documents").limit(20)
    meta = {r["doc_id"]: r["n_chars"] for r in d.select("doc_id", "n_chars").collect()}
    stats = {r["doc_id"]: r for r in mm.decode_image_stats(mm.synth_image_blobs(d)).collect()}
    assert set(stats) == set(meta)
    for doc_id, nc in meta.items():
        w, h = nc % 32 + 8, doc_id % 16 + 8
        c = 3 if doc_id % 2 == 0 else 1
        px = (doc_id * 31 + np.arange(w * h * c) * 7) % 251
        r = stats[doc_id]
        assert (r["width"], r["height"], r["channels"]) == (w, h, c)
        assert abs(r["mean_px"] - px.mean()) < 1e-9
        assert r["max_px"] == px.max() and r["min_px"] == px.min()


def test_multimodal_resize_semantics(spark, sf_dir):
    """Nearest-neighbor resize to 4x4: resized pixel (y, x, ch) must
    equal source pixel (y*h//4, x*w//4, ch)."""
    import numpy as np

    from iceberg_daq_spark.operators import multimodal as mm

    d = load(spark, sf_dir, "documents").limit(5)
    blobs = mm.synth_image_blobs(d)
    small = {r["doc_id"]: bytes(r["payload"]) for r in mm.resize_images(blobs, 4, 4).collect()}
    for r in blobs.collect():
        doc_id, blob = r["doc_id"], bytes(r["payload"])
        import struct

        w, h, c = struct.unpack("<HHH", blob[4:10])
        px = np.frombuffer(blob, dtype=np.uint8, offset=10).reshape(h, w, c)
        got = np.frombuffer(small[doc_id], dtype=np.uint8, offset=10).reshape(4, 4, c)
        yi = (np.arange(4) * h // 4)[:, None]
        xi = (np.arange(4) * w // 4)[None, :]
        assert (got == px[yi, xi, :]).all(), doc_id


def test_multimodal_wrong_magic_raises(spark):
    """A payload that is not FIMG raises ValueError in the image decode
    and in resize (which used to rewrite whatever bytes it received), and
    the check is no assert that ``python -O`` would strip.  A payload
    shorter than the magic raises the same way instead of an IndexError."""
    import numpy as np
    from pyspark.errors import PythonException

    from iceberg_daq_spark.operators import multimodal as mm

    blobs = spark.createDataFrame(
        [(1, b"FAUD" + bytes(16))], "doc_id long, payload binary"
    )
    for df in (mm.decode_image_stats(blobs), mm.resize_images(blobs, 4, 4)):
        with pytest.raises(PythonException, match="ValueError: not FIMG payloads"):
            df.collect()
    buf = np.frombuffer(b"FIMGxxFI", dtype=np.uint8)
    with pytest.raises(ValueError, match="shorter than the FIMG magic"):
        mm._require_magic(buf, np.array([0, 6, 8]), mm._IMG_MAGIC)


def test_payload_chunks_respect_int32_offset_limit(monkeypatch):
    """Arrow binary offsets are int32: batches whose packed payload
    exceeds 2^31-1 bytes must split at row boundaries (verified with a
    lowered limit so the test doesn't allocate gigabytes), and a single
    oversized payload must raise instead of silently wrapping."""
    import numpy as np

    from iceberg_daq_spark.operators import multimodal as mm

    monkeypatch.setattr(mm, "_MAX_BATCH_PAYLOAD", 100)
    lens = np.array([40, 40, 30, 90, 10, 10], dtype=np.int64)
    ends = np.cumsum(lens)
    starts = ends - lens
    chunks = mm._payload_chunks(starts, ends)
    assert chunks == [(0, 2), (2, 3), (3, 5), (5, 6)]
    for lo, hi in chunks:
        assert int(ends[hi - 1] - starts[lo]) <= 100
    # rebased offsets reproduce the exact per-row bytes
    buf = np.arange(int(ends[-1]), dtype=np.int64).astype(np.uint8)
    got = []
    for lo, hi in chunks:
        arr = mm._payload_array(buf, starts, ends, lo, hi)
        got.extend(arr[i].as_py() for i in range(len(arr)))
    assert got == [buf[s:e].tobytes() for s, e in zip(starts, ends)]
    with pytest.raises(ValueError, match="2 GiB"):
        mm._payload_chunks(np.array([0]), np.array([101]))


def test_audio_zero_sample_blob(spark):
    """A document with n_chars==0 yields a header-only FAUD blob; its
    stats row must be rms=0.0 / peak=0 (not NaN, and not the next
    blob's first sample via a repeated reduceat boundary)."""
    import math

    from iceberg_daq_spark.operators import multimodal as mm

    d = spark.createDataFrame(
        [(7, 0), (8, 3), (9, 0)], "doc_id long, n_chars long"
    ).coalesce(1)
    rows = {
        r["doc_id"]: r
        for r in mm.decode_audio_stats(mm.synth_audio_blobs(d)).collect()
    }
    for empty in (7, 9):
        r = rows[empty]
        assert r["n_samples"] == 0 and r["peak"] == 0
        assert r["rms"] == 0.0 and not math.isnan(r["rms"])
        assert r["duration_s"] == 0.0
    r8 = rows[8]
    pcm = [((8 * 7 + i * 11) % 4001) - 2000 for i in range(12)]
    assert r8["n_samples"] == 12
    assert r8["peak"] == max(abs(v) for v in pcm)
    assert abs(r8["rms"] - math.sqrt(sum(v * v for v in pcm) / 12)) < 1e-9


def test_multimodal_external_decode_gating(spark, sf_dir):
    """Without a codec library the real-codec path must raise
    NotImplementedError (never silently fake-decode); unsupported
    formats raise regardless of what's installed."""
    import importlib.util

    import pytest as _pytest

    from iceberg_daq_spark.operators import multimodal as mm

    d = load(spark, sf_dir, "documents").limit(1)
    with _pytest.raises(NotImplementedError):
        mm.decode_external(mm.synth_image_blobs(d), "tiff")  # unknown format
    # wav is NOT in this list: the stdlib `wave` fallback decodes it
    # for real in any container (test_multimodal_external_decode_wav)
    for fmt, lib in (("jpeg", "PIL"), ("flac", "soundfile"), ("mp4", "av")):
        if importlib.util.find_spec(lib) is None:
            with _pytest.raises(NotImplementedError):
                mm.decode_external(mm.synth_image_blobs(d), fmt)


def test_multimodal_external_decode_png():
    """With pillow installed, decode_external must decode real PNGs
    through the same mapInArrow plumbing and reproduce exact pixel
    stats (skips in codec-free containers)."""
    import io

    import numpy as np
    import pytest as _pytest

    PIL = _pytest.importorskip("PIL.Image")

    from iceberg_daq_spark.operators import multimodal as mm
    from iceberg_daq_spark.session import get_spark

    spark = get_spark()
    rng = np.random.default_rng(7)
    rows, truth = [], {}
    for doc_id, (w, h, c) in enumerate([(12, 9, 3), (5, 17, 1), (32, 8, 3)]):
        arr = rng.integers(0, 256, size=(h, w, c), dtype=np.uint8)
        img = PIL.fromarray(arr.squeeze() if c == 1 else arr)
        bio = io.BytesIO()
        img.save(bio, format="PNG")
        rows.append((doc_id, bytearray(bio.getvalue())))
        truth[doc_id] = (w, h, c, float(arr.mean()), int(arr.max()), int(arr.min()))
    blobs = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: (
            r["width"], r["height"], r["channels"],
            r["mean_px"], r["max_px"], r["min_px"],
        )
        for r in mm.decode_external(blobs, "png").collect()
    }
    assert set(got) == set(truth)
    for k, (w, h, c, mean, mx, mn) in truth.items():
        gw, gh, gc, gmean, gmx, gmn = got[k]
        assert (gw, gh, gc, gmx, gmn) == (w, h, c, mx, mn)
        assert abs(gmean - mean) < 1e-9


def test_embed_near_dup_lsh_recall(spark, sf_dir):
    """LSH-pruned embedding near-dup vs exact: precision 1 by
    construction (exact-cosine verify), recall measured."""
    e = load(spark, sf_dir, "embeddings")
    exact = {
        (r["qid"], r["cid"]) for r in similarity.cosine_near_dup_pairs(e, 0.4).collect()
    }
    pruned = {
        (r["qid"], r["cid"]) for r in similarity.lsh_near_dup_pairs(e, 0.4).collect()
    }
    assert pruned <= exact, "LSH emitted a pair exact cosine rejects"
    if exact:
        recall = len(pruned & exact) / len(exact)
        assert recall >= 0.3, f"recall {recall} over {len(exact)} exact pairs"


def test_config_compile_modes(spark):
    """A40: pulser == eth base byte-for-byte (reference: the files are
    identical); cosmic differs in exactly the 8 diffed keys on top of
    the shared post-codegen patches; unknown modes rejected."""
    from iceberg_daq_spark.operators.config import (
        COSMIC_RULES,
        PATCH_RULES,
        compile_config,
    )

    key = lambda df: sorted((r["section"], r["key"], r["value"]) for r in df.collect())
    eth, pulser, cosmic = (
        compile_config(spark, m) for m in ("eth", "pulser", "cosmic")
    )
    assert key(eth) == key(pulser)
    cos = {(r["section"], r["key"]): r["value"] for r in cosmic.collect()}
    et = {(r["section"], r["key"]): r["value"] for r in eth.collect()}
    diff = {k for k in cos if cos[k] != et[k]}
    assert diff == set(COSMIC_RULES), diff
    for k, v in {**PATCH_RULES, **COSMIC_RULES}.items():
        assert cos[k] == v
    with pytest.raises(ValueError):
        compile_config(spark, "nope")


def test_q68_docs_are_valid_canonical_json(spark, sf_dir):
    """A8/A38: every emitted metadata doc must parse as JSON and carry
    the reference's field set with consistent values."""
    import json

    from iceberg_daq_spark.queries.daq import q68

    rows = q68(spark, sf_dir).collect()
    assert rows
    for r in rows:
        doc = json.loads(r["json_doc"])
        assert doc["name"] == r["file_name"]
        md = doc["metadata"]
        assert md["core.data_tier"] in ("raw", "trigprim")
        assert md["core.event_count"] == len(md["core.events"])
        assert md["core.first_event_number"] == min(md["core.events"])
        assert md["core.last_event_number"] == max(md["core.events"])
        assert md["core.runs_subruns"] == [md["core.runs"][0] * 100000 + 1]


def test_multimodal_external_decode_wav():
    """decode_external must decode REAL 16-bit PCM WAV containers
    through the mapInArrow plumbing to the FAUD stats schema with
    exact int16-unit RMS/peak.  The files are written with the stdlib
    ``wave`` module and decoded by whichever real decoder is present
    (soundfile when installed, the stdlib wave fallback otherwise), so
    this real-codec path RUNS even in codec-free containers."""
    import io
    import wave as wave_mod

    import numpy as np

    from iceberg_daq_spark.operators import multimodal as mm
    from iceberg_daq_spark.session import get_spark

    spark = get_spark()
    rng = np.random.default_rng(11)
    rows, truth = [], {}
    for doc_id, (frames, rate, ch) in enumerate([(1600, 16000, 1), (800, 8000, 2)]):
        pcm = rng.integers(-20000, 20000, size=(frames, ch), dtype=np.int16)
        bio = io.BytesIO()
        with wave_mod.open(bio, "wb") as w:
            w.setnchannels(ch)
            w.setsampwidth(2)
            w.setframerate(rate)
            w.writeframes(pcm.tobytes())  # interleaved little-endian
        rows.append((doc_id, bytearray(bio.getvalue())))
        flat = pcm.astype(np.float64).ravel()
        truth[doc_id] = (
            frames,
            frames / rate,
            float(np.sqrt((flat**2).mean())),
            int(np.abs(pcm.astype(np.int32)).max()),
        )
    blobs = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: (r["n_samples"], r["duration_s"], r["rms"], r["peak"])
        for r in mm.decode_external(blobs, "wav").collect()
    }
    assert set(got) == set(truth)
    for k, (ns, dur, rms, peak) in truth.items():
        gns, gdur, grms, gpeak = got[k]
        assert (gns, gpeak) == (ns, peak)
        assert abs(gdur - dur) < 1e-9 and abs(grms - rms) < 1e-6
    # FLAC without soundfile must still raise, not silently fake
    try:
        import soundfile  # noqa: F401
    except ImportError:
        import pytest as _pytest

        with _pytest.raises(NotImplementedError):
            mm.decode_external(blobs, "flac")


def test_multimodal_external_decode_mp4():
    """With PyAV installed, decode_external must decode real video
    containers through the same mapInPandas plumbing to the FVID
    frame-sampling schema (skips in codec-free containers)."""
    import io

    import numpy as np
    import pytest as _pytest

    av = _pytest.importorskip("av")

    from iceberg_daq_spark.operators import multimodal as mm
    from iceberg_daq_spark.session import get_spark

    spark = get_spark()
    n_frames, w, h = 12, 32, 16
    bio = io.BytesIO()
    with av.open(bio, "w", format="mp4") as container:
        stream = container.add_stream("mpeg4", rate=10)
        stream.width, stream.height, stream.pix_fmt = w, h, "yuv420p"
        for i in range(n_frames):
            arr = np.full((h, w, 3), i * 16, dtype=np.uint8)
            frame = av.VideoFrame.from_ndarray(arr, format="rgb24")
            container.mux(stream.encode(frame))
        container.mux(stream.encode())
    blobs = spark.createDataFrame(
        [(7, bytearray(bio.getvalue()))], "doc_id long, payload binary"
    )
    rows = mm.decode_external(blobs, "mp4", every_k=5).collect()
    # every 5th of 12 frames -> frame_no 0, 5, 10
    assert [r["frame_no"] for r in sorted(rows, key=lambda r: r["frame_no"])] == [0, 5, 10]
    for r in rows:
        assert r["doc_id"] == 7 and r["n_frames"] == n_frames
        assert len(r["frame"]) == w * h * 3
        assert 0.0 <= r["mean_px"] <= 255.0


def test_lsh_bucket_valve_silent_at_test_scale(spark, sf_dir):
    """The LSH bucket-occupancy valve (similarity.LSH_BUCKET_MAX) must
    be SILENT at test scale - valved and valveless candidate pairs
    identical - so the recall assertions measure the LSH scheme, not
    the valve; its engagement is load-tested by stress_bench.py."""
    from iceberg_daq_spark.tables import load as _load

    e = _load(spark, sf_dir, "embeddings")
    valved = {
        tuple(r) for r in similarity._candidate_pairs(e, symmetric=False).collect()
    }
    full = {
        tuple(r)
        for r in similarity._candidate_pairs(e, symmetric=False, bucket_max=None).collect()
    }
    assert valved == full and len(full) > 0


def test_pii_redact_known_strings(spark):
    """redact() against hand-written ground truth: each PII class is
    replaced everywhere it appears, non-PII text is untouched, and a
    placeholder emitted by one pass is never re-matched by a later
    pattern."""
    from iceberg_daq_spark.operators.text import redact

    rows = [
        ("mail bob.smith@corp.io and ann+x@a.co end",
         "mail <EMAIL> and <EMAIL> end"),
        ("dial 555-0042 then 555-9999.", "dial <PHONE> then <PHONE>."),
        ("node 10.0.3.77 and 192.168.0.1 up", "node <IP> and <IP> up"),
        ("all x@y.zz 555-1234 1.2.3.4 mixed",
         "all <EMAIL> <PHONE> <IP> mixed"),
        ("plain text, no pii at all", "plain text, no pii at all"),
        # 555-12345 has no 4-digit boundary; 1.2.3 is not an IPv4
        ("near 555-12345 miss 1.2.3 end", "near 555-12345 miss 1.2.3 end"),
    ]
    df = spark.createDataFrame(rows, ["raw", "want"])
    got = df.select("want", redact(F.col("raw")).alias("got")).collect()
    for r in got:
        assert r.got == r.want


def test_incremental_minhash_dedup_equals_batch(spark, sf_dir, tmp_path):
    """Two ingest batches against a persisted band index produce
    EXACTLY the pairs the full batch run produces (fixed seed ->
    deterministic buckets), and the index grows by fast-appends."""
    from iceberg_daq_spark.operators import dedup
    from iceberg_daq_spark.tables import load
    from iceberg_daq_spark.tablestore import MergeTable

    docs = load(spark, sf_dir, "documents")
    half1 = docs.filter(F.col("doc_id") % 2 == 0)
    half2 = docs.filter(F.col("doc_id") % 2 == 1)
    idx = MergeTable(
        str(tmp_path / "bands"), key_cols=("doc_id", "band"), keep_versions=3
    )

    p1 = dedup.incremental_minhash_dedup(spark, half1, docs, idx)
    p2 = dedup.incremental_minhash_dedup(spark, half2, docs, idx)
    incremental = {
        (r.doc_a, r.doc_b, r.jaccard) for r in p1.collect()
    } | {(r.doc_a, r.doc_b, r.jaccard) for r in p2.collect()}

    batch = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_lsh_pairs(docs).collect()
    }
    assert incremental == batch and len(batch) > 0
    # the index holds every doc's bands exactly once
    n_docs = docs.count()
    n_banded = idx.read(spark).select("doc_id").distinct().count()
    skipped = (
        docs.count()
        - dedup.shingle_sets(docs).filter(F.size("sh_set") > 0).count()
    )
    assert n_banded == n_docs - skipped
    # second batch was a fast-append (operation recorded in manifest)
    assert [s["operation"] for s in idx.snapshots()][-1] == "append"


def test_global_row_number_matches_window(spark):
    """The two-pass distributed rank equals the single-partition
    window's row_number for any total order, including ties broken by
    the id column."""
    from pyspark.sql import Window, functions as F

    from iceberg_daq_spark.operators.ranking import global_row_number

    rows = [(i, (i * 37) % 11) for i in range(500)]
    df = spark.createDataFrame(rows, "id bigint, v bigint").repartition(7)
    got = {
        r.id: r.rn
        for r in global_row_number(
            df, [F.desc("v"), F.asc("id")], out="rn", num_partitions=5
        ).collect()
    }
    w = Window.orderBy(F.desc("v"), F.asc("id"))
    want = {
        r.id: r.rn
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


def test_prefix_max_matches_window(spark):
    """The two-pass distributed prefix max equals the single-partition
    running-max window (inclusive AND strict frames), including a
    partition whose rows are all smaller than an earlier partition's
    max (the broadcast-prefix path must win there)."""
    from pyspark.sql import Window, functions as F

    from iceberg_daq_spark.operators.ranking import prefix_max

    # values spike early so later range slices depend on the prefix
    rows = [(i, 1000 - i if i < 50 else (i * 13) % 97) for i in range(400)]
    df = spark.createDataFrame(rows, "id bigint, v bigint").repartition(7)
    got = {
        r.id: (r.pmax_incl, r.pmax_strict)
        for r in prefix_max(
            df, [F.asc("id")], "v", num_partitions=5
        ).collect()
    }
    w = Window.orderBy(F.asc("id"))
    want = {
        r.id: (r.i, r.s)
        for r in df.withColumn(
            "i",
            F.max("v").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .withColumn(
            "s",
            F.max("v").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        )
        .collect()
    }
    assert got == want
    assert got[0][1] is None  # globally first row has no strict prefix


def test_prefix_sum_matches_window(spark):
    """The two-pass distributed running sum equals the
    single-partition window sum, including negative deltas (sweep-line
    boundaries) and a total crossing zero mid-partition."""
    from pyspark.sql import Window, functions as F

    from iceberg_daq_spark.operators.ranking import prefix_sum

    rows = [(i, 1 if i % 3 else -2) for i in range(400)]
    df = spark.createDataFrame(rows, "id bigint, v bigint").repartition(7)
    got = {
        r.id: r.psum
        for r in prefix_sum(df, [F.asc("id")], "v", num_partitions=5).collect()
    }
    w = Window.orderBy(F.asc("id")).rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r.id: r.s for r in df.withColumn("s", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_heavy_hitters_forced_decrements(spark):
    """Misra-Gries two-pass heavy hitters must equal the exact
    GROUP BY ... HAVING even when the summary is tiny enough that
    decrements actually fire (vocab 200 >> summary 8): any token with
    count >= n/8 must survive pass 1, and pass 2's recount makes the
    output exact.  Zipf-ish skew so real hitters exist."""
    from iceberg_daq_spark.operators.text import heavy_hitters

    rows = []
    for t in range(200):
        reps = 1000 // (t + 1)  # zipf-ish: token 0 is 1000x token 199
        rows += [(f"tok{t}",)] * max(reps, 1)
    tok = spark.createDataFrame(rows, "token string").repartition(5)
    n = tok.count()
    floor = n // 8 + 1  # strictly above the n/summary_size guarantee line
    got = {
        (r["token"], r["cnt"])
        for r in heavy_hitters(tok, count_floor=floor, summary_size=8).collect()
    }
    want = {
        (r["token"], r["cnt"])
        for r in tok.groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
        .filter(F.col("cnt") >= floor)
        .collect()
    }
    assert got == want and len(want) > 0


def test_grouped_ntile_matches_window(spark):
    """The two-pass distributed NTILE equals the per-group window
    ntile() for every group shape: a giant skewed group, groups with
    heavy ties, groups smaller than the bucket count, and a NULL group
    key."""
    from pyspark.sql import Window, functions as F

    from iceberg_daq_spark.operators.ranking import grouped_ntile

    rows = (
        [(i, "big", (i * 37) % 11) for i in range(400)]  # giant + ties
        + [(1000 + i, "tiny", i) for i in range(2)]  # smaller than n
        + [(2000 + i, None, i % 3) for i in range(7)]  # NULL group
    )
    df = spark.createDataFrame(rows, "id bigint, g string, v bigint").repartition(7)
    got = {
        r.id: r.b
        for r in grouped_ntile(
            df, ["g"], [F.asc("v"), F.asc("id")], 4, out="b", num_partitions=5
        ).collect()
    }
    w = Window.partitionBy("g").orderBy(F.asc("v"), F.asc("id"))
    want = {r.id: r.b for r in df.withColumn("b", F.ntile(4).over(w)).collect()}
    assert got == want


def test_semdedup_recall_and_keep(spark, sf_dir):
    """SemDeDup invariants: (1) exactly one keeper per component and
    the keeper is the component id; (2) every pruned vector has an
    exact near-dup (>= threshold) SOMEWHERE in its component (pruning
    never drops a vector without a justifying pair); (3) recall of the
    within-cell closure vs the EXACT near-dup closure is high (cells
    only miss pairs the quantizer splits)."""
    from iceberg_daq_spark.operators import similarity
    from iceberg_daq_spark.tables import load

    thr = 0.45  # just under the random embeddings' max cos (~0.51)
    e = load(spark, sf_dir, "embeddings")
    sd = similarity.semantic_dedup(e, threshold=thr).collect()
    comp_of = {r.vec_id: r.component for r in sd}
    keepers = {r.vec_id for r in sd if r.keep}
    # (1) keeper = min of its component, one per component
    comps = {}
    for r in sd:
        comps.setdefault(r.component, []).append(r.vec_id)
    for c, members in comps.items():
        assert min(members) == c
        assert sum(1 for m in members if m in keepers) == 1
    # (2) every pruned vector justified by an exact >= thr pair
    exact = {
        (r.qid, r.cid)
        for r in similarity.cosine_near_dup_pairs(e, thr).collect()
    }
    nbrs = {}
    for q, c in exact:
        nbrs.setdefault(q, set()).add(c)
        nbrs.setdefault(c, set()).add(q)
    for r in sd:
        if not r.keep:
            assert nbrs.get(r.vec_id), f"pruned {r.vec_id} has no near-dup"
    # (3) recall: exact near-dup pairs whose endpoints share a
    # component (the quantizer may split some across cells)
    if exact:
        hit = sum(1 for q, c in exact if comp_of[q] == comp_of[c])
        recall = hit / len(exact)
        assert recall >= 0.6, f"semdedup pair recall {recall}"


def test_bpe_train_matches_reference(spark):
    """Distributed BPE training learns EXACTLY the merges of the
    reference algorithm (Sennrich-style pair counting over the word
    frequency table, greedy max-freq with (freq desc, pair asc)
    tiebreak), and bpe_encode round-trips: joining a word's tokens
    restores word + end marker."""
    from iceberg_daq_spark.operators import bpe

    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest low new",
        "low low lower new newest",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )

    # reference implementation (driver-side, from the published
    # algorithm: count adjacent symbol pairs weighted by word freq)
    from collections import Counter

    wc = Counter(w for t in texts for w in t.split(" ") if w)
    vocab = {w: list(w) + [bpe.END] for w in wc}

    def ref_merges(n):
        out = []
        v = {w: list(s) for w, s in vocab.items()}
        for _ in range(n):
            pc = Counter()
            for w, syms in v.items():
                for i in range(len(syms) - 1):
                    pc[(syms[i], syms[i + 1])] += wc[w]
            if not pc:
                break
            best = max(pc.items(), key=lambda kv: (kv[1], [-ord(c) for c in kv[0][0]], [-ord(c) for c in kv[0][1]]))
            # tiebreak: freq desc, pair asc -> emulate with sorted
            top_f = max(pc.values())
            cands = sorted(p for p, f in pc.items() if f == top_f)
            pair = cands[0]
            if top_f < 2:
                break
            out.append(pair)
            a, b = pair
            for w, syms in v.items():
                j, ns = 0, []
                while j < len(syms):
                    if j < len(syms) - 1 and syms[j] == a and syms[j + 1] == b:
                        ns.append(a + b)
                        j += 2
                    else:
                        ns.append(syms[j])
                        j += 1
                v[w] = ns
            del best
        return out

    want = ref_merges(12)
    # driver-side fast path (vocab fits) AND the fully distributed
    # rounds must both learn exactly the reference merges
    got = bpe.train_bpe(docs, 12)
    assert got == want, f"\ngot  {got}\nwant {want}"
    got_dist = bpe.train_bpe(docs, 12, max_driver_vocab=0)
    assert got_dist == want, f"\ngot  {got_dist}\nwant {want}"

    enc = {r.doc_id: r for r in bpe.bpe_encode(docs, got).collect()}
    for i, t in enumerate(texts):
        joined = "".join(enc[i].tokens)
        assert joined == "".join(
            w + bpe.END for w in t.split(" ") if w
        )
        assert enc[i].n_tokens == len(enc[i].tokens)
        # merges actually compress: fewer tokens than characters
        assert enc[i].n_tokens < sum(len(w) + 1 for w in t.split(" "))


def test_q90_pipeline_invariants(spark, sf_dir):
    """The composed training-prep pipeline conserves what its stages
    promise: kept docs are a subset of the corpus with no duplicate
    content hashes, token totals equal the sum of the per-doc BPE
    encodings of exactly the kept docs, and every bin's fill is
    positive with mean fill <= 100% + one straddling doc's worth."""
    from pyspark.sql import functions as F

    from iceberg_daq_spark.operators import bpe
    from iceberg_daq_spark.queries.llm import q90
    from iceberg_daq_spark.tables import load

    out = {r.lang: r for r in q90(spark, sf_dir).collect()}
    assert out

    # reproduce the kept set (stages 1-2 are deterministic)
    d = load(spark, sf_dir, "documents")
    from pyspark.sql import Window

    wdup = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    kept = (
        d.withColumn("_rn", F.row_number().over(wdup))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    toks = F.split(F.col("text"), " ")
    kept = kept.filter(
        (F.size(toks) >= 5) & (F.size(F.array_distinct(toks)) / F.size(toks) >= 0.3)
    )
    kept_counts = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert {k: v.n_docs_kept for k, v in out.items()} == kept_counts

    # token conservation: summary totals == independent re-encoding
    merges = bpe.train_bpe(kept, n_merges=16)
    enc = bpe.bpe_encode(kept, merges).join(kept.select("doc_id", "lang"), "doc_id")
    tok_totals = {
        r.lang: r.s
        for r in enc.groupBy("lang").agg(F.sum("n_tokens").alias("s")).collect()
    }
    assert {k: v.total_tokens for k, v in out.items()} == tok_totals

    for r in out.values():
        assert r.n_seqs >= 1 and r.total_tokens > 0
        # streaming-fill windows: every bin except possibly the last is
        # filled past its boundary by a straddling doc, so mean fill
        # sits near 100 and NEVER below 100 * (n_seqs-1)/n_seqs
        assert r.mean_fill_pct >= 100 * (r.n_seqs - 1) // r.n_seqs


def test_hll_union_matches_direct_sketch(spark, sf_dir):
    """Sketch-union correctness: per-source HLL sketches unioned per
    language must estimate EXACTLY what a direct whole-language sketch
    estimates (union merges registers losslessly at equal lgK), and
    both must track the exact distinct count within HLL error."""
    d = load(spark, sf_dir, "documents")
    tok = d.select(
        "lang", "source", F.explode(F.split(F.col("text"), " ")).alias("w")
    )
    via_union = {
        r["lang"]: r["est"]
        for r in tok.groupBy("lang", "source")
        .agg(F.hll_sketch_agg("w").alias("sk"))
        .groupBy("lang")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("est"))
        .collect()
    }
    direct = {
        r["lang"]: r["est"]
        for r in tok.groupBy("lang")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("w")).cast("long").alias("est"))
        .collect()
    }
    exact = {
        r["lang"]: r["n"]
        for r in tok.groupBy("lang")
        .agg(F.countDistinct("w").alias("n"))
        .collect()
    }
    assert via_union == direct
    for lang, n in exact.items():
        assert abs(via_union[lang] - n) <= max(0.05 * n, 1)


def test_rolling_stats_equals_window(spark):
    """The chunked rolling operator must equal the single-task window
    formulation exactly (same n_prev, mu/sd to float tolerance, NULLs
    below the frame minimums) across chunk boundaries, a group smaller
    than the window, and multiple groups - with a chunk size small
    enough that context replication actually fires."""
    from pyspark.sql import Window

    from iceberg_daq_spark.operators.rolling import rolling_stats

    rows = [(g, i, float((i * 37 + g * 11) % 100)) for g in range(3) for i in range(500)]
    rows += [("tiny", i, float(i)) for i in range(3)]  # group < window
    # NULL values must be skipped by mu/sd (not poison the prefix
    # sums) while still counting toward n_prev - window semantics
    rows = [(g, i, None if (g != "tiny" and i % 7 == 3) else v) for g, i, v in rows]
    rows += [("allnull", i, None) for i in range(5)]  # avg of empty => NULL
    # genuine NaN DOUBLES are values, not NULLs: avg/stddev_samp over
    # a frame containing one is NaN (value semantics), and the
    # poisoning must stay frame-local - rows whose trailing window has
    # slid past the NaN recover finite stats
    rows = [
        (g, i, float("nan") if (g == 2 and i in (100, 317)) else v)
        for g, i, v in rows
    ]
    df = spark.createDataFrame(
        [(str(g), i, v) for g, i, v in rows], "g string, t bigint, v double"
    ).repartition(7)

    got = {
        (r["g"], r["t"]): (r["n_prev"], r["mu"], r["sd"])
        for r in rolling_stats(
            df, ["g"], ["t"], "v", window=50, chunk_size=64, num_partitions=5
        ).collect()
    }
    w = Window.partitionBy("g").orderBy("t").rowsBetween(-50, -1)
    want = {
        (r["g"], r["t"]): (r["n_prev"], r["mu"], r["sd"])
        for r in df.select(
            "g",
            "t",
            F.count("*").over(w).alias("n_prev"),
            F.avg("v").over(w).alias("mu"),
            F.stddev_samp("v").over(w).alias("sd"),
        ).collect()
    }
    assert set(got) == set(want)

    def same(a, b):  # None==None, NaN==NaN, else float tolerance
        if a is None or b is None:
            return a is None and b is None
        import math

        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) < 1e-9

    for k, (n, mu, sd) in want.items():
        gn, gmu, gsd = got[k]
        assert gn == n, k
        assert same(mu, gmu), (k, mu, gmu)
        assert same(sd, gsd), (k, sd, gsd)
    # the NaN rows really exercised value semantics: some frame is NaN
    assert any(
        v[1] is not None and str(v[1]) == "nan" for v in want.values()
    )


def test_bfs_hops_path_and_cap(spark):
    """BFS over a 6-node path (0-1-2-3-4-5) plus a disconnected pair
    (10-11): default seed is min(u)=0; hop distances follow the
    path; the disconnected pair is unreachable; max_hops caps the
    frontier depth; an explicit seed restarts from elsewhere."""
    from iceberg_daq_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["u", "v"]
    )
    got = {r["id"]: r["hops"] for r in bfs_hops(edges).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4, 5: 5}
    capped = {r["id"]: r["hops"] for r in bfs_hops(edges, max_hops=2).collect()}
    assert capped == {0: 0, 1: 1, 2: 2}
    seeded = {r["id"]: r["hops"] for r in bfs_hops(edges, seed=10).collect()}
    assert seeded == {10: 0, 11: 1}
    empty = bfs_hops(spark.createDataFrame([], "u bigint, v bigint"))
    assert empty.count() == 0


def test_k_core_path_and_triangle(spark):
    """A path graph has an EMPTY 2-core (peeling eats it end-inward);
    a triangle with pendant tails is exactly its own 2-core; k=1
    keeps every non-isolated vertex."""
    from iceberg_daq_spark.operators.graph import k_core

    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], ["u", "v"]
    )
    assert k_core(path, 2).count() == 0
    tri_tails = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], ["u", "v"]
    )
    core = sorted((r["u"], r["v"]) for r in k_core(tri_tails, 2).collect())
    assert core == [(1, 2), (1, 3), (2, 3)]
    assert k_core(tri_tails, 1).count() == 5
    # invariant: every vertex of the 2-core keeps induced degree >= 2
    from pyspark.sql import functions as F

    deg = (
        k_core(tri_tails, 2)
        .select(F.col("u").alias("id"))
        .unionAll(k_core(tri_tails, 2).select(F.col("v").alias("id")))
        .groupBy("id")
        .count()
    )
    assert deg.filter(F.col("count") < 2).count() == 0


def test_q156_bridge_is_additive(spark, sf_dir):
    """The mix-shift decomposition must reconcile: volume_effect +
    rate_effect = delta_cents exactly up to the 2-decimal rounding of
    the two effect terms (<= 1 cent combined)."""
    from iceberg_daq_spark.queries.commerce import q156

    for r in q156(spark, sf_dir).collect():
        recon = r["volume_effect"] + r["rate_effect"]
        assert abs(recon - r["delta_cents"]) <= 0.011, r


def test_q160_sketch_wau_tracks_exact(spark, sf_dir):
    """The HLL sliding WAU must stay within 2% of q138's exact
    trailing distinct count on every day (lgK=14 gives ~0.4%
    standard error - 2% is a 5-sigma gate)."""
    from iceberg_daq_spark.queries.timeseries import q138, q160

    exact = {r["d"]: r["n_active_7d"] for r in q138(spark, sf_dir).collect()}
    for r in q160(spark, sf_dir).collect():
        ex = exact[r["d"]]
        assert abs(r["wau_estimate"] - ex) <= max(1, 0.02 * ex), (
            r["d"],
            r["wau_estimate"],
            ex,
        )


def test_q143_giant_segment_branch_matches_window_path(spark):
    """Above Q143_GIANT_SEGMENT_ROWS the Gini plan switches to the
    grouped_rank two-pass layout; both paths are exact, so the same
    synthetic input must produce IDENTICAL output either way."""
    from iceberg_daq_spark.queries import stats

    rev = spark.createDataFrame(
        [("A", k, (k * 37) % 1000 + 1) for k in range(400)]
        + [("B", k, (k * 11) % 50 + 1) for k in range(60)],
        "segment string, custkey bigint, cents bigint",
    )
    small = {tuple(r) for r in stats._q143_impl(rev).collect()}
    old = stats.Q143_GIANT_SEGMENT_ROWS
    stats.Q143_GIANT_SEGMENT_ROWS = 100
    try:
        giant = {tuple(r) for r in stats._q143_impl(rev).collect()}
    finally:
        stats.Q143_GIANT_SEGMENT_ROWS = old
    assert small == giant and len(small) == 2


def test_q139_giant_source_branch_matches_window_path(spark):
    """Above Q139_GIANT_SOURCE_ROWS the quantile-normalize ranks come
    from grouped_rank; both paths are exact, so identical output."""
    from iceberg_daq_spark.queries import curation

    d = spark.createDataFrame(
        [(k, "s1", (k * 7) % 300 + 10) for k in range(300)]
        + [(1000 + k, "s2", (k * 13) % 40 + 5) for k in range(50)],
        "doc_id bigint, source string, n_chars bigint",
    )
    small = {tuple(r) for r in curation._q139_impl(d).collect()}
    old = curation.Q139_GIANT_SOURCE_ROWS
    curation.Q139_GIANT_SOURCE_ROWS = 100
    try:
        giant = {tuple(r) for r in curation._q139_impl(d).collect()}
    finally:
        curation.Q139_GIANT_SOURCE_ROWS = old
    assert small == giant and len(small) == 350


def test_grouped_exact_percentile_matches_builtin(spark):
    """Both branches of the size-aware percentile must equal Spark's
    buffered F.percentile exactly - grouped, global, NULL values,
    all-NULL groups, and multiple value columns."""
    import random

    from iceberg_daq_spark.operators.ranking import grouped_exact_percentile

    random.seed(7)
    rows = [
        (f"g{i % 4}", float(random.randint(0, 10_000)) / 7.0, i)
        for i in range(8_000)
    ]
    rows += [("g9", None, 10**6 + i) for i in range(50)]  # all-NULL group
    rows = [
        (g, None if (g == "g1" and i % 11 == 0) else v, i) for g, v, i in rows
    ]
    df = spark.createDataFrame(rows, "g string, v double, id long")
    specs = [("v", 0.5, "p50"), ("v", 0.9, "p90"), ("id", 0.25, "i25")]
    extras = [F.count("*").cast("bigint").alias("n")]
    want = df.groupBy("g").agg(
        F.percentile("v", 0.5).alias("p50"),
        F.percentile("v", 0.9).alias("p90"),
        F.percentile("id", 0.25).alias("i25"),
        *extras,
    )

    def tab(d):
        return {
            r["g"]: tuple(
                None if r[c] is None else round(float(r[c]), 9)
                for c in ["p50", "p90", "i25", "n"]
            )
            for r in d.collect()
        }

    tw = tab(want)
    small = grouped_exact_percentile(
        df, ["g"], specs, extra_aggs=extras, giant_group_rows=10**9
    )
    giant = grouped_exact_percentile(
        df, ["g"], specs, extra_aggs=extras, giant_group_rows=10
    )
    assert tab(small) == tw
    assert tab(giant) == tw
    # global group (part_cols=[]), both branches
    gw = df.agg(
        F.percentile("v", 0.5).alias("p50"), F.count("*").alias("n")
    ).collect()[0]
    for thr in (10**9, 10):
        r = grouped_exact_percentile(
            df,
            [],
            [("v", 0.5, "p50")],
            extra_aggs=[F.count("*").alias("n")],
            giant_group_rows=thr,
        ).collect()[0]
        assert abs(r["p50"] - gw["p50"]) < 1e-12 and r["n"] == gw["n"]
    # the caller-supplied upper bound picks the branch without a probe:
    # a bound above the threshold must route to the giant branch and
    # still produce identical results
    bounded = grouped_exact_percentile(
        df, ["g"], specs, extra_aggs=extras,
        giant_group_rows=100, input_rows=len(rows),
    )
    assert tab(bounded) == tw


def test_percentile_family_giant_branch_matches_oracle(spark, sf_dir):
    """Drive the distributed rank-selection branch through the REAL
    registered percentile-family queries against the DuckDB oracle:
    pin GIANT_GROUP_ROWS low so every family member takes the giant
    path, then require the same hash-equality the driver checks.
    Proves the probe-and-switch cannot change any family answer."""
    from iceberg_daq_spark.operators import ranking
    from iceberg_daq_spark.registry import all_queries
    from tests.oracle_harness import compare, duckdb_connect

    fam = [
        "q214_segment_basket_size",
        "q151_shipping_sla",
        "q121_funnel_timing",
        "q159_qq_table",
        "q195_repeat_purchase_cadence",
        "q193_customer_brand_hhi",
        "q74_exact_percentiles",
    ]
    specs = all_queries()
    con = duckdb_connect(sf_dir)
    old = ranking.GIANT_GROUP_ROWS
    ranking.GIANT_GROUP_ROWS = 100
    try:
        for name in fam:
            ok, msg = compare(specs[name].fn(spark, sf_dir), con, specs[name].oracle)
            assert ok, f"{name} (giant branch): {msg}"
    finally:
        ranking.GIANT_GROUP_ROWS = old
        con.close()


def test_multimodal_external_decode_ppm():
    """decode_external must decode REAL binary PPM (P6) images -
    header with comments, 1- and 3-channel-free RGB payloads - through
    the mapInArrow plumbing to the image stats schema, with no codec
    library required (pure-numpy parser, PIL used instead when
    installed)."""
    import numpy as np

    from iceberg_daq_spark.operators import multimodal as mm
    from iceberg_daq_spark.session import get_spark

    spark = get_spark()
    rng = np.random.default_rng(5)
    rows, truth = [], {}
    for doc_id, (w, h) in enumerate([(13, 7), (32, 16)]):
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        header = f"P6\n# synthetic test image\n{w} {h}\n255\n".encode()
        rows.append((doc_id, bytearray(header + px.tobytes())))
        truth[doc_id] = (w, h, 3, float(px.mean()), int(px.max()), int(px.min()))
    blobs = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {
        r["doc_id"]: (
            r["width"], r["height"], r["channels"],
            r["mean_px"], r["max_px"], r["min_px"],
        )
        for r in mm.decode_external(blobs, "ppm").collect()
    }
    assert set(got) == set(truth)
    for k, (w, h, c, mean, mx, mn) in truth.items():
        gw, gh, gc, gmean, gmx, gmn = got[k]
        assert (gw, gh, gc, gmx, gmn) == (w, h, c, mx, mn)
        assert abs(gmean - mean) < 1e-9


def test_containment_pairs_asymmetric(spark):
    """containment_pairs catches an excerpt inside a long doc that the
    Jaccard family misses (union dominated by the big doc), is
    directed (excerpt -> container only), and the prefix filter loses
    nothing vs brute force on the same corpus."""
    words_b = " ".join(f"w{i}" for i in range(60))
    excerpt = " ".join(f"w{i}" for i in range(15))  # first 15 words of B
    other = " ".join(f"x{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, excerpt), (2, words_b), (3, other)], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in dedup.containment_pairs(docs, threshold=0.9).collect()
    }
    assert set(got) == {(1, 2)}  # directed: excerpt contained in B only
    assert got[(1, 2)] == 1.0
    # the Jaccard near-dup path does NOT see this pair at its threshold
    jac = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_jaccard_prefix_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) not in jac and (2, 1) not in jac
    # losslessness: prefix-filtered output == complete inverted-index
    # containment on a corpus with repeated (hot) shingles
    from pyspark.sql import functions as F

    base = ["a b c d e f g h i j k l", "a b c d e f g h i j k z",
            "p q r s t u v w x y", "a b c p q r s t u v"]
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(base * 3)], "doc_id long, text string"
    )
    fast = {
        (r["doc_a"], r["doc_b"], r["n_common"])
        for r in dedup.containment_pairs(corpus, threshold=0.6).collect()
    }
    sh = dedup.shingle_sets(corpus)
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh_set").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh_set").alias("sb"))
    brute = {
        (r["doc_a"], r["doc_b"], r["n_common"])
        for r in a.crossJoin(b)
        .filter(F.col("doc_a") != F.col("doc_b"))
        .withColumn("n_common", F.size(F.array_intersect("sa", "sb")).cast("long"))
        .filter(F.col("n_common") / F.size("sa") >= 0.6)
        .collect()
    }
    assert fast == brute and len(brute) > 0


def test_sequence_packing_sub_shards(spark, sf_dir):
    """q245's scale path: sub-sharded packing keeps doc and token
    counts EXACTLY equal to the single-shard fold, respects the
    information-theoretic floor ceil(tokens/CTX) (greedy packing is
    NOT monotone under re-sharding - a different doc order can pack
    better or worse, so only the floor and a small absolute band are
    invariant), and stays deterministic."""
    from iceberg_daq_spark.queries.splits import CTX, sequence_packing

    one = {r["source"]: r for r in sequence_packing(spark, sf_dir, 1).collect()}
    sharded = {r["source"]: r for r in sequence_packing(spark, sf_dir, 3).collect()}
    assert set(one) == set(sharded)
    for src in one:
        a, b = one[src], sharded[src]
        assert a["n_docs"] == b["n_docs"]
        assert a["total_tokens"] == b["total_tokens"]
        floor = -(-a["total_tokens"] // CTX)
        assert a["n_sequences"] >= floor and b["n_sequences"] >= floor
        assert abs(a["n_sequences"] - b["n_sequences"]) <= 3
    again = {r["source"]: r for r in sequence_packing(spark, sf_dir, 3).collect()}
    assert {s: r["n_sequences"] for s, r in sharded.items()} == {
        s: r["n_sequences"] for s, r in again.items()
    }


def test_quantile_sketch_error_merge_determinism(spark, sf_dir):
    """The MRL sketch's three contracts: (1) rank error of every
    estimated decile stays under 1% of n vs the exact ranks, (2)
    merging is partitioning-insensitive within the same envelope -
    sketches built over 2 vs 16 partitions agree with each other to
    <=2% rank distance, (3) repeated runs are byte-identical (the
    deterministic alternating-offset compaction + content-sorted
    merge order)."""
    import numpy as np

    from iceberg_daq_spark.operators.quantile_sketch import (
        MRLSketch,
        sketch_quantiles,
    )
    from iceberg_daq_spark.tables import load

    li = load(spark, sf_dir, "lineitem").select("l_extendedprice")
    vals = np.sort(np.array([r[0] for r in li.collect()], dtype=float))
    n = len(vals)
    qs = [i / 10.0 for i in range(1, 10)]

    got = {r["quantile"]: r["estimate"] for r in sketch_quantiles(li, "l_extendedprice", qs).collect()}
    assert len(got) == 9
    for q, est in got.items():
        rank = np.searchsorted(vals, est, side="right") / n
        assert abs(rank - q) <= 0.01, (q, est, rank)

    # partitioning-insensitive (merge correctness across layouts)
    got2 = {
        r["quantile"]: r["estimate"]
        for r in sketch_quantiles(li.repartition(2), "l_extendedprice", qs).collect()
    }
    got16 = {
        r["quantile"]: r["estimate"]
        for r in sketch_quantiles(li.repartition(16), "l_extendedprice", qs).collect()
    }
    for q in qs:
        r2 = np.searchsorted(vals, got2[q], side="right") / n
        r16 = np.searchsorted(vals, got16[q], side="right") / n
        assert abs(r2 - q) <= 0.02 and abs(r16 - q) <= 0.02

    # determinism: same plan re-run -> identical estimates
    rerun = {r["quantile"]: r["estimate"] for r in sketch_quantiles(li, "l_extendedprice", qs).collect()}
    assert rerun == got

    # pure-python unit: known uniform stream, exact weights bookkeeping
    s = MRLSketch(k=64)
    s.extend(np.arange(100_000, dtype=float))
    assert s.n == 100_000
    for q in qs:
        assert abs(s.quantile(q) / 100_000 - q) <= 0.02
    # merge == extend-all within the envelope
    a, b = MRLSketch(k=64), MRLSketch(k=64)
    a.extend(np.arange(0, 50_000, dtype=float))
    b.extend(np.arange(50_000, 100_000, dtype=float))
    a.merge(b)
    assert a.n == 100_000
    for q in qs:
        assert abs(a.quantile(q) / 100_000 - q) <= 0.02


def test_q252_fertility_accounting(spark, sf_dir):
    """Tokenizer-fertility audit invariants: BPE never merges across
    words, so per-source n_tokens >= n_words (a word is >= 1 token),
    fertility is exactly n_tokens/n_words, every corpus source
    appears, and doc counts add up to the corpus."""
    from iceberg_daq_spark.queries.llm import q252
    from iceberg_daq_spark.tables import load

    rows = {r["source"]: r for r in q252(spark, sf_dir).collect()}
    d = load(spark, sf_dir, "documents")
    want = {
        r["source"]: r["n"]
        for r in d.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert set(rows) == set(want)
    for src, r in rows.items():
        assert r["n_docs"] == want[src]
        assert r["n_tokens"] >= r["n_words"] > 0
        assert abs(r["fertility"] - round(r["n_tokens"] / r["n_words"], 4)) < 1e-9
        assert r["chars_per_token"] > 0


def test_q253_spectrum_matches_numpy(spark, sf_dir):
    """The distributed moment fold + per-label eigensolve must equal a
    single-node numpy computation over the collected vectors, and the
    spectral invariants must hold (effective rank <= dim, top-1 share
    in (0, 1], participation ratio in [1, dim])."""
    import numpy as np

    from iceberg_daq_spark.queries.llm import q253
    from iceberg_daq_spark.tables import load

    got = {r["label"]: r for r in q253(spark, sf_dir).collect()}
    e = load(spark, sf_dir, "embeddings").collect()
    by_label: dict = {}
    for r in e:
        by_label.setdefault(r["label"], []).append(
            np.asarray(r["embedding"], dtype=np.float64)
        )
    assert set(got) == set(by_label)
    for lab, vecs in by_label.items():
        V = np.stack(vecs)
        C = np.cov(V, rowvar=False, bias=True)
        lam = np.clip(np.linalg.eigvalsh(np.atleast_2d(C)), 0.0, None)
        tot = lam.sum()
        share = lam / tot
        nz = share[share > 0]
        eff = float(np.exp(-(nz * np.log(nz)).sum()))
        r = got[lab]
        assert r["n_vecs"] == len(vecs)
        assert abs(r["top1_var_share"] - round(float(share[-1]), 4)) <= 2e-4
        assert abs(r["effective_rank"] - round(eff, 4)) <= 2e-3
        assert abs(
            r["participation_ratio"] - round(float(tot * tot / (lam @ lam)), 4)
        ) <= 2e-3
        assert 0 < r["top1_var_share"] <= 1
        assert 0 < r["effective_rank"] <= r["dim"]
        assert 1 <= r["participation_ratio"] <= r["dim"]


def test_phash_matches_reference_formula(spark, sf_dir):
    """The vectorized pHash kernel equals a straightforward per-image
    numpy reimplementation (grayscale -> 8x8 nearest-neighbor grid ->
    orthonormal DCT-II -> median-threshold bits), and identical
    payloads hash identically."""
    import numpy as np

    from iceberg_daq_spark.operators import multimodal as mm

    d = load(spark, sf_dir, "documents").limit(40)
    blobs = mm.synth_image_blobs(d)
    got = {r["doc_id"]: r["phash"] for r in mm.phash64(blobs).collect()}
    d8 = mm._dct8()
    # orthonormality of the basis (DCT-II scaling is easy to get wrong)
    assert np.allclose(d8 @ d8.T, np.eye(8))
    for r in blobs.collect():
        doc_id, blob = r["doc_id"], bytes(r["payload"])
        import struct

        w, h, c = struct.unpack("<HHH", blob[4:10])
        px = np.frombuffer(blob, dtype=np.uint8, offset=10).reshape(h, w, c)
        gray = px.mean(axis=2, dtype=np.float64)
        yi = (np.arange(8) * h // 8)[:, None]
        xi = (np.arange(8) * w // 8)[None, :]
        g = gray[yi, xi]
        coef = np.rint((d8 @ g @ d8.T).reshape(64) * 1e6).astype(np.int64)
        bits = (coef > np.partition(coef, 31)[31]).astype(np.uint64)
        expect = int((bits << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64))
        assert got[doc_id] == np.int64(np.uint64(expect)), doc_id


def test_phash_neardup_equals_bruteforce(spark, sf_dir):
    """Banding + verification returns EXACTLY the all-pairs Hamming
    <= 3 set (pigeonhole over 4 chunks makes radius-3 recall exact;
    verification makes precision exact)."""
    import numpy as np

    from iceberg_daq_spark.operators import multimodal as mm

    d = load(spark, sf_dir, "documents")
    blobs = mm.synth_image_blobs(d)
    hashes = sorted(
        (r["doc_id"], np.uint64(np.int64(r["phash"])))
        for r in mm.phash64(blobs).collect()
    )
    expect = set()
    for i in range(len(hashes)):
        for j in range(i + 1, len(hashes)):
            dist = bin(int(hashes[i][1] ^ hashes[j][1])).count("1")
            if dist <= 3:
                expect.add((hashes[i][0], hashes[j][0], dist))
    got = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in mm.phash_neardup_pairs(blobs).collect()
    }
    assert got == expect
    assert expect, "fixture should contain at least one near-dup image pair"


def test_incremental_phash_dedup_equals_batch(spark, sf_dir, tmp_path):
    """Two image-ingest batches against a persisted pHash index
    produce EXACTLY the pairs the one-shot batch run produces
    (deterministic hashing), and the stored index holds one hash row
    per image - payloads never enter the index."""
    import numpy as np

    from iceberg_daq_spark.operators import multimodal as mm
    from iceberg_daq_spark.tablestore import MergeTable

    docs = load(spark, sf_dir, "documents")
    blobs1 = mm.synth_image_blobs(docs.filter(F.col("doc_id") % 2 == 0))
    blobs2 = mm.synth_image_blobs(docs.filter(F.col("doc_id") % 2 == 1))
    idx = MergeTable(str(tmp_path / "phash"), key_cols=("doc_id",), keep_versions=3)

    p1 = mm.incremental_phash_dedup(spark, blobs1, idx)
    p2 = mm.incremental_phash_dedup(spark, blobs2, idx)
    incremental = {(r.doc_a, r.doc_b, r.hamming) for r in p1.collect()} | {
        (r.doc_a, r.doc_b, r.hamming) for r in p2.collect()
    }

    batch = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in mm.phash_neardup_pairs(mm.synth_image_blobs(docs)).collect()
    }
    assert incremental == batch and len(batch) > 0
    stored = idx.read(spark)
    assert stored.count() == docs.count()
    assert set(stored.columns) == {"doc_id", "phash"}
    # index rows really are the hashes (spot-check one doc)
    one = stored.orderBy("doc_id").first()
    expect = mm.phash64(
        mm.synth_image_blobs(docs.filter(F.col("doc_id") == one["doc_id"]))
    ).first()
    assert np.int64(one["phash"]) == np.int64(expect["phash"])


def test_phash_pairs_refuse_unguaranteed_radius(spark, sf_dir):
    """The pHash discovery paths advertise exact recall, so a radius
    the 4-chunk banding cannot guarantee must raise, not silently
    lose pairs."""
    from iceberg_daq_spark.operators import multimodal as mm

    blobs = mm.synth_image_blobs(load(spark, sf_dir, "documents").limit(3))
    with pytest.raises(ValueError, match="exact-recall bound"):
        mm.phash_neardup_pairs(blobs, max_hamming=4)
