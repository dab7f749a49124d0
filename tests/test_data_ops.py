"""Oracle-equivalence tests for the training-data operators (dedup,
similarity, text analysis, multimodal metadata) and relational coverage
queries — the same comparison the driver runs, at sf0.001."""

from __future__ import annotations

import pytest

from tests.util import assert_df_equals_sql, plan_text

import __spark_entry__ as entrymod
from mongo_log_parser_spark.contracts.data_queries import DATA_QUERIES

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def data_oracles():
    from mongo_log_parser_spark.contracts import data_oracle

    return data_oracle.oracles(0.001)


@pytest.mark.parametrize("name", sorted(DATA_QUERIES.keys()))
def test_data_query_matches_oracle(spark, duck, data_oracles, name):
    sdf = DATA_QUERIES[name](spark, SF_DIR)
    assert_df_equals_sql(sdf, duck, data_oracles[name], name)


def test_ivf_refine_deterministic_and_improving(spark):
    """Lloyd refinement of the IVF quantizer: deterministic (rounded-6dp
    centroids) and the mean assigned-centroid cosine does not degrade."""
    from mongo_log_parser_spark.operators import similarity

    vecs = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    c1, h1 = similarity.ivf_refine(vecs, iters=2)
    c2, h2 = similarity.ivf_refine(vecs, iters=2)
    assert (c1 == c2).all()
    assert h1 == h2
    assert len(h1) == 2
    # h[0] = cost under seed centroids, h[1] = after one Lloyd update
    assert h1[1] >= h1[0] - 1e-6


def test_media_meta_pandas_stage(spark):
    """The mapInPandas media stage: deterministic fake decode, stable schema."""
    from mongo_log_parser_spark.functions.media import decode_media, extract_media_meta
    from mongo_log_parser_spark.plans import pipeline

    pages = pipeline.read_pages(spark, sf=0.001).limit(50)
    meta = extract_media_meta(pages)
    rows = meta.collect()
    assert len(rows) == 50
    assert all(r["n_bytes"] > 0 and len(r["sha256"]) == 64 for r in rows)
    assert all(r["media_kind"] in ("image", "audio", "video") for r in rows)
    # decode stub contract: clearly marked NotImplementedError
    with pytest.raises(NotImplementedError):
        decode_media(b"\x89PNG")


def test_sniff_decode_real_headers():
    """sniff_decode parses REAL container bytes (PNG IHDR, JPEG SOF0 marker
    scan past APP0/COM segments, GIF logical screen); unknown/truncated
    containers fall back to the documented fake_decode stub."""
    from mongo_log_parser_spark.functions.media import fake_decode, sniff_decode
    from mongo_log_parser_spark.sources import datagen

    for i in range(64):
        w, h = 16 + (i * 7) % 113, 16 + (i * 13) % 97
        for maker, kind in ((datagen._png_bytes, "png"),
                            (datagen._jpeg_bytes, "jpeg"),
                            (datagen._gif_bytes, "gif")):
            m = sniff_decode(maker(w, h, i))
            assert (m["media_kind"], m["width"], m["height"]) == (kind, w, h)
            assert m["frames"] == 1 and len(m["sha256"]) == 64
    # malformed: truncated PNG sig, JPEG with EOI before SOF, garbage — all
    # must fall through to fake_decode, never raise
    for b in (b"\x89PNG\r\n", b"\xff\xd8\xff\xd9", b"GIF89a\x01",
              b"", b"\x00" * 64):
        assert sniff_decode(b) == fake_decode(b)


def test_sniff_decode_jpeg_marker_edge_cases():
    """Real-world JPEG streams: fill bytes (0xFF padding) before markers and
    length-less standalone markers (TEM 0x01, RST0-7 0xD0-0xD7) carry no
    length field — the scanner must skip them instead of reading a bogus
    big-endian 'length' out of image data; SOS before any SOF stops the scan;
    PNG dims past int32 fall back rather than overflowing the Arrow schema."""
    import struct

    from mongo_log_parser_spark.functions.media import fake_decode, sniff_decode

    sof = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", 31, 47) + b"\x03" + b"\x00" * 9
    # SOI, fill-byte run, TEM, RST3, then SOF0 — the pre-fix scanner read a
    # fake length from TEM's neighbors and jumped into the weeds
    jpeg = b"\xff\xd8" + b"\xff" * 5 + b"\xc0"[:0] + b"\xff\x01" + b"\xff\xd3" + sof
    m = sniff_decode(jpeg)
    assert (m["media_kind"], m["width"], m["height"]) == ("jpeg", 47, 31)
    # fill bytes directly before SOF
    m2 = sniff_decode(b"\xff\xd8" + b"\xff\xff\xff" + b"\xc0" + sof[2:])
    assert (m2["media_kind"], m2["width"], m2["height"]) == ("jpeg", 47, 31)
    # SOS before any SOF → no dims, fake_decode fallback (no scan into entropy data)
    sos = b"\xff\xd8\xff\xda" + struct.pack(">H", 4) + b"\x01\x00" + b"\xff\x00" * 8
    assert sniff_decode(sos) == fake_decode(sos)
    # zero/short segment length must not loop forever
    assert sniff_decode(b"\xff\xd8\xff\xe0\x00\x00AAAA") == fake_decode(b"\xff\xd8\xff\xe0\x00\x00AAAA")
    # PNG with u32 dims beyond int32
    png = b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x0dIHDR" + struct.pack(">II", 0x80000001, 10) + b"\x00" * 5
    assert sniff_decode(png) == fake_decode(png)


def test_media_resize_stage(spark):
    """Binary-in → binary-out resize/frame-sample stage (deterministic fake
    resample; real deployments swap in PIL/ffmpeg at the marked line)."""
    from mongo_log_parser_spark.functions.media import fake_decode, resize_media
    from mongo_log_parser_spark.plans import pipeline

    pages = pipeline.read_pages(spark, sf=0.001).limit(50)
    out = resize_media(pages, target_w=8, target_h=8)
    rows = out.collect()
    assert len(rows) == 50
    for r in rows:
        if r["media_kind"] == "audio":
            assert r["out_width"] is None and r["out_height"] is None
            assert len(r["resized"]) <= 64
        else:
            assert 1 <= r["out_width"] <= 8 and 1 <= r["out_height"] <= 8
            assert 1 <= len(r["resized"]) <= r["out_width"] * r["out_height"]
    # deterministic: same input bytes → same resized bytes
    again = {r["url"]: bytes(r["resized"]) for r in out.collect()}
    assert all(bytes(r["resized"]) == again[r["url"]] for r in rows)


def test_ann_buckets_plan_shuffle_free(spark):
    """The Arrow hyperplane-matmul bucket stage is a narrow map: no Exchange
    anywhere in the plan (the old posexplode×explode formulation shuffled
    n·dims·planes rows through a groupBy)."""
    from mongo_log_parser_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = similarity.ann_lsh_buckets(emb)
    plan = plan_text(df)
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan or "PythonUDF" in plan


def test_ivf_assign_plan_shuffle_free(spark):
    """IVF assignment is one mapInPandas against the broadcast centroid
    matrix: no Exchange anywhere in the plan (the crossJoin+window
    formulation lives only in the DuckDB oracle)."""
    from mongo_log_parser_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = similarity.ivf_assign(emb)
    plan = plan_text(df)
    assert "Exchange" not in plan
    assert "MapInPandas" in plan or "PythonUDF" in plan


def test_ivf_recall_realistic_params(spark):
    """IVF at production-shaped parameters (n_lists=32, 64-dim, nprobe=2) on
    planted-cluster data: queries must recover their brute-force top-k
    neighbors through the probed lists. Ids 0..31 are one seed per cluster
    (the deterministic seed-centroid rule), the rest are in-cluster
    perturbations — recall of in-cluster neighbors must be ≥0.9. The
    oracle-checked contract queries stay at the cheap 16/2 defaults."""
    import numpy as np

    from mongo_log_parser_spark.operators import similarity

    rng = np.random.default_rng(42)
    n_lists, per, dims = 32, 12, 64
    centers = rng.normal(size=(n_lists, dims))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    # ids 0..31: the cluster centers themselves (seed-centroid rule);
    # remaining ids: center + small noise, cluster-major order
    for c in range(n_lists):
        rows.append((c, centers[c].astype(np.float32).tolist()))
    nid = n_lists
    for c in range(n_lists):
        for _ in range(per):
            v = centers[c] + 0.05 * rng.normal(size=dims)
            rows.append((nid, (v / np.linalg.norm(v)).astype(np.float32).tolist()))
            nid += 1
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    n_queries, k = 10, 5
    exact = {(r["query_id"], r["neighbor_id"])
             for r in similarity.cosine_topk(vecs, n_queries=n_queries, k=k).collect()}
    approx = {(r["query_id"], r["neighbor_id"])
              for r in similarity.ivf_topk(vecs, n_queries=n_queries, k=k,
                                           nprobe=2, n_lists=n_lists).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.9, f"IVF recall {recall:.2f} < 0.9"


def test_minhash_realistic_params(spark):
    """Band math at production scale (128 permutations, 32 bands, r=4):
    signature width, divisibility guard, and the LSH recall property — every
    constructed near-duplicate pair (one token dropped → Jaccard >> knee 0.42)
    must be a candidate. Runs on a 40-doc subset; the oracle-checked contract
    stays at the cheap 8/4 defaults."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from mongo_log_parser_spark.operators import dedup

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text").filter(F.length("text") > 120).limit(20)
    )
    # near-dup twin: drop the first token (high Jaccard on 3-gram shingles)
    twins = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", r"^\S+\s+", "").alias("text"),
    )
    corpus = docs.unionByName(twins)

    sig = dedup.minhash_signatures(corpus, n_minhashes=128)
    assert len([c for c in sig.columns if c.startswith("h")]) == 128
    with _pytest.raises(ValueError):
        dedup.lsh_bands(corpus, n_minhashes=128, n_bands=7)

    cand = {(r["id_a"], r["id_b"])
            for r in dedup.lsh_candidates(corpus, n_minhashes=128, n_bands=32).collect()}
    expected = {(r["doc_id"], r["doc_id"] + 100000) for r in docs.collect()}
    missing = expected - cand
    assert not missing, f"near-dup twins missed by 128/32 LSH: {missing}"


def test_lsh_candidates_superset_of_neardups(spark):
    """Every verified near-dup pair must come from the candidate set."""
    from mongo_log_parser_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    cand = {(r["id_a"], r["id_b"]) for r in dedup.lsh_candidates(docs).collect()}
    near = {(r["id_a"], r["id_b"]) for r in dedup.neardup_pairs(docs, threshold=0.0).collect()}
    assert near <= cand


def test_simhash_multitable_recall(spark):
    """Multi-table SimHash blocking vs exact all-pairs Hamming (ground truth
    computed in pure Python over every doc pair at sf0.001):
    (a) the single-prefix pair set is a STRICT subset of the multitable set,
    (b) the multitable set has no false positives (Hamming verify is exact),
    (c) pigeonhole guarantee holds — every pair within Hamming n_tables-1 = 3
        is found, and
    (d) recall against ground truth strictly improves."""
    from mongo_log_parser_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sigs = {r["doc_id"]: dedup.simhash64(r["text"])
            for r in docs.select("doc_id", "text").collect()}
    ids = sorted(sigs)

    def ham(a, b):
        return sum(1 for x, y in zip(sigs[a], sigs[b]) if x != y)

    exact = {(a, b): ham(a, b)
             for i, a in enumerate(ids) for b in ids[i + 1:] if ham(a, b) <= 16}
    single = {(r["id_a"], r["id_b"]) for r in dedup.simhash_neardup_pairs(docs).collect()}
    multi = {(r["id_a"], r["id_b"]) for r in dedup.simhash_multitable_pairs(docs).collect()}
    assert single < multi, "multitable must strictly dominate the single prefix"
    assert multi <= set(exact), "Hamming verify must not admit false positives"
    tight = {p for p, h in exact.items() if h <= 3}
    assert tight <= multi, "pigeonhole: hamming<=3 pairs must always collide in one block"
    assert len(multi) > len(single), "strictly more verified pairs (recall gain)"


def test_cosine_topk_bruteforce_sanity(spark):
    from mongo_log_parser_spark.operators import similarity

    vecs = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = similarity.cosine_topk(vecs, n_queries=3, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for q, rows in by_q.items():
        assert len(rows) == 5
        scores = [r["cosine"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert scores == sorted(scores, reverse=True)
        assert all(r["neighbor_id"] != q for r in rows)


def test_connected_components_topologies(spark):
    """Min-label propagation must converge past diameter-1 graphs: a 6-node
    chain (diameter 5, forces multiple propagation rounds), a star, a
    separate 2-cycle component, and a singleton-free edge list."""
    from mongo_log_parser_spark.operators import dedup

    # chain 10-11-12-13-14-15, star 20-(21,22,23), pair 30-31; shuffled order
    edges = [(13, 14), (11, 10), (12, 13), (15, 14), (11, 12),
             (23, 20), (20, 21), (22, 20), (31, 30)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["node"]: r["rep_id"] for r in dedup.connected_components(pairs).collect()}
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10,
                   20: 20, 21: 20, 22: 20, 23: 20, 30: 30, 31: 30}


def test_connected_components_unconverged_raises(spark):
    """A component whose diameter exceeds the round budget must raise, not
    silently return split clusters (min-label propagation moves the component
    minimum one hop per round, so a 6-edge chain cannot finish in 2)."""
    import pytest

    from mongo_log_parser_spark.operators import dedup

    chain = [(i, i + 1) for i in range(10, 16)]
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iters=2)


def test_connected_components_star_topologies(spark):
    """Star contraction must produce the identical (node, rep_id) mapping as
    min-label propagation on the mixed-topology graph."""
    from mongo_log_parser_spark.operators import dedup

    edges = [(13, 14), (11, 10), (12, 13), (15, 14), (11, 12),
             (23, 20), (20, 21), (22, 20), (31, 30)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["node"]: r["rep_id"]
           for r in dedup.connected_components_star(pairs).collect()}
    assert got == {10: 10, 11: 10, 12: 10, 13: 10, 14: 10, 15: 10,
                   20: 20, 21: 20, 22: 20, 23: 20, 30: 30, 31: 30}


def test_connected_components_star_deep_chain(spark):
    """The adversarial-diameter case the propagation variant raises on: a
    64-node chain (diameter 63) converges in O(log n) star alternations —
    well inside a budget of 12 — with the correct single component, and a
    random graph (fixed seed) yields the same labels as the propagation
    variant run with a diameter-sized budget."""
    import random

    from mongo_log_parser_spark.operators import dedup

    chain = [(i, i + 1) for i in range(100, 163)]
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    got = {r["node"]: r["rep_id"]
           for r in dedup.connected_components_star(pairs, max_iters=12).collect()}
    assert got == {i: 100 for i in range(100, 164)}

    rng = random.Random(7)
    rand_edges = list({(rng.randrange(0, 60), rng.randrange(0, 60))
                       for _ in range(45) if True})
    rand_edges = [(a, b) for a, b in rand_edges if a != b]
    rp = spark.createDataFrame(rand_edges, ["id_a", "id_b"])
    star = {r["node"]: r["rep_id"]
            for r in dedup.connected_components_star(rp).collect()}
    prop = {r["node"]: r["rep_id"]
            for r in dedup.connected_components(rp, max_iters=60).collect()}
    assert star == prop


def test_connected_components_star_keeps_selfloop_only_nodes(spark):
    """Contract parity with the propagation variant: a node whose only pair
    is a self-loop must still appear as its own representative (the star
    variant derives its node set BEFORE dropping self-loop edges)."""
    from mongo_log_parser_spark.operators import dedup

    pairs = spark.createDataFrame([(1, 1), (10, 11)], ["id_a", "id_b"])
    star = {r["node"]: r["rep_id"]
            for r in dedup.connected_components_star(pairs).collect()}
    prop = {r["node"]: r["rep_id"]
            for r in dedup.connected_components(pairs).collect()}
    assert star == prop == {1: 1, 10: 10, 11: 10}


def test_cluster_labels_falls_back_to_star_on_deep_chain(spark):
    """The production dispatch: a chain whose diameter exceeds the propagation
    budget must NOT raise — cluster_labels retries via star contraction and
    returns the correct single component."""
    from mongo_log_parser_spark.operators import dedup

    chain = [(i, i + 1) for i in range(200, 230)]
    pairs = spark.createDataFrame(chain, ["id_a", "id_b"])
    got = {r["node"]: r["rep_id"]
           for r in dedup.cluster_labels(pairs, max_iters=3).collect()}
    assert got == {i: 200 for i in range(200, 231)}


def test_neardup_clusters_consistent_with_pairs(spark):
    """Every verified pair's two endpoints must land in the same cluster,
    keeper = min doc_id of the cluster, sizes sum to the member count."""
    from mongo_log_parser_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = dedup.neardup_pairs(docs).select("id_a", "id_b").collect()
    cl = dedup.neardup_clusters(docs).collect()
    rep = {r["doc_id"]: r["rep_id"] for r in cl}
    for p in pairs:
        assert rep[p["id_a"]] == rep[p["id_b"]]
    members: dict[int, list[int]] = {}
    for r in cl:
        members.setdefault(r["rep_id"], []).append(r["doc_id"])
    for r in cl:
        assert r["cluster_size"] == len(members[r["rep_id"]])
        assert r["keeper"] == (r["doc_id"] == min(members[r["rep_id"]]))
        assert r["rep_id"] == min(members[r["rep_id"]])
