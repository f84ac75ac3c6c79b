"""LLM-pipeline operator tests beyond the oracle suite: LSH recall vs
brute force, multimodal plumbing (fake codec, resize, frame sampling)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from my_flink_1_10_2_spark.llm import similarity as S
from my_flink_1_10_2_spark.llm.multimodal import (
    documents_as_media,
    extract_features,
    frame_sample,
    resize,
)
from my_flink_1_10_2_spark.queries import read
from tests.conftest import SF_DIR


def test_lsh_topk_recall_vs_bruteforce(spark):
    """LSH top-k (8 OR-amplified tables) must recover most of the exact
    top-k (measured ~0.7 on this corpus)."""
    emb = read(spark, SF_DIR, "embeddings")
    queries = emb.filter("vec_id < 10")
    exact = S.cosine_topk_bruteforce(emb, queries, k=5)
    approx = S.cosine_topk_lsh(emb, queries, dim=64, k=5, num_planes=4)
    exact_set = {(r.query_id, r.vec_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.vec_id) for r in approx.collect()}
    assert exact_set, "brute force returned nothing"
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"LSH recall collapsed: {recall:.2f}"
    # every approx hit must be a genuine neighbor pair (no fabrications)
    assert all(q != v for q, v in approx_set)


def test_int_ann_variants_recall_vs_bruteforce(spark):
    """The integer-unit (oracle-gradeable) LSH and IVF index variants
    must stay real ANN indexes: most of the exact top-k recovered."""
    emb = read(spark, SF_DIR, "embeddings")
    queries = emb.filter("vec_id < 10")
    exact = {(r.query_id, r.vec_id)
             for r in S.cosine_topk_bruteforce(emb, queries, k=5).collect()}
    assert exact
    lsh = {(r.query_id, r.vec_id)
           for r in S.cosine_topk_lsh_int(emb, queries, dim=64, k=5,
                                          num_planes=4).collect()}
    ivf = {(r.query_id, r.vec_id)
           for r in S.cosine_topk_ivf_int(emb, queries, k=5, n_centroids=16,
                                          n_probe=4).collect()}
    assert len(exact & lsh) / len(exact) >= 0.5, "int-LSH recall collapsed"
    assert len(exact & ivf) / len(exact) >= 0.5, "int-IVF recall collapsed"
    assert all(q != v for q, v in lsh | ivf)


def test_bruteforce_rejects_oversized_query_set(spark):
    """The broadcast (query) side is small BY CONTRACT — an oversized
    query set must fail loudly before toPandas, not OOM the driver."""
    emb = read(spark, SF_DIR, "embeddings")
    queries = emb.filter("vec_id < 10")
    key = "spark.graft.ann.queryBroadcastThreshold"
    spark.conf.set(key, "64b")
    try:
        with pytest.raises(ValueError, match="exceeds the broadcast cap"):
            S.cosine_topk_bruteforce(emb, queries, k=5)
    finally:
        spark.conf.unset(key)


def test_fake_decode_deterministic(spark):
    media = documents_as_media(read(spark, SF_DIR, "documents")).limit(20)
    a = {r.media_id: tuple(r.features) for r in extract_features(media).collect()}
    b = {r.media_id: tuple(r.features) for r in extract_features(media).collect()}
    assert a == b
    assert all(len(v) == 8 for v in a.values())


def test_real_codec_path_gates_and_decodes(spark):
    """fake=False: non-PNG mimes stay loudly gated; PNG payloads that
    aren't actually PNGs fail with a codec error (not silent garbage)."""
    media = documents_as_media(read(spark, SF_DIR, "documents"))
    video = media.limit(1).withColumn("mime", F.lit("video/mp4"))
    with pytest.raises(Exception, match="NotImplementedError|not available"):
        extract_features(video, fake=False).collect()
    with pytest.raises(Exception, match="not a PNG"):
        # mime says PNG but the payload is utf-8 text → loud codec error
        extract_features(media.filter("mime = 'image/png'").limit(1), fake=False).collect()
    with pytest.raises(Exception, match="not a WAV"):
        extract_features(media.filter("mime = 'audio/wav'").limit(1), fake=False).collect()
    with pytest.raises(NotImplementedError):
        resize(media, fake=False)


def test_resize_contract(spark):
    media = documents_as_media(read(spark, SF_DIR, "documents"))
    out = resize(media, target_bytes=128)
    assert out.columns == media.columns  # schema preserved
    rows = out.select("n_bytes").distinct().collect()
    assert rows == [out.sparkSession.createDataFrame([(128,)], "n_bytes long").collect()[0]]
    # JVM-only: no Python eval in the plan
    from my_flink_1_10_2_spark.plans import python_eval_count

    assert python_eval_count(out) == 0


def test_frame_sample_shapes(spark):
    media = documents_as_media(read(spark, SF_DIR, "documents"))
    frames = frame_sample(media, every_n_bytes=32, max_frames=3)
    pdf = frames.limit(200).toPandas()
    assert set(pdf.columns) == {"media_id", "mime", "frame_idx", "frame_bytes"}
    assert pdf["frame_idx"].between(0, 2).all()
    assert (pdf["frame_bytes"].map(len) <= 32).all()


def test_ivf_topk_recall_vs_bruteforce(spark):
    """IVF (16 centroids, probe 4) must recover most of the exact top-k
    while scanning ~1/4 of the corpus per query."""
    emb = read(spark, SF_DIR, "embeddings")
    queries = emb.filter("vec_id < 10")
    exact = {(r.query_id, r.vec_id)
             for r in S.cosine_topk_bruteforce(emb, queries, k=5).collect()}
    approx = {(r.query_id, r.vec_id)
              for r in S.cosine_topk_ivf(emb, queries, k=5, n_centroids=16, n_probe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall collapsed: {recall:.2f}"


def test_kmeans_centroids_deterministic(spark):
    emb = read(spark, SF_DIR, "embeddings")
    a = S.kmeans_centroids(emb, k=4, iterations=2)
    b = S.kmeans_centroids(emb, k=4, iterations=2)
    assert [c for c, _ in a] == [0, 1, 2, 3]
    for (_, va), (_, vb) in zip(a, b):
        assert va == vb


def test_line_dedup_operator(spark):
    """llm/lines.py::line_dedup — corpus-wide boilerplate removal with
    order-preserving reassembly; plan stays hash-shuffle only (no global
    window, no collect)."""
    from my_flink_1_10_2_spark.llm.lines import explode_lines, line_dedup

    docs = spark.createDataFrame(
        [
            (1, "nav\nunique one\nfooter"),
            (2, "nav\nunique two\nfooter"),
            (3, "nav\nunique three\nfooter\nextra"),
        ],
        "doc_id int, text string",
    )
    out = {r.doc_id: (r.text, r.n_lines_kept, r.n_lines_dropped)
           for r in line_dedup(docs).collect()}
    assert out == {
        1: ("unique one", 1, 2),
        2: ("unique two", 1, 2),
        3: ("unique three\nextra", 2, 2),
    }
    # keep-threshold 3 keeps everything
    all_kept = {r.doc_id: r.n_lines_dropped
                for r in line_dedup(docs, max_occurrences=3).collect()}
    assert all_kept == {1: 0, 2: 0, 3: 0}
    # position preservation survives unordered input
    lines = explode_lines(docs)
    assert lines.where("doc_id = 3").count() == 4
    plan = line_dedup(docs)._jdf.queryExecution().executedPlan().toString()
    assert "CollectLimit" not in plan
    assert "Window" not in plan  # reassembly is a grouped agg, not a window


def test_chunk_documents_overlap_and_coverage(spark):
    """Every token appears in >=1 chunk; consecutive chunks overlap by
    exactly `overlap` tokens; short docs yield one chunk."""
    from my_flink_1_10_2_spark.llm.chunking import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b"), (3, "only")],
        "doc_id bigint, text string",
    )
    out = chunk_documents(docs, chunk_tokens=4, overlap=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: 10 tokens, stride 2 -> ceil((10-2)/2)=4 chunks
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert len(c1) == 4 and all(r["n_chunks"] == 4 for r in c1)
    assert c1[0]["chunk_text"] == "t0 t1 t2 t3"
    assert c1[1]["chunk_text"] == "t2 t3 t4 t5"
    assert c1[3]["chunk_text"] == "t6 t7 t8 t9"
    # all 10 tokens covered
    covered = set(t for r in c1 for t in r["chunk_text"].split())
    assert covered == {f"t{i}" for i in range(10)}
    # short docs: single chunk, full text
    assert by_doc[2][0]["chunk_text"] == "a b" and by_doc[2][0]["n_chunks"] == 1
    assert by_doc[3][0]["chunk_len"] == 1


def test_chunk_documents_no_shuffle_no_python(spark):
    from my_flink_1_10_2_spark.llm.chunking import chunk_documents
    from my_flink_1_10_2_spark import plans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    df = chunk_documents(docs)
    txt = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in txt, "chunking must be map-only"
    assert plans.python_eval_count(df) == 0


def test_fim_split_partitions_reassemble(spark):
    """prefix+middle+suffix re-concatenates to the token stream, cut
    points respect 0 <= p1 <= p2 <= n, and the split is deterministic."""
    from my_flink_1_10_2_spark.llm.chunking import fim_split

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(3 + i))) for i in range(12)],
        "doc_id bigint, text string",
    )
    rows = fim_split(docs).collect()
    assert len(rows) == 12
    for r in rows:
        assert 0 <= r["p1"] <= r["p2"] <= r["n_tokens"]
        joined = " ".join(x for x in (r["prefix"], r["middle"], r["suffix"]) if x)
        assert joined == " ".join(f"w{j}" for j in range(r["n_tokens"]))
    again = fim_split(docs).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_bpe_train_and_segment_textbook(spark):
    """Sennrich-style corpus: 'low/lower/newest...' must learn the
    classic merges in frequency-then-lexicographic order, and segment
    unseen words with the learned rules."""
    from my_flink_1_10_2_spark.llm.bpe import bpe_segment, train_bpe

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low newer new newest"),
         (2, "low newer wider wide")],
        "doc_id int, text string",
    )
    m = train_bpe(docs, num_merges=4)
    rows = [(r.step, r.l_sym, r.r_sym, r.merged, r.pair_count) for r in m.collect()]
    assert rows == [
        (1, "l", "o", "lo", 6),
        (2, "lo", "w", "low", 6),
        (3, "e", "r", "er", 4),
        (4, "e", "w", "ew", 4),
    ]
    rules = [(r.l_sym, r.r_sym) for r in m.collect()]
    seg = {
        r.word: list(r.pieces)
        for r in bpe_segment(
            spark.createDataFrame([("lowest",), ("slow",)], "word string"),
            "word",
            rules,
        ).collect()
    }
    assert seg["lowest"] == ["low", "e", "s", "t", "</w>"]
    assert seg["slow"] == ["s", "low", "</w>"]


def test_train_bpe_releases_its_checkpoints(spark):
    """train_bpe's per-merge word-table checkpoints are all released by
    the time it returns — also when the corpus runs out of pairs before
    ``num_merges``."""
    from my_flink_1_10_2_spark.llm.bpe import train_bpe

    sc = spark.sparkContext
    docs = spark.createDataFrame(
        [(1, "low lower lowest newer"), (2, "ab ab")], "doc_id int, text string"
    )
    for num_merges in (3, 40):
        before = len(sc._jsc.getPersistentRDDs())
        merges = train_bpe(docs, num_merges=num_merges).collect()
        assert 0 < len(merges) <= num_merges
        assert len(sc._jsc.getPersistentRDDs()) == before


def test_semantic_neardup_ivf_recall_and_exactness(spark):
    """IVF-blocked near-dup must (a) only emit genuine >=threshold
    pairs, (b) recover a decent share of the exact all-pairs result,
    (c) never emit a cross-bucket pair."""
    from my_flink_1_10_2_spark.llm.dedup import semantic_neardup_pairs_ivf
    from my_flink_1_10_2_spark.queries.graph import neardup_pairs

    emb = read(spark, SF_DIR, "embeddings")
    th = 0.35
    exact = {(r.src, r.dst) for r in neardup_pairs(emb, threshold=th).collect()}
    blocked = semantic_neardup_pairs_ivf(emb, threshold=th, n_centroids=8).collect()
    got = {(r.src, r.dst) for r in blocked}
    assert got, "blocked near-dup found nothing"
    assert got <= exact, "blocked path emitted a below-threshold pair"
    assert len(got) / len(exact) >= 0.1, "IVF blocking recall collapsed"
    assert all(r.cosine >= th for r in blocked)
