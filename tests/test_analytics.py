"""Analytics operator properties: LSH recall vs brute force, simhash
similarity locality, minhash-jaccard correlation, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF0001


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF0001}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF0001}/embeddings.parquet")


def test_lsh_pairs_have_high_jaccard(spark, docs):
    """LSH candidates must be enriched for genuinely similar docs
    relative to random pairs."""
    from pdf_parser_spark.analytics import dedup

    pairs = dedup.lsh_candidate_pairs(docs).toPandas()
    if len(pairs):
        # banding with 2 rows/band surfaces pairs sharing 2 consecutive
        # minhashes; their exact jaccard must be positive
        assert (pairs.jaccard > 0).all()


def test_lsh_finds_planted_near_duplicates(spark):
    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again"
    for i in range(20):
        rows.append((i, f"unrelated document number {i} with its own "
                        f"completely different words {i * 7}"))
    rows.append((100, base))
    rows.append((101, base + " extra"))          # near-dup of 100
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from pdf_parser_spark.analytics import dedup

    pairs = dedup.lsh_candidate_pairs(df).toPandas()
    assert ((pairs.doc_a == 100) & (pairs.doc_b == 101)).any()
    planted = pairs[(pairs.doc_a == 100) & (pairs.doc_b == 101)]
    assert (planted.jaccard > 0.5).all()


def test_simhash_locality(spark):
    """Near-identical docs get near-identical simhash (small hamming)."""
    from pdf_parser_spark.analytics import dedup

    base = " ".join(f"word{i}" for i in range(50))
    df = spark.createDataFrame(
        [(1, base), (2, base + " tail"), (3, "entirely different "
          + " ".join(f"other{i}" for i in range(50)))],
        "doc_id long, text string")
    r = {row.doc_id: row.simhash
         for row in dedup.simhash(df).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(r[1], r[2]) < ham(r[1], r[3])


def test_ann_lsh_recall_on_clustered_data(spark):
    """On clustered embeddings (the structure real corpora have) the
    sign-LSH path must recover nearly all true neighbors while pruning
    most of the corpus."""
    import numpy as np

    from pdf_parser_spark.analytics import similarity

    rng = np.random.RandomState(42)
    centers = rng.randn(10, 64)
    rows = []
    for i in range(400):
        c = centers[i % 10]
        v = c + 0.15 * rng.randn(64)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = similarity.make_queries(df, n=5)
    brute = similarity.brute_force_topk(df, q, k=10).toPandas()
    approx = similarity.lsh_topk(df, q, dim=64, k=10,
                                 hamming_budget=2).toPandas()
    recalls = []
    for qid in brute.q_id.unique():
        b = set(brute[brute.q_id == qid].neighbor_id)
        a = set(approx[approx.q_id == qid].neighbor_id)
        recalls.append(len(a & b) / len(b))
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_ann_lsh_runs_on_random_data(spark, emb):
    """Random near-orthogonal vectors are LSH's worst case; the operator
    must still return k ranked rows per query (graceful recall, not
    failure)."""
    from pdf_parser_spark.analytics import similarity

    q = similarity.make_queries(emb, n=5)
    approx = similarity.lsh_topk(emb, q, dim=64, k=10,
                                 hamming_budget=3).toPandas()
    assert set(approx.groupby("q_id").size()) == {10}


def test_brute_topk_is_exact(spark, emb):
    """Cross-check the Spark plan against a local numpy ground truth."""
    import numpy as np

    from pdf_parser_spark.analytics import similarity

    q = similarity.make_queries(emb, n=2)
    got = similarity.brute_force_topk(emb, q, k=5).toPandas()
    pdf = emb.toPandas()
    M = np.stack([np.asarray(e, dtype="float64") for e in pdf.embedding])
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    ids = pdf.vec_id.values
    for qid in (0, 1):
        qv = M[ids == qid][0]
        sims = M @ qv
        order = [int(ids[i]) for i in np.argsort(-sims)
                 if ids[i] != qid][:5]
        mine = list(got[got.q_id == qid].sort_values("rank").neighbor_id)
        assert mine == order


def test_media_features_shape(spark):
    from pdf_parser_spark.analytics import multimodal
    from pdf_parser_spark.engine import source

    pages = source.pages_table(spark, SF0001)
    media = multimodal.media_table_from_pages(pages)
    feats = multimodal.extract_features(media)
    r = feats.limit(5).collect()
    assert all(len(row.features) == multimodal.N_FEATURES for row in r)
    s = feats.agg(F.min(F.col("n_bytes"))).collect()[0][0]
    assert s > 0
    # features are L1-normalized
    total = feats.select(
        F.aggregate("features", F.lit(0.0),
                    lambda a, x: a + x.cast("double")).alias("s")
    ).agg(F.max(F.abs(F.col("s") - 1.0))).collect()[0][0]
    assert total < 1e-3


def _make_bmp(w: int, h: int) -> bytes:
    from pdf_parser_spark.analytics.multimodal import make_bmp

    return make_bmp(w, h)


def _make_wav(seconds: float) -> bytes:
    from pdf_parser_spark.analytics.multimodal import make_wav

    return make_wav(int(seconds * 1000))


def test_decode_real_header_formats():
    """Header-only formats decode from real bytes; compressed codecs
    still raise (r2 verdict item 6)."""
    from pdf_parser_spark.analytics import multimodal as M

    d = M.decode_real(_make_bmp(17, 9))
    assert (d["format"], d["width"], d["height"]) == ("bmp", 17, 9)
    # top-down BMP stores negative height
    neg = bytearray(_make_bmp(4, 2))
    neg[22:26] = (-2).to_bytes(4, "little", signed=True)
    assert M.decode_real(bytes(neg))["height"] == 2

    d = M.decode_real(_make_wav(1.5))
    assert d["format"] == "wav" and d["duration_ms"] == 1500

    ppm = b"P6\n# a comment\n640 480\n255\n" + bytes(10)
    d = M.decode_real(ppm)
    assert (d["format"], d["width"], d["height"]) == ("pnm", 640, 480)

    png = (b"\x89PNG\r\n\x1a\n" + bytes(8)
           + (320).to_bytes(4, "big") + (200).to_bytes(4, "big"))
    d = M.decode_real(png)
    assert (d["format"], d["width"], d["height"]) == ("png", 320, 200)

    gif = b"GIF89a" + (12).to_bytes(2, "little") + (34).to_bytes(2, "little")
    d = M.decode_real(gif)
    assert (d["format"], d["width"], d["height"]) == ("gif", 12, 34)

    with pytest.raises(NotImplementedError):       # corrupt JPEG segment
        M.decode_real(b"\xff\xd8\xff\xe0" + bytes(64))
    with pytest.raises(NotImplementedError):       # truncated PNM
        M.decode_real(b"P6\n# nothing else")


def test_decode_real_jpeg_sof_walk():
    """JPEG dimensions come from the SOFn marker walk (r3 verdict item
    3): baseline SOF0, progressive SOF2, EXIF APP1 before the SOF, and
    degradation for truncation / DNL-deferred height / desynced
    streams."""
    from pdf_parser_spark.analytics import multimodal as M

    d = M.decode_real(M.make_jpeg(101, 49))
    assert (d["format"], d["width"], d["height"]) == ("jpeg", 101, 49)
    d = M.decode_real(M.make_jpeg(7, 3, progressive=True))
    assert (d["format"], d["width"], d["height"]) == ("jpeg", 7, 3)
    # EXIF-style APP1 inserted before everything: SOF is not at a
    # fixed offset, the walk must skip segments by their length fields
    j = M.make_jpeg(640, 480)
    app1 = b"\xff\xe1" + (10).to_bytes(2, "big") + b"Exif\x00\x00\x00\x00"
    assert M.decode_real(j[:2] + app1 + j[2:])["width"] == 640
    # truncated before the SOF degrades
    with pytest.raises(NotImplementedError):
        M.decode_real(M.make_jpeg(7, 3)[:20])
    # height 0 = deferred to DNL (needs the scan): degrade
    with pytest.raises(NotImplementedError):
        M.decode_real(M.make_jpeg(10, 0))
    # non-FF byte where a marker must start: desynced stream degrades
    with pytest.raises(NotImplementedError):
        M.decode_real(b"\xff\xd8\xff" + b"\x00" * 8)


def test_decode_media_spark(spark):
    """Spark-side decode: values come from payload bytes, undecodable
    payloads degrade to format='opaque' (no executor crash)."""
    from pdf_parser_spark.analytics import multimodal as M

    rows = [(1, "image", _make_bmp(8, 4)),
            (2, "audio", _make_wav(0.25)),
            (3, "video", b"\x00\x00\x00\x18ftypmp42" + bytes(32))]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary")
    got = {r.media_id: r for r in M.decode_media(media).collect()}
    assert (got[1].format, got[1].width, got[1].height) == ("bmp", 8, 4)
    assert (got[2].format, got[2].duration_ms) == ("wav", 250)
    assert got[3].format == "opaque" and got[3].width is None


def test_bpe_merge_loop_algorithm(monkeypatch):
    """The greedy merge loop on a handcrafted ranks table: rank order
    wins over position, leftmost occurrence merges first, unknown pairs
    never merge (char-level = no OOV)."""
    from pdf_parser_spark.analytics import bpe

    monkeypatch.setattr(bpe, "_ranks",
                        lambda: {("a", "b"): 0, ("ab", "c"): 1,
                                 ("b", "c"): 2})
    bpe.encode_word.cache_clear()
    try:
        assert bpe.encode_word("abc") == ("abc",)       # ab first, then abc
        assert bpe.encode_word("aab") == ("a", "ab")    # (a,b) outranks none
        assert bpe.encode_word("xyz") == ("x", "y", "z")  # nothing learned
        assert bpe.encode_word("") == ()
        assert bpe.count_tokens("abc xyz  abc") == 1 + 3 + 1
        assert bpe.count_tokens("   ") == 0
    finally:
        bpe.encode_word.cache_clear()

    monkeypatch.setattr(bpe, "_ranks", lambda: {("a", "a"): 0})
    bpe.encode_word.cache_clear()
    try:
        # leftmost-first on overlapping occurrences: aaa -> (aa, a)
        assert bpe.encode_word("aaa") == ("aa", "a")
    finally:
        bpe.encode_word.cache_clear()


def test_bpe_duckdb_replay_agrees_on_random_words():
    """Cross-engine property: the DuckDB recursive-CTE merge replay
    (the driver's oracle) produces the same token counts as the Python
    merge loop on RANDOM words — including words far outside the
    training distribution (the oracle corpus only has 31 distinct
    words, so this is the test that exercises the CTE's merge
    mechanics, not its memorization)."""
    import random

    import duckdb

    from pdf_parser_spark.analytics import bpe

    rng = random.Random(42)
    alphabet = "abcdefghijklmnopqrstuvwxyz"
    words = ["".join(rng.choice(alphabet)
                     for _ in range(rng.randint(1, 14)))
             for _ in range(60)]
    words += ["join", "customer", "hash", "a", "zz"]
    # unicode: DuckDB w[i] indexes CODEPOINTS, Python indexes chars —
    # they must agree on multi-byte scripts and accents too
    words += ["机器学习", "café", "naïve", "데이터", "über"]

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT row_number() OVER () - 1 "
        "AS doc_id, w AS text FROM (SELECT unnest(?) AS w)", [words])
    got = {r[0]: r[2] for r in con.execute(
        bpe.oracle_merge_sql("documents", "text")).fetchall()}
    for i, w in enumerate(words):
        expect = len(bpe.encode_word(w))
        assert got[i] == expect, (w, got[i], expect)


def test_bpe_count_tokens_unicode_whitespace_parity():
    """Word-boundary parity across engines (ADVICE r4): Python's \\s is
    Unicode (matches \\xa0, \\u2028) while DuckDB RE2 and Java \\s are
    ASCII-only, and Python str.strip() eats Unicode edges while
    F.trim/trim() strip spaces only. Docs containing Unicode whitespace
    must still count identically in the UDF and the oracle replay."""
    import duckdb

    from pdf_parser_spark.analytics import bpe

    docs = ["a\xa0b", "\xa0x y", "a b", "tab\there",
            "  lead trail  ", "\xa0", "\t", "ordinary words here"]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT row_number() OVER () - 1 "
        "AS doc_id, w AS text FROM (SELECT unnest(?) AS w)", [docs])
    got = {r[0]: r[2] for r in con.execute(
        bpe.oracle_merge_sql("documents", "text")).fetchall()}
    for i, d in enumerate(docs):
        assert got[i] == bpe.count_tokens(d), (d, got[i],
                                               bpe.count_tokens(d))


def test_bpe_committed_merges_pinned():
    """Drift guard for the committed merges table: known words encode to
    known subword sequences (regenerate with tools/train_bpe.py and
    re-pin deliberately if the table is retrained)."""
    from pdf_parser_spark.analytics import bpe

    assert len(bpe.load_merges()) == 40
    assert bpe.encode_word("join") == ("join",)
    assert bpe.encode_word("customer") == ("c", "u", "st", "o", "mer")
    assert bpe.encode_word("hash") == ("h", "a", "s", "h")
    # out-of-distribution word: merges that apply still apply
    assert bpe.encode_word("vectorized") == (
        "v", "e", "c", "t", "or", "i", "z", "e", "d")
    assert bpe.count_tokens("hash join beats sort merge join") == 12


def test_lang_features_guess_english(spark):
    from pdf_parser_spark.analytics import text as T

    df = spark.createDataFrame(
        [(1, "the cat and the dog is of no concern to any of us"),
         (2, "el que la de los otros el que")],
        "doc_id long, text string")
    r = {row.doc_id: row.lang_guess
         for row in T.lang_features(df).collect()}
    assert r[1] == "en"
    assert r[2] == "es"


def test_lang_features_cjk_script_ranges(spark):
    """Real CJK text gets script-codepoint counts (r3 verdict item 5 —
    the old romanized zh placeholders could never fire): genuine
    Chinese/Japanese/Korean argmax to zh/ja/ko; hits equal the script
    codepoint counts exactly."""
    from pdf_parser_spark.analytics import text as T

    rows = [(1, "机器学习模型在大规模数据上训练"),
            (2, "これはテストです ひらがなとカタカナ"),
            (3, "대규모 데이터 처리 파이프라인 테스트"),
            (4, "the quick brown fox is one of the best and the rest"),
            (5, "обработка данных в больших масштабах")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in T.lang_features(df).collect()}
    assert got[1].lang_guess == "zh"
    assert got[1].hits_zh == len(rows[0][1])          # every char is Han
    assert got[2].lang_guess == "ja"
    assert got[2].hits_ja == sum("぀" <= c <= "ヿ"
                                 for c in rows[1][1])
    assert got[3].lang_guess == "ko"
    assert got[4].lang_guess == "en" and got[4].hits_zh == 0
    assert got[5].lang_guess == "ru"
    assert got[5].hits_ru == sum("Ѐ" <= c <= "ӿ" for c in rows[4][1])


def test_lang_features_kanji_heavy_japanese_kana_veto(spark):
    """r4 verdict item 6: kanji-heavy Japanese (Han chars outnumbering
    kana, the normal case for formal ja prose) must score ja, not zh —
    kana >= 5% of CJK codepoints credits the Han count to ja and vetoes
    zh. A stray kana char inside Chinese text stays under the threshold,
    and the raw hits_* columns stay raw. The DuckDB oracle replays the
    same veto."""
    import duckdb
    import pandas as pd

    from pdf_parser_spark.analytics import text as T

    rows = [
        # 22 kanji, 6 kana (~21% kana): unambiguously ja, but Han count
        # wins a raw argmax — the pre-veto defect case
        (1, "東京都議会議員選挙の結果が発表された。投票率は前回を上回る"),
        # pure kanji (classical-style): no kana signal -> stays zh
        (2, "人工智能技術開發研究中心設立計劃正式發表"),
        # Chinese with ONE quoted kana char (<5%): must stay zh
        (3, "该产品在日本市场被称为「の」品牌标志设计理念深受欢迎的原因分析报告"),
        (4, "これは ひらがな だけ の ぶんしょう です"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    feats = T.lang_features(df)
    got = {r.doc_id: r for r in feats.collect()}
    assert got[1].lang_guess == "ja"
    assert got[1].hits_zh > got[1].hits_ja > 0  # raw counts untouched
    assert got[2].lang_guess == "zh"
    assert got[3].lang_guess == "zh"
    assert got[4].lang_guess == "ja"

    # cross-engine: the oracle SQL applies the identical veto
    import __spark_entry__ as entry

    con = duckdb.connect()
    con.register("documents",
                 pd.DataFrame(rows, columns=["doc_id", "text"]))
    osql = entry._lang_guess_sql()
    odf = con.execute(osql).df().set_index("doc_id")
    sdf = feats.toPandas().set_index("doc_id")
    for i, _ in rows:
        assert odf.loc[i, "lang_guess"] == got[i].lang_guess, i
        for c in sdf.columns:
            if c.startswith("hits_"):
                assert int(odf.loc[i, c]) == int(sdf.loc[i, c]), (i, c)


def test_ivf_recall_on_clustered_data(spark):
    import numpy as np

    from pdf_parser_spark.analytics import similarity

    rng = np.random.RandomState(7)
    centers = rng.randn(8, 64)
    rows = [(i, [float(x) for x in centers[i % 8] + 0.12 * rng.randn(64)])
            for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = similarity.make_queries(df, n=5)
    brute = similarity.brute_force_topk(df, q, k=10).toPandas()
    ivf = similarity.ivf_topk(df, q, n_centroids=16, nprobe=4,
                              k=10).toPandas()
    recalls = []
    for qid in brute.q_id.unique():
        b = set(brute[brute.q_id == qid].neighbor_id)
        a = set(ivf[ivf.q_id == qid].neighbor_id)
        recalls.append(len(a & b) / len(b))
    assert sum(recalls) / len(recalls) >= 0.9, recalls


def test_block_gemm_is_blocking_invariant(spark, emb):
    """The distributed block-tiled GEMM must produce the identical pair
    set for any nblocks (including 1) — blocking is a physical knob,
    never a semantic one. Also guards against the cross-tile
    orientation bug (pairs whose A-side id is larger)."""
    from pdf_parser_spark.analytics import similarity

    def pairs(nblocks):
        pdf = similarity.embedding_near_duplicates(
            emb, threshold=0.45, exact=True, nblocks=nblocks).toPandas()
        return set(map(tuple, pdf[["vec_a", "vec_b"]].values.tolist()))

    p1, p3, p8 = pairs(1), pairs(3), pairs(8)
    assert p1 == p3 == p8
    assert all(a < b for a, b in p1)


def test_near_dup_plan_has_no_driver_collect(spark, emb):
    """exact=True near-dup must be a lazy distributed plan: building it
    triggers zero Spark jobs (a driver-side collect of the corpus would
    run one immediately)."""
    from pdf_parser_spark.analytics import similarity

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    df = similarity.embedding_near_duplicates(emb, threshold=0.45)
    after = len(tracker.getJobIdsForGroup() or [])
    assert after == before
    assert "FlatMapGroupsInPandas" in df._jdf.queryExecution().toString()


def test_ivf_assignment_is_shuffle_free(spark, emb):
    """Centroid assignment must be a pure projection over centroid
    literals: no Exchange in the assigned-lists plan."""
    from pdf_parser_spark.analytics import similarity

    cents = similarity.kmeans_centroids(emb, 16, iters=1)
    lists = similarity._with_centroid(emb, "embedding", cents)
    plan = lists._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_kmeans_refinement_moves_and_is_deterministic(spark, emb):
    from pdf_parser_spark.analytics import similarity

    seed = similarity.kmeans_centroids(emb, 16, iters=0)
    one_a = similarity.kmeans_centroids(emb, 16, iters=1)
    one_b = similarity.kmeans_centroids(emb, 16, iters=1)
    assert one_a == one_b                      # deterministic
    assert one_a != seed                       # actually refined
    assert [c for c, _ in one_a] == [c for c, _ in seed]
    # refined coordinates are 6-dp rounded (oracle reproducibility)
    for _, vec in one_a:
        assert all(abs(v - round(v, 6)) < 1e-12 for v in vec)


def test_rank_topk_matches_single_window(spark, emb):
    """Two-stage top-k must equal the naive global-window ranking."""
    from pyspark.sql.window import Window

    from pdf_parser_spark.analytics import similarity

    q = similarity.make_queries(emb, n=3)
    joined = emb.crossJoin(F.broadcast(q)).where(
        F.col("vec_id") != F.col("q_id"))
    scored = similarity.with_cosine(joined, "q_emb", "embedding")
    got = similarity._rank_topk(scored, 7).toPandas()
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    want = (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= 7)
            .select("q_id", "rank", F.col("vec_id").alias("neighbor_id"),
                    F.round("cosine", 6).alias("cosine"))).toPandas()
    got = got.sort_values(["q_id", "rank"]).reset_index(drop=True)
    want = want.sort_values(["q_id", "rank"]).reset_index(drop=True)
    assert got.equals(want)


def test_repetition_features_separate_spam_from_prose(spark):
    from pdf_parser_spark.analytics import text as T

    spam = " ".join(["buy now"] * 40)
    prose = " ".join(f"w{i}" for i in range(80))
    df = spark.createDataFrame(
        [(1, spam), (2, prose), (3, "one"), (4, "")],
        "doc_id long, text string")
    r = {x.doc_id: x for x in T.repetition_features(df).collect()}
    assert r[1].top_bigram_frac > 0.4 and r[1].dup_bigram_frac > 0.9
    assert r[1].dup_trigram_frac > 0.9
    assert r[2].top_bigram_frac <= 0.02 and r[2].dup_bigram_frac == 0.0
    assert r[3].top_bigram_frac == 0.0       # too short for bigrams
    assert r[4].dup_trigram_frac == 0.0
    # expression-level: no Exchange anywhere in the plan
    plan = (T.repetition_features(df)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_chunk_documents_roundtrip(spark):
    from pdf_parser_spark.analytics import text as T

    text = " ".join(f"tok{i}" for i in range(300))
    df = spark.createDataFrame([(9, text)], "doc_id long, text string")
    chunks = (T.chunk_documents(df, chunk_tokens=128)
              .orderBy("chunk_idx").collect())
    assert [c.n_tokens for c in chunks] == [128, 128, 44]
    assert [c.chunk_idx for c in chunks] == [0, 1, 2]
    assert " ".join(c.chunk_text for c in chunks) == text


def test_host_stats_counts(spark, docs):
    from pdf_parser_spark.analytics import web

    stats = web.host_stats(docs).toPandas()
    assert stats.n_docs.sum() == docs.count()
    assert stats.host.str.match(r"site\d+\.example").all()
    assert ((stats.avg_quality >= 0) & (stats.avg_quality <= 1)).all()


def test_contamination_flags_benchmark_copies(spark):
    from pdf_parser_spark.analytics import dedup

    bench_text = " ".join(f"bench{i}" for i in range(30))
    rows = [(7, bench_text),                      # benchmark (id%100==7)
            (1, bench_text),                      # verbatim copy
            (2, " ".join(f"clean{i}" for i in range(30))),
            (3, bench_text + " extra tail tokens here now ok")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    r = {x.doc_id: x for x in dedup.contamination(df).collect()}
    assert 7 not in r                             # benchmark rows excluded
    assert r[1].contam_frac == 1.0
    assert r[2].contam_frac == 0.0
    assert 0.5 < r[3].contam_frac < 1.0


def test_normalize_url(spark):
    from pdf_parser_spark.analytics import web
    from pyspark.sql import functions as F

    rows = [
        ("HTTPS://Example.COM/Path/?utm_source=x&q=1#frag",
         "https://example.com/Path/?q=1"),
        ("http://a.b/page/", "http://a.b/page"),
        ("https://x.y/p?utm_campaign=z", "https://x.y/p"),
    ]
    df = spark.createDataFrame(rows, "url string, want string")
    out = df.select(web.normalize_url(F.col("url")).alias("got"),
                    "want").collect()
    for r in out:
        assert r.got == r.want, (r.got, r.want)


def test_driver_collect_size_guards(spark, emb, monkeypatch):
    """Bounded driver collects fail FAST with a clear error when the
    'small' side is not small (r2 verdict item 5)."""
    import pytest

    from pdf_parser_spark.analytics import dedup, similarity

    # _bounded_collect: cap honored, overflow raises
    small = emb.select("vec_id").limit(3)
    assert len(similarity._bounded_collect(small, 10, "x")) == 3
    with pytest.raises(ValueError, match="more than 2 rows"):
        similarity._bounded_collect(emb.select("vec_id"), 2, "x")

    # kmeans seed guard fires before any Spark work
    with pytest.raises(ValueError, match="exceeds the driver-side cap"):
        similarity.kmeans_centroids(emb, similarity.MAX_SEED_ROWS + 1)

    # brute-force query-side guard
    monkeypatch.setattr(similarity, "MAX_QUERY_ROWS", 2)
    qs = similarity.make_queries(emb, n=5)
    with pytest.raises(ValueError, match="brute_force_topk queries"):
        similarity.brute_force_topk(emb, qs, k=3)

    # contamination benchmark-shingle guard
    monkeypatch.setattr(dedup, "MAX_BENCH_SHINGLES", 1)
    docs = spark.createDataFrame(
        [(7, "alpha beta gamma delta epsilon zeta eta theta iota"),
         (107, "alpha beta gamma delta epsilon zeta eta theta kappa"),
         (1, "unrelated words entirely")],
        "doc_id long, text string")
    with pytest.raises(ValueError, match="benchmark shingle set"):
        dedup.contamination(docs)


def test_dedup_clusters_connected_components(spark):
    """A~B and B~C chain into one cluster labeled min(doc_id); unrelated
    docs stay singletons."""
    from pdf_parser_spark.analytics import dedup

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    rows = [
        (10, base),
        (11, base + " phi"),                 # ~ 10
        (12, base + " phi chi"),             # ~ 11 (and 10)
        (50, "totally different words with no overlap at all in any "
             "shingle of this much longer unrelated document text"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.cluster_id
           for r in dedup.dedup_clusters(docs, min_jaccard=0.3).collect()}
    assert got[10] == got[11] == got[12] == 10
    assert got[50] == 50


def test_connected_components_chain_olog_rounds(spark):
    """A planted 1,000-node duplicate CHAIN (path graph — the worst case
    for hash-to-min label propagation, which needs diameter ~= 999
    rounds) must converge in O(log n) large-star/small-star rounds and
    label every node with the component minimum."""
    from pdf_parser_spark.analytics import dedup

    edges = spark.createDataFrame([(i, i + 1) for i in range(999)],
                                  "s long, t long")
    # driver_max_edges=0: this test pins the DISTRIBUTED algorithm
    labels, rounds = dedup.connected_components(edges,
                                                driver_max_edges=0)
    try:
        got = {r.doc_id: r.cluster_id for r in labels.collect()}
    finally:
        labels.unpersist()
    assert len(got) == 1000 and set(got.values()) == {0}
    # ~3*log2(1000) bound with slack; hash-to-min would need 999
    assert rounds <= 14, rounds


def test_connected_components_reliable_checkpoint_path(spark, tmp_path):
    """With a checkpoint dir set, the iteration uses RELIABLE
    df.checkpoint() (survives executor loss on a cluster) instead of
    localCheckpoint — same labels either way."""
    from pdf_parser_spark.analytics import dedup

    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "cc_ckpt"))
    try:
        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(30)], "s long, t long")
        labels, rounds = dedup.connected_components(edges,
                                                    driver_max_edges=0)
        try:
            got = {r.doc_id: r.cluster_id for r in labels.collect()}
        finally:
            labels.unpersist()
        assert len(got) == 31 and set(got.values()) == {0}
        assert rounds >= 1
    finally:
        # leave no global checkpoint dir behind for other tests
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None))


def test_connected_components_multi_component_and_handle(spark):
    from pdf_parser_spark.analytics import dedup

    # two components (one via duplicate + reversed edges + self-loop)
    e = spark.createDataFrame([(5, 3), (3, 9), (20, 21), (21, 20), (7, 7)],
                              "s long, t long")
    labels, _ = dedup.connected_components(e)
    try:
        got = {r.doc_id: r.cluster_id for r in labels.collect()}
    finally:
        labels.unpersist()
    assert got == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20}

    # empty graph: no labels, zero rounds
    empty, rounds = dedup.connected_components(
        spark.createDataFrame([], "s long, t long"))
    try:
        assert empty.count() == 0 and rounds == 0
    finally:
        empty.unpersist()


def test_incremental_near_duplicates_against_index(spark):
    """Incremental crawl dedup: new docs flag against the PERSISTED
    index (here: a written+reread parquet), without touching the
    historical text; unrelated new docs pass clean."""
    from pdf_parser_spark.analytics import dedup

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    hist = spark.createDataFrame(
        [(10, base),
         (20, "totally different historical words with no overlap in "
              "any shingle of this much longer unrelated text")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(101, base + " phi"),          # near-dup of 10
         (102, "fresh content about nothing seen before in the corpus "
               "index at all whatsoever in any way")],
        "doc_id long, text string")
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        dedup.lsh_index(hist).write.mode("overwrite").parquet(d)
        index = spark.read.parquet(d)
        got = dedup.incremental_near_duplicates(
            index, new, min_jaccard=0.3).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.new_doc_id, r.dup_of) == (101, 10) and r.jaccard >= 0.3


def test_dedup_clusters_explicit_handle(spark):
    """return_handle=True hands back the persisted labels frame so the
    caller can release it (the attribute convention drops the handle on
    any transformation)."""
    from pdf_parser_spark.analytics import dedup

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    docs = spark.createDataFrame([(10, base), (11, base + " phi")],
                                 "doc_id long, text string")
    result, handle = dedup.dedup_clusters(docs, min_jaccard=0.3,
                                          return_handle=True)
    got = {r.doc_id: r.cluster_id for r in result.collect()}
    assert got == {10: 10, 11: 10}
    assert handle.storageLevel.useMemory  # persisted, caller-owned
    handle.unpersist()


def test_pii_features_counts_and_redaction(spark):
    from pdf_parser_spark.analytics import text as T

    rows = [(1, "contact bob@example.com or 555-867-5309 at 10.0.0.1"),
            (2, "ssn 123-45-6789 leaked twice 123-45-6789"),
            (3, "clean text with no identifiers present here")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in T.pii_features(docs).collect()}
    assert got[1].n_email == 1 and got[1].n_phone == 1 \
        and got[1].n_ipv4 == 1 and got[1].n_pii == 3
    assert "[PII:email]" in got[1].redacted \
        and "bob@example.com" not in got[1].redacted
    assert got[2].n_ssn == 2 and "123-45-6789" not in got[2].redacted
    assert got[3].n_pii == 0 and got[3].redacted == rows[2][1]


def test_boilerplate_ngrams_flags_shared_phrase(spark):
    from pdf_parser_spark.analytics import text as T

    footer = "all rights reserved by the site operator"
    rows = [(i, f"unique words {i} alpha beta gamma " + footer)
            for i in range(3)]
    rows.append((9, "entirely fresh prose with nothing shared across "
                    "any of the other documents at all"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in
           T.boilerplate_ngrams(docs, n=5, min_docs=3).collect()}
    assert all(got[i].n_common > 0 for i in range(3))
    assert got[9].n_common == 0 and got[9].boilerplate_frac == 0.0


def test_sample_corpus_deterministic_and_composable(spark, docs):
    from pdf_parser_spark.analytics import text as T

    a = {r.doc_id for r in T.sample_corpus(docs, 0.2, "a").collect()}
    a2 = {r.doc_id for r in T.sample_corpus(docs, 0.2, "a").collect()}
    b = {r.doc_id for r in T.sample_corpus(docs, 0.2, "b").collect()}
    assert a == a2                       # reproducible
    assert a != b                        # independent under a new salt
    n = docs.count()
    assert 0.1 * n < len(a) < 0.3 * n    # near the requested fraction
    # nested sampling: a tighter fraction of the SAME salt is a subset
    tight = {r.doc_id for r in T.sample_corpus(docs, 0.05, "a").collect()}
    assert tight <= a


def test_pack_chunks_respects_budget_and_order(spark):
    from pdf_parser_spark.analytics import text as T

    rows = [(i, " ".join(f"w{j}" for j in range(300))) for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = T.pack_chunks(docs, chunk_tokens=128, budget=512,
                        n_shards=2).toPandas()
    # every chunk lands in a bin; bins fill contiguously per shard
    for shard, grp in out.groupby("shard"):
        grp = grp.sort_values(["doc_id", "chunk_idx"])
        run = grp.n_tokens.cumsum()
        expect = ((run - 1) // 512).astype("int64")
        assert (grp.bin_id.values == expect.values).all()
        # a full bin never exceeds the budget
        per_bin = grp.groupby("bin_id").n_tokens.sum()
        assert (per_bin.iloc[:-1] <= 512).all()


def test_decode_real_rejects_corrupt_and_exotic_headers():
    """Corrupt headers degrade instead of wrapping int32 (code-review
    r3 findings): overflow dims, truncated WAV fmt, unknown BMP header
    sizes; OS/2 BITMAPCOREHEADER decodes its uint16 dimensions."""
    import pytest

    from pdf_parser_spark.analytics import multimodal as M

    # int32-overflow BMP height degrades
    bad = bytearray(M.make_bmp(4, 2))
    bad[22:26] = (-2147483648).to_bytes(4, "little", signed=True)
    with pytest.raises(NotImplementedError):
        M.decode_real(bytes(bad))
    # zero / overflow PNG dims degrade
    png = (b"\x89PNG\r\n\x1a\n" + bytes(8)
           + b"\xff\xff\xff\xff" + (10).to_bytes(4, "big"))
    with pytest.raises(NotImplementedError):
        M.decode_real(png)
    # OS/2 core-header BMP: uint16 dims at 18/20
    core = (b"BM" + bytes(12) + (12).to_bytes(4, "little")
            + (100).to_bytes(2, "little") + (50).to_bytes(2, "little")
            + bytes(8))
    d = M.decode_real(core)
    assert (d["width"], d["height"]) == (100, 50)
    # unknown BMP header size degrades (not parsed as INFOHEADER)
    weird = bytearray(M.make_bmp(4, 2))
    weird[14:18] = (99).to_bytes(4, "little")
    with pytest.raises(NotImplementedError):
        M.decode_real(bytes(weird))
    # WAV with fmt chunk truncated inside byte_rate degrades
    with pytest.raises(NotImplementedError):
        M.decode_real(bytes(M.make_wav(1000))[:30])


def test_dedup_clusters_raises_on_nonconvergence(spark):
    """Exhausting max_iters without a fixpoint must be loud — a partial
    propagation silently splits clusters. Needs a genuinely deep graph:
    near-clique inputs now converge in ONE round (the star-forest early
    stop), so the budget is exhausted with a 64-node path instead."""
    import pytest

    from pdf_parser_spark.analytics import dedup

    edges = spark.createDataFrame([(i, i + 1) for i in range(63)],
                                  "s long, t long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(edges, max_iters=1,
                                   driver_max_edges=0)


def test_dedup_clusters_near_clique_single_round(spark):
    """A near-clique duplicate cluster (the common web-dup shape) must
    finish in ONE round via the star-forest early stop — max_iters=1
    suffices where the checksum-compare alone needed a second
    confirmation round."""
    from pdf_parser_spark.analytics import dedup

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon")
    rows = [(10, base), (11, base + " phi"), (12, base + " phi chi")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.cluster_id
           for r in dedup.dedup_clusters(docs, min_jaccard=0.3,
                                         max_iters=1).collect()}
    assert got == {10: 10, 11: 10, 12: 10}


def test_semantic_dedup_recall_on_clustered_data(spark):
    """SemDeDup trade measured: on clustered embeddings (real corpora),
    cluster-local pairwise finds nearly all exact near-dup pairs at a
    fraction of the N^2 work."""
    import numpy as np

    from pdf_parser_spark.analytics import similarity

    rng = np.random.RandomState(7)
    centers = rng.randn(8, 64) * 3
    rows = []
    vid = 0
    for i in range(150):
        c = centers[i % 8]
        v = c + 0.3 * rng.randn(64)
        rows.append((vid, [float(x) for x in v])); vid += 1
        if i % 10 == 0:  # planted near-duplicate
            rows.append((vid, [float(x) for x in v + 0.01 * rng.randn(64)]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {(r.vec_a, r.vec_b)
             for r in similarity.embedding_near_duplicates(
                 df, threshold=0.99).collect()}
    sem = {(r.vec_a, r.vec_b)
           for r in similarity.semantic_near_duplicates(
               df, n_centroids=8, threshold=0.99).collect()}
    assert exact, "fixture must plant pairs"
    # cluster-local exact cosine can only MISS pairs, never invent them
    assert sem <= exact
    recall = len(sem & exact) / len(exact)
    assert recall >= 0.9, (recall, len(exact))


def test_lm_quality_separates_reference_like_from_gibberish(spark):
    from pdf_parser_spark.analytics import text as T

    ref_phrase = "the quick brown fox jumps over the lazy dog"
    rows = []
    for i in range(30):  # doc_id%10==1 -> reference slice
        rows.append((10 * i + 1, ref_phrase + f" run {i % 3}"))
    rows.append((1000, ref_phrase))                     # in-distribution
    rows.append((2000, "zxq vbnm qwerty asdf ghjkl uiop zxcv bnml"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.avg_nll for r in T.lm_quality(docs).collect()}
    assert got[1000] < got[2000]
    # every bigram of doc 1000 was seen in the reference -> low NLL
    assert got[1000] < 3.0


def test_zero_norm_embedding_never_ranks(spark):
    """A zero vector in the corpus must not surface as a NaN-cosine
    rank-1 neighbor (NaN sorts above every real double under desc):
    clamped norms give it cosine 0.0 everywhere."""
    import math

    from pdf_parser_spark.analytics import similarity

    rows = [(0, [1.0, 0.0, 0.0]), (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 0.0, 0.0]), (3, [0.8, 0.2, 0.1])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = (emb.where("vec_id = 0")
               .select(F.col("vec_id").alias("q_id"),
                       F.col("embedding").alias("q_emb")))
    got = similarity.brute_force_topk(emb, queries, k=3).collect()
    assert all(not math.isnan(r.cosine) for r in got)
    order = [r.neighbor_id for r in sorted(got, key=lambda r: r.rank)]
    assert order[-1] == 2  # the zero vector ranks LAST, not first


def _span(prefix, n=16):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_span_dedup_keeps_first_global_occurrence(spark):
    """C4-style span dedup: a 16-token span repeated across documents
    survives only in the (doc_id, seg_idx)-first document; every doc
    comes back, rebuilt from its surviving spans."""
    from pdf_parser_spark.analytics import dedup

    a, b, c = _span("a"), _span("b"), _span("c")
    docs = spark.createDataFrame(
        [(0, f"{a} {b}"), (1, f"{a} {c}"), (2, _span("u"))],
        "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.span_dedup(docs).collect()}
    assert set(got) == {0, 1, 2}
    assert (got[0].n_spans, got[0].n_kept) == (2, 2)
    assert got[0].text_dedup == f"{a} {b}"
    assert (got[1].n_spans, got[1].n_kept) == (2, 1)  # span a lost to doc 0
    assert got[1].text_dedup == c
    assert (got[2].n_spans, got[2].n_kept) == (1, 1)


def test_span_dedup_intra_document_repeat(spark):
    """The same span twice in ONE document keeps only the first copy
    (C4 semantics: global first occurrence, document order within)."""
    from pdf_parser_spark.analytics import dedup

    a, b = _span("a"), _span("b")
    docs = spark.createDataFrame(
        [(7, f"{a} {b} {a}")], "doc_id long, text string")
    r = dedup.span_dedup(docs).collect()[0]
    assert (r.n_spans, r.n_kept) == (3, 2)
    assert r.text_dedup == f"{a} {b}"


def test_quality_classifier_heldout_metrics_above_floor():
    """Semantic regression gate for the committed weight table (r4
    verdict item 9): held-out precision/recall vs the teacher (sf0.1
    ids >= 500, disjoint from the sf0.01 training ids) must match the
    committed quality_clf_eval.json EXACTLY (everything is
    deterministic) and clear absolute floors with real lift over the
    base rate — so a corrupted/retrained-by-accident weight table
    fails on meaning, not just on bytes."""
    import json
    from pathlib import Path

    from tools.train_quality_clf import evaluate

    committed = json.loads(
        (Path("pdf_parser_spark/analytics/quality_clf_eval.json")
         ).read_text())
    got = evaluate()
    assert got == committed, "eval drifted from committed table"
    # floors sit ~3pp under the round-5 measured values (P 0.775 /
    # R 0.924 / acc 0.815 with pseudo-token features at 1024 buckets)
    assert got["precision"] >= 0.74
    assert got["recall"] >= 0.89
    assert got["accuracy"] >= 0.78
    # real lift: accuracy beats always-predict-majority
    assert got["accuracy"] > max(got["base_rate"], 1 - got["base_rate"])


def test_quality_classifier_matches_python_replay(spark):
    """The Spark logit must equal an independent python replay of the
    committed weights (hash bucket, exact int64 weight sum, one
    division) to all 6 rounded decimals."""
    import hashlib

    from pdf_parser_spark.analytics import classifier

    bias, w = classifier.load_weights()

    def replay(text):
        # round HALF_UP on the shortest decimal repr — Spark's
        # F.round(d, 6) is BigDecimal.valueOf(d).setScale(6, HALF_UP)
        # and DuckDB matches; Python's round() banker's-rounds and
        # diverges at exact .5 ties (observed: 'single' w/ r5 weights)
        from decimal import ROUND_HALF_UP, Decimal

        feats = classifier.py_features(text)
        s = sum(w[int(hashlib.md5(f.encode()).hexdigest()[:15], 16)
                  % classifier.NBUCKETS] for f in feats)
        x = (float(bias) + s / len(feats)) / 1e6
        return float(Decimal(repr(x)).quantize(Decimal("1e-6"),
                                               rounding=ROUND_HALF_UP))

    texts = ["the quick brown fox", "table scan merge join batch",
             "single", "a a a a a the of to is and",
             "punct!! heavy?? line... (parens) [brackets] $$$"]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    got = {r.doc_id: r for r in
           classifier.quality_classifier(docs).collect()}
    for i, t in enumerate(texts):
        assert got[i].logit == replay(t), t
        assert got[i].label == (got[i].logit > 0)
    # one token, no bigram, + 3 pseudo-token features (round 5)
    assert got[2].n_features == 4


def test_ppl_buckets_are_monotone_thirds(spark, docs):
    """head/middle/tail must partition the scored corpus into
    non-empty bands, monotone in avg_nll by construction."""
    from pdf_parser_spark.analytics import text as T

    rows = T.ppl_buckets(docs).collect()
    by = {"head": [], "middle": [], "tail": []}
    for r in rows:
        by[r.bucket].append(r.avg_nll)
    assert all(by.values())
    assert max(by["head"]) <= min(by["middle"])
    assert max(by["middle"]) <= min(by["tail"])
    n = len(rows)
    assert len(T.lm_quality(docs).collect()) == n
    for vals in by.values():  # value-threshold terciles: ~n/3 each
        assert len(vals) >= n // 5


def test_ppl_buckets_approx_path_same_plan_and_bands(spark, docs):
    """The 10^12-doc knob is code, not a comment (r4 verdict item 5):
    exact=False swaps percentile -> approx_percentile with the SAME
    plan shape (single-row threshold aggregate + one broadcast, no
    Window/NTILE) and near-identical bands — at accuracy 10000 on a
    small corpus the thresholds are rank-exact, so only boundary ties
    may move between adjacent buckets."""
    from pdf_parser_spark.analytics import text as T

    exact = T.ppl_buckets(docs)
    approx = T.ppl_buckets(docs, exact=False)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    e = {r.doc_id: r.bucket for r in exact.collect()}
    a = {r.doc_id: r.bucket for r in approx.collect()}
    assert set(e) == set(a)
    agree = sum(e[d] == a[d] for d in e)
    assert agree >= 0.95 * len(e), f"only {agree}/{len(e)} agree"
    # approx bands stay monotone in avg_nll too
    by = {"head": [], "middle": [], "tail": []}
    for r in T.ppl_buckets(docs, exact=False).collect():
        by[r.bucket].append(r.avg_nll)
    assert all(by.values())
    assert max(by["head"]) <= min(by["middle"])
    assert max(by["middle"]) <= min(by["tail"])


def test_canonical_docs_picks_highest_quality_rep(spark):
    """The dedup manifest keeps the best-quality doc per near-dup
    cluster and maps singletons to themselves."""
    from pdf_parser_spark.analytics import dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"unrelated document number {i} with its own "
                f"completely different words {i * 7}") for i in range(10)]
    rows.append((100, base))
    # near-dup of 100, longer + more stopwords -> higher quality_score
    rows.append((101, base + " extra the and of"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.cluster_id: r for r in dedup.canonical_docs(docs).collect()}
    assert out[100].cluster_size == 2
    assert out[100].rep_doc_id == 101
    singles = [c for c in out if c != 100]
    assert all(out[c].rep_doc_id == c and out[c].cluster_size == 1
               for c in singles)
    assert len(out) == 11  # 10 singletons + one merged cluster


def test_latest_captures_newest_wins_with_tiebreak(spark):
    """Recrawl dedup keeps the newest warc_ts per url; equal timestamps
    break to the lowest doc_id."""
    from datetime import datetime

    from pdf_parser_spark.analytics import web

    t = datetime(2026, 1, 1)
    t2 = datetime(2026, 3, 1)
    rows = [("u1", t, 5), ("u1", t2, 3), ("u2", t, 9), ("u2", t, 7)]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, doc_id long")
    got = {r.url: r for r in web.latest_captures(pages).collect()}
    assert got["u1"].doc_id == 3 and got["u1"].warc_ts == t2
    assert got["u1"].n_captures == 2
    assert got["u2"].doc_id == 7  # tie on ts -> lowest doc_id


def test_host_cap_limits_per_host_and_is_partition_invariant(spark):
    """Per-domain cap keeps the k best-quality docs per host and the
    two-stage (partition-local head + reduced window) result must not
    depend on input partitioning."""
    from pdf_parser_spark.analytics import web

    # doc_id % 97 keys the host: ids 0,97,194,... share host site0
    rows = [(97 * i, f"doc number {i} " + "the and of to is " * (i + 1))
            for i in range(6)]           # 6 docs, ONE host, rising quality
    rows += [(1, "a lone page on another host")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out1 = web.host_cap(docs, k=3).collect()
    out8 = web.host_cap(docs.repartition(8), k=3).collect()
    assert sorted((r.host, r.doc_id, r.host_rank) for r in out1) == \
        sorted((r.host, r.doc_id, r.host_rank) for r in out8)
    by_host = {}
    for r in out1:
        by_host.setdefault(r.host, []).append(r)
    assert len(by_host["site0.example"]) == 3
    assert len(by_host["site1.example"]) == 1
    ranks = {r.host_rank for r in by_host["site0.example"]}
    assert ranks == {1, 2, 3}
    # the capped host keeps its BEST quality docs, not arbitrary ones
    kept_q = min(r.quality_score for r in by_host["site0.example"])
    all_q = {r.doc_id: r.quality_score
             for r in web.host_cap(docs, k=10).collect()
             if r.host == "site0.example"}
    dropped_q = [q for d, q in all_q.items()
                 if d not in {r.doc_id for r in by_host["site0.example"]}]
    assert all(q <= kept_q for q in dropped_q)


def test_span_dedup_is_identity_on_duplicate_free_corpus(spark):
    """With every 16-token span globally unique, span_dedup must be a
    pure identity (n_kept == n_spans, reconstruction == whitespace-
    normalized text) — including non-multiple-of-16 tails and a
    single-token doc."""
    from pdf_parser_spark.analytics import dedup

    rows = []
    word = 0
    for i, n_tok in enumerate([1, 15, 16, 17, 33, 48]):
        toks = [f"w{word + j}" for j in range(n_tok)]
        word += n_tok
        rows.append((i, " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.span_dedup(docs).collect()}
    for i, (doc_id, text) in enumerate(rows):
        n_tok = len(text.split())
        expect_spans = (n_tok + 15) // 16
        assert got[doc_id].n_spans == expect_spans, doc_id
        assert got[doc_id].n_kept == expect_spans, doc_id
        assert got[doc_id].text_dedup == text, doc_id


def test_vocabulary_counts_and_hapax_pruning(spark):
    from pdf_parser_spark.analytics import text as T

    docs = spark.createDataFrame(
        [(0, "a b a"), (1, "a c c rare")], "doc_id long, text string")
    got = {r.token: r for r in T.vocabulary(docs).collect()}
    assert set(got) == {"a", "c"}          # b/rare are hapaxes, pruned
    assert got["a"].n_occurrences == 3 and got["a"].n_docs == 2
    assert got["c"].n_occurrences == 2 and got["c"].n_docs == 1


def test_url_filter_rules_and_audit_view(spark):
    """FineWeb-style URL filtering: blocklisted hosts, non-content
    extensions, oversize URLs, and parameter traps are dropped; clean
    content URLs survive; the audit view reports per-rule booleans."""
    from pdf_parser_spark.analytics import web

    rows = [
        (1, "https://site1.example/article/42"),              # clean
        (2, "https://ads.tracker.example/pixel"),             # keyword
        (3, "https://host.test/page"),                        # suffix
        (4, "https://site2.example/logo.png"),                # extension
        (5, "https://site3.example/doc.html"),                # clean
        (6, "https://site4.example/p?" + "&".join(
            f"a{i}=1" for i in range(12))),                   # param trap
        (7, "https://site5.example/" + "x" * 2100),           # too long
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    kept = sorted(r.doc_id for r in web.url_filter(df).collect())
    assert kept == [1, 5]
    audit = {r.doc_id: r for r in
             web.url_filter(df, keep_only=False).collect()}
    assert audit[2].blocked_host and not audit[2].non_content
    assert audit[3].blocked_host
    assert audit[4].non_content
    assert audit[6].param_trap
    assert audit[7].too_long
    assert audit[1].url_ok and audit[5].url_ok
    assert not audit[2].url_ok
    # zero shuffles either way (pure scan predicate / projection)
    plan = web.url_filter(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_mix_corpus_targets_fractions_deterministically(spark, docs):
    """Data mixing: per-group keep rates land near the target mixture,
    are exactly reproducible, compose independently across salts, and
    unlisted groups follow default_fraction (0 = allowlist)."""
    from pdf_parser_spark.analytics import text as T

    fr = {"en": 1.0, "de": 0.5, "fr": 0.0}
    out = T.mix_corpus(docs, fr, key_col="lang")
    base = {r["lang"]: r["count"] for r in
            docs.groupBy("lang").count().collect()}
    got = {r["lang"]: r["count"] for r in
           out.groupBy("lang").count().collect()}
    assert got.get("en") == base["en"]          # 1.0 keeps everything
    assert got.get("fr") is None                # 0.0 drops the group
    assert "es" not in got                      # unlisted -> default 0
    de = got.get("de", 0)
    assert 0.25 * base["de"] <= de <= 0.75 * base["de"]  # ~half
    # reproducible: same salt -> identical rows
    ids1 = sorted(r.doc_id for r in out.collect())
    ids2 = sorted(r.doc_id for r in
                  T.mix_corpus(docs, fr, key_col="lang").collect())
    assert ids1 == ids2
    # default_fraction keeps unlisted groups at the default rate
    out2 = T.mix_corpus(docs, {"en": 0.0}, key_col="lang",
                        default_fraction=1.0)
    got2 = {r["lang"]: r["count"] for r in
            out2.groupBy("lang").count().collect()}
    assert "en" not in got2 and got2["fr"] == base["fr"]
    # zero shuffles: pure scan predicate
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_page_directives_robots_and_canonical(spark):
    """noindex/nofollow and rel=canonical parse off the raw bytes in
    either attribute order; pages without directives come back clean;
    the plan is a pure projection (no Exchange, no Python)."""
    from pdf_parser_spark.analytics import web

    rows = [
        ("u1", b"<html><head><meta name='robots' content='noindex,"
               b"nofollow'></head><body>x</body></html>"),
        ("u2", b'<html><head><META CONTENT="NOINDEX" NAME="robots">'
               b"</head><body>y</body></html>"),   # flipped attrs + case
        ("u3", b'<html><head><link rel="canonical" '
               b'href="https://site.example/main"></head>z</html>'),
        ("u4", b'<html><head><link href="https://site.example/amp" '
               b'rel="canonical"></head>w</html>'),  # flipped attrs
        ("u5", b"<html><body>plain page</body></html>"),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r.url: r for r in web.page_directives(df).collect()}
    assert got["u1"].noindex and got["u1"].nofollow
    assert got["u2"].noindex and not got["u2"].nofollow
    assert got["u3"].canonical_url == "https://site.example/main"
    assert got["u4"].canonical_url == "https://site.example/amp"
    assert not got["u5"].noindex and got["u5"].canonical_url is None
    plan = web.page_directives(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan


def test_collapse_canonical_families(spark):
    """AMP/mirror variants declaring one canonical collapse to the
    newest capture of the family; undeclared pages are their own
    family; noindex variants never win (or censor) a family."""
    from datetime import datetime

    from pdf_parser_spark.analytics import web

    t = datetime(2026, 1, 1)
    t2 = datetime(2026, 2, 1)
    canon = b'<html><head><link rel="canonical" ' \
            b'href="https://site.example/a"></head>x</html>'
    plain = b"<html><body>standalone</body></html>"
    noidx = (b'<html><head><meta name="robots" content="noindex">'
             b'<link rel="canonical" href="https://site.example/a">'
             b"</head>y</html>")
    rows = [
        ("https://site.example/a", t, plain, 1),     # the canonical itself
        ("https://amp.site.example/a", t2, canon, 2),  # newer AMP variant
        ("https://m.site.example/a", t, canon, 3),     # older mirror
        ("https://other.example/b", t, plain, 4),      # own family
        ("https://spam.example/a", t2, noidx, 5),      # noindex variant
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, doc_id long")
    got = {r.family: r for r in web.collapse_canonical(df).collect()}
    assert set(got) == {"https://site.example/a",
                        "https://other.example/b"}
    fam = got["https://site.example/a"]
    assert fam.doc_id == 2          # newest non-noindex variant wins
    assert fam.n_variants == 3      # noindex doc 5 excluded
    assert got["https://other.example/b"].doc_id == 4


def test_media_profile_matches_library_operator_join(spark, docs):
    """The fused media_profile (one scan, both kernels) must equal the
    join of the separate library operators — the drift guard for its
    duplicated synth/feature logic."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.analytics import multimodal

    sub = docs.limit(60)
    fused = multimodal.media_profile(sub).toPandas() \
        .sort_values("media_id").reset_index(drop=True)
    feats = multimodal.extract_features(
        multimodal.media_table_from_documents(sub)) \
        .select("media_id", "kind", "n_bytes", "f0")
    dec = multimodal.decode_media(
        multimodal.synth_media_table(sub)) \
        .select("media_id", "format", "width", "height", "duration_ms")
    joined = feats.join(dec, "media_id").toPandas() \
        .sort_values("media_id").reset_index(drop=True)
    assert list(fused.columns) == list(joined.columns)
    for c in fused.columns:
        a, b = fused[c], joined[c]
        if a.dtype.kind == "f":
            assert (a.fillna(-1) - b.fillna(-1)).abs().max() < 1e-12, c
        else:
            assert (a.fillna(-1).astype(str)
                    == b.fillna(-1).astype(str)).all(), c


def test_url_filter_hosts_suffix_blocklist_join(spark):
    """Blocklist-table URL blocking: blocking a registrable domain also
    blocks its subdomains, exact hosts block only themselves, and the
    plan is a broadcast equi-join with no corpus shuffle."""
    from pdf_parser_spark.analytics import web

    rows = [
        (1, "https://ads.example.com/x"),       # subdomain of blocked
        (2, "https://example.com/y"),           # blocked exactly
        (3, "https://notexample.com/z"),        # NOT a suffix match
        (4, "https://good.site.org/a"),
        (5, "https://tracker.good.site.org/b"),  # exact-host block
    ]
    docs = spark.createDataFrame(rows, "doc_id long, url string")
    bl = spark.createDataFrame(
        [("example.com",), ("tracker.good.site.org",)], "host string")
    kept = sorted(r.doc_id for r in
                  web.url_filter_hosts(docs, bl).collect())
    assert kept == [3, 4]
    plan = web.url_filter_hosts(docs, bl)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_normalize_text_nfc_cross_engine(spark):
    """NFC normalization: composed/decomposed twins become identical
    (so downstream hash dedup can match them), ASCII is untouched,
    NULLs survive, and the NFC form agrees with DuckDB's
    nfc_normalize on every row (cross-engine)."""
    import duckdb
    import unicodedata

    from pdf_parser_spark.analytics import text as T
    from pdf_parser_spark.analytics.dedup import exact_duplicates

    composed = "café résumé"
    decomposed = unicodedata.normalize("NFD", composed)
    assert composed != decomposed  # genuinely byte-different twins
    rows = [(1, composed), (2, decomposed), (3, "plain ascii"),
            (4, "가 vs 가"), (5, None)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.text
           for r in T.normalize_text(docs).collect()}
    assert out[1] == out[2] == composed
    assert out[3] == "plain ascii"
    assert out[4] == "가 vs 가"  # jamo sequence composes
    assert out[5] is None

    # the normalized twins now EXACT-dedup together: one hash group
    # holds docs 1+2 with canonical 1 (pre-normalization they differ)
    dd = exact_duplicates(
        T.normalize_text(docs).where("text IS NOT NULL")).collect()
    merged = [r for r in dd if r.n_copies == 2]
    assert len(merged) == 1 and merged[0].canonical_doc_id == 1
    pre = exact_duplicates(docs.where("text IS NOT NULL")).collect()
    assert all(r.n_copies == 1 for r in pre)

    con = duckdb.connect()
    got = dict(con.execute(
        "SELECT doc_id, nfc_normalize(text) FROM (SELECT "
        "unnest([1,2,3,4]) AS doc_id, unnest(?) AS text)",
        [[composed, decomposed, "plain ascii",
          "가 vs 가"]]).fetchall())
    for i in (1, 2, 3, 4):
        assert out[i] == got[i], i


def test_collapse_canonical_multi_capture_url_no_multiplication(spark):
    """Review finding (r5): directives must key by doc_id — a url with
    several captures must not multiply n_variants or let a capture
    inherit a SIBLING capture's noindex/canonical directives; NULL html
    counts as directive-free, not dropped."""
    from datetime import datetime

    from pdf_parser_spark.analytics import web

    t1, t2 = datetime(2026, 1, 1), datetime(2026, 2, 1)
    canon = b'<html><head><link rel="canonical" ' \
            b'href="https://site.example/a"></head>x</html>'
    noidx = (b'<html><head><meta name="robots" content="noindex">'
             b"</head>y</html>")
    rows = [
        # same url captured twice: newer capture is noindex, older is
        # canonical-declaring — the noindex capture must NOT survive
        # via its sibling's directives row
        ("https://m.site.example/a", t1, canon, 1),
        ("https://m.site.example/a", t2, noidx, 2),
        ("https://site.example/a", t1, None, 3),   # NULL html: no dirs
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, doc_id long")
    got = {r.family: r for r in web.collapse_canonical(df).collect()}
    fam = got["https://site.example/a"]
    # docs 1 (declares the family) and 3 (own url IS the family) are
    # in; noindex doc 2 is out; n_variants counts rows once each
    assert fam.n_variants == 2
    assert fam.doc_id == 1  # t1 tie -> lowest doc_id; doc 2 excluded


# -- r6 optimization parity locks --------------------------------------------


def test_shingle_udf_matches_expression_form(spark):
    """The vectorized Arrow shingle/minhash kernels (r6) must produce
    byte-identical values to the original interpreted expression
    pipeline (conv(substring(md5(token),1,15),16,10) + rolling mod-P
    combine + array_distinct + universal-hash minhash) on whitespace
    edge cases, unicode, and CJK text."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.analytics import dedup
    from pdf_parser_spark.analytics.dedup import (
        N_MINHASH, P, _md5_int, perm_params, tokens)

    rows = [(0, "alpha beta gamma alpha beta gamma delta"),
            (1, "a"), (2, ""), (3, "  spaced  out  "),
            (4, "tab\tsep\nnl\x0bvt\fff\rcr"),
            (5, "ünï codé tökens ünï codé"),
            (6, "中文 文本 分词 测试 中文 文本"),
            (7, "x \x1c y"), (8, "trail\t"), (9, "\tlead")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    for n in (3, 8):
        # expression-form reference (the pre-r6 implementation, inline)
        df = docs.withColumn("_toks", tokens(F.col("text")))
        df = df.withColumn("_th", F.transform("_toks", _md5_int))
        m = F.greatest(F.size("_th") - (n - 1), F.lit(1))
        z = F.transform(F.slice("_th", 1, m), lambda h: h % P)
        for k in range(1, n):
            z = F.zip_with(z, F.slice("_th", k + 1, m),
                           lambda acc, h: (acc * 31 + h % P) % P)
        exp = df.withColumn(
            "sh", F.when(F.size("_th") >= n, z)
            .otherwise(F.array(F.element_at("_th", 1) % P)))
        want = {r.doc_id: r.sh for r in exp.select("doc_id", "sh").collect()}
        got = {r.doc_id: r.sh
               for r in dedup.with_shingle_hashes(docs, n=n)
               .select("doc_id", "sh").collect()}
        assert got == want, f"n={n}"
        # distinct variant == sorted unique of the expression form
        gotd = {r.doc_id: r.shd for r in docs.select(
            "doc_id", dedup.shingle_hash_udf(n, distinct=True)(
                F.col("text")).alias("shd")).collect()}
        assert gotd == {k: sorted(set(v)) for k, v in want.items()}

    # minhash parity: fused UDF vs expression-form permutation mins
    from pdf_parser_spark.analytics.dedup import _perm

    sig = dedup.with_minhash(docs)
    got_mh = {r.doc_id: [r[f"mh{j}"] for j in range(N_MINHASH)]
              for r in sig.collect()}
    # recompute expression-form minhash over n=3 shingles
    df = docs.withColumn("_toks", tokens(F.col("text")))
    df = df.withColumn("_th", F.transform("_toks", _md5_int))
    m = F.greatest(F.size("_th") - 2, F.lit(1))
    z = F.transform(F.slice("_th", 1, m), lambda h: h % P)
    for k in range(1, 3):
        z = F.zip_with(z, F.slice("_th", k + 1, m),
                       lambda acc, h: (acc * 31 + h % P) % P)
    df = df.withColumn("sh", F.when(F.size("_th") >= 3, z)
                       .otherwise(F.array(F.element_at("_th", 1) % P)))
    for j in range(N_MINHASH):
        a, b = perm_params(j)
        df = df.withColumn(
            f"mh{j}", F.array_min(F.transform("sh", _perm(a, b))))
    want_mh = {r.doc_id: [r[f"mh{j}"] for j in range(N_MINHASH)]
               for r in df.collect()}
    assert got_mh == want_mh


def test_driver_cc_matches_distributed(spark):
    """The r6 small-graph driver union-find must label exactly like the
    distributed alternating-star loop (component-minimum ids) on a
    random multi-component graph with dup/reversed/self-loop edges."""
    import random

    from pdf_parser_spark.analytics import dedup

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges += [(5, 5), (7, 3), (3, 7)]
    df = spark.createDataFrame(edges, "s long, t long")
    fast, r_fast = dedup.connected_components(df)
    try:
        got_fast = {r.doc_id: r.cluster_id for r in fast.collect()}
    finally:
        fast.unpersist()
    assert r_fast == 0  # driver path (no distributed rounds)
    slow, _ = dedup.connected_components(df, driver_max_edges=0)
    try:
        got_slow = {r.doc_id: r.cluster_id for r in slow.collect()}
    finally:
        slow.unpersist()
    assert got_fast == got_slow


def test_quality_counts_udf_matches_exprs(spark):
    """r6: the Arrow quality-counter kernel must equal the original
    JVM expression forms (size(split), filter+array_contains,
    length-after-regexp_replace with Java ASCII \\w\\s semantics) on
    edge-case text."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.analytics import text as T
    from pdf_parser_spark.analytics.dedup import tokens

    rows = [(0, "the quick and lazy of to is fox"), (1, ""), (2, "  a  "),
            (3, "punct!!! marks??? (everywhere); 100% -- yes."),
            (4, "ünï codé — em-dash … ellipsis"),
            (5, "中文，标点。 the of"), (6, "tabs\tand\nnewlines the"),
            (7, "under_score digits123 mixed_99"),
            # astral (non-BMP) code points: Spark's length() counts code
            # points, the kernel must too (not UTF-16 units)
            (8, "a 😀😀 b!𐎄")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.stopword_hits, r.punct_chars,
                      r.mean_token_len, r.quality_score)
           for r in T.quality_features(docs).collect()}
    # original expression forms, inline
    toks = tokens(F.col("text"))
    stop = F.array(*[F.lit(w) for w in T.LANG_MARKERS["en"]])
    n_chars = F.length("text")
    exp = docs.select(
        "doc_id", F.size(toks).alias("nt"),
        F.size(F.filter(toks,
                        lambda t: F.array_contains(stop, t))).alias("sh"),
        (n_chars - F.length(
            F.regexp_replace("text", r"[^\w\s]", ""))).alias("pc"))
    want = {r.doc_id: (r.nt, r.sh, r.pc) for r in exp.collect()}
    for did, (nt, sh, pc, _, _) in got.items():
        assert (nt, sh, pc) == want[did], (did, (nt, sh, pc), want[did])
    assert got[8][2] == 4  # 😀 😀 ! 𐎄: one punct char per code point
