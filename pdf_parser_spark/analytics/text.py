"""Text analysis over (doc_id, text): language-ID features, quality
scoring, token counting, document fingerprinting. All JVM-side built-ins,
all DuckDB-expressible for the oracle."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import tokens, with_shingle_hashes

# Marker stopwords per language (tiny n-gram-free heuristic: function-word
# hit counts; deterministic and SQL-portable).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
}

# Script-based languages: CJK scripts don't whitespace-tokenize, so
# marker WORDS can never fire — count CODEPOINTS in the script range
# instead (one Han char ~ one token, so the counts are commensurate
# with the word-marker hits in the shared argmax). All ranges are BMP:
# Spark's UTF-16 length and DuckDB's codepoint length agree, and
# non-range chars cancel out of the length difference. ja/zh share the
# Han range, so the argmax applies a kana-veto tiebreak (see
# lang_guess_expr): written Japanese always carries okurigana/particles
# in kana, so kana >= 5% of CJK chars reassigns the Han count to ja
# and vetoes zh — while a stray kana quote inside Chinese text stays
# under the threshold.
LANG_SCRIPTS: dict[str, str] = {
    "zh": "\u3400-\u4dbf\u4e00-\u9fff",  # Han: ExtA + URO
    "ja": "\u3040-\u30ff",                 # hiragana + katakana
    "ko": "\uac00-\ud7af",                 # hangul syllables
    "ru": "\u0400-\u04ff",                 # cyrillic
}

# BPE-ish word/punct token regex (word runs OR single non-space symbol).
BPE_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def _hits(text_col, words: list[str]):
    marker = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens(text_col),
                           lambda t: F.array_contains(marker, t)))


def _script_hits(text_col, ranges: str):
    """Codepoint count in a script range = length lost when the range
    is stripped (chars outside the range cancel out)."""
    return (F.length(text_col)
            - F.length(F.regexp_replace(text_col, f"[{ranges}]", "")))


def lang_hit_exprs(text_col) -> dict[str, "F.Column"]:
    """Per-language hit-count expressions — marker-word counts for
    whitespace languages, script-codepoint counts for CJK (pure
    projections — composable into a single select with other
    features)."""
    out = {f"hits_{lang}": _hits(text_col, words)
           for lang, words in LANG_MARKERS.items()}
    out.update({f"hits_{lang}": _script_hits(text_col, ranges)
                for lang, ranges in LANG_SCRIPTS.items()})
    return out


def lang_guess_expr(hit_cols: dict[str, "F.Column"]):
    """Argmax language over hit-count expressions (deterministic
    tie-break: alphabetical language order), with the ja/zh kana-veto:
    when kana make up >= 5% of a doc's CJK codepoints the text is
    Japanese (kanji-heavy ja would otherwise argmax to zh because Han
    chars outnumber kana), so the Han count is credited to ja and zh is
    vetoed for that doc. Raw hits_* columns are unchanged — the veto
    only adjusts the scores entering the argmax. Mirrored verbatim in
    the DuckDB oracle (__spark_entry__._lang_guess_sql)."""
    kana, han = hit_cols["hits_ja"], hit_cols["hits_zh"]
    ja_dom = (kana > 0) & (kana * 20 >= kana + han)
    scores = dict(hit_cols)
    scores["hits_ja"] = F.when(ja_dom, kana + han).otherwise(kana)
    scores["hits_zh"] = F.when(ja_dom, F.lit(0)).otherwise(han)
    best = F.greatest(*scores.values())
    guess = None
    for lang in sorted([*LANG_MARKERS, *LANG_SCRIPTS]):
        cond = scores[f"hits_{lang}"] == best
        guess = F.when(cond, F.lit(lang)) if guess is None \
            else guess.when(cond, F.lit(lang))
    return guess


def lang_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc marker-word hit counts + argmax language guess."""
    hit_cols = lang_hit_exprs(F.col(text_col))
    out = docs.select("doc_id", *[c.alias(n) for n, c in hit_cols.items()])
    named = {n: F.col(n) for n in hit_cols}
    return out.select("doc_id", *named,
                      lang_guess_expr(named).alias("lang_guess"))


_QC_UDF = None


def _quality_counts_udf():
    """Arrow kernel for the three quality counters (token count,
    stopword hits, punct chars). r6: the expression form re-ran the
    interpreted split+filter chain once per REFERENCING expression
    (higher-order functions get neither codegen nor subexpression
    elimination — measured 1.55 s at sf1.0 for the one projection);
    the counts are exact integers, and every float op (mean, score,
    rounding) stays JVM-side on those integers, so no cross-engine
    float parity is at stake. Tokenizer/regex parity with the JVM
    expressions (Java \\s, ASCII \\w) is locked by
    tests/test_analytics.py::test_quality_counts_udf_matches_exprs."""
    global _QC_UDF
    if _QC_UDF is None:
        import re

        from .dedup import _java_tokens

        # Java regex [^\w\s] semantics: ASCII \w and \s
        punct_re = re.compile(r"[^\w\s]", re.ASCII)
        stop = frozenset(LANG_MARKERS["en"])

        @F.pandas_udf("struct<nt: int, sh: int, pc: int>")
        def qc(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
            for col in it:
                nts, shs, pcs = [], [], []
                for t in col:
                    if t is None:
                        nts.append(None)
                        shs.append(None)
                        pcs.append(None)
                        continue
                    toks = _java_tokens(t)
                    nts.append(len(toks))
                    n = 0
                    for x in toks:
                        if x in stop:
                            n += 1
                    shs.append(n)
                    pcs.append(len(punct_re.findall(t)))
                yield pd.DataFrame({"nt": pd.array(nts, dtype="Int32"),
                                    "sh": pd.array(shs, dtype="Int32"),
                                    "pc": pd.array(pcs, dtype="Int32")})

        # semantically deterministic; the marker stops Catalyst's
        # filter pushdown from CLONING the kernel below a consumer's
        # quality filter (same hazard + fix as dedup.contamination —
        # observed: corpus_filter's quality gate doubled the node)
        _QC_UDF = qc.asNondeterministic()
    return _QC_UDF


def quality_exprs(text_col) -> dict[str, "F.Column"]:
    """Quality-feature expressions (pure projections): token/char/
    stopword/punctuation counts, mean token length, composite score in
    [0,1] — composable into one select (single text pass via the Arrow
    counter kernel; identical values to the original expression
    form)."""
    qc = _quality_counts_udf()(text_col)
    n_tokens = qc["nt"]
    n_chars = F.length(text_col)
    stop_hits = qc["sh"]
    punct = qc["pc"]
    mean_tok = (n_chars - (n_tokens - 1)) / n_tokens
    score = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.least(stop_hits / F.greatest(n_tokens, F.lit(1)) * 10.0,
                  F.lit(1.0)) * 0.3
        + (1.0 - F.least(punct / F.greatest(n_chars, F.lit(1)) * 5.0,
                         F.lit(1.0))) * 0.3
    )
    return {
        "n_tokens": n_tokens,
        "stopword_hits": stop_hits,
        "punct_chars": punct,
        "mean_token_len": F.round(mean_tok, 6),
        "quality_score": F.round(score, 6),
    }


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / mean-token-length features and a
    composite score in [0,1] (web-corpus quality filtering)."""
    exprs = quality_exprs(F.col(text_col))
    return docs.select(
        "doc_id", *[c.alias(n) for n, c in exprs.items()])


def repetition_features(docs: DataFrame,
                        text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals, fully expression-level
    (zero shuffles — every value comes from one projection):

    * top_bigram_frac — occurrences of the most frequent token bigram /
      total bigrams. The per-doc mode is computed WITHOUT a groupBy:
      sort the bigram array, then a single fold tracks the longest
      equal-run (run length in a sorted array == occurrence count).
    * dup_bigram_frac — 1 - distinct/total bigrams.
    * dup_trigram_frac — same over the rolling 3-gram shingle hashes.

    Docs too short for an n-gram get 0.0 for that feature."""
    toks = tokens(F.col(text_col))
    df = docs.withColumn("_tk", toks)
    m = F.size("_tk") - 1
    bg = F.when(m >= 1, F.zip_with(
        F.slice("_tk", 1, F.greatest(m, F.lit(1))),
        F.slice("_tk", 2, F.greatest(m, F.lit(1))),
        lambda a, b: F.concat(a, F.lit(" "), b))) \
        .otherwise(F.array().cast("array<string>"))
    df = df.withColumn("_bg", bg)          # multi-referenced: own column
    df = df.withColumn("_sbg", F.array_sort("_bg"))
    run = F.aggregate(
        "_sbg",
        F.struct(F.lit("\x00").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1)).alias("run"),
            F.greatest(acc["best"],
                       F.when(x == acc["prev"], acc["run"] + 1)
                       .otherwise(F.lit(1))).alias("best")),
        lambda acc: acc["best"])
    total = F.size("_bg")
    top_frac = F.when(total > 0, run / total).otherwise(F.lit(0.0))
    dup_bg = F.when(
        total > 0,
        1.0 - F.size(F.array_distinct("_bg")) / total).otherwise(F.lit(0.0))
    df = with_shingle_hashes(df, text_col)   # 'sh': 3-gram hashes
    n_tok = F.size("_tk")
    tri_total = F.size("sh")
    dup_tri = F.when(
        n_tok >= 3,
        1.0 - F.size(F.array_distinct("sh")) / tri_total) \
        .otherwise(F.lit(0.0))
    return df.select(
        "doc_id",
        F.round(top_frac, 6).alias("top_bigram_frac"),
        F.round(dup_bg, 6).alias("dup_bigram_frac"),
        F.round(dup_tri, 6).alias("dup_trigram_frac"),
    )


def chunk_documents(docs: DataFrame, text_col: str = "text",
                    chunk_tokens: int = 128) -> DataFrame:
    """Training-data chunking: split each document into consecutive
    ``chunk_tokens``-token windows (no overlap), one output row per
    chunk. Pure per-row explode — no shuffle; chunk boundaries are
    deterministic functions of the token sequence."""
    k = chunk_tokens
    df = (docs.withColumn("_tk", tokens(F.col(text_col)))
          .withColumn("_n", F.size("_tk")))
    nchunks = F.floor((F.col("_n") + k - 1) / k).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), nchunks - 1),
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.array_join(F.slice("_tk", i * k + 1, k), " ")
            .alias("chunk_text"),
            F.least(F.lit(k), F.col("_n") - i * k).alias("n_tokens")))
    return (df.select("doc_id", F.explode(chunks).alias("c"))
            .select("doc_id",
                    F.col("c.chunk_idx").cast("long").alias("chunk_idx"),
                    "c.chunk_text",
                    F.col("c.n_tokens").cast("long").alias("n_tokens")))


def fingerprints(docs: DataFrame, text_col: str = "text",
                 n: int = 8) -> DataFrame:
    """Rolling shingle fingerprint: min/max rolling-hash over token
    8-grams — a winnowing-style content fingerprint, join-friendly for
    clustering."""
    df = with_shingle_hashes(docs, text_col, n=n)
    return df.select(
        "doc_id",
        F.array_min("sh").alias("fp_min"),
        F.array_max("sh").alias("fp_max"),
    )


# PII patterns chosen for identical semantics in Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded repetition, \b word breaks —
# no backreferences or lookaround (RE2 has neither).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
}


def pii_features(docs: DataFrame, text_col: str = "text",
                 redact: bool = True) -> DataFrame:
    """PII detection/redaction (corpus-sanitization family): per-doc
    match counts for each pattern plus a redacted text column where
    every match becomes ``[PII:<kind>]``. Pure JVM expressions
    (regexp_count / regexp_replace) — zero shuffles, composable into
    corpus_filter-style projections."""
    cols = [F.col("doc_id")]
    total = None
    for kind, pat in PII_PATTERNS.items():
        c = F.regexp_count(F.col(text_col), F.lit(pat))
        cols.append(c.cast("long").alias(f"n_{kind}"))
        total = c if total is None else total + c
    cols.append(total.cast("long").alias("n_pii"))
    if redact:
        red = F.col(text_col)
        for kind, pat in PII_PATTERNS.items():
            red = F.regexp_replace(red, pat, f"[PII:{kind}]")
        cols.append(red.alias("redacted"))
    return docs.select(*cols)


def boilerplate_ngrams(docs: DataFrame, text_col: str = "text",
                       n: int = 5, min_docs: int = 3) -> DataFrame:
    """Boilerplate pruning signal (CCNet/C4-style): for each document,
    how many of its token ``n``-gram shingles occur in >= ``min_docs``
    DISTINCT documents, and the boilerplate fraction.

    Plan shape for 100 TB: explode NARROW (doc_id, shingle-hash) rows
    (never text), one map-side-combined groupBy for the global shingle
    document-frequency, filter to the common tail, then a left join
    back and ONE per-doc aggregation counting both total and common
    shingles — the exchanges carry 16-byte rows and the common-shingle
    side shrinks with min_docs. No driver-side state at any size. (The
    exploded frame is evaluated twice — frequency branch and join
    branch; at 10^12 docs it is too large to cache and recompute is the
    right trade, the tokenize being map-side-only.)"""
    from .dedup import shingle_hash_udf

    sh = docs.select(
        "doc_id",
        F.explode(shingle_hash_udf(n, distinct=True)(F.col(text_col)))
        .alias("h"))
    # (doc_id, h) rows are distinct per doc by construction (explode of
    # the per-doc DISTINCT shingle set), so count(*) == count_distinct
    # (r6: drops the two-phase count-distinct expand — one aggregation
    # pass instead of two over the 16-byte rows)
    common = (sh.groupBy("h")
              .agg(F.count("*").alias("df"))
              .where(F.col("df") >= min_docs)
              .select("h", F.lit(1).alias("_c")))
    return (sh.join(common, "h", "left")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shingles"),
                 F.count("_c").alias("n_common"))
            .select("doc_id",
                    F.col("n_shingles").cast("long").alias("n_shingles"),
                    F.col("n_common").cast("long").alias("n_common"),
                    F.round(F.col("n_common") / F.col("n_shingles"), 6)
                    .alias("boilerplate_frac")))


def sample_corpus(docs: DataFrame, fraction: float,
                  salt: str = "s0", id_col: str = "doc_id") -> DataFrame:
    """Deterministic hash sampling: keep a document iff
    md5(salt || doc_id) mod 1e6 < fraction * 1e6. Unlike rand()-based
    sampling this is reproducible across runs/engines, composable
    (different salts give independent samples), and a pure filter —
    predicate-pushdown-friendly, zero shuffles. The standard way to
    carve dev/holdout splits out of a 10^12-doc corpus."""
    bucket = F.conv(F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
        1, 15), 16, 10).cast("long") % 1_000_000
    return docs.where(bucket < int(fraction * 1_000_000))


def mix_corpus(docs: DataFrame, fractions: dict[str, float],
               key_col: str = "lang", salt: str = "mix0",
               default_fraction: float = 0.0,
               id_col: str = "doc_id") -> DataFrame:
    """Deterministic per-group downsampling to target mixture weights
    (DoReMi/Dolma-style data mixing): keep each group's documents at
    its ``fractions[group]`` rate via the same md5-bucket rule as
    sample_corpus, so a domain/language reweighting is reproducible
    across runs AND composable with held-out splits (different salts
    are independent). Groups absent from ``fractions`` keep
    ``default_fraction`` (0 = drop unlisted groups — allowlist mixing).

    Plan shape: the per-group threshold is a CASE expression over the
    key column — a pure filter projection, zero shuffles, zero joins
    (the mixture table is literals, not a broadcast frame). At 10^12
    docs this is the same scan-predicate cost as a constant-fraction
    sample."""
    bucket = F.conv(F.substring(
        F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
        1, 15), 16, 10).cast("long") % 1_000_000
    thr = None
    for key, frac in sorted(fractions.items()):
        cond = F.col(key_col) == key
        lim = F.lit(int(frac * 1_000_000))
        thr = F.when(cond, lim) if thr is None else thr.when(cond, lim)
    thr = (thr.otherwise(F.lit(int(default_fraction * 1_000_000)))
           if thr is not None
           else F.lit(int(default_fraction * 1_000_000)))
    return docs.where(bucket < thr)


def pack_chunks(docs: DataFrame, text_col: str = "text",
                chunk_tokens: int = 128, budget: int = 512,
                n_shards: int = 64) -> DataFrame:
    """Sequence packing for training: assign fixed-size chunks to
    context-window bins of ``budget`` tokens. Chunks are packed
    CONTIGUOUSLY per shard (bin = floor(running_tokens / budget) over
    the deterministic (doc_id, chunk_idx) order) — the streaming
    packing strategy, trading a little padding efficiency for a plan
    with exactly ONE shuffle (the per-shard window) whose width is the
    shard count, not the corpus. Shard = doc_id % n_shards keeps bins
    shard-local so 10^12 docs pack in parallel."""
    from pyspark.sql.window import Window

    chunks = chunk_documents(docs, text_col, chunk_tokens)
    shard = (F.col("doc_id") % n_shards).cast("int")
    w = (Window.partitionBy("shard")
         .orderBy("doc_id", "chunk_idx")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (chunks.withColumn("shard", shard)
            .withColumn("_run", F.sum("n_tokens").over(w))
            .select("shard", "doc_id", "chunk_idx", "n_tokens",
                    F.floor((F.col("_run") - 1) / budget).cast("long")
                    .alias("bin_id")))


def lm_quality(docs: DataFrame, text_col: str = "text",
               ref_mod: int = 10, ref_val: int = 1) -> DataFrame:
    """CCNet-style language-model quality score: a bigram LM with add-½
    smoothing is trained on a reference slice of the corpus (doc_id %
    ref_mod == ref_val plays the 'clean wikipedia' role) and every
    document is scored by its mean negative log-likelihood under it
    (lower = more reference-like; CCNet buckets corpora by exactly this
    signal, via KenLM).

    p(w2|w1) = (B(w1,w2) + 1/2) / (U(w1) + V/2), so each bigram's NLL
    is ln(2*U(w1) + V) - ln(2*B(w1,w2) + 1) — logs of exact INTEGERS,
    which keeps Spark and DuckDB bit-comparable (4-dp rounded mean).

    Plan: reference uni/bigram count tables via map-side-combined
    groupBys over narrow token rows; scoring is doc-bigram explode ->
    two left joins -> one per-doc aggregation. The LM tables shard with
    the joins (never driver-side); V is a 1-row broadcast. Docs with
    < 2 tokens have no bigrams and are absent from the output."""
    toks = tokens(F.col(text_col))
    m = F.size("_tk") - 1
    bg = (docs.withColumn("_tk", toks)
          .where(F.size("_tk") >= 2)
          .select("doc_id",
                  F.explode(F.zip_with(
                      F.slice("_tk", 1, F.greatest(m, F.lit(1))),
                      F.slice("_tk", 2, F.greatest(m, F.lit(1))),
                      lambda a, b: F.struct(a.alias("w1"),
                                            b.alias("w2")))).alias("b"))
          .select("doc_id", "b.w1", "b.w2"))
    ref = bg.where(F.col("doc_id") % ref_mod == ref_val)
    uni = (ref.groupBy("w1").agg(F.count("*").alias("u")))
    big = (ref.groupBy("w1", "w2").agg(F.count("*").alias("bcnt")))
    vocab = uni.agg(F.count("*").alias("v"))  # 1 row -> broadcast

    scored = (bg.join(big, ["w1", "w2"], "left")
              .join(uni, ["w1"], "left")
              .crossJoin(F.broadcast(vocab))
              .select("doc_id",
                      (F.log(2 * F.coalesce("u", F.lit(0)) + F.col("v"))
                       - F.log(2 * F.coalesce("bcnt", F.lit(0)) + 1))
                      .alias("nll")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.round(F.avg("nll"), 4).alias("avg_nll")))


def ppl_buckets(docs: DataFrame, text_col: str = "text",
                ref_mod: int = 10, ref_val: int = 1,
                return_handle: bool = False, exact: bool = True,
                approx_accuracy: int = 10000):
    """CCNet head/middle/tail corpus partition: bucket every document by
    its LM score (``lm_quality`` avg_nll) into the best/middle/worst
    third of the corpus — CCNet shards Common Crawl into exactly these
    three perplexity bands and most pipelines train on head+middle.

    Buckets come from value thresholds (the 1/3 and 2/3 percentiles of
    avg_nll), NOT a global NTILE: a rank window would funnel the whole
    corpus through one sorted partition, while the threshold aggregate
    reduces map-side and broadcasts ONE row back. At bench scale the
    default exact ``percentile`` keeps the oracle bit-comparable
    (verified identical to DuckDB ``quantile_cont``); at 10^12 docs pass
    ``exact=False`` for ``approx_percentile`` — exact percentile holds
    every distinct avg_nll in the aggregation buffer (unbounded for a
    corpus-sized continuous score), while the approx sketch is
    fixed-size at ~``approx_accuracy`` entries with relative rank error
    <= 1/accuracy. Identical plan shape, same 1-row broadcast
    (tests/test_analytics.py locks both).

    The per-doc scores feed BOTH the threshold aggregate and the final
    labeling, so the narrow (doc_id, n_bigrams, avg_nll) frame is
    persisted — 3 scalars/doc spill-able to local disk — instead of
    re-running the whole bigram-LM scan+join pipeline twice. With
    ``return_handle=True`` returns ``(df, handle)`` for explicit
    ``handle.unpersist()``; the default attaches the dedup_clusters-
    style ``lsh_persisted_base`` attribute."""
    from pyspark import StorageLevel

    scored = lm_quality(docs, text_col, ref_mod, ref_val) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    fractions = F.array(F.lit(1.0 / 3), F.lit(2.0 / 3))
    cut_agg = (F.percentile("avg_nll", fractions) if exact else
               F.approx_percentile("avg_nll", fractions,
                                   F.lit(approx_accuracy)))
    cuts = scored.agg(cut_agg.alias("c"))
    result = (scored.crossJoin(F.broadcast(cuts))
              .select("doc_id", "avg_nll",
                      F.when(F.col("avg_nll") <= F.element_at("c", 1),
                             F.lit("head"))
                      .when(F.col("avg_nll") <= F.element_at("c", 2),
                            F.lit("middle"))
                      .otherwise(F.lit("tail")).alias("bucket")))
    if return_handle:
        return result, scored
    result.lsh_persisted_base = scored
    return result


def vocabulary(docs: DataFrame, text_col: str = "text",
               min_count: int = 2) -> DataFrame:
    """Corpus vocabulary: per-token total occurrences and document
    frequency, pruned to tokens seen >= ``min_count`` times — the input
    table for tokenizer training (tools/train_bpe.py consumes exactly
    these counts) and for OOV/coverage analysis.

    Plan shape for 100 TB: explode narrow (doc_id, token) rows, ONE
    grouped aggregation; count(*) partial-aggregates map-side and the
    distinct-doc count uses the two-phase (token, doc_id) expand —
    shuffles carry token-keyed partial rows only, never text. The
    min_count filter prunes the hapax-dominated tail (~half of a web
    corpus's distinct tokens) before any consumer join."""
    toks = (docs.select("doc_id",
                        F.explode(tokens(F.col(text_col))).alias("token")))
    return (toks.groupBy("token")
            .agg(F.count("*").alias("n_occurrences"),
                 F.count_distinct("doc_id").alias("n_docs"))
            .where(F.col("n_occurrences") >= min_count))


def normalize_text(docs: DataFrame, text_col: str = "text",
                   form: str = "NFC",
                   out_col: str | None = None) -> DataFrame:
    """Unicode normalization (CCNet/Dolma run NFC/NFKC before any
    hashing): a decomposed 'e'+COMBINING-ACUTE and its composed 'é'
    twin are byte-different — every hash-based dedup/fingerprint
    operator in this module would treat them as distinct documents
    unless normalization runs first.

    Spark has no built-in normalizer, so this is the sanctioned
    Arrow-batched pandas-UDF path (per-row Python, but unicodedata.
    normalize is C-speed and the fast-path check for already-normalized
    text — the overwhelming web majority — is O(1) per ASCII run).
    Replaces ``text_col`` in place unless ``out_col`` is given; DuckDB
    cross-checks the NFC form via nfc_normalize (tests)."""
    import unicodedata

    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    @F.pandas_udf("string")
    def norm(col: pd.Series) -> pd.Series:
        return col.map(lambda t: unicodedata.normalize(form, t)
                       if t is not None else None)

    return docs.withColumn(out_col or text_col, norm(F.col(text_col)))
