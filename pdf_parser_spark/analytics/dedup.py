"""Deduplication operators over a (doc_id, text) corpus.

Hash design (portable to DuckDB for the oracle, fast in Spark):

* ONE md5 pass per token (``_md5_int``: first 60 bits of md5 as int64 —
  DuckDB: CAST(concat('0x', substr(md5(x),1,15)) AS UBIGINT)).
* shingle hashes: rolling combine of n consecutive token hashes,
  ``z := (z % P) * 31 + (h % P), then % P`` — no shingle strings built.
* minhash permutations: universal hashing ``(h % P * a_j + b_j) % P``
  from the single base hash — NOT one md5 per permutation.

PERF invariants (measured; see git history for the 100s -> 0.9s arc):

* every multi-referenced array lives in its own ``withColumn`` — a
  lambda body that references a non-trivial expression re-evaluates it
  PER ELEMENT (higher-order functions are interpreted, no CSE);
* lambdas only touch their own arguments;
* lambdas must have arity exactly 1 or 2 that matches intent — pyspark
  treats a second parameter (including defaults!) as the element index.

Plan-shape notes for 100 TB:
* token/shingle/minhash math is per-row, no shuffle;
* LSH banding shuffles narrow (doc_id, band, bucket) rows only; shingle
  arrays are re-attached to the few surviving pairs afterwards;
* bucket sizes are content-hash-bounded — no skew salting needed.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator
from itertools import chain

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_MINHASH = 8        # permutations (bands x rows)
N_BANDS = 4          # LSH bands -> 2 rows per band
SHINGLE_N = 3        # token shingle width
P = 2147483647       # Mersenne prime 2^31 - 1
MAX_BENCH_SHINGLES = 10_000_000  # driver-side cap for contamination()


def _md5_int(col):
    """First 60 bits of md5 as a non-negative bigint (DuckDB-portable)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def tokens(text_col):
    return F.split(F.trim(text_col), r"\s+")


def _perm(a: int, b: int):
    def apply(h):
        return (h % P * a + b) % P
    return apply


def perm_params(j: int) -> tuple[int, int]:
    """Deterministic universal-hash parameters for permutation j."""
    return 1103515245 + 2 * j + 1, 12345 + 7919 * j


# -- vectorized token/shingle hashing (Arrow UDFs) ---------------------------
#
# r6 optimization (guide §4.2): the expression form — one
# conv(substring(md5(token),1,15),16,10) per token INSIDE a transform()
# lambda — runs interpreted (higher-order functions get no codegen) and
# measured ~35 us per token: the md5 pass alone cost ~3 s of the sf1.0
# wall for every shingle-family query. The Arrow path below computes
# the IDENTICAL values (hashlib md5 == JVM md5; first 60 bits) with a
# per-task token-hash memo (natural-language vocabularies repeat
# tokens thousands of times) and numpy for the rolling combine —
# measured ~50x less CPU for the same output (parity locked by
# tests/test_analytics.py::test_shingle_udf_matches_expression_form).
#
# Tokenization parity: Spark's split(trim(text), '\\s+') means Java
# regex \s (ASCII [ \t\n\x0B\f\r]) over a string trimmed of SPACES
# only, keeping leading/trailing empty tokens — mirrored exactly.

_JAVA_WS_RE = re.compile("[ \t\n\x0b\f\r]+")
_MEMO_CAP = 2_000_000  # bound per-task memo growth on huge vocabularies
_JAVA_WS_EDGE = "\t\n\x0b\f\r"


def _java_tokens(t: str) -> list[str]:
    """Tokens of ``split(trim(text), '\\s+')`` with Java semantics.

    Fast path (C-speed ``str.split``, ~6x the regex) when provably
    equivalent: ASCII text with none of \\x1c-\\x1f (ASCII chars that
    Python's whitespace split honors but Java's \\s does not). Java
    split keeps leading/trailing empty tokens for edge whitespace —
    restored from O(1) first/last-char checks. Everything else takes
    the exact regex path."""
    s = t.strip(" ")
    if s.isascii() and "\x1c" not in s and "\x1d" not in s \
            and "\x1e" not in s and "\x1f" not in s:
        if not s:
            return [""]
        toks = s.split()
        if s[0] in _JAVA_WS_EDGE:
            toks.insert(0, "")
        if s[-1] in _JAVA_WS_EDGE:
            toks.append("")
        return toks
    return _JAVA_WS_RE.split(s)


def _token_hashes(texts, memo: dict) -> tuple[np.ndarray, np.ndarray]:
    """Per-document token counts and the flat md5-60 hash of every token
    occurrence, over the concatenated token stream of ``texts`` (no
    None). Tokens are integer-coded with ``pd.factorize`` so md5 runs
    once per DISTINCT token (plus the cross-batch ``memo``)."""
    tok_lists = [_java_tokens(t) for t in texts]
    lens = np.fromiter(map(len, tok_lists), dtype=np.int64,
                       count=len(tok_lists))
    flat = np.fromiter(chain.from_iterable(tok_lists), dtype=object,
                       count=int(lens.sum()))
    codes, uniq = pd.factorize(flat)
    hv = np.empty(len(uniq), dtype=np.int64)
    get = memo.get
    for k, tok in enumerate(uniq):
        v = get(tok)
        if v is None:
            if len(memo) > _MEMO_CAP:
                memo.clear()
            v = memo[tok] = (int.from_bytes(
                hashlib.md5(tok.encode("utf-8")).digest()[:8], "big") >> 4)
        hv[k] = v
    return lens, hv[codes]


def _sh_batch(texts, n: int, memo: dict,
              distinct: bool) -> list:
    """Hashed token n-gram shingles of every document in the batch (int64
    numpy arrays; same values as the expression pipeline in the module
    docstring), None for a None text. One flat vectorized pass: the
    rolling n-gram combine and the per-row distinct reduction run as
    single numpy passes over the concatenated token stream — no per-row
    Python beyond the regex split."""
    idxs = [i for i, t in enumerate(texts) if t is not None]
    out: list = [None] * len(texts)
    if not idxs:
        return out
    lens, th = _token_hashes([texts[i] for i in idxs], memo)
    thp = th % P

    starts = np.zeros(len(lens), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    long_m = lens >= n
    m = np.where(long_m, lens - (n - 1), 1)
    # grouped arange: global positions of every shingle's first token
    mstarts = np.zeros(len(m), dtype=np.int64)
    np.cumsum(m[:-1], out=mstarts[1:])
    tm = int(m.sum())
    pos = (np.arange(tm, dtype=np.int64)
           - np.repeat(mstarts, m) + np.repeat(starts, m))
    is_long = np.repeat(long_m, m)
    if is_long.all():
        pos_l = pos
    else:
        pos_l = pos[is_long]
    zl = thp[pos_l].copy()
    for k in range(1, n):
        zl *= 31
        zl += thp[pos_l + k]
        zl %= P
    if pos_l is pos:
        z = zl
    else:
        z = thp[pos].copy()  # short docs: [first-token-hash % P]
        z[is_long] = zl
    if distinct:
        # per-row sorted-unique in one pass: sort composite
        # (row << 31 | value) keys — values are < P = 2^31, so the key
        # orders by (row, value) — and drop adjacent duplicates; the
        # per-row order matches a row-at-a-time np.unique exactly
        rows = np.repeat(np.arange(len(m), dtype=np.int64), m)
        ks = np.sort((rows << 31) | z)
        keep = np.ones(tm, dtype=bool)
        keep[1:] = ks[1:] != ks[:-1]
        kk = ks[keep]
        zk = kk & ((1 << 31) - 1)
        counts = np.bincount(kk >> 31, minlength=len(m))
        bounds = np.cumsum(counts)[:-1]
        parts = np.split(zk, bounds)
    else:
        parts = np.split(z, np.cumsum(m)[:-1])
    for i, arr in zip(idxs, parts):
        out[i] = arr
    return out


_PERM_A = np.array([perm_params(j)[0] for j in range(N_MINHASH)],
                   dtype=np.int64)
_PERM_B = np.array([perm_params(j)[1] for j in range(N_MINHASH)],
                   dtype=np.int64)

_SH_UDFS: dict = {}


def shingle_hash_udf(n: int = SHINGLE_N, distinct: bool = False):
    """pandas UDF: text -> array<long> of hashed n-gram shingles
    (``distinct=True`` applies the sorted-unique reduction Python-side
    so only the distinct set crosses Arrow). Iterator form: the token
    memo initializes once per task (guide §4.5)."""
    key = (n, distinct)
    if key in _SH_UDFS:
        return _SH_UDFS[key]

    @F.pandas_udf("array<bigint>")
    def sh(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        memo: dict = {}
        for col in it:
            yield pd.Series(_sh_batch(col.tolist(), n, memo, distinct))

    _SH_UDFS[key] = sh
    return sh


_SEG_UDFS: dict = {}


def seg_hash_udf(k: int):
    """pandas UDF: text -> array<long> of hashed ``k``-token span
    digests (md5-60bit of the space-joined token window — identical to
    ``_md5_int(array_join(slice(tk, i*k+1, k), ' '))``). r6: the
    expression form built every span STRING inside an interpreted
    transform(); this computes the hashes in one Python pass with a
    per-task memo (boilerplate spans repeat corpus-wide)."""
    if k in _SEG_UDFS:
        return _SEG_UDFS[k]

    @F.pandas_udf("array<bigint>")
    def seg(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        memo: dict = {}
        get = memo.get
        for col in it:
            out: list = []
            for t in col:
                if t is None:
                    out.append(None)
                    continue
                toks = _java_tokens(t)
                nseg = (len(toks) + k - 1) // k
                if nseg == 0:
                    nseg = 1  # unreachable (>=1 token) — guard anyway
                arr = np.empty(nseg, dtype=np.int64)
                for i in range(nseg):
                    s = " ".join(toks[i * k:i * k + k])
                    v = get(s)
                    if v is None:
                        if len(memo) > _MEMO_CAP:
                            memo.clear()
                        v = memo[s] = (int.from_bytes(
                            hashlib.md5(s.encode("utf-8")).digest()[:8],
                            "big") >> 4)
                    arr[i] = v
                out.append(arr)
            yield pd.Series(out)

    _SEG_UDFS[k] = seg
    return seg


_SHD_MH_UDFS: dict = {}


def shd_mh_udf(n: int = SHINGLE_N):
    """pandas UDF: text -> struct(shd: distinct shingle hashes,
    mh: the N_MINHASH minhash values). One text pass feeds both the
    LSH banding branch and the exact-jaccard rerank branch. minhash
    over the distinct set equals minhash over the multiset (array_min
    is multiset-invariant), matching ``with_minhash``'s values. The
    per-permutation min runs as one segmented numpy reduce over the
    batch's concatenated shingles — no per-row Python loop."""
    if n in _SHD_MH_UDFS:
        return _SHD_MH_UDFS[n]

    @F.pandas_udf("struct<shd: array<bigint>, mh: array<bigint>>")
    def shd_mh(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        memo: dict = {}
        for col in it:
            shds = _sh_batch(col.tolist(), n, memo, True)
            present = [s for s in shds if s is not None]
            if present:
                flat = np.concatenate(present)
                lens = np.fromiter((len(s) for s in present),
                                   dtype=np.int64, count=len(present))
                starts = np.zeros(len(present), dtype=np.int64)
                np.cumsum(lens[:-1], out=starts[1:])
                mh_rows = np.empty((len(present), N_MINHASH),
                                   dtype=np.int64)
                for j in range(N_MINHASH):
                    pj = (flat * _PERM_A[j] + _PERM_B[j]) % P
                    mh_rows[:, j] = np.minimum.reduceat(pj, starts)
            mhs: list = []
            i = 0
            for s in shds:
                if s is None:
                    mhs.append(None)
                else:
                    mhs.append(mh_rows[i])
                    i += 1
            yield pd.DataFrame({"shd": shds, "mh": mhs})

    _SHD_MH_UDFS[n] = shd_mh
    return shd_mh


def with_shingle_hashes(docs: DataFrame, text_col: str = "text",
                        n: int = SHINGLE_N,
                        out: str = "sh") -> DataFrame:
    """Adds ``out``: array<long> of hashed token n-gram shingles.
    Short docs (< n tokens) get [first-token-hash]. r6: computed by the
    vectorized Arrow UDF above (identical values, ~50x less CPU than
    the interpreted per-token expression form)."""
    return docs.withColumn(out, shingle_hash_udf(n)(F.col(text_col)))


def with_minhash(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds mh0..mh{k-1} columns (the minhash signature). r6: one fused
    Arrow pass (shd_mh_udf); the ``sh`` column is no longer attached —
    no caller consumed it (callers needing shingles use
    with_shingle_hashes)."""
    sm = shd_mh_udf()(F.col(text_col))
    df = docs.withColumn("_sm", sm)
    for j in range(N_MINHASH):
        df = df.withColumn(f"mh{j}", F.col("_sm.mh")[j])
    return df.drop("_sm")


def banded_keys(sig: DataFrame, *keep_cols: str,
                bands: int = N_BANDS) -> DataFrame:
    """Explode a minhash-signature frame (mh0..mh{N-1}) into LSH
    (band, bucket) rows, keeping ``keep_cols``. The ONE definition of
    the bucket encoding — batch pairs, the persistable index, and the
    streaming operator must stay bucket-compatible with each other and
    with the DuckDB oracle's banded CTE, so they all call this."""
    rows = N_MINHASH // bands
    bb = F.explode(F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(",", *[
                F.col(f"mh{b * rows + r}").cast("string")
                for r in range(rows)]).alias("bucket"))
        for b in range(bands)]))
    return (sig.select(*keep_cols, bb.alias("bb"))
            .select(*keep_cols, "bb.band", "bb.bucket"))


def lsh_candidate_pairs(docs: DataFrame, text_col: str = "text",
                        bands: int = N_BANDS,
                        persist: bool = True) -> DataFrame:
    """MinHash-LSH near-duplicate candidates: band the signature, bucket
    by the banded signature slice, emit intra-bucket pairs with exact
    hashed-shingle Jaccard similarity.

    ONE tokenize+hash pass over the corpus: the narrow (doc_id,
    distinct-shingles) frame is computed once and persisted, then feeds
    BOTH the banding branch (minhash over the distinct set — array_min
    is multiset-invariant, so this equals with_minhash's value) and the
    rerank branch. Catalyst does not CSE across the self-join, so
    without the persist each branch would re-tokenize the corpus.

    Cache lifetime: the persisted frame must outlive the CALLER's
    action, so this function cannot unpersist it. The handle is exposed
    as ``result.lsh_persisted_base`` — long-lived sessions that call
    this repeatedly should ``result.lsh_persisted_base.unpersist()``
    after consuming the result (or pass persist=False to trade the
    second tokenize pass for zero cache footprint).

    r6: the base computes shd AND the minhash values in ONE fused Arrow
    pass (shd_mh_udf) and persists both, so neither branch re-pays the
    per-shingle permutation work (the old plan recomputed 8 interpreted
    array_min(transform(...)) chains over the cached shd on each side
    of the self-join)."""
    sm = shd_mh_udf()(F.col(text_col))
    base = (docs.select("doc_id", sm.alias("_sm"))
            .select("doc_id", F.col("_sm.shd").alias("shd"),
                    *[F.col("_sm.mh")[j].alias(f"mh{j}")
                      for j in range(N_MINHASH)]))
    if persist:
        base = base.persist()
    # narrow banding rows only (no arrays through the join shuffle)
    banded = banded_keys(base, "doc_id", bands=bands)
    pairs = (banded.alias("a").join(banded.alias("b"), on=["band", "bucket"])
             .where(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .distinct())
    pairs = (pairs
             .join(base.select(F.col("doc_id").alias("doc_a"),
                               F.col("shd").alias("sh_a")), "doc_a")
             .join(base.select(F.col("doc_id").alias("doc_b"),
                               F.col("shd").alias("sh_b")), "doc_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    result = pairs.select("doc_a", "doc_b",
                          F.round(inter / union, 6).alias("jaccard"))
    result.lsh_persisted_base = base  # see docstring: caller may release
    return result


_SIMHASH_UDFS: dict = {}


def _simhash_udf(bits: int):
    """pandas UDF: text -> SimHash (same md5-60bit token hashes, same
    per-bit signed vote over token OCCURRENCES, same sign->bit packing
    as the former explode+groupBy form — exact integer math)."""
    if bits in _SIMHASH_UDFS:
        return _SIMHASH_UDFS[bits]
    shifts = np.arange(bits, dtype=np.int64)

    @F.pandas_udf("bigint")
    def sh(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        memo: dict = {}
        for col in it:
            if not len(col):
                yield pd.Series([], dtype="int64")
                continue
            lens, th = _token_hashes(col, memo)
            votes = (((th[:, None] >> shifts) & 1) * 2 - 1)
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            sums = np.add.reduceat(votes, starts, axis=0)
            sim = ((sums > 0).astype(np.int64)
                   << shifts[None, :]).sum(axis=1)
            yield pd.Series(sim)

    _SIMHASH_UDFS[bits] = sh
    return sh


def simhash(docs: DataFrame, text_col: str = "text",
            bits: int = 16) -> DataFrame:
    """16-bit SimHash over whitespace tokens. r6: one vectorized Arrow
    projection — the former explode + 16-way signed groupBy shuffled a
    (doc_id, token-hash) row per token occurrence; this shuffles
    NOTHING (scan -> projection), identical values."""
    return (docs.where(F.col(text_col).isNotNull())
            .select("doc_id",
                    _simhash_udf(bits)(F.col(text_col)).alias("simhash")))


def exact_duplicates(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup with canonical representative."""
    return (docs.groupBy(F.md5(F.encode(text_col, "UTF-8")).alias("text_hash"))
            .agg(F.count("*").alias("n_copies"),
                 F.min("doc_id").alias("canonical_doc_id")))


def contamination(docs: DataFrame, text_col: str = "text",
                  n: int = 8) -> DataFrame:
    """Benchmark decontamination: fraction of each candidate document's
    token ``n``-gram shingles that appear in the benchmark set
    (doc_id % 100 == 7 plays the held-out benchmark here).

    Plan shape for 100 TB: the benchmark shingle set is SMALL by
    construction (benchmarks are a few thousand documents), so it is
    collected once (bounded by benchmark size, never the corpus — the
    same memory a broadcast-join build side would occupy driver-side)
    and membership runs as a vectorized numpy isin inside an Arrow UDF.
    The candidate side therefore never explodes, never joins, never
    shuffles: the whole query is scan -> projection. r6: tokenize +
    shingle + membership are FUSED into one Arrow UDF (the old plan
    ran the interpreted per-token md5 expression chain, then shipped
    the shingle arrays into a second Python node just to isin them)."""
    is_bench = F.col("doc_id") % 100 == 7
    bench_df = (docs.where(is_bench)
                .select(F.explode(
                    shingle_hash_udf(n, distinct=True)(F.col(text_col))
                ).alias("h"))
                .distinct())
    # fail fast instead of OOMing the driver when the "benchmark" side
    # is mis-shaped (it must stay broadcast-sized by construction).
    # r6: ONE job — limit(cap+1).toPandas() bounds driver memory at the
    # cap AND detects overflow (the old separate count() guard ran the
    # whole benchmark-side shingle pass twice). Arrow collect:
    # ~8 bytes/hash driver-side.
    bench_pdf = bench_df.limit(MAX_BENCH_SHINGLES + 1).toPandas()
    if len(bench_pdf) > MAX_BENCH_SHINGLES:
        raise ValueError(
            f"contamination: benchmark shingle set exceeds "
            f"{MAX_BENCH_SHINGLES} distinct hashes — this side must "
            f"be benchmark-sized; shard the benchmark or use a bloom "
            f"filter")
    bench = np.sort(bench_pdf["h"].to_numpy(dtype=np.int64))

    # BOTH counts come out of the UDF: every downstream column then
    # derives from the Python boundary, so a consumer's filter (e.g.
    # contam_frac <= 0.2 in training_corpus) CANNOT be substituted
    # below the projection — Catalyst would otherwise re-inline the
    # whole shingle pipeline into the Filter and evaluate it per row a
    # second time (measured: 0.11 s -> 8.5 s at sf0.1 for one filtered
    # consumer)
    @F.pandas_udf("struct<contam_hits: long, n_shingles: long>")
    def hits_n(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        memo: dict = {}
        for col in it:
            if not len(col):
                yield pd.DataFrame(
                    {"contam_hits": [], "n_shingles": []}, dtype="int64")
                continue
            shn = _sh_batch(col.tolist(), n, memo, False)
            lens = np.fromiter((len(a) for a in shn), dtype=np.int64,
                               count=len(shn))
            # _sh_batch guarantees >= 1 shingle per row, so the reduceat
            # segments are never empty
            flat = np.concatenate(shn)
            mask = np.isin(flat, bench).astype(np.int64)
            starts = np.zeros(len(shn), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            yield pd.DataFrame({
                "contam_hits": np.add.reduceat(mask, starts),
                "n_shingles": lens,
            })

    # the UDF is semantically deterministic, but the marker stops
    # Catalyst's filter pushdown from CLONING it below a consumer's
    # filter (observed plan: two ArrowEvalPython nodes each feeding the
    # full interpreted shingle fold — the whole pipeline ran twice)
    hits_n = hits_n.asNondeterministic()

    return (docs.where(~is_bench)
            .select("doc_id", hits_n(F.col(text_col)).alias("_hn"))
            .select("doc_id",
                    F.col("_hn.n_shingles").alias("n_shingles"),
                    F.col("_hn.contam_hits").alias("contam_hits"),
                    F.round(F.col("_hn.contam_hits")
                            / F.col("_hn.n_shingles"), 6)
                    .alias("contam_frac")))


DRIVER_CC_MAX_EDGES = 500_000  # ~8 MB driver-side; see connected_components


def _driver_cc(e: DataFrame) -> DataFrame:
    """Union-find on the driver for a SMALL edge set (bounded by
    DRIVER_CC_MAX_EDGES before collect). Produces the identical
    (doc_id, cluster_id = component-min) labels as the distributed
    alternating-star loop — locked by
    tests/test_analytics.py::test_driver_cc_matches_distributed."""
    pdf = e.toPandas()
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(pdf["u"].to_numpy(), pdf["v"].to_numpy()):
        ru, rv = find(int(u)), find(int(v))
        if ru != rv:
            # union by MIN id: the root IS the component minimum
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    nodes = sorted(set(map(int, pdf["u"])) | set(map(int, pdf["v"])))
    out = pd.DataFrame({"doc_id": nodes,
                        "cluster_id": [find(n) for n in nodes]})
    spark = e.sparkSession
    return spark.createDataFrame(out, "doc_id long, cluster_id long")


def connected_components(edges: DataFrame,
                         max_iters: int = 25,
                         driver_max_edges: int = DRIVER_CC_MAX_EDGES
                         ) -> tuple[DataFrame, int]:
    """Connected components by ALTERNATING large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014): converges in O(log n) rounds on ANY topology — a
    10^6-node path graph finishes in ~10 rounds where hash-to-min label
    propagation needs 10^6 (one per hop of component diameter).

    ``edges``: columns (s, t), undirected, any orientation, self-loops
    allowed (dropped). Returns ``(labels, rounds)`` where labels has
    columns (doc_id, cluster_id = component-minimum node id) covering
    every node that appears in an edge, and labels is persisted AND
    materialized — the caller owns the unpersist.

    Per round: large-star hangs every neighbor u > v off v's component
    minimum-so-far; small-star re-hangs the smaller neighbors. Both are
    one groupBy + one join over NARROW (long, long) rows — graph-sized,
    never corpus-sized. Convergence = edge multiset fixpoint, detected
    by (count, order-independent crc32 checksum) in one aggregation.

    Each round's frame is CHECKPOINTED, not just persisted: an iterative
    dataframe's logical plan otherwise nests the whole history (persist
    caches data but not the plan), and plan processing goes exponential
    after ~10 rounds (measured: driver OOM just *stringifying* the round
    12 plan of a 1000-node path graph). Reliable ``df.checkpoint()``
    when the context has a checkpoint dir (set one in production — it
    also survives executor loss), ``localCheckpoint`` otherwise.
    Checkpointed RDD storage is freed by the ContextCleaner when the
    frame is dropped; the persisted LABELS frame is the caller's to
    unpersist.

    r6 small-graph fast path: an edge set at or under
    ``driver_max_edges`` (default 500k rows ~ 8 MB — a driver-memory
    bound, same budget class as a broadcast build side) is collected
    once and solved with driver-side union-find: each distributed round
    costs a fixed 3-4 scheduler round-trips (~0.5 s each on small
    shuffles), which dominated wall time whenever the near-dup graph is
    tiny relative to the corpus — the common case (measured: 5.8 s ->
    0.2 s for a 2.5k-edge graph at sf1.0). At 10^12-doc scale the
    near-dup graph exceeds the cap and the alternating-star loop runs
    unchanged; ``driver_max_edges=0`` forces it (the distributed-
    behavior tests pin it that way). Returns rounds=0 from the fast
    path (no distributed rounds ran; max_iters does not apply)."""
    sc = edges.sparkSession.sparkContext

    def ckpt(df: DataFrame) -> DataFrame:
        # EAGER on purpose: lazy (eager=False) measured SLOWER at sf0.1
        # (4.4-4.9s vs 3.5s) — the materializing agg reads a projection,
        # so the checkpoint RDD isn't fully persisted and later
        # references recompute
        if sc.getCheckpointDir() is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    def star_sig(df: DataFrame) -> tuple[int, int, bool]:
        """(count, order-independent checksum, is_star_forest).

        Star-forest = the algorithm's fixpoint (each non-root points
        straight at its component min), detectable in the SAME pass
        that materializes the round: every u appears exactly once
        (countDistinct(u) == count) and the u/v sets are disjoint
        (checked with one extra tiny job only when the first condition
        holds). Detecting it directly saves the whole
        confirmation round the checksum comparison would need."""
        row = df.agg(
            F.count("*").alias("n"),
            F.sum(F.crc32(F.concat_ws(",", "u", "v"))).alias("sig"),
            F.countDistinct("u").alias("du"),
            F.countDistinct("v").alias("dv"),
        ).collect()[0]
        n, sig = int(row.n or 0), int(row.sig or 0)
        if n and int(row.du) == n:
            nodes = (df.select(F.explode(F.array("u", "v")).alias("x"))
                     .agg(F.countDistinct("x")).collect()[0][0])
            if int(nodes) == n + int(row.dv):  # u-set ∩ v-set empty
                return n, sig, True
        return n, sig, False

    # canonical orientation (big, small); ONE evaluation of the upstream
    # pipeline (e.g. the whole LSH rerank), truncated at the checkpoint.
    # No manual graph-sized repartition: AQE coalescePartitions (on in
    # engine.session) already shrinks each round's tiny shuffles, and an
    # explicit repartition would ADD an exchange per round (measured:
    # removing it + the second initial checkpoint cut the sf0.1 query
    # ~25%).
    e = ckpt(edges.where(F.col("s") != F.col("t"))
             .select(F.greatest("s", "t").alias("u"),
                     F.least("s", "t").alias("v"))
             .distinct())
    if driver_max_edges > 0:
        n = e.count()  # cheap: e is checkpointed
        if 0 < n <= driver_max_edges:
            labels = _driver_cc(e).persist()
            labels.count()
            return labels, 0
    n_edges, sig, is_stars = star_sig(e)
    if n_edges == 0:
        empty = edges.sparkSession.createDataFrame(
            [], "doc_id long, cluster_id long").persist()
        return empty, 0

    converged = is_stars  # input may already be a star forest
    rounds = 0
    while not converged and rounds < max_iters:
        rounds += 1
        # LARGE-STAR on the symmetrized graph: for each center x with
        # neighbors N(x), m = min(N(x) + {x}); emit (y, m) for every
        # y in N(x) with y > x. One explode (no double-evaluated
        # union), one shuffle on the center.
        sym = (e.select(F.explode(F.array(
                   F.struct(F.col("u").alias("x"),
                            F.col("v").alias("y")),
                   F.struct(F.col("v").alias("x"),
                            F.col("u").alias("y")))).alias("d"))
               .select("d.x", "d.y"))
        mins = (sym.groupBy("x").agg(F.min("y").alias("mn"))
                .select("x", F.least("mn", "x").alias("m")))
        large = (sym.join(mins, "x")
                 .where(F.col("y") > F.col("x"))
                 .select(F.col("y").alias("u"), F.col("m").alias("v"))
                 .where(F.col("u") != F.col("v")).distinct())
        # SMALL-STAR: edges are now oriented (u > v); for each u,
        # m = min of its smaller neighbors; re-hang those neighbors
        # and u itself onto m.
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        new_e = ckpt(large.join(mins2, "u")
                     .select(F.explode(F.array(
                         F.struct(F.col("v").alias("a"),
                                  F.col("m").alias("b")),
                         F.struct(F.col("u").alias("a"),
                                  F.col("m").alias("b")))).alias("d"))
                     .where(F.col("d.a") != F.col("d.b"))
                     .select(F.col("d.a").alias("u"),
                             F.col("d.b").alias("v"))
                     .distinct())
        new_n, new_sig, is_stars = star_sig(new_e)
        e = new_e
        if is_stars or (new_n, new_sig) == (n_edges, sig):
            # fixpoint: every component is a star rooted at its min
            converged = True
        n_edges, sig = new_n, new_sig
    if not converged:
        raise RuntimeError(
            f"connected_components: did not converge within "
            f"max_iters={max_iters} rounds — at O(log n) rounds this "
            f"means a graph of > 2^{max_iters} nodes or a logic "
            f"error; a partial result would silently split clusters")

    # stars: u -> component min; roots appear only as v
    labels = (e.select(F.col("u").alias("doc_id"),
                       F.col("v").alias("cluster_id"))
              .groupBy("doc_id").agg(F.min("cluster_id")
                                     .alias("cluster_id"))
              .unionByName(
                  e.select(F.col("v").alias("doc_id"),
                           F.col("v").alias("cluster_id")).distinct())
              .groupBy("doc_id").agg(F.min("cluster_id")
                                     .alias("cluster_id"))
              .persist())
    labels.count()
    return labels, rounds


def dedup_clusters(docs: DataFrame, text_col: str = "text",
                   min_jaccard: float = 0.5,
                   max_iters: int = 25,
                   return_handle: bool = False):
    """Near-duplicate CLUSTER assignment: connected components over the
    LSH candidate graph (edges = pairs with jaccard >= min_jaccard),
    cluster_id = min doc_id in the component. Every document gets a row
    (singletons map to themselves) — the form a dedup pass consumes to
    pick one canonical doc per cluster.

    Components via alternating large-star/small-star (see
    ``connected_components``): O(log n) rounds even on pathological
    duplicate CHAINS, where plain label propagation needs
    diameter-many shuffle rounds. Iteration shuffles are graph-sized
    (near-dup edges are a small fraction of a crawl), never
    corpus-sized; singletons join in once at the end.

    The result depends on one persisted graph-sized frame (the final
    labels). With ``return_handle=True`` returns ``(df, handle)`` so the
    caller can ``handle.unpersist()`` after consuming the result; the
    default keeps the legacy ``result.lsh_persisted_base`` attribute
    (fragile: any transformation on the result drops it)."""
    cand = lsh_candidate_pairs(docs, text_col)
    base = getattr(cand, "lsh_persisted_base", None)
    try:
        edges = (cand.where(F.col("jaccard") >= min_jaccard)
                 .select(F.col("doc_a").alias("s"),
                         F.col("doc_b").alias("t")))
        labels, _rounds = connected_components(edges, max_iters=max_iters)
    finally:
        if base is not None:  # convention-based handle; see lsh docstring
            base.unpersist()
    result = (docs.select("doc_id")
              .join(labels, "doc_id", "left")
              .select("doc_id",
                      F.coalesce("cluster_id", F.col("doc_id"))
                      .alias("cluster_id")))
    if return_handle:
        return result, labels
    result.lsh_persisted_base = labels
    return result


def canonical_docs(docs: DataFrame, text_col: str = "text",
                   min_jaccard: float = 0.5) -> DataFrame:
    """One representative per near-duplicate cluster — the step a dedup
    pass actually ships: cluster by ``dedup_clusters`` (LSH graph +
    connected components), then keep the highest-``quality_score`` doc
    per cluster (tie: lowest doc_id). Singletons represent themselves,
    so the output IS the deduplicated corpus manifest.

    Plan shape for 100 TB: the representative comes from ONE map-side-
    combinable ``max(struct(quality, -doc_id))`` aggregate over the
    cluster assignment — no per-cluster window, no second pass over
    text (quality is a zero-shuffle projection computed in the same
    scan that feeds the join). Returns the legacy
    ``result.lsh_persisted_base`` handle like dedup_clusters (the
    caller may unpersist after consuming)."""
    from .text import quality_exprs

    clusters, handle = dedup_clusters(
        docs, text_col, min_jaccard=min_jaccard, return_handle=True)
    q = docs.select(
        "doc_id",
        quality_exprs(F.col(text_col))["quality_score"]
        .alias("quality_score"))
    joined = clusters.join(q, "doc_id")
    best = F.max(F.struct(F.col("quality_score").alias("q"),
                          (-F.col("doc_id")).alias("neg_id")))
    result = (joined.groupBy("cluster_id")
              .agg(F.count("*").alias("cluster_size"), best.alias("b"))
              .select("cluster_id",
                      (-F.col("b.neg_id")).cast("long").alias("rep_doc_id"),
                      F.col("cluster_size").cast("long")
                      .alias("cluster_size"),
                      F.col("b.q").alias("rep_quality")))
    result.lsh_persisted_base = handle
    return result


def lsh_index(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Persistable MinHash-LSH index of a corpus: one row per
    (doc_id, band, bucket) with the doc's distinct shingle-hash array
    attached. Write it out partitioned/bucketed by (band, bucket) and
    incremental crawls join against it without touching the historical
    TEXT at all — the index is the only state the incremental path
    needs (the same columns the full-corpus pass computes, §B of
    dedup_lsh_pairs).

    Size: bands x |corpus| narrow rows + one shingle array per row.
    At 10^12 docs you'd bucket the storage by `bucket` so the
    incremental join prunes to matching buckets."""
    sm = shd_mh_udf()(F.col(text_col))
    sig = (docs.select("doc_id", sm.alias("_sm"))
           .select("doc_id", F.col("_sm.shd").alias("shd"),
                   *[F.col("_sm.mh")[j].alias(f"mh{j}")
                     for j in range(N_MINHASH)]))
    return banded_keys(sig, "doc_id", "shd")


def incremental_near_duplicates(index: DataFrame, new_docs: DataFrame,
                                text_col: str = "text",
                                min_jaccard: float = 0.5) -> DataFrame:
    """Incremental crawl dedup: flag NEW documents that are near-dups
    of the indexed corpus (new_doc_id, dup_of, jaccard). The new batch
    is banded exactly like the index (banded_keys is the single bucket
    encoding) and equi-joined on (band, bucket); only bucket-colliding
    pairs rerank with exact hashed-shingle jaccard. The bucket join and
    the pair dedup shuffle NARROW (id, band, bucket) rows only — the
    shingle arrays re-attach to the few surviving distinct pairs
    afterwards (same discipline as lsh_candidate_pairs), never riding
    the join once per band; historical TEXT is never touched at all."""
    sm = shd_mh_udf()(F.col(text_col))
    new_base = (new_docs.select("doc_id", sm.alias("_sm"))
                .select("doc_id", F.col("_sm.shd").alias("shd"),
                        *[F.col("_sm.mh")[j].alias(f"mh{j}")
                          for j in range(N_MINHASH)])
                .persist())
    new_banded = banded_keys(new_base, "doc_id")
    pairs = (new_banded.alias("n")
             .join(index.select("doc_id", "band", "bucket").alias("i"),
                   on=["band", "bucket"])
             .where(F.col("n.doc_id") != F.col("i.doc_id"))
             .select(F.col("n.doc_id").alias("new_doc_id"),
                     F.col("i.doc_id").alias("dup_of"))
             .distinct())
    idx_sh = (index.select(F.col("doc_id").alias("dup_of"),
                           F.col("shd").alias("sh_i"))
              .dropDuplicates(["dup_of"]))
    joined = (pairs
              .join(new_base.select(F.col("doc_id").alias("new_doc_id"),
                                    F.col("shd").alias("sh_n")),
                    "new_doc_id")
              .join(idx_sh, "dup_of"))
    inter = F.size(F.array_intersect("sh_n", "sh_i"))
    union = F.size("sh_n") + F.size("sh_i") - inter
    result = (joined.select("new_doc_id", "dup_of",
                            F.round(inter / union, 6).alias("jaccard"))
              .where(F.col("jaccard") >= min_jaccard))
    result.lsh_persisted_base = new_base  # same contract as lsh pairs
    return result


def span_dedup(docs: DataFrame, text_col: str = "text",
               span_tokens: int = 16) -> DataFrame:
    """C4-style global span-level deduplication with document
    reconstruction: each document is cut into consecutive
    ``span_tokens``-token spans, every repeated span keeps only its
    FIRST global occurrence (ordered by (doc_id, seg_idx)), and each
    document is rebuilt from its surviving spans. C4 removes repeated
    three-sentence spans this way; the fixed token window is the
    tokenizer-level equivalent for corpora without sentence structure.

    Returns (doc_id, n_spans, n_kept, text_dedup) for EVERY input
    document — a doc whose spans all lose elsewhere-first comes back
    with n_kept=0 and empty text (that is the filter signal).

    Plan shape for 100 TB: the winner per span hash comes from a
    map-side-combinable ``groupBy(h).agg(min(struct(doc_id, seg_idx)))``
    — deliberately NOT a per-hash window: a boilerplate span shared by
    10^9 pages would force a single window partition to sort 10^9 rows,
    while partial aggregation reduces that key to one row per map task
    before the shuffle and the subsequent equi-join on ``h`` is
    AQE-skew-splittable. Span TEXT never rides the hash shuffles at
    all: the hash/mark/keep-list stages move only 24-byte
    (doc_id, seg_idx, h) rows, and the surviving-span text is re-derived
    expression-side after joining the narrow keep-list back to the
    corpus — document text crosses exactly one doc_id-partitioned
    exchange (recompute-over-shuffle, same trade boilerplate_ngrams
    documents)."""
    k = span_tokens
    tk = tokens(F.col(text_col))

    # r6: span hashes from the vectorized Arrow kernel (seg strings are
    # never materialized JVM-side); posexplode supplies seg_idx
    df = docs.withColumn("_tk", tk)
    seg_rows = (docs.select(
        "doc_id",
        F.posexplode(seg_hash_udf(k)(F.col(text_col)))
        .alias("_p", "h"))
        .select("doc_id", F.col("_p").cast("long").alias("seg_idx"), "h"))
    winners = (seg_rows.groupBy("h")
               .agg(F.min(F.struct("doc_id", "seg_idx")).alias("w")))
    # r6: a span is kept iff it IS its hash's winner, so the per-doc
    # keep-list comes straight from grouping the winner rows by their
    # winning doc — the old seg_rows-to-winners equi-join (one full
    # extra shuffle of every span row plus a second corpus-sized
    # aggregation) carried no information the winner rows lack.
    # n_spans is derived from the token count (== the per-doc seg-row
    # count by construction), and docs none of whose spans win come
    # back via the left join with n_kept=0 — identical rows to the
    # join+mark form (oracle hash-green).
    per_doc = (winners.groupBy(F.col("w.doc_id").alias("doc_id"))
               .agg(F.count("*").alias("n_kept"),
                    F.array_sort(F.collect_list("w.seg_idx"))
                    .alias("_keep_idx")))
    out = (df.where(F.col(text_col).isNotNull())
           .join(per_doc, "doc_id", "left")
           .withColumn("n_spans",
                       F.floor((F.size("_tk") + k - 1) / k).cast("long"))
           .withColumn("n_kept",
                       F.coalesce("n_kept", F.lit(0).cast("long")))
           .withColumn("_keep_idx",
                       F.coalesce("_keep_idx",
                                  F.array().cast("array<bigint>"))))
    # rebuild straight FROM the sorted keep-list: each kept seg_idx
    # slices its own token window — O(n_kept · k) per doc, vs the old
    # filter-all-spans-by-array_contains which scanned the keep-list
    # once per span (O(n_spans · n_kept); ~39M comparisons for a
    # 100k-token doc). Order is already ascending (array_sort above).
    kept_spans = F.transform(
        F.col("_keep_idx"),
        lambda i: F.array_join(
            F.slice(F.col("_tk"), (i * k + 1).cast("int"), k), " "))
    return out.select(
        "doc_id", "n_spans", "n_kept",
        F.array_join(kept_spans, " ").alias("text_dedup"))


# kept for callers that want raw shingle hash arrays
def shingles(text_col, n: int = SHINGLE_N):
    """DEPRECATED in favor of with_shingle_hashes (see PERF invariants in
    the module docstring); retained for expression-level use on SHORT
    arrays only."""
    toks = tokens(text_col)
    size = F.size(toks)
    m = F.greatest(size - n + 1, F.lit(1))
    z = F.slice(toks, 1, m)
    for k in range(1, n):
        z = F.zip_with(z, F.slice(toks, k + 1, m),
                       lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(size >= n, z).otherwise(
        F.array(F.concat_ws(" ", toks)))
