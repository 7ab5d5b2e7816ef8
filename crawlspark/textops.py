"""Text-analysis & dedup operators for training-data pipelines.

Beyond the reference's own surface (session mandate): exact dedup,
MinHash+LSH, SimHash, n-gram Jaccard, language-ID, quality scoring, token
counting, document fingerprinting — all over a ``documents``-shaped table
(id, text).  Everything except SimHash is pure built-in expressions
(whole-stage codegen); SimHash is an Arrow-batched pandas UDF.

Scale notes: MinHash/LSH is the 100 TB dedup path — signatures are computed
scan-side with no shuffle; the only shuffles are the band-bucket self-join
(keys are (band, band_hash), well distributed by construction) and the final
pair dedup.  Exact dedup is one hash-aggregate.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

def ensure_parallelism(df: DataFrame, factor: int = 1) -> DataFrame:
    """Small-input guard for heavy per-row stages (shingling, 32-way
    minhash, Arrow UDF hashing): they inherit the scan's partitioning, and
    a small parquet input arrives as 1-2 partitions, leaving the rest of
    the cluster idle (measured: minhash signatures over a 5k-doc single
    file ran 2 of 32 cores, 6 s instead of <1 s).  If the plan has fewer
    partitions than defaultParallelism, repartition up — one cheap narrow
    shuffle of the thin input.  At production scale inputs carry far more
    partitions than cores and this is a no-op."""
    if df.isStreaming:  # .rdd is illegal on streaming plans; micro-batches
        return df  # already partition per source shard
    import re as _re

    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism * factor
    # Deciding from df.rdd.getNumPartitions() would, under AQE (default on),
    # force getFinalPhysicalPlan and EXECUTE every upstream shuffle stage at
    # plan-construction time (ADVICE r3).  The width-setting operator is a
    # SHUFFLE exchange, so consult the PHYSICAL pre-AQE plan (sparkPlan —
    # planning only, runs no jobs): if it contains a non-broadcast Exchange,
    # the planned width is spark.sql.shuffle.partitions (>= cores in this
    # engine's session config) and we leave the plan alone.  That width is
    # not a floor: AQE coalesces such an exchange toward its minimum
    # partition size, and a small input can come out narrower than
    # defaultParallelism (measured on local[4]: the crawl's extraction
    # input came out of 8 shuffle partitions as ONE).  Plans with no
    # shuffle — scans, local relations, unions, and BROADCAST-join-only
    # plans whose stream side keeps the scan's 1-2 partitions (r4 review:
    # the logical-plan 'Join' check wrongly skipped those) — consult
    # getNumPartitions; with at most a broadcast stage to materialize, the
    # call stays cheap.
    try:
        # executedPlan builds the (un-executed) AdaptiveSparkPlan — its
        # toString prints the initial physical plan WITH the exchanges
        # EnsureRequirements inserted, running no jobs (sparkPlan would be
        # pre-EnsureRequirements and show no Exchange at all)
        plan = df._jdf.queryExecution().executedPlan().toString()
        has_shuffle = _re.search(r"(?<!Broadcast)(?<!Reused)Exchange", plan) is not None
    except Exception:  # non-JVM test doubles etc. — fall through to .rdd
        has_shuffle = False
    if has_shuffle:
        return df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# ---------------------------------------------------------------- exact dedup

def text_key(col: Column) -> Column:
    """Normalized exact-dup key: md5 of lowercased, space-collapsed text."""
    return F.md5(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "))


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents: key, size, min id."""
    return (
        df.select(F.col(id_col), text_key(F.col(text_col)).alias("dup_key"))
        .groupBy("dup_key")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min(id_col).alias("keep_id"),
        )
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the min-id representative of each exact-dup group."""
    w = Window.partitionBy(text_key(F.col(text_col))).orderBy(id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ------------------------------------------------------------------- shingles

def words_col(text_col: Column) -> Column:
    return F.split(F.trim(text_col), r"\s+")


def shingles_col(text_col: Column, k: int = 3) -> Column:
    """Distinct word-k-shingles of a text column, as array<string>.

    Built from sequence+transform (no UDF): shingle i joins words[i..i+k-1].
    """
    w = words_col(text_col)
    n = F.greatest(F.size(w) - F.lit(k - 1), F.lit(0))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat_ws(" ", F.slice(w, i, k)),
        )
    )


# -------------------------------------------------------------------- minhash

def minhash_signature(df: DataFrame, id_col: str, text_col: str, n_hashes: int = 32, k: int = 3) -> DataFrame:
    """(id, sig: array<long>) — sig[i] = min over shingles of h_i(shingle).

    Computed scan-side: explode shingles once, n_hashes parallel min-aggs
    (one hash-aggregate, partial combine on the map side — no wide shuffle
    of raw text).  Each shingle STRING is hashed exactly once
    (``xxhash64(sh)``); the per-function hashes re-hash only that 8-byte
    value (``xxhash64(sh_hash, i)``) — round 1 concatenated ``"i:" || sh``
    and string-hashed every shingle 32x, which dominated the stage.
    """
    exploded = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(shingles_col(F.col(text_col), k)).alias("sh")
    ).select(F.col(id_col), F.xxhash64("sh").alias("shh"))
    aggs = [
        F.min(F.xxhash64(F.col("shh"), F.lit(i))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    sig = exploded.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col), F.array(*[F.col(f"h{i}") for i in range(n_hashes)]).alias("sig")
    )


def lsh_candidate_pairs(
    sigs: DataFrame, id_col: str, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """MinHash-LSH banding: docs sharing any band bucket become a pair.

    Band hash keys distribute uniformly, so the self-join shuffle is skew-
    free by construction; pairs are deduped and oriented id_a < id_b.
    """
    banded = sigs.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("bb"),
    ).select(id_col, "bb.band", "bb.band_hash")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 32,
    k: int = 3,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs: LSH candidates verified by true shingle Jaccard.

    The verify side joins the raw ``text`` through the candidate pairs
    FIRST and shingles only the joined rows — LSH keeps candidates a
    vanishing fraction of the corpus, so re-shingling corpus-wide (the
    obvious ``cand ⋈ shingled(df)`` shape) would dominate at scale.  The
    candidate plan is consumed exactly once, so nothing re-runs the LSH.
    """
    rows_per_band = n_hashes // bands
    sigs = minhash_signature(df, id_col, text_col, n_hashes, k)
    cand = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band)
    txt = df.select(F.col(id_col), F.col(text_col).alias("_t"))
    return (
        cand.join(txt.select(F.col(id_col).alias("id_a"), F.col("_t").alias("_ta")), "id_a")
        .join(txt.select(F.col(id_col).alias("id_b"), F.col("_t").alias("_tb")), "id_b")
        .withColumn("sh_a", shingles_col(F.col("_ta"), k))
        .withColumn("sh_b", shingles_col(F.col("_tb"), k))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


# -------------------------------------------------------------------- simhash

def _simhash_batch(texts: pd.Series) -> pd.Series:
    """64-bit SimHash per text; md5-based word hashes, numpy bit-votes."""
    out = np.zeros(len(texts), dtype=np.int64)
    for i, t in enumerate(texts):
        if not t:
            continue
        words = t.split()
        hs = np.fromiter(
            (
                int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big")
                for w in words
            ),
            dtype=np.uint64,
            count=len(words),
        )
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(np.int32)
        votes = (2 * bits - 1).sum(axis=0)
        sh = np.uint64(0)
        for b in np.nonzero(votes > 0)[0]:
            sh |= np.uint64(1) << np.uint64(b)
        out[i] = np.int64(sh.astype(np.int64))
    return pd.Series(out, index=texts.index)


@pandas_udf(LongType())
def simhash_udf(texts: pd.Series) -> pd.Series:
    return _simhash_batch(texts)


def hamming_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    n_chunks: int | None = None,
    partition_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Pairs of rows whose 64-bit hashes differ in ≤ ``max_hamming`` bits.

    The generic scale path behind SimHash text near-dup AND media
    perceptual-hash near-dup: block on ``n_chunks`` equal bit-slices
    (pigeonhole: ≤ ``max_hamming`` < ``n_chunks`` differing bits ⇒ at
    least one identical slice), so the self-join is equi on (chunk_idx,
    chunk_val), never a cross product — exact by construction, no recall
    loss.  ``n_chunks`` defaults to the smallest power of two that makes
    the pigeonhole hold for the requested radius (more slices = more
    candidate rows = larger exact radius); pass it explicitly only to
    over-block on purpose.  ``partition_cols`` restricts pairing to rows
    that match exactly on those columns (e.g. media kind, language) —
    they join the blocking key, so disjoint partitions never meet, and
    the a-side values are carried into the output.  Matching is
    NULL-SAFE: rows whose partition value is null (unknown language is
    common) pair among themselves rather than silently never pairing.
    """
    if not 0 <= max_hamming <= 31:
        raise ValueError(f"max_hamming must be in [0, 31]; got {max_hamming}")
    if n_chunks is None:
        n_chunks = 2
        while n_chunks <= max_hamming:
            n_chunks *= 2
    if not max_hamming < n_chunks:
        raise ValueError(
            f"pigeonhole needs max_hamming < n_chunks; got {max_hamming} >= {n_chunks}"
        )
    if n_chunks not in (2, 4, 8, 16, 32):
        raise ValueError(f"n_chunks must be a power of two in [2, 32]; got {n_chunks}")
    width = 64 // n_chunks
    mask = (1 << width) - 1
    pcols = list(partition_cols)
    src = df.select(*pcols, F.col(id_col), F.col(hash_col).alias("_h"))
    chunks = src.select(
        *pcols,
        id_col,
        "_h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftrightunsigned(F.col("_h"), c * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk_val"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ch"),
    ).select(*pcols, id_col, "_h", "ch.chunk_idx", "ch.chunk_val")
    a, b = chunks.alias("a"), chunks.alias("b")
    cond = (
        (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
        & (F.col("a.chunk_val") == F.col("b.chunk_val"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    for pc in pcols:
        cond = cond & F.col(f"a.{pc}").eqNullSafe(F.col(f"b.{pc}"))
    # Hamming filter BEFORE the distinct: a pair surfaced by k matching
    # slices appears k times, so deduping first would shuffle up to
    # n_chunks x the surviving rows (worst at large radii / low-entropy
    # hashes).  Filtering per-candidate is a cheap codegen'd bit_count;
    # the dedup shuffle then carries only pairs that actually survive.
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    pairs = (
        a.join(b, cond)
        .select(
            *[F.col(f"a.{pc}").alias(pc) for pc in pcols],
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a._h").alias("h_a"),
            F.col("b._h").alias("h_b"),
        )
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select(*pcols, "id_a", "id_b", "hamming")
        .distinct()
    )
    return pairs


def simhash_neardup_pairs(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs whose SimHashes differ in ≤ max_hamming bits.

    Blocking/verify both live in :func:`hamming_neardup_pairs`, which
    sizes the bit-slice count to the radius so the pigeonhole guarantee
    (exact recall) holds for ANY max_hamming ≤ 31 — the old fixed-4-slice
    blocking silently under-recalled past 3 bits.
    """
    sh = ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), simhash_udf(F.col(text_col)).alias("simhash")
    )
    return hamming_neardup_pairs(
        sh, id_col=id_col, hash_col="simhash", max_hamming=max_hamming
    )


# -------------------------------------------------------------- n-gram jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    block_col: str | None = None,
) -> DataFrame:
    """Exact shingle-Jaccard pairs ≥ threshold via one explode + group-pairs.

    Shingles are reduced to 64-bit xxhash64 keys at scan time (collision
    needs two distinct shingles in ONE block to collide in 64 bits —
    P ≈ n²/2⁶⁵, negligible and deterministic for a fixed corpus).  Instead
    of a self-join on the exploded table (which scans + shuffles it twice),
    the exploded table is grouped once by (block, shingle); the ordered doc
    pairs of each posting list are generated JVM-side (nested transform +
    flatten — ids are distinct within a group because a doc's shingle set
    is distinct) and counted.  Same output, ~35-40%% faster at sf0.1 and
    half the shuffle volume at scale.  Posting-list length — and so the
    per-group pair fan-out — is bounded by the ``block_col`` (e.g. same
    source/host), which callers must supply at scale.
    """
    sh = ensure_parallelism(
        df.select(id_col, text_col, *([block_col] if block_col else []))
    ).select(
        F.col(id_col),
        *( [F.col(block_col)] if block_col else [] ),
        F.explode(shingles_col(F.col(text_col), k)).alias("sh_str"),
    ).select(
        F.col(id_col),
        *( [F.col(block_col)] if block_col else [] ),
        F.xxhash64("sh_str").alias("sh"),
    )
    # |shingles| per doc straight off the array — no second explode+shuffle
    # over the shingle table (it used to be sh.groupBy(id).count(), which
    # recomputed the whole exploded scan just to re-derive the array size).
    sizes = df.select(
        F.col(id_col), F.size(shingles_col(F.col(text_col), k)).alias("n_sh")
    )
    keys = [block_col, "sh"] if block_col else ["sh"]
    ids_sorted = F.array_sort(F.collect_list(id_col))
    posting = sh.groupBy(*keys).agg(ids_sorted.alias("ids"))
    pairs = posting.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda a, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                        lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    common = pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_common"))
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))
    )


# ------------------------------------------------------------------- language

LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "a"],
    "fr": ["le", "la", "et", "de", "est", "un"],
    "es": ["el", "la", "y", "de", "es", "un"],
    "de": ["der", "die", "und", "von", "ist", "ein"],
    "zh": ["de5", "shi4", "he2", "zai4", "le5", "you3"],
}


def _lang_score_exprs(text_col: Column) -> dict[str, Column]:
    w = F.array_distinct(words_col(text_col))
    return {
        lang: F.size(F.array_intersect(w, F.array(*[F.lit(m) for m in markers])))
        for lang, markers in sorted(LANG_MARKERS.items())
    }


def lang_scores(text_col: Column) -> list[Column]:
    return [c.alias(f"score_{lang}") for lang, c in _lang_score_exprs(text_col).items()]


def lang_pred_col(text_col: Column) -> Column:
    """The predicted-language EXPRESSION (same semantics as lang_id's
    pred_lang), for callers that want the column inline without a join —
    repeated subexpressions stay cheap under codegen subexpression
    elimination."""
    scores = _lang_score_exprs(text_col)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(langs):  # reversed so earlier langs win ties
        pred = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return pred


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """N-gram/stopword-marker language ID; deterministic alphabetical
    tie-break; 'und' (undetermined) when no marker hits."""
    scored = df.select(F.col(id_col), F.col(text_col).alias("__t")).select(
        id_col, *lang_scores(F.col("__t"))
    )
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.lit("und")
    for l in reversed(langs):  # reversed so earlier langs win ties
        pred = F.when(
            (F.col(f"score_{l}") == best) & (best > 0), F.lit(l)
        ).otherwise(pred)
    return scored.withColumn("pred_lang", pred)


# --------------------------------------------------------------------- quality

def quality_expr(text_col: Column) -> Column:
    """The composite quality-score EXPRESSION (same value as
    quality_score's ``quality``), for inline use without a join."""
    n_words = F.size(words_col(text_col))
    stop_arr = F.array(F.lit("a"), F.lit("the"), F.lit("and"), F.lit("of"))
    n_stop = F.size(F.array_intersect(F.array_distinct(words_col(text_col)), stop_arr))
    return F.round(
        F.least(F.lit(1.0), n_words / F.lit(100.0)) * 0.5
        + F.least(F.lit(1.0), n_stop / F.lit(4.0)) * 0.5,
        4,
    )


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Heuristic quality features + composite score (all built-ins)."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words = F.size(words_col(t))
    stop_arr = F.array(F.lit("a"), F.lit("the"), F.lit("and"), F.lit("of"))
    n_stop = F.size(F.array_intersect(F.array_distinct(words_col(t)), stop_arr))
    avg_wlen = (n_chars - (n_words - 1)) / n_words
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars_q"),
        n_words.alias("n_words"),
        F.round(avg_wlen, 4).alias("avg_word_len"),
        n_stop.alias("n_stopword_kinds"),
        quality_expr(t).alias("quality"),
    )


def token_count(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens (word pieces / digits)."""
    t = F.col(text_col)
    ws = F.size(words_col(t))
    bpe = F.size(F.expr(f"regexp_extract_all({text_col}, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)"))
    return df.select(
        F.col(id_col), ws.alias("ws_tokens"), bpe.alias("re_tokens")
    )


# ------------------------------------------------------- custom UDAF / UDTF

def weighted_mean_udaf():
    """J5: grouped-agg pandas UDF (Series, Series → scalar) — a custom UDAF
    computed Arrow-side per group (e.g. priority-weighted mean fetch value)."""
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def _wmean(v: pd.Series, w: pd.Series) -> float:
        den = float(w.sum())
        if den == 0.0:
            return float("nan")
        return float((v * w).sum() / den)

    return _wmean


def make_words_udtf():
    """J6: Python UDTF (Spark 4) — one row per distinct word of a text.

    The lateral-join shape (1 input row → N output rows) the reference gets
    from its XML reference-list parsing; prefer links_udf+explode in the hot
    path (simpler, faster), this exists for UDTF surface coverage.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, n: int")
    class WordsUDTF:
        def eval(self, text: str):  # noqa: D401
            if not text:
                return
            counts: dict[str, int] = {}
            for w in text.split():
                counts[w] = counts.get(w, 0) + 1
            for w in sorted(counts):
                yield w, counts[w]

    return WordsUDTF


def fingerprint(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic document fingerprint over normalized text."""
    return df.select(
        F.col(id_col),
        text_key(F.col(text_col)).alias("fp_md5"),
        F.xxhash64(F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")).alias("fp_xx64"),
    )


# ---------------------------------------------------------- corpus assembly

def pack_corpus(
    df: DataFrame,
    budget_tokens: int,
    group_col: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_col: str | None = None,
) -> DataFrame:
    """Greedy token-budgeted corpus selection: keep the best-first prefix
    of documents whose running token total fits ``budget_tokens`` (per
    ``group_col`` when given — per-language/source budgets are how real
    pretraining mixes are specified).

    Order is ``quality_col`` desc (nulls last) then ``id_col`` asc, so the
    selection is deterministic.  One window cumsum per group; with no
    ``group_col`` the window is single-partition — fine for bounded doc
    sets, pass a group at corpus scale (same contract as
    ngram_jaccard_pairs' block_col).
    """
    tokens = F.size(words_col(F.col(text_col))).alias("n_tokens")
    base = df.select(
        F.col(id_col),
        *([F.col(group_col)] if group_col else []),
        tokens,
        *(
            [F.col(quality_col).alias("_qual")]
            if quality_col
            else [F.lit(0.0).alias("_qual")]
        ),
    )
    part = [group_col] if group_col else []
    w = (
        Window.partitionBy(*part)
        .orderBy(F.desc_nulls_last("_qual"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= F.lit(int(budget_tokens)))
        .drop("_qual")
    )


def contamination(
    corpus: DataFrame,
    evalset: DataFrame,
    k: int = 8,
    corpus_text_col: str = "text",
    eval_id_col: str = "doc_id",
    eval_text_col: str = "text",
) -> DataFrame:
    """Eval-set contamination screen: per eval document, the fraction of
    its word-k-shingles (k=8 is the usual contamination n-gram) that
    appear ANYWHERE in the training corpus.

    Scale shape: the corpus side is reduced to DISTINCT 64-bit shingle
    hashes before the join (drops doc ids and multiplicity — the screen
    only asks "seen anywhere?"), so the equi-join on the hash is against
    the smallest possible right side and never fans out; eval docs are
    few, the output is one row per eval doc.
    """
    ev = evalset.select(
        F.col(eval_id_col).alias("eval_id"),
        F.explode(shingles_col(F.col(eval_text_col), k)).alias("sh_str"),
    ).select("eval_id", F.xxhash64("sh_str").alias("sh"))
    corp = (
        corpus.select(F.explode(shingles_col(F.col(corpus_text_col), k)).alias("sh_str"))
        .select(F.xxhash64("sh_str").alias("sh"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    return (
        ev.join(corp, "sh", "left")
        .groupBy("eval_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce("_hit", F.lit(0))).alias("n_matched"),
        )
        .withColumn(
            "contamination",
            F.round(F.col("n_matched") / F.col("n_shingles"), 6),
        )
    )


# ------------------------------------------------- exact-substring dedup
# Lee et al. ("Deduplicating Training Data Makes Language Models Better")
# remove VERBATIM passages duplicated across documents, not just whole-doc
# near-dups.  The suffix-array construction is replaced by the Spark-native
# equivalent: positioned word-k-gram hashes -> cross-doc frequency -> the
# duplicated positions merge into maximal spans per doc (interval-merge via
# one window), and stripping is a row-side higher-order filter — no explode
# of the corpus on the rebuild path.

def duplicate_ngram_spans(
    df: DataFrame,
    k: int = 16,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal word-index spans [start_word, end_word) covered by k-grams
    that occur in >= ``min_docs`` distinct documents.

    Shuffles: one hash-aggregate on the 64-bit gram hash (uniform keys,
    map-side combined count-distinct), one semi-join of positioned grams
    against the hot-gram set (thin), one window per doc for the interval
    merge.  A gram duplicated across 10^9 docs is safe for the same reason
    as line_doc_freq: the (gh, doc) distinct stage spreads by pair.
    """
    w = words_col(F.col(text_col))
    n = F.size(w)
    grams = (
        ensure_parallelism(df.select(id_col, text_col))
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    # sequence(0, -1) would DESCEND (step defaults to -1
                    # when stop < start) — docs shorter than k get an
                    # explicitly empty gram list instead
                    F.when(n >= k, F.sequence(F.lit(0), n - k)).otherwise(
                        F.array().cast("array<int>")
                    ),
                    lambda i: F.struct(
                        i.alias("start"),
                        F.xxhash64(F.concat_ws(" ", F.slice(w, i + 1, k))).alias("gh"),
                    ),
                )
            ).alias("g"),
        )
        .select(id_col, "g.start", "g.gh")
    )
    hot = (
        grams.groupBy("gh")
        .agg(F.count_distinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("gh")
    )
    dup = grams.join(hot, "gh", "left_semi").select(
        id_col, "start", (F.col("start") + k).alias("end")
    )
    ww = Window.partitionBy(id_col).orderBy("start")
    prev_max_end = F.max("end").over(ww.rowsBetween(Window.unboundedPreceding, -1))
    merged = (
        dup.withColumn(
            "__new", (F.col("start") > F.coalesce(prev_max_end, F.lit(-1))).cast("int")
        )
        .withColumn("__grp", F.sum("__new").over(ww))
        .groupBy(id_col, "__grp")
        .agg(F.min("start").alias("start_word"), F.max("end").alias("end_word"))
        .select(id_col, "start_word", "end_word")
    )
    return merged


def strip_duplicate_spans(
    df: DataFrame,
    spans: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Remove the words covered by ``spans`` (from
    :func:`duplicate_ngram_spans`) from each document; docs without spans
    pass through untouched.  The rebuild is row-side: spans collect to a
    small per-doc array (bounded by the doc's own span count) and a
    higher-order filter drops covered word positions — the corpus is never
    exploded on this path."""
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("start_word", "end_word")).alias("__spans")
    )
    w = words_col(F.col(text_col))
    idx = F.arrays_zip(w, F.sequence(F.lit(0), F.size(w) - 1))
    kept = F.transform(
        F.filter(
            idx,
            lambda x: ~F.exists(
                F.col("__spans"),
                lambda s: (x["1"] >= s["start_word"]) & (x["1"] < s["end_word"]),
            ),
        ),
        lambda x: x["0"],
    )
    out_text = F.when(
        F.col("__spans").isNull(), F.col(text_col)
    ).otherwise(F.array_join(kept, " "))
    return (
        df.join(per_doc, id_col, "left")
        .withColumn(text_col, out_text)
        .drop("__spans")
    )


# ------------------------------------------------- near-dup cluster dedup

def neardup_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str | None = None,
) -> DataFrame:
    """The final step of near-dup dedup: collapse a *pair* table (from
    :func:`minhash_dedup_pairs` / :func:`simhash_neardup_pairs` /
    ``simsearch.embedding_neardup_pairs``) into its transitive clusters
    and keep ONE canonical document per cluster.

    Near-duplication is not transitive (A~B, B~C need not mean A~C), but
    every production pipeline dedups the transitive closure anyway —
    keeping both A and C would keep two documents that each near-match B.
    Clusters come from ``graph.connected_components`` (large-star/small-
    star — O(log^2 n) rounds, no diameter dependence); the canonical pick
    is ``quality_col`` desc (nulls last) then ``id_col`` asc within each
    cluster, so the survivor set is deterministic.  Documents in no pair
    pass through untouched (left join, no per-doc shuffle beyond the
    cluster members themselves).
    """
    from crawlspark import graph  # local import: graph is optional machinery

    comp = graph.connected_components(pairs).withColumnRenamed("node", id_col)
    member = df.join(comp, id_col, "left")
    # window only the clustered rows — a partitionBy("component") over the
    # whole corpus would heap every unpaired doc into one NULL partition
    untouched = member.filter(F.col("component").isNull()).drop("component")
    order = (
        [F.desc_nulls_last(quality_col)] if quality_col else []
    ) + [F.col(id_col)]
    w = Window.partitionBy("component").orderBy(*order)
    survivors = (
        member.filter(F.col("component").isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "component")
    )
    return untouched.unionByName(survivors)


# ------------------------------------------------- deterministic sampling

def sample_bernoulli(
    df: DataFrame, fraction: float, seed: int = 0, key_col: str = "doc_id"
) -> DataFrame:
    """Deterministic Bernoulli sample: keep rows whose 64-bit key hash
    falls under ``fraction`` of the hash space.

    Unlike ``df.sample`` (per-partition RNG — the selected set changes
    under repartitioning, task retries, and AQE re-plans), the decision
    is a pure function of (key, seed): the same corpus yields the same
    sample on any cluster layout, and samples NEST — the f=0.01 sample is
    a subset of the f=0.1 sample at the same seed (threshold comparison
    on one hash), which is exactly what staged corpus-QA workflows need.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    # xxhash64 ∈ [-2^63, 2^63); shift to unsigned-uniform via /2^64 + 0.5
    u = F.xxhash64(F.col(key_col), F.lit(int(seed))) / F.lit(2.0**64) + F.lit(0.5)
    return df.filter(u < F.lit(float(fraction)))


def sample_stratified(
    df: DataFrame,
    k: int,
    group_col: str,
    seed: int = 0,
    key_col: str = "doc_id",
) -> DataFrame:
    """Exactly min(k, |group|) rows per ``group_col`` value, chosen by
    hash order — a deterministic stratified sample (per-language /
    per-host QA draws).  One window per group; groups are the partition
    keys so the sort is bounded by group size, never global.
    """
    w = Window.partitionBy(group_col).orderBy(
        F.xxhash64(F.col(key_col), F.lit(int(seed))), F.col(key_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= F.lit(int(k)))
        .drop("__rn")
    )


def mix_corpus(
    df: DataFrame,
    weights: dict[str, float],
    group_col: str = "source",
    seed: int = 0,
    key_col: str = "doc_id",
    default_weight: float = 0.0,
) -> DataFrame:
    """Deterministic corpus mixing (Pile/Dolma-style source reweighting):
    keep each ``group_col`` value at its target sampling rate.

    ``weights`` maps group value → keep-fraction in [0,1] (1.0 = keep
    all); groups absent from the map keep ``default_weight`` (0.0 = drop,
    the usual whitelist semantics).  The decision is the same pure
    (key, seed) hash as :func:`sample_bernoulli`, so the mixture is
    layout/retry-invariant and NESTS: lowering a source's weight yields a
    subset of its higher-weight mixture at the same seed.  Zero shuffles —
    one scan-side filter; the weight table folds into the plan as a
    literal CASE (weights are few: one per source, not per row).
    """
    for g, f in weights.items():
        if not 0.0 <= f <= 1.0:
            raise ValueError(f"weight for {g!r} must be in [0,1], got {f}")
    if not 0.0 <= default_weight <= 1.0:
        raise ValueError(f"default_weight must be in [0,1], got {default_weight}")
    frac = F.lit(float(default_weight))
    for g, f in sorted(weights.items()):
        frac = F.when(F.col(group_col) == g, F.lit(float(f))).otherwise(frac)
    u = F.xxhash64(F.col(key_col), F.lit(int(seed))) / F.lit(2.0**64) + F.lit(0.5)
    return df.filter(u < frac)


# ------------------------------------------------- repetition filtering

def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition metrics in the Gopher/MassiveText family —
    the standard signals for dropping boilerplate- and spam-repetitive
    documents from a pretraining corpus:

    - ``dup_line_frac``: fraction of (non-empty, trimmed) line
      occurrences whose content appears more than once in the document;
    - ``dup_line_char_frac``: same, weighted by line length in chars;
    - ``top_bigram_char_frac``: word-chars covered by the most frequent
      word-bigram (count × bigram word-chars / total word-chars).

    Scale shape: two explode + hash-aggregate passes keyed by
    (doc, line) / (doc, bigram) — map-side combined, well distributed
    (no per-doc window, no collect); everything else is built-in array
    expressions inside codegen.  Documents with no lines / fewer than two
    words get 0.0 for the affected metrics.
    """
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )
    w = words_col(F.col(text_col))
    bigrams = F.when(
        F.size(w) >= 2,
        F.zip_with(
            F.slice(w, 1, F.size(w) - 1),
            F.slice(w, 2, F.size(w) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    base = df.select(
        F.col(id_col),
        lines.alias("_lines"),
        bigrams.alias("_bigrams"),
        F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x)).alias("_word_chars"),
    )

    line_stats = (
        base.select(id_col, F.explode("_lines").alias("_l"))
        .groupBy(id_col, "_l")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        .agg(
            F.sum("_c").alias("_n_lines"),
            F.sum(F.when(F.col("_c") > 1, F.col("_c")).otherwise(0)).alias("_dup_lines"),
            F.sum(F.col("_c") * F.length("_l")).alias("_line_chars"),
            F.sum(
                F.when(F.col("_c") > 1, F.col("_c") * F.length("_l")).otherwise(0)
            ).alias("_dup_line_chars"),
        )
    )
    bigram_top = (
        base.select(id_col, F.explode("_bigrams").alias("_bg"))
        .groupBy(id_col, "_bg")
        .agg(F.count(F.lit(1)).alias("_c"))
        .groupBy(id_col)
        # ties on count resolve to the longer bigram (max struct order) —
        # deterministic, and the conservative (larger-fraction) choice
        .agg(F.max(F.struct(F.col("_c"), (F.length("_bg") - 1).alias("_len"))).alias("_top"))
        .select(id_col, F.col("_top._c").alias("_top_c"), F.col("_top._len").alias("_top_len"))
    )
    frac = lambda num, den: F.coalesce(  # noqa: E731
        F.when(F.coalesce(den, F.lit(0)) > 0, F.round(num / den, 6)), F.lit(0.0)
    )
    return (
        base.select(id_col, "_word_chars")
        .join(line_stats, id_col, "left")
        .join(bigram_top, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("_n_lines", F.lit(0)).alias("n_lines"),
            frac(F.col("_dup_lines"), F.col("_n_lines")).alias("dup_line_frac"),
            frac(F.col("_dup_line_chars"), F.col("_line_chars")).alias(
                "dup_line_char_frac"
            ),
            frac(F.col("_top_c") * F.col("_top_len"), F.col("_word_chars")).alias(
                "top_bigram_char_frac"
            ),
        )
    )


# ------------------------------------------------- PII scrubbing
# Heuristic web-corpus PII redaction (the standard pre-training scrub):
# chained built-in regexp_replace — JVM-side, whole-stage codegen, no UDF.
# Patterns are valid under BOTH Java regex (Spark) and RE2 (DuckDB), so the
# op is oracle-checkable: no lookarounds, no backrefs.

PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("cc", r"\b\d{4}[ -]?\d{4}[ -]?\d{4}[ -]?\d{4}\b", "<CC>"),
    ("phone", r"\+\d{7,14}\b|\(?\d{3}\)?[ .-]?\d{3}[ .-]?\d{4}\b", "<PHONE>"),
)


def pii_scrub(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Redact emails / IPv4s / card-shaped digit runs / phone-shaped numbers
    with typed placeholder tokens; emit per-rule match counts.

    Rules apply in order (email before ipv4 before cc before phone) so a
    broader later pattern never eats a more specific earlier one; each
    ``n_<rule>`` counts matches in the text as it stood when that rule ran.
    Heuristic by design: an 11+-digit run may redact only a phone-shaped
    suffix — the cost of staying lookaround-free (Java+RE2 portable).
    """
    red = F.col(text_col)
    cols = [F.col(id_col)]
    for name, pat, tok in PII_RULES:
        cols.append(
            F.size(F.regexp_extract_all(red, F.lit(pat), F.lit(0))).alias(f"n_{name}")
        )
        red = F.regexp_replace(red, pat, tok)
    # rebuilt column keeps the CALLER's name (ADVICE r3: hardcoding "text"
    # silently renamed a text_col="body" input, breaking round-tripping)
    return df.select(cols[0], red.alias(text_col), *cols[1:])


# ------------------------------------------------- line-level boilerplate
# CCNet/RefinedWeb-style: a line occurring in >= min_docs distinct documents
# is boilerplate (cookie banners, nav bars, footers) and is dropped from
# every document.  Two shuffles, both on uniform keys: (line_key, doc) for
# the distinct-doc count, doc_id for the reassembly.  A mega-line (one
# shared by 10^9 docs) is safe: the first phase de-dups (key, doc) pairs —
# spread across partitions by the pair — and the per-key count is a
# map-side-combined row count, so no single reducer sees the full group.


def line_doc_freq(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", line_sep: str = "\n"
) -> DataFrame:
    """(line_key, n_docs) for every distinct non-empty trimmed line.  Empty
    lines are excluded so shared blank separators never count as
    boilerplate (removing them would collapse paragraph structure).
    ``line_sep`` is a literal separator, not a regex (escaped before the
    split — ADVICE r3: '.' or '|' would silently split per-character)."""
    return (
        df.select(
            F.col(id_col).alias("__doc"),
            F.explode(F.split(F.col(text_col), re.escape(line_sep), -1)).alias("__line"),
        )
        .filter(F.trim("__line") != "")
        .select("__doc", F.xxhash64(F.trim("__line")).alias("line_key"))
        .groupBy("line_key")
        .agg(F.count_distinct("__doc").alias("n_docs"))
    )


def remove_boilerplate(
    df: DataFrame,
    min_docs: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_sep: str = "\n",
) -> DataFrame:
    """Drop every line that occurs (trim-normalized) in >= ``min_docs``
    distinct documents; reassemble each document's remaining lines in their
    original order.  Documents that were ALL boilerplate survive with
    text = '' (left join back to the id spine), so downstream row counts
    are stable.  The rebuilt column keeps the caller's ``text_col`` name
    and ``line_sep`` is treated as a literal separator (both ADVICE r3)."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), re.escape(line_sep), -1)).alias("pos", "line"),
    ).withColumn("line_key", F.xxhash64(F.trim("line")))
    hot = line_doc_freq(df, id_col, text_col, line_sep).filter(
        F.col("n_docs") >= min_docs
    )
    kept = lines.join(hot, "line_key", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))), lambda s: s["line"]
            ),
            line_sep,
        ).alias("__rebuilt")
    )
    return df.select(id_col).join(rebuilt, id_col, "left").select(
        F.col(id_col), F.coalesce("__rebuilt", F.lit("")).alias(text_col)
    )


# ------------------------------------------------- composite clean pipeline

def clean_corpus(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    langs: list[str] | None = None,
    min_quality: float = 0.3,
    max_dup_line_frac: float = 0.5,
    max_top_bigram_char_frac: float = 0.2,
    minhash_threshold: float = 0.7,
    cache_handle: list | None = None,
    strip_spans: bool = False,
    strip_k: int = 16,
    strip_min_docs: int = 2,
) -> DataFrame:
    """The headline documents → training-corpus pipeline, composed from
    the individual operators in their scale-correct order (cheapest filter
    first, pair-generating dedup last, over the already-shrunk survivor
    set):

    1. language filter (:func:`lang_id`, built-ins only);
    2. quality + repetition filter (:func:`quality_score` +
       :func:`repetition_stats` thresholds — Gopher-style);
    3. exact dedup (one hash-aggregate, :func:`exact_dedup`);
    4. MinHash near-dup clusters collapsed to their best-quality canonical
       document (:func:`minhash_dedup_pairs` → :func:`neardup_dedup`);
    5. opt-in (``strip_spans=True``, r4 verdict item 5): exact-substring
       strip over the SURVIVOR set — :func:`duplicate_ngram_spans` at
       ``strip_k``/``strip_min_docs`` → :func:`strip_duplicate_spans` —
       the Lee-et-al. stage modern pipelines run after whole-doc dedup
       (cross-doc boilerplate passages survive near-dup dedup because the
       surrounding documents differ; only a substring-level pass removes
       them).  Running it last keeps the expensive positioned-gram
       explode on the smallest corpus.

    Returns the surviving documents with ``pred_lang``, ``quality``, and
    the repetition fractions attached (downstream :func:`pack_corpus` uses
    ``quality`` directly).  Every stage is a lazy DataFrame transform; the
    whole pipeline is one plan until acted on.
    """
    # lang + quality are pure row-wise expressions: compute them INLINE
    # (zero shuffles) rather than joining projections back on id — the r2
    # shape shuffled the full corpus twice for columns the scan can carry.
    base = ensure_parallelism(df).withColumn(
        "pred_lang", lang_pred_col(F.col(text_col))
    ).withColumn("quality", quality_expr(F.col(text_col)))
    # repetition needs per-doc aggregation — the one join that must stay
    rep = repetition_stats(df, id_col, text_col).select(
        id_col, "dup_line_frac", "top_bigram_char_frac"
    )
    base = base.join(rep, id_col)
    if langs is not None:
        base = base.filter(F.col("pred_lang").isin(list(langs)))
    base = base.filter(
        (F.col("quality") >= F.lit(float(min_quality)))
        & (F.col("dup_line_frac") <= F.lit(float(max_dup_line_frac)))
        & (F.col("top_bigram_char_frac") <= F.lit(float(max_top_bigram_char_frac)))
    )
    base = exact_dedup(base, id_col, text_col)
    # the survivor set feeds three plan branches (minhash signatures, pair
    # verify, canonical-pick join); Spark does not share common subtrees
    # across branches, so without a persist the whole filter pipeline above
    # re-executes per branch.  MEMORY_AND_DISK: spills, never recomputes.
    # Cache lifetime (ADVICE r3): the persisted frame backs the RETURNED
    # lazy plan, so it cannot be unpersisted here.  One-shot batch jobs
    # (the normal usage) release it at session end; long-lived sessions
    # pass ``cache_handle=[]`` and call ``.unpersist()`` on the appended
    # frame once the result has been consumed.
    from pyspark import StorageLevel

    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    if cache_handle is not None:
        cache_handle.append(base)
    pairs = minhash_dedup_pairs(base, id_col, text_col, threshold=minhash_threshold)
    result = neardup_dedup(base, pairs, id_col=id_col, quality_col="quality")
    if strip_spans:
        # the survivor set feeds two branches again (span mining + the
        # rebuild join), so it gets the same persist treatment as `base`
        result = result.persist(StorageLevel.MEMORY_AND_DISK)
        if cache_handle is not None:
            cache_handle.append(result)
        spans = duplicate_ngram_spans(
            result, k=strip_k, min_docs=strip_min_docs,
            id_col=id_col, text_col=text_col,
        )
        result = strip_duplicate_spans(result, spans, id_col=id_col, text_col=text_col)
    return result


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    group_col: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LM sequence packing as a distributed MAP, not a materialized concat:
    documents are laid out end-to-end in deterministic order (``id_col``
    asc within ``group_col``) and chunked into fixed ``seq_len``-token
    sequences; the output tells each trainer shard exactly which token
    span of which document lands in which sequence:

    ``(group?, seq_id, doc_id, doc_start, seq_start, n_toks)`` — tokens
    ``[doc_start, doc_start+n_toks)`` of ``doc_id`` occupy positions
    ``[seq_start, seq_start+n_toks)`` of sequence ``seq_id``.  A document
    crossing a boundary yields one row per sequence it touches
    (``sequence()`` + ``explode`` — no per-row Python, no giant concat
    string ever built).

    One window cumsum per group; with no ``group_col`` the window is
    single-partition — same contract as :func:`pack_corpus`: pass a group
    at corpus scale (packing is per-shard in real pipelines anyway).
    """
    part = [group_col] if group_col else []
    w = (
        Window.partitionBy(*part)
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = (
        df.select(
            *part,
            F.col(id_col),
            # split('') yields [''], so empty/blank docs must zero explicitly
            F.when(F.trim(F.col(text_col)) == "", F.lit(0))
            .otherwise(F.size(words_col(F.col(text_col))))
            .alias("n_tokens"),
        )
        .filter(F.col("n_tokens") > 0)
        .withColumn("cum_end", F.sum("n_tokens").over(w))
        .withColumn("cum_start", F.col("cum_end") - F.col("n_tokens"))
    )
    first_seq = (F.col("cum_start") / seq_len).cast("long")
    last_seq = ((F.col("cum_end") - 1) / seq_len).cast("long")
    exploded = base.withColumn(
        "seq_id", F.explode(F.sequence(first_seq, last_seq))
    )
    span_start = F.greatest(F.col("cum_start"), F.col("seq_id") * seq_len)
    span_end = F.least(F.col("cum_end"), (F.col("seq_id") + 1) * seq_len)
    return exploded.select(
        *part,
        "seq_id",
        F.col(id_col),
        (span_start - F.col("cum_start")).alias("doc_start"),
        (span_start - F.col("seq_id") * seq_len).alias("seq_start"),
        (span_end - span_start).alias("n_toks"),
    )
