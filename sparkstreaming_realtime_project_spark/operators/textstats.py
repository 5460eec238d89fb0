"""Text analysis operators (north-star extension): language-ID heuristic,
quality scoring, token counting, document fingerprinting.

Everything is built-in-expression only (no UDF): token arrays via split,
per-doc statistics via ``aggregate``/``size`` over the array — narrow
plans that run at scan speed on any corpus size. Each has an exact SQL
twin for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .caching import cached
from .dedup import shingles_from_tokens, spread, tokens_expr

# Marker stopwords per language for the n-gram-free heuristic. Priority
# order breaks ties deterministically (en > de > fr > es > zh).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "a", "to", "in"),
    "de": ("der", "die", "das", "und", "nicht"),
    "fr": ("le", "les", "et", "des", "une"),
    "es": ("el", "los", "y", "una", "que"),
}

STOPWORDS = ("the", "a", "of", "and", "to", "in")

# BPE-ish pre-tokenization: letter runs, digit runs, single other glyphs.
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def _count_in(tokens: Column, words: tuple[str, ...]) -> Column:
    wordset = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda t: F.array_contains(wordset, t)))


def token_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Token counting + quality scoring in one narrow pass.

    quality = min(1, n_tokens/100) * (1 - stopword_ratio): length-normed
    and penalizing stopword-heavy boilerplate — a deliberately simple,
    deterministic stand-in for a trained quality model.

    Staged projections so the tokenizer runs once per row: the token
    array lands in a column, raw counts in the next projection, ratios in
    the last — every repeated reference is a cheap attribute, which also
    keeps CollapseProject from re-inlining the expensive aliases.
    """
    src = spread(
        df.select(F.col(id_col), F.col(text_col).alias("__text")), id_col
    )
    toks = src.select(F.col(id_col), "__text", tokens_expr("__text").alias("t"))
    counts = toks.select(
        F.col(id_col),
        F.size("t").alias("n_tokens"),
        F.size(
            F.regexp_extract_all(F.lower("__text"), F.lit(BPE_PATTERN), 0)
        ).alias("n_bpe_tokens"),
        F.aggregate("t", F.lit(0), lambda acc, x: acc + F.length(x)).alias("__sum_len"),
        _count_in(F.col("t"), STOPWORDS).alias("__n_stop"),
    )
    stop_ratio = F.col("__n_stop") * F.lit(1.0) / F.col("n_tokens")
    quality = F.least(F.lit(1.0), F.col("n_tokens") / F.lit(100.0)) * (
        F.lit(1.0) - stop_ratio
    )
    return counts.select(
        F.col(id_col),
        "n_tokens",
        "n_bpe_tokens",
        F.round(F.col("__sum_len") * F.lit(1.0) / F.col("n_tokens"), 4).alias(
            "avg_token_len"
        ),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(quality, 4).alias("quality_score"),
    )


def lang_guess(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Marker-stopword language ID (n-gram heuristic family). Scores each
    language's marker hits over the token list; Chinese scores by Han
    character count (CJK has no stopword whitespace tokens to match —
    the same per-character reality the F9 analyzer handles); argmax with
    fixed priority en > de > fr > es > zh. Pure expressions -> same cost
    as a projection. Tokens and scores are staged into columns so the
    tokenizer and each marker scan run once per row."""
    src = spread(
        df.select(F.col(id_col), F.col(text_col).alias("__text")), id_col
    )
    toks = src.select(
        F.col(id_col), "__text", tokens_expr("__text").alias("t")
    )
    scored = toks.select(
        F.col(id_col),
        *[
            _count_in(F.col("t"), words).alias(f"score_{lang}")
            for lang, words in LANG_MARKERS.items()
        ],
        F.length(
            F.regexp_replace("__text", "[^一-鿿]", "")
        ).alias("score_zh"),
    )
    s_en, s_de, s_fr, s_es, s_zh = (
        F.col("score_en"),
        F.col("score_de"),
        F.col("score_fr"),
        F.col("score_es"),
        F.col("score_zh"),
    )
    guess = (
        F.when((s_en >= s_de) & (s_en >= s_fr) & (s_en >= s_es) & (s_en > 0), "en")
        .when((s_de >= s_fr) & (s_de >= s_es) & (s_de > 0), "de")
        .when((s_fr >= s_es) & (s_fr > 0), "fr")
        .when(s_es > 0, "es")
        .when(s_zh > 0, "zh")
        .otherwise("unk")
    )
    return scored.select(
        F.col(id_col),
        "score_en",
        "score_de",
        "score_fr",
        "score_es",
        "score_zh",
        guess.alias("lang_guess"),
    )


def fingerprint(df: DataFrame, text_col: str, id_col: str, n: int = 4) -> DataFrame:
    """Document fingerprint: content hash (exact identity) + min-shingle
    hash (rolling-hash family, stable under small appends). The
    min-over-window of hashed n-grams is winnowing with window = whole
    doc — one selected hash per document."""
    src = spread(
        df.select(F.col(id_col), F.col(text_col).alias("__text")), id_col
    )
    toks = src.select(
        F.col(id_col),
        F.md5(F.col("__text")).alias("content_hash"),
        tokens_expr("__text").alias("t"),
    )
    sh = shingles_from_tokens("t", n)
    return toks.select(
        F.col(id_col),
        "content_hash",
        F.array_min(F.transform(sh, lambda s: F.md5(s))).alias("shingle_fp"),
    )


def bm25_topk(
    df: DataFrame,
    text_col: str,
    id_col: str,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents for a bag-of-terms query by BM25 — the ranking the
    reference's serving layer actually delegates to Elasticsearch
    (matchQuery scoring, MyEsUtils/publisher DSL); text_match reproduces
    the boolean AND semantics, this reproduces the RELEVANCE ordering.

    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)) (the Lucene/ES form —
    never negative); tf part = tf*(k1+1)/(tf + k1*(1 - b + b*dl/avgdl)).

    Shape: one token projection; per-(doc, term) counts RESTRICTED to the
    query terms before the aggregate (array_intersect at scan time, so
    the explode fans out only query-term occurrences — at 100 TB the
    shuffle carries O(matching docs x |query|) rows, not the corpus'
    token stream); df from those counts; N and avgdl via one broadcast
    single-row cross join (never a driver collect); final top-k bounded
    by one global sort of the scored (matching) docs."""
    terms = F.array(*[F.lit(t) for t in query_terms])
    src = spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")),
        "doc_id",
    )
    toks = src.select("doc_id", tokens_expr("__text").alias("t"))
    lens = toks.select("doc_id", F.size("t").alias("dl"))
    corpus = lens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    # per-(doc, query-term) frequency: explode only the DISTINCT matched
    # query terms (array_intersect), then count that term's occurrences
    # by filtering the token array — one output row per (doc, matched
    # term), never one per token occurrence
    tf = toks.select(
        "doc_id",
        F.explode(F.array_intersect("t", terms)).alias("term"),
        "t",
    ).select(
        "doc_id",
        "term",
        F.size(F.filter("t", lambda x: x == F.col("term"))).alias("tf"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(dfreq, "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("w"), 4).alias("score"))
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "score", "rank")
    )


def tfidf_top_terms(
    df: DataFrame, text_col: str, id_col: str, k: int = 5
) -> DataFrame:
    """Top-k terms per document by TF-IDF (idf = ln(N/df), no smoothing).

    Shape: explode tokens -> (doc, term) counts with map-side partial
    aggregation -> document frequency per term (one more shuffle on
    term) -> scalar corpus size via a broadcast single-row cross join
    (never a driver-side collect) -> row_number window per doc.

    Ranking is on the ROUNDED score with the term string as tiebreak, so
    the order is reproducible across engines (two terms whose raw double
    scores differ below 1e-4 would otherwise sort differently between
    libm implementations).

    100 TB: both shuffles key on uniform values (doc id, term); the
    window partitions by doc id — no global sort anywhere. Stopword-like
    terms make hot ``term`` keys in the df aggregation but that
    aggregation is partial-first, so the skew reaches only the combiner.
    """
    src = spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")),
        "doc_id",
    )
    toks = src.select("doc_id", tokens_expr("__text").alias("t"))
    # tf feeds both the score join and the document-frequency
    # aggregation; without a cut the tokenize+explode+partial-agg
    # subtree runs twice (Catalyst does not auto-reuse the exchange
    # across the two consumers). One cached pass at corpus scale.
    tf = cached(
        toks.select("doc_id", F.explode("t").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") * F.lit(1.0) / F.col("df")), 4
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("doc_id", "term", "tf", "tfidf", "rnk")
    )


def _term_freq(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(term, freq) corpus term-frequency table: the one linear shuffle
    (partial-agg on term) everything vocabulary-level hangs off."""
    src = spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")),
        "doc_id",
    )
    return (
        src.select(F.explode(tokens_expr("__text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def vocab_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """One-row corpus vocabulary profile: vocab size, total tokens,
    hapax count/ratio (freq-1 terms — the noise tail that dominates raw
    vocab counts), and the top term's token share (head weight; a
    boilerplate-heavy corpus shows an outsized top share).

    Two aggregations, both map-side-partial: groupBy(term) then a
    single global rollup of the (already term-level) table. No window,
    no collect; the only driver-visible object is the one result row."""
    freq = _term_freq(df, text_col, id_col)
    return freq.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("freq").alias("total_tokens"),
        F.sum(F.when(F.col("freq") == 1, 1).otherwise(0)).alias("hapax_count"),
        F.round(
            F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("hapax_ratio"),
        F.round(F.max("freq") / F.sum("freq"), 6).alias("top1_share"),
    )


def token_entropy(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document lexical-diversity profile: token count, type count,
    type-token ratio, Shannon entropy of the token distribution, and
    entropy normalized by its ln(types) maximum — the quality signal
    that separates natural prose from keyword stuffing and template
    spam (both get extreme TTR/entropy values).

    Entropy via the count identity H = ln(n) - (sum c*ln(c))/n over the
    per-(doc, term) count table: one explode + two keyed aggregations,
    all map-side partial, no window and no per-row loop. A
    single-distinct-token doc has H = 0 and norm_entropy defined as 0.
    """
    src = spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")),
        "doc_id",
    )
    tf = (
        src.select("doc_id", F.explode(tokens_expr("__text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c")
    types = F.count(F.lit(1))
    clnc = F.sum(F.col("c") * F.log(F.col("c")))
    h = F.log(n) - clnc / n
    return tf.groupBy("doc_id").agg(
        n.alias("n_tokens"),
        types.alias("n_types"),
        F.round(types / n, 6).alias("ttr"),
        F.round(h, 4).alias("entropy"),
        F.round(
            F.when(types > 1, h / F.log(types.cast("double"))).otherwise(
                F.lit(0.0)
            ),
            4,
        ).alias("norm_entropy"),
    )


def zipf_spectrum(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Frequency spectrum (count-of-counts): terms and token mass per
    log2(frequency) bucket — the Zipf diagnostic (straight-ish line on
    the log-log spectrum) without ranking. Bucketing by floor(log2(freq))
    instead of frequency RANK is the scale decision: rank needs a global
    sort/window over the whole vocabulary (single-task at 100 TB), the
    spectrum is a second tiny groupBy. Bucket 0 is exactly the hapax
    terms."""
    freq = _term_freq(df, text_col, id_col)
    spec = freq.groupBy(
        F.floor(F.log2("freq")).cast("bigint").alias("freq_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("freq").alias("n_occurrences"),
    )
    tot = spec.agg(F.sum("n_occurrences").alias("__tot"))
    return spec.crossJoin(F.broadcast(tot)).select(
        "freq_bucket",
        "n_terms",
        "n_occurrences",
        F.round(F.col("n_occurrences") / F.col("__tot"), 6).alias("token_share"),
    )


def inverted_index(
    df: DataFrame, text_col: str, id_col: str, postings_cap: int = 20
) -> DataFrame:
    """Posting-list inverted index: one row per term with document
    frequency, total term frequency, and the first ``postings_cap``
    doc ids (ascending) serialized as a comma-joined string — the
    build step behind BM25 serving / decontamination lookups.

    Shape: the (doc, term, tf) table feeds two consumers — a plain
    (term) aggregation for df/total_tf, and a per-term top-cap for the
    posting sample. The cap is applied BEFORE any list materializes
    (row_number window, filter rk <= cap, then collect): an uncapped
    collect_list on a stopword term would buffer an O(corpus) array in
    one aggregation state — the actual OOM at 100 TB, not the shuffle.
    Hot-term skew reaches the window sort only; postings stay bounded.

    Postings are sorted NUMERICALLY before serialization (array_sort on
    the id, then cast) — string-sorting ids would interleave '10' < '2'.
    """
    src = spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")),
        "doc_id",
    )
    tf = (
        src.select("doc_id", tokens_expr("__text").alias("t"))
        .select("doc_id", F.explode("t").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").cast("bigint").alias("total_tf"),
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    post = (
        tf.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= postings_cap)
        .groupBy("term")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda d: d.cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    return stats.join(post, "term").select("term", "df", "total_tf", "postings")


def _bigrams(tok_col: str) -> "Column":
    """Word bigram OCCURRENCES (not per-doc-distinct — corpus counting
    wants multiplicity) as 'a b' strings; empty array below 2 tokens.
    zip_with over two shifted slices — narrow, no explode until the
    caller decides."""
    t = F.col(tok_col)
    return F.when(
        F.size(t) >= 2,
        F.zip_with(
            F.slice(t, 1, F.size(t) - 1),
            F.slice(t, 2, F.size(t) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _bigram_occurrences(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, gram) — one row per bigram OCCURRENCE, spread across
    cores. The single tokenize+explode definition ngram_freq and
    boilerplate_score both hang off (one place to fix, or their corpus
    statistics silently diverge)."""
    src = spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")),
        "doc_id",
    )
    return (
        src.select("doc_id", tokens_expr("__text").alias("t"))
        .select("doc_id", _bigrams("t").alias("g2"))
        .select("doc_id", F.explode("g2").alias("gram"))
    )


def ngram_freq(
    df: DataFrame, text_col: str, id_col: str, min_count: int = 5
) -> DataFrame:
    """Corpus bigram frequency table: (gram, freq, n_docs) for every
    bigram with at least ``min_count`` occurrences — the raw material of
    decontamination lookups, collocation mining, and boilerplate lists.

    One explode + one grouped aggregation with map-side partials; the
    HAVING-style filter sits on the aggregate so the (huge) singleton
    tail never leaves the combiner stage in a wide result."""
    grams = _bigram_occurrences(df, text_col, id_col)
    return (
        grams.groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("freq") >= min_count)
        .select("gram", "freq", F.col("n_docs").cast("bigint").alias("n_docs"))
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_count: int = 5,
    k: int = 25,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information:
    PMI(a,b) = ln( (c_ab / N2) / ((c_a / N1) * (c_b / N1)) ), bigrams
    below ``min_count`` excluded (PMI's low-count pathology). The
    standard phrase-mining signal for tokenizer/vocab construction
    (which word pairs deserve to be one unit).

    Shape: bigram counts and unigram counts are two keyed aggregations
    off the SAME token projection; the (thresholded, already small)
    bigram table joins its two unigram counts, the scalar totals ride a
    1-row broadcast, and the top-k is a distributed TakeOrdered — no
    global sort, no window. All counts are exact integers so the score
    is deterministic; ln + round(4) on both engines.
    """
    grams = cached(_bigram_occurrences(df, text_col, id_col))
    # unigram counts come from the token stream itself (bigram-derived
    # words would double-count interior positions)
    src = spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")),
        "doc_id",
    )
    toks = src.select(F.explode(tokens_expr("__text")).alias("w"))
    ucnt = toks.groupBy("w").agg(F.count(F.lit(1)).alias("cw"))
    totals = toks.agg(F.count(F.lit(1)).alias("n1")).crossJoin(
        grams.agg(F.count(F.lit(1)).alias("n2"))
    )
    big = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= min_count)
        .withColumn("wa", F.split("gram", " ")[0])
        .withColumn("wb", F.split("gram", " ")[1])
    )
    ca = ucnt.select(F.col("w").alias("wa"), F.col("cw").alias("ca"))
    cb = ucnt.select(F.col("w").alias("wb"), F.col("cw").alias("cb"))
    return (
        big.join(ca, "wa")
        .join(cb, "wb")
        .crossJoin(F.broadcast(totals))
        .select(
            "gram",
            F.col("cab").alias("freq"),
            F.round(
                F.log(
                    (F.col("cab") / F.col("n2"))
                    / ((F.col("ca") / F.col("n1")) * (F.col("cb") / F.col("n1")))
                ),
                4,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "gram")
        .limit(k)
    )


def boilerplate_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    common_min: int = 50,
) -> DataFrame:
    """Per-document boilerplate ratio: the share of a doc's bigram
    occurrences whose corpus frequency is >= ``common_min``. High ratio
    = the document is assembled from corpus-common phrasing (template/
    boilerplate pages); low = novel text. The doc-side quality signal
    derived from ngram_freq's corpus side.

    Shape: bigram explode -> join against the (small, thresholded)
    frequency table -> per-doc aggregate. The frequency side is an
    aggregate of the same scan, thresholded before the join so the
    joined table is the common-gram head, not the corpus tail. The gram
    explode feeding both consumers is a ``cached()`` cut.
    """
    grams = cached(_bigram_occurrences(df, text_col, id_col))
    common = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= common_min)
        .select("gram")
    )
    flagged = grams.join(common.withColumn("is_common", F.lit(1)), "gram", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.coalesce(F.col("is_common"), F.lit(0))).alias("__n_common"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(F.col("__n_common") / F.col("n_bigrams"), 4).alias(
                "common_ratio"
            ),
        )
    )


def normalize_text(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Canonicalize text for exact dedup: lowercase, map non-printable /
    non-ASCII bytes to spaces, collapse whitespace runs, trim — the
    normalization pass that runs BEFORE hash-dedup so trivially-mangled
    re-crawls (casing, stray control chars, reflowed whitespace)
    collapse onto one md5 key. Everything is a narrow regexp projection
    (scan-speed, no shuffle); the returned norm_hash is the key
    dedup_exact groups on.

    Regexes are shared Java/RE2 syntax (char-class ranges + \\s) so a
    SQL oracle replays them byte-for-byte.

    Returns (id, norm_hash, n_chars_norm).
    """
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^\\x20-\\x7e]", " "),
            "\\s+",
            " ",
        )
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.md5(norm).alias("norm_hash"),
        F.length(norm).alias("n_chars_norm"),
    )


def unigram_logprob(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document unigram-LM quality score: the mean token negative
    log-probability under the corpus' own unigram model — the cheap,
    model-free stand-in for the perplexity filters of CCNet/Gopher
    (docs scoring far above the corpus mean are gibberish/OCR noise;
    far below are boilerplate). Higher = more surprising.

    Three shuffles, all map-side-partial and all on uniform keys:
    per-doc term counts (doc_id, term), the vocabulary fold (term), and
    the final per-doc fold (doc_id). The corpus total is a scalar
    carried in via a broadcast cross-join (one row), and the
    term-probability join keys on `term` — vocabulary-sized, orders of
    magnitude under the corpus, and skew-free after the tf pre-fold
    (each doc contributes a term at most once to the join).
    """
    src = spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")),
        "doc_id",
    )
    # tf feeds the vocabulary fold AND the score join — same
    # two-consumer cut as tfidf_top_terms
    tf = cached(
        src.select("doc_id", F.explode(tokens_expr("__text")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("__total"))
    scored = tf.join(vocab, "term").crossJoin(F.broadcast(total))
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.round(
                -F.sum(F.col("tf") * F.log(F.col("cnt") / F.col("__total")))
                / F.sum("tf"),
                4,
            ).alias("avg_neg_logp"),
        )
        .select("doc_id", "n_tokens", "avg_neg_logp")
    )


# Gopher-rule bounds (Rae et al. 2021 §A1.1, adapted to the synthetic
# corpus' scale: word-count floor lowered from 50 to 45 so the rule has
# variance here; the production values are parameters, not structure).
GOPHER_WC_MIN, GOPHER_WC_MAX = 45, 100_000
GOPHER_MWL_MIN, GOPHER_MWL_MAX = 3.0, 10.0
GOPHER_MIN_STOPWORDS = 2
GOPHER_MAX_TOP_TOKEN_FRAC = 0.125


def gopher_quality_report(
    df: DataFrame, text_col: str, id_col: str, group_col: str = "source"
) -> DataFrame:
    """Per-group Gopher-rule filter report: how many documents each
    source loses to each rule, and the overall pass rate — the
    go/no-go table a corpus curation run publishes per input source
    before mixing.

    Rules (document fails if): word count outside [WC_MIN, WC_MAX];
    mean word length outside [MWL_MIN, MWL_MAX]; fewer than
    MIN_STOPWORDS stopword hits; most-frequent token carries more than
    MAX_TOP_TOKEN_FRAC of the tokens (template/stuffing spam). Symbol
    and alphabetic-word ratios from the paper are identically satisfied
    on this corpus and omitted rather than carried as dead columns.

    Scale shape: per-doc flags are pure column expressions over one
    tokenization (the top-token ratio folds over aggregate() — no
    explode, no per-doc shuffle); the report is one map-side-partial
    groupBy on the source key. Counts are exact integers; the single
    ratio rounds with the explicit floor form (cross-engine rule)."""
    from .dedup import tokens_expr

    toks = df.select(
        F.col(id_col).alias("id"),
        F.col(group_col).alias("grp"),
        tokens_expr(text_col).alias("t"),
    )
    n = F.size("t")
    mwl = F.aggregate(
        F.col("t"), F.lit(0.0), lambda acc, x: acc + F.length(x)
    ) / n
    stop_n = _count_in(F.col("t"), STOPWORDS)
    # top-token frequency without exploding: fold over the DISTINCT
    # tokens, counting each one's occurrences — vocabulary per doc is
    # small (distinct tokens), so this stays an in-row loop
    top_frac = F.aggregate(
        F.array_distinct("t"),
        F.lit(0),
        lambda acc, w: F.greatest(
            acc, F.size(F.filter(F.col("t"), lambda x: x == w))
        ),
    ) / n
    flags = toks.select(
        "grp",
        ((n < GOPHER_WC_MIN) | (n > GOPHER_WC_MAX)).cast("int").alias("f_wc"),
        ((mwl < GOPHER_MWL_MIN) | (mwl > GOPHER_MWL_MAX)).cast("int").alias("f_mwl"),
        (stop_n < GOPHER_MIN_STOPWORDS).cast("int").alias("f_stop"),
        (top_frac > GOPHER_MAX_TOP_TOKEN_FRAC).cast("int").alias("f_top"),
    ).withColumn(
        "f_any",
        F.greatest("f_wc", "f_mwl", "f_stop", "f_top"),
    )
    return (
        flags.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("f_wc").cast("long").alias("n_fail_wordcount"),
            F.sum("f_mwl").cast("long").alias("n_fail_wordlen"),
            F.sum("f_stop").cast("long").alias("n_fail_stopwords"),
            F.sum("f_top").cast("long").alias("n_fail_toptoken"),
            (F.count(F.lit(1)) - F.sum("f_any")).cast("long").alias("n_pass"),
            (
                F.floor(
                    (F.count(F.lit(1)) - F.sum("f_any")) / F.count(F.lit(1)) * 1e4
                    + F.lit(0.5)
                )
                / 1e4
            ).alias("pass_rate"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "n_fail_wordcount",
            "n_fail_wordlen",
            "n_fail_stopwords",
            "n_fail_toptoken",
            "n_pass",
            "pass_rate",
        )
    )


def kn_bigram_logprob(
    df: DataFrame,
    text_col: str,
    id_col: str,
    discount: float = 0.75,
) -> DataFrame:
    """Per-document bigram negative log-prob under an interpolated
    Kneser-Ney model trained on the corpus itself (Chen & Goodman 1998
    eq. 4.24, bigram order):

        P(w2|w1) = max(c(w1 w2) - D, 0) / c(w1.)
                   + D * N1+(w1 .) / c(w1.) * N1+(. w2) / |bigram types|

    — the absolute-discount mass freed from seen bigrams is spent on
    the CONTINUATION probability (in how many distinct contexts does w2
    appear), the fix for unigram backoff overweighting frequent-but-
    context-bound tokens ("Francisco"). The step up from
    `unigram_logprob` on the same quality-filter axis: unigram scores
    surprise per token, this scores surprise per TRANSITION, so
    shuffled-word salads (unigram-normal, transition-absurd) finally
    separate from prose. Every bigram the model scores was seen in
    training (the model is trained on the scored corpus), so the
    max-term is never the whole story but the interpolation term keeps
    every probability strictly positive regardless.

    Scale shape (the unigram_logprob discipline, one order up): bigram
    instances fold to per-doc types (doc_id, w1, w2) before anything
    joins — the only corpus-sized shuffle. Model tables are
    bigram-TYPE-sized: c12 (w1, w2), the context fold c1 (w1), the
    continuation fold pc (w2); the type total is a 1-row broadcast
    cross-join. The score join keys on (w1, w2) against the per-doc
    type counts — skew-free after the pre-fold. Docs with < 2 tokens
    have no transitions and drop out (both engines filter identically).

    Float discipline: probabilities are built with one fixed
    left-assoc expression shape both engines replay; only the final
    per-doc sum is order-sensitive, absorbed by floor-rounding at 1e-4
    (the unigram precedent). Returns (doc_id, n_bigrams, avg_neg_logp).
    """
    src = spread(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__text")),
        "doc_id",
    )
    toks = src.select("doc_id", tokens_expr("__text").alias("t"))
    n = F.size("t")
    bg = toks.filter(n >= 2).select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice("t", 1, n - 1),
                F.slice("t", 2, n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("b"),
    )
    # dbg feeds the model folds AND the score join — the same
    # two-consumer cut as unigram_logprob's tf frame; c12 feeds the
    # model join and its three folds
    dbg = cached(bg.groupBy(
        "doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    ).agg(F.count(F.lit(1)).alias("tf")))
    c12 = cached(dbg.groupBy("w1", "w2").agg(F.sum("tf").alias("c12")))
    c1 = c12.groupBy("w1").agg(
        F.sum("c12").alias("c1"), F.count(F.lit(1)).alias("n1p_fwd")
    )
    pc = c12.groupBy("w2").agg(F.count(F.lit(1)).alias("n1p_rev"))
    bt = c12.agg(F.count(F.lit(1)).alias("__n_types"))
    d = F.lit(float(discount))
    # fixed left-assoc shape, replayed verbatim by the SQL oracle
    p = (
        F.greatest(F.col("c12") - d, F.lit(0.0)) / F.col("c1")
        + d * F.col("n1p_fwd") / F.col("c1")
        * (F.col("n1p_rev") / F.col("__n_types"))
    )
    model = (
        c12.join(c1, "w1")
        .join(pc, "w2")
        .crossJoin(F.broadcast(bt))
        .select("w1", "w2", p.alias("__p"))
    )
    return (
        dbg.join(model, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("long").alias("n_bigrams"),
            (
                F.floor(
                    -F.sum(F.col("tf") * F.log("__p")) / F.sum("tf") * F.lit(1e4)
                    + F.lit(0.5)
                )
                / F.lit(1e4)
            ).alias("avg_neg_logp"),
        )
    )


def nb_token_classifier(
    df: DataFrame,
    text_col: str,
    id_col: str,
    label_col: str,
    n_buckets: int = 64,
    salt: str = "nb",
    decimals: int = 4,
) -> DataFrame:
    """Multinomial Naive Bayes quality classifier over hashed token
    buckets — the SQL-replayable stand-in for the fastText/logistic
    quality filters corpus pipelines train on weak labels (CCNet,
    GPT-3's quality classifier): NB's sufficient statistics are pure
    COUNTS, so training is one exploded aggregate and the learned model
    replays exactly on any engine, where LR/fastText training is an
    iterative float path no oracle can follow.

    ``label_col``: int 1 = positive class (weak labels — a rule, a
    sample of human labels — are the normal supervision here). Tokens
    hash to ``n_buckets`` buckets (md5, engine-portable); per-bucket
    weight is the smoothed log-likelihood ratio
    ln((c1+1)(T0+K) / ((c0+1)(T1+K))) with the ratio floor-rounded to
    the 1e-6 grid and clamped at 1e-6 before the log (the
    markov_surprise clamp — ln(0) is engine-divergent); doc score =
    rounded prior + sum of token weights, floor-rounded at
    ``decimals`` (the kn_bigram few-hundred-term float-sum posture);
    ``predicted`` compares the ROUNDED score to 0 so the verdict sits
    on the same grid on every engine.

    Shape: one exploded hash aggregate to the K x 2 count model, a
    broadcast join back, one keyed aggregate per doc. Returns
    (id, label, n_tokens, score, predicted)."""
    from .dedup import tokens_expr

    toks = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        F.explode(tokens_expr(text_col)).alias("tok"),
    )
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{salt}:"), F.col("tok"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(n_buckets),
    )
    tb = toks.select("id", "label", bucket.alias("b"))
    base = df.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("label")
    )
    cls = base.agg(
        F.sum("label").alias("ng"),
        F.sum(F.lit(1) - F.col("label")).alias("nb"),
    )
    cnt = tb.groupBy("b").agg(
        F.sum("label").alias("c1"),
        F.sum(F.lit(1) - F.col("label")).alias("c0"),
    )
    tot = cnt.agg(F.sum("c1").alias("t1"), F.sum("c0").alias("t0"))
    k = F.lit(n_buckets)
    ratio = (
        (F.col("c1") + F.lit(1.0))
        * (F.col("t0") + k)
        / ((F.col("c0") + F.lit(1.0)) * (F.col("t1") + k))
    )

    def _grid6(col):
        return F.greatest(
            F.floor(col * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6), F.lit(1e-6)
        )

    model = cnt.join(F.broadcast(tot), F.lit(True), "left").select(
        "b", F.log(_grid6(ratio)).alias("w")
    )
    # fail-loud on a single-class weak label (ng=0 or nb=0): Spark's
    # null division + null-skipping greatest() would otherwise yield a
    # silent prior of ln(1e-6) while a SQL twin's ng/nb diverges — a
    # degenerate corpus must raise, not score wrong (the ks_two_sample
    # posture).
    cls_ok = (F.col("ng") > 0) & (F.col("nb") > 0)
    prior = cls.select(
        F.when(
            cls_ok,
            F.log(_grid6(F.col("ng").cast("double") / F.col("nb"))),
        )
        .otherwise(
            F.assert_true(
                cls_ok,
                F.lit(
                    "nb_token_classifier: weak label is single-class "
                    "(ng or nb is 0) — the class prior is undefined"
                ),
            ).cast("double")
        )
        .alias("p0")
    )
    ds = (
        tb.join(F.broadcast(model), "b")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_toks"), F.sum("w").alias("sw"))
    )
    scale = float(10**decimals)
    raw = F.col("p0") + F.coalesce(F.col("sw"), F.lit(0.0))
    rounded = F.floor(raw * F.lit(scale) + F.lit(0.5)) / F.lit(scale)
    return (
        base.join(ds, "id", "left")
        .join(F.broadcast(prior), F.lit(True), "left")
        .select(
            "id",
            "label",
            F.coalesce(F.col("n_toks"), F.lit(0)).cast("long").alias(
                "n_tokens"
            ),
            rounded.alias("score"),
            (rounded > 0).cast("int").alias("predicted"),
        )
    )


def stutter_trim(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Collapse ADJACENT duplicate tokens ("the the", generation
    stutter, OCR doubling) and report how much was removed — a standard
    pre-training text-cleaning pass (repetition is the strongest
    low-quality signal the Gopher rules key on; this is the repair
    form of repetition_stats' measurement).

    Array-native: split -> index-aware transform nulls out any token
    equal to its predecessor -> filter -> re-join. No explode, no
    shuffle — a pure projection whose cost is linear in tokens,
    trivially 100 TB-safe. The DuckDB twin replays the same adjacency
    rule via explode + lag + ordered string_agg (catalog
    x_stutter_trim).

    The first token is kept BY INDEX (i = 0), never by comparing
    against a sentinel value: a hypothesis sweep caught the ''-sentinel
    version dropping a legitimate empty first token (empty text, double
    spaces) that the lag-based oracle kept.

    Returns (id, n_tokens, n_stutter, text_trimmed)."""
    toks = F.split(F.col(text_col), " ")
    base = df.select(F.col(id_col).alias("id"), toks.alias("_toks"))
    kept = F.filter(
        F.transform(
            F.col("_toks"),
            lambda t, i: F.when(
                (i == F.lit(0)) | (t != F.get(F.col("_toks"), i - 1)), t
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return base.select(
        "id",
        F.size("_toks").cast("long").alias("n_tokens"),
        (F.size("_toks") - F.size(kept)).cast("long").alias("n_stutter"),
        F.array_join(kept, " ").alias("text_trimmed"),
    )


def readability(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Flesch reading-ease readability scoring, document level:

        flesch = 206.835 - 1.015*(words/sentences) - 84.6*(syl/words)

    with the corpus-scale approximations that keep it a pure regexp
    aggregate: words = count of ``[A-Za-z]+`` runs, sentences = count of
    ``[.!?]+`` runs clamped to >= 1, syllables = count of ``[aeiouy]+``
    vowel groups in the lowercased text (the standard vowel-run
    estimator, applied corpus-wide instead of per-word so NO per-word
    loop or UDF is needed — three regexp_count passes over the scan,
    whole-stage-codegen'd). Returns (id, n_words, n_sentences,
    n_vowel_groups, flesch, band); docs with zero words score NULL.

    band buckets the score the way a corpus-quality gate consumes it
    (easy >= 70, standard >= 50, difficult >= 30, else very_difficult) —
    CASE on the ALREADY-ROUNDED score so the bucket edge can never
    disagree cross-engine.

    Determinism: all three counts are exact integers; the formula is
    double mult/div (IEEE-deterministic); round last.
    """
    words = F.regexp_count(F.col(text_col), F.lit(r"[A-Za-z]+"))
    sents = F.greatest(
        F.regexp_count(F.col(text_col), F.lit(r"[.!?]+")), F.lit(1)
    )
    syl = F.regexp_count(F.lower(F.col(text_col)), F.lit(r"[aeiouy]+"))
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (words.cast("double") / sents.cast("double"))
        - F.lit(84.6) * (syl.cast("double") / words.cast("double")),
        4,
    )
    band = (
        F.when(F.col("flesch").isNull(), F.lit(None).cast("string"))
        .when(F.col("flesch") >= 70, F.lit("easy"))
        .when(F.col("flesch") >= 50, F.lit("standard"))
        .when(F.col("flesch") >= 30, F.lit("difficult"))
        .otherwise(F.lit("very_difficult"))
    )
    return (
        df.select(
            F.col(id_col).alias("id"),
            words.cast("long").alias("n_words"),
            sents.cast("long").alias("n_sentences"),
            syl.cast("long").alias("n_vowel_groups"),
            F.when(words > 0, flesch).alias("flesch"),
        )
        .withColumn("band", band)
    )
