"""Text-analysis operators for training-data pipelines (SURVEY §2.11 /
BASELINE north star) over the `documents` table, with DuckDB oracles.

Everything is built-in JVM expressions (regexp/array/higher-order
functions) — no Python UDFs — so the ops stay inside whole-stage codegen
and scale linearly with one narrow pass over the text column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from relational_to_doc_oriented_nosql_migrator_spark.operators.common import (
    dec_avg,
    dec_sum,
    exact_ntile,
    footer_rows,
    global_row_number,
    sql_dec_avg,
    sql_dec_sum,
    t,
)

# ASCII-only stopword votes per language (shared with the oracle).
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu",
           "den"],
    "fr": ["le", "les", "et", "est", "des", "une", "du", "dans", "pour",
           "que"],
    "es": ["el", "los", "de", "que", "y", "en", "un", "es", "por", "con"],
}

TOKEN_SPLIT_RE = r"\s+"
# BPE-ish segmentation: alnum runs or single non-space symbols.
BPE_ISH_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def tokens_col(col: Column) -> Column:
    """Whitespace tokens of lowercased trimmed text (shared definition)."""
    return F.split(F.lower(F.trim(col)), TOKEN_SPLIT_RE)


SQL_TOKENS = "string_split_regex(lower(trim(text)), '\\s+')"


# Spread the raw scan before high-fanout token explodes only past this
# corpus size (documents footer row count — no Spark job): a single-file
# corpus reads as ONE input split, which pinned the explode + partial-agg
# stages of the token-statistics family to one core at sf10 (measured
# 29.9-104.7s each; spread cut bigram_logprob 104.7 -> 49.3s, pmi 46.0 ->
# 6.9s). Below the gate the extra 32-task exchange is pure scheduling
# overhead on a corpus one core chews in under a second (sf0.1 = 5k docs:
# bigram 1.09s unspread vs 1.73s spread) — the same footer-metadata
# pattern as similarity.lsh_k / n_centroids / the IVF-PQ candidate gate.
SPREAD_MIN_DOCS = 20_000


def spread_for(sf_dir: str) -> bool:
    return footer_rows(sf_dir, "documents") >= SPREAD_MIN_DOCS


def docs_tokenized(spark, sf_dir, spread: bool = False) -> DataFrame:
    """The shared tokenization scan: (doc_id, text, lang, source, tk).

    Tokenization dominates CPU at corpus scale, so multi-stage pipelines
    (ext_curation_pipeline) compute this frame ONCE, persist it, and thread
    it through the `*_from` stage builders instead of re-tokenizing per
    stage.

    spread=True repartitions the RAW scan before tokenizing — required
    before a persist (the cache materializes in its input's layout) or any
    multi-consumer use, so a few-file corpus doesn't pin tokenization to a
    few cores. The repartition must precede the projection:
    `select(expensive).repartition(n)` leaves the work below the exchange.
    """
    docs = t(spark, sf_dir, "documents")
    if spread:
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
    return docs.select(
        "doc_id", "text", "lang", "source",
        tokens_col(F.col("text")).alias("tk"),
    )


def q_ext_text_tokens(spark, sf_dir):
    """Token counting: whitespace tokens + a BPE-ish regex segmentation."""
    docs = t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_seen"),
        F.size(tokens_col(F.col("text"))).alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_ISH_RE), 0)).alias(
            "n_bpe_ish"
        ),
    )


def q_ext_text_stats(spark, sf_dir):
    """Corpus stats per (lang, source): doc counts, char/token averages."""
    docs = t(spark, sf_dir, "documents")
    enriched = docs.select(
        "lang",
        "source",
        "n_chars",
        F.size(tokens_col(F.col("text"))).alias("n_tokens"),
    )
    return enriched.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        dec_sum("n_chars", 0).alias("sum_chars"),
        dec_avg("n_chars").alias("avg_chars"),
        dec_avg("n_tokens").alias("avg_tokens"),
    )


def _quality_features(docs_tk: DataFrame):
    """UNROUNDED quality features over a pre-tokenized (doc_id, text, tk)
    frame — the single definition shared by ext_text_quality and
    ext_text_quality_score, so the two operators cannot drift if the
    stopword list / punctuation class / tokenization ever changes.
    Returns (n_tokens, n_chars, stop_ratio, punct_ratio) columns."""
    toks = F.col("tk")
    n_tokens = F.size(toks)
    n_chars = F.length("text")
    punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", ""))
    stop = F.size(
        F.filter(toks, lambda x: x.isin(*STOPWORDS["en"]))
    )
    sr = stop.cast("double") / n_tokens
    pr = punct.cast("double") / n_chars
    return n_tokens, n_chars, sr, pr


def text_quality_from(docs_tk: DataFrame) -> DataFrame:
    """Quality features over a pre-tokenized (doc_id, text, tk) frame."""
    n_tokens, n_chars, sr, pr = _quality_features(docs_tk)
    punct_ratio = F.round(pr, 6)
    stop_ratio = F.round(sr, 6)
    return docs_tk.select(
        "doc_id",
        n_chars.alias("n_chars_seen"),
        n_tokens.alias("n_tokens"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        (
            (n_chars >= 100) & (punct_ratio <= F.lit(0.1))
        ).alias("keep"),
    )


def q_ext_text_quality(spark, sf_dir):
    """Per-doc quality features: length, punctuation ratio, stopword ratio,
    and a keep/drop flag — the classic pretraining quality filter shape."""
    return text_quality_from(docs_tokenized(spark, sf_dir))


def q_ext_text_langid(spark, sf_dir):
    """Language-ID heuristic: CJK-character ratio, else stopword votes with
    a deterministic preference order (en > de > es > fr)."""
    docs = t(spark, sf_dir, "documents")
    alpha = F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+"), 0)

    def _voter(words):
        return lambda x: x.isin(*words)

    votes = {
        lang: F.size(F.filter(alpha, _voter(words)))
        for lang, words in STOPWORDS.items()
    }
    han = F.length(F.regexp_replace("text", r"[^\p{IsHan}]", ""))
    pred = (
        F.when(han * 5 > F.length("text"), F.lit("zh"))
        .when(
            (votes["en"] >= votes["de"]) & (votes["en"] >= votes["es"])
            & (votes["en"] >= votes["fr"]), F.lit("en"))
        .when((votes["de"] >= votes["es"]) & (votes["de"] >= votes["fr"]),
              F.lit("de"))
        .when(votes["es"] >= votes["fr"], F.lit("es"))
        .otherwise(F.lit("fr"))
    )
    return docs.select(
        "doc_id",
        votes["en"].alias("votes_en"),
        votes["de"].alias("votes_de"),
        votes["es"].alias("votes_es"),
        votes["fr"].alias("votes_fr"),
        pred.alias("pred_lang"),
    )


def q_ext_text_fingerprint(spark, sf_dir):
    """Document fingerprint: minimum md5 over word 5-gram shingles (a
    rolling-hash-style content signature, stable under whitespace noise)."""
    docs = t(spark, sf_dir, "documents")
    fp = F.expr(
        "array_min(transform(sequence(1, greatest(size(toks) - 4, 1)),"
        " i -> md5(concat_ws(' ', slice(toks, i, 5)))))"
    )
    return (
        docs.select("doc_id", tokens_col(F.col("text")).alias("toks"))
        .select("doc_id", fp.alias("fingerprint"))
    )


def q_ext_split_assign(spark, sf_dir):
    """Deterministic train/val/test split: md5-bucket the doc id so the
    assignment is stable across runs, engines, and repartitioning (a
    seeded df.sample would be engine-specific RNG). 90/5/5."""
    docs = t(spark, sf_dir, "documents")
    bucket = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 12), 16, 10)"
        " AS BIGINT) % 100"
    )
    split = (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select("doc_id", bucket.alias("bucket"),
                       split.alias("split"))


def q_ext_text_unigram_logprob(spark, sf_dir):
    """Unigram language-model quality score: per-doc mean log-probability
    under the corpus's own unigram distribution (the cheap KenLM-style
    perplexity proxy used to rank training docs; low = boilerplate/garble).

    Scale shape: one explode + two shuffles that matter — token frequency
    aggregation (map-side combined) and the token->logprob equi-join (the
    vocab side is post-aggregation small; AQE broadcasts it when it fits).
    The corpus total rides a broadcast 1-row cross join, never the driver.
    Per-token logprob is rounded BEFORE the per-doc decimal mean so both
    engines aggregate identical values in any order. The raw scan is
    spread past SPREAD_MIN_DOCS: the 100x corpus is ONE 78 MB parquet
    file = one input split, which pinned the explode + partial-count
    stage to a single core (the round-5 entropy lesson applied here).
    """
    ex = docs_tokenized(spark, sf_dir, spread=spread_for(sf_dir)).select(
        "doc_id", F.explode("tk").alias("tok")
    )
    freq = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("total"))
    logp = freq.crossJoin(F.broadcast(total)).select(
        "tok",
        F.round(
            F.log(F.col("cnt").cast("double") / F.col("total")), 6
        ).alias("lp"),
    )
    return (
        ex.join(logp, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            dec_avg("lp").alias("avg_logprob"),
        )
    )


def q_ext_text_entropy(spark, sf_dir):
    """Per-document character-level Shannon entropy (nats) — the cheap
    garble detector: natural prose sits ~2.8-3.2, base64/compressed junk
    pushes toward ln(alphabet), single-char spam collapses toward 0.

    Scale shape (r13, guide §2.4): the char histogram is computed
    IN-ARRAY per document — sort the char array, find the run
    boundaries, diff them into per-char counts — so the whole entropy is
    a row-local expression with ZERO aggregation exchanges (the r12
    shape exploded one row per character into two groupBys; the per-doc
    char rows never needed to leave their document). Each summand is
    rounded to 9 digits and summed in decimal, so the per-doc fold is
    order-independent and engine-exact — identical values to the
    exploded shape (same p, same term tree, exact decimal sum). The raw
    scan is still spread to full parallelism first: the per-doc
    sort+histogram work is ~|doc| log |doc|, so a compact few-split
    corpus would otherwise pin the stage to a couple of cores.
    """
    # Empty docs are excluded on BOTH engines (entropy of an empty
    # string is undefined; the filter also keeps sequence() off the
    # n=0 descending-[1,0] trap and the ANSI divide-by-zero).
    docs = (
        t(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .filter(F.length("text") > 0)
    )
    d = docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("total"),
        F.expr(
            "array_sort(transform(sequence(1, length(text)),"
            " i -> substring(text, i, 1)))"
        ).alias("sc"),
    )
    # Run boundaries over the sorted chars: 1-based end positions of
    # each equal-char run (AND short-circuits, so element_at never reads
    # past the array under ANSI; greatest() keeps sequence() ascending
    # for 1-char docs).
    ends = (
        "concat(filter(sequence(1, greatest(size(sc) - 1, 1)),"
        " i -> i < size(sc) AND element_at(sc, i) != element_at(sc, i + 1)),"
        " array(size(sc)))"
    )
    # Per-distinct-char counts = diffs of consecutive run ends (lambda
    # index j is 0-based; element_at(ends, j) is the PREVIOUS end).
    cnts = "transform(ends, (e, j) -> e - IF(j = 0, 0, element_at(ends, j)))"
    # Same per-char term tree as the exploded shape — p promoted to
    # double, round(-p * ln(p), 9) in decimal(18,9) — summed with an
    # exact decimal fold (values bounded by ln(n) per term: no overflow,
    # no order sensitivity).
    term_sum = (
        "aggregate(transform(cnts, cnt ->"
        " CAST(round(-(CAST(cnt AS DOUBLE) / total)"
        " * ln(CAST(cnt AS DOUBLE) / total), 9) AS DECIMAL(18,9))),"
        " CAST(0 AS DECIMAL(28,9)),"
        " (acc, x) -> CAST(acc + x AS DECIMAL(28,9)))"
    )
    return (
        d.withColumn("ends", F.expr(ends))
        .withColumn("cnts", F.expr(cnts))
        .select(
            "doc_id",
            F.col("total").alias("n_chars"),
            F.round(F.expr(term_sum).cast("double"), 6).alias("entropy"),
            F.size("ends").cast("bigint").alias("n_distinct_chars"),
        )
    )


def q_ext_text_perplexity_bucket(spark, sf_dir):
    """CCNet-style perplexity bucketing: docs split into head / middle /
    tail terciles of the unigram-LM score (head = most natural text) —
    the partition CCNet uses to keep head+middle and drop the tail.

    Scale shape: the bucketed frame is the |docs|-sized score output of
    the unigram pass, not the token explosion. Tercile assignment is
    exact ntile(3) semantics (rank-based, integer-exact across engines)
    computed DISTRIBUTED: global_row_number range-repartitions on the
    score, ranks within each range partition in parallel, and derives
    the tercile arithmetically from (rank, total) — no single-partition
    global window anywhere in the plan (the r04 verdict's scale fix;
    tests/test_plan_lint.py bans unpartitioned windows registry-wide).
    """
    scored = q_ext_text_unigram_logprob(spark, sf_dir)
    ranked = global_row_number(
        scored,
        [F.desc("avg_logprob"), F.asc("doc_id")],
        out="_grnk",
        total_out="_gn",
    )
    tercile = exact_ntile(F.col("_grnk"), F.col("_gn"), 3)
    return ranked.select(
        "doc_id",
        "n_tokens",
        "avg_logprob",
        F.element_at(
            F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
            tercile,
        ).alias("bucket"),
    )


TFIDF_TOP_K = 3


def q_ext_text_tfidf_top(spark, sf_dir):
    """Top-K characteristic terms per doc by tf-idf (the classic
    keyword-extraction / topic-tagging pass of a curation pipeline).

    Scale shape: tf is one (doc_id, term) aggregation; df reuses tf (one
    row per doc-term, so COUNT(*) per term IS document frequency —
    no second corpus pass); idf joins back post-aggregation (AQE
    broadcasts the vocab side when small); the final top-K is a
    row_number window partitioned by doc_id — state per partition is one
    heap, never the corpus. Scores are rounded before ranking, with the
    term as tiebreaker, so ordering is identical across engines.
    The raw scan is spread past SPREAD_MIN_DOCS: a single-file corpus
    reads as one split and pins the explode + tf partial-agg to one
    core (49.1s at sf10 measured; 34.7s spread).
    """
    ex = docs_tokenized(spark, sf_dir, spread=spread_for(sf_dir)).select(
        "doc_id", F.explode("tk").alias("term")
    )
    tf = ex.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    ndocs = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    idf = df_.crossJoin(F.broadcast(ndocs)).select(
        "term",
        F.round(
            F.log(F.col("n_docs").cast("double") / F.col("df")), 6
        ).alias("idf"),
    )
    scored = tf.join(idf, "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP_K)
        .select("doc_id", "rnk", "term", "tfidf")
    )


def q_ext_text_bigram_logprob(spark, sf_dir):
    """Bigram conditional-LM quality score: per-doc mean
    ln P(w2|w1) = ln(c(w1 w2) / c(w1 ·)), where the context count is the
    number of bigrams starting with w1 — the next-sharper perplexity
    proxy after ext_text_unigram_logprob (penalizes improbable token
    TRANSITIONS, which unigram frequency can't see).

    Scale shape: one bigram explode feeding both count aggregations
    (map-side combined); the bigram->logprob join's model side is
    post-aggregation vocabulary-sized (AQE broadcasts when it fits).
    Per-bigram logprob rounds before the per-doc decimal mean, so both
    engines aggregate identical values in any order. The raw scan is
    spread past SPREAD_MIN_DOCS: the heaviest explode in the text
    family (two bigram aggregations) ran on ONE core at sf10 when the
    corpus read as a single split (104.7s measured, 49.3s spread — the
    worst non-ANN id in the frozen round-6 probe matrix, in git history
    at a6e084f).
    """
    docs = docs_tokenized(spark, sf_dir, spread=spread_for(sf_dir))
    bigrams_expr = (
        "transform(slice(tk, 1, greatest(size(tk) - 1, 0)),"
        " (x, i) -> concat(x, ' ', element_at(tk, i + 2)))"
    )
    bg = docs.select(
        "doc_id", F.explode(F.expr(bigrams_expr)).alias("bigram")
    )
    c12 = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    ctx = (
        c12.withColumn(
            "w1", F.element_at(F.split(F.col("bigram"), " "), 1)
        )
        .groupBy("w1")
        .agg(F.sum("c12").alias("c1"))
    )
    model = (
        c12.withColumn(
            "w1", F.element_at(F.split(F.col("bigram"), " "), 1)
        )
        .join(ctx, "w1")
        .select(
            "bigram",
            F.round(
                F.log(F.col("c12").cast("double") / F.col("c1")), 6
            ).alias("lp"),
        )
    )
    return (
        bg.join(model, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            dec_avg("lp").alias("avg_logprob"),
        )
    )


# Fixed published weights for the logistic quality filter (the shape of a
# fastText/classifier-based doc filter, with the model reduced to a linear
# head over interpretable features so both engines can run inference as
# one expression). Shared verbatim with the oracle.
QSCORE_BIAS = -3.0
QSCORE_W_STOP = 4.0      # stopword density reads as natural prose
QSCORE_W_PUNCT = -20.0   # punctuation spam reads as boilerplate
QSCORE_W_LNTOK = 0.8     # longer docs score higher, log-damped


def q_ext_text_quality_score(spark, sf_dir):
    """Model-scoring pass: per-doc keep-probability from a fixed-weight
    logistic head over quality features (stopword ratio, punctuation
    ratio, log token count) — the inference step of a classifier-based
    quality filter, run entirely as JVM expressions (no model server, no
    UDF).

    Scale shape: one narrow pass over the text column, no shuffle at
    all. The sigmoid is a single identical expression tree on both
    engines, so the rounded probability matches bit-for-bit.
    """
    docs = docs_tokenized(spark, sf_dir)
    n_tokens, _n_chars, sr, pr = _quality_features(docs)
    z = (
        F.lit(QSCORE_BIAS)
        + F.lit(QSCORE_W_STOP) * sr
        + F.lit(QSCORE_W_PUNCT) * pr
        + F.lit(QSCORE_W_LNTOK) * F.log(n_tokens.cast("double"))
    )
    prob = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return docs.select(
        "doc_id",
        F.round(sr, 6).alias("stop_ratio"),
        F.round(pr, 6).alias("punct_ratio"),
        n_tokens.cast("bigint").alias("n_tokens"),
        prob.alias("keep_prob"),
        (prob >= 0.5).alias("keep"),
    )


CHUNK_W = 16   # tokens per chunk
CHUNK_S = 12   # stride (CHUNK_W - CHUNK_S = 4 tokens of overlap)


def q_ext_text_chunk(spark, sf_dir):
    """RAG-style document chunking: overlapping token windows of
    CHUNK_W tokens every CHUNK_S (so consecutive chunks share
    CHUNK_W - CHUNK_S tokens of context), the standard retrieval-corpus
    preparation step before embedding.

    Scale shape: one narrow pass — tokenize, explode the stride start
    positions (~n_tokens/CHUNK_S small rows per doc), slice per start.
    No shuffle at all: chunking is embarrassingly parallel per document,
    and the output keeps (doc_id, chunk_idx) so downstream embedding /
    indexing can repartition however it likes.

    A trailing window that would add NO tokens beyond the previous
    window's end (possible when n_tokens mod CHUNK_S is in
    1..CHUNK_W-CHUNK_S) is suppressed, as standard splitters do —
    emitting it would duplicate a strict subset of the previous chunk
    into the retrieval corpus.
    """
    docs = docs_tokenized(spark, sf_dir)
    ch = docs.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("tk"), F.lit(CHUNK_S))
        ).alias("s"),
        "tk",
    ).filter(
        (F.col("s") == 1)
        | (F.col("s") + (CHUNK_W - CHUNK_S) <= F.size("tk"))
    )
    chunk = F.slice(F.col("tk"), F.col("s"), CHUNK_W)
    return ch.select(
        "doc_id",
        F.expr(f"CAST((s - 1) DIV {CHUNK_S} AS INT)").alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


PMI_MIN_COUNT = 5


def q_ext_text_pmi(spark, sf_dir):
    """Collocation mining: pointwise mutual information of adjacent token
    pairs, PMI = ln(p(w1w2) / (p(w1) p(w2))), reported for pairs seen at
    least PMI_MIN_COUNT times — the classic phrase detector (high PMI =
    tokens that co-occur far above chance, e.g. multiword terms worth
    merging before tokenizer training).

    Scale shape: one token explode and one bigram explode, each feeding a
    map-side-combined count; corpus totals ride broadcast 1-row cross
    joins; the two unigram-count joins are post-aggregation
    vocabulary-sized (AQE broadcasts them). PMI is computed by promoting
    the first factor of each product to DOUBLE (so numerator and
    denominator are IEEE multiply chains — overflow-free at any corpus
    size, unlike int64 products, which blow past 2^63 as soon as
    t_bg*c1*c2 does on ~1e7-token corpora) with ONE division then ln;
    both engines evaluate the identical expression tree left-to-right,
    so the rounded double matches bit-for-bit. The raw scan is spread
    past SPREAD_MIN_DOCS: both explodes inherited the single-file
    corpus's one input split at sf10 (46.0s on one core; 6.9s spread).
    """
    docs = docs_tokenized(spark, sf_dir, spread=spread_for(sf_dir))
    bigrams_expr = (
        "transform(slice(tk, 1, greatest(size(tk) - 1, 0)),"
        " (x, i) -> concat(x, ' ', element_at(tk, i + 2)))"
    )
    bg = docs.select(F.explode(F.expr(bigrams_expr)).alias("bigram"))
    uni = docs.select(F.explode("tk").alias("tok"))
    c12 = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("c12"))
    c1 = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    t_uni = c1.agg(F.sum("c").alias("t_uni"))
    t_bg = c12.agg(F.sum("c12").alias("t_bg"))
    pairs = (
        c12.filter(F.col("c12") >= PMI_MIN_COUNT)
        .withColumn("w1", F.element_at(F.split("bigram", " "), 1))
        .withColumn("w2", F.element_at(F.split("bigram", " "), 2))
        .join(c1.withColumnRenamed("tok", "w1")
                .withColumnRenamed("c", "c1"), "w1")
        .join(c1.withColumnRenamed("tok", "w2")
                .withColumnRenamed("c", "c2"), "w2")
        .crossJoin(F.broadcast(t_uni))
        .crossJoin(F.broadcast(t_bg))
    )
    ratio = (
        F.col("c12").cast("double") * F.col("t_uni") * F.col("t_uni")
        / (F.col("t_bg").cast("double") * F.col("c1") * F.col("c2"))
    )
    return pairs.select(
        "bigram", "c12", F.round(F.log(ratio), 6).alias("pmi")
    )


def q_ext_token_bigrams(spark, sf_dir):
    """Corpus-wide token-pair frequencies (the merge-candidate counting
    step of BPE training): adjacent-token bigrams exploded and counted.
    The narrow raw scan is repartitioned to full parallelism past
    SPREAD_MIN_DOCS: a single-file corpus reads as one split, which
    pinned the tokenize + explode + partial-count stage to one core at
    sf10 (29.9s measured; 4.4s spread)."""
    docs = t(spark, sf_dir, "documents")
    if spread_for(sf_dir):
        docs = docs.repartition(spark.sparkContext.defaultParallelism)
    toks = tokens_col(F.col("text"))
    bigrams = F.expr(
        "transform(slice(tk, 1, greatest(size(tk) - 1, 0)),"
        " (x, i) -> concat(x, ' ', element_at(tk, i + 2)))"
    )
    return (
        docs.select(toks.alias("tk"))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )


QUERIES = {
    "ext_text_tokens": q_ext_text_tokens,
    "ext_split_assign": q_ext_split_assign,
    "ext_token_bigrams": q_ext_token_bigrams,
    "ext_text_stats": q_ext_text_stats,
    "ext_text_quality": q_ext_text_quality,
    "ext_text_langid": q_ext_text_langid,
    "ext_text_fingerprint": q_ext_text_fingerprint,
    "ext_text_unigram_logprob": q_ext_text_unigram_logprob,
    "ext_text_perplexity_bucket": q_ext_text_perplexity_bucket,
    "ext_text_entropy": q_ext_text_entropy,
    "ext_text_bigram_logprob": q_ext_text_bigram_logprob,
    "ext_text_tfidf_top": q_ext_text_tfidf_top,
    "ext_text_chunk": q_ext_text_chunk,
    "ext_text_pmi": q_ext_text_pmi,
    "ext_text_quality_score": q_ext_text_quality_score,
}


def _votes_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        "len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),"
        f" x -> list_contains([{words}], x)))"
    )


ORACLES = {
    "ext_split_assign": """
SELECT doc_id,
       ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT % 100
         AS bucket,
       CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                 % 100 < 90 THEN 'train'
            WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                 % 100 < 95 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
    "ext_token_bigrams": f"""
WITH tk AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents)
SELECT bigram, COUNT(*) AS n FROM (
  SELECT unnest([tk[i] || ' ' || tk[i + 1]
                 for i in generate_series(1, greatest(len(tk) - 1, 0))])
           AS bigram
  FROM tk
) GROUP BY bigram
""",
    "ext_text_tokens": f"""
SELECT doc_id, length(text) AS n_chars_seen,
       len({SQL_TOKENS}) AS n_tokens,
       len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'))
         AS n_bpe_ish
FROM documents
""",
    "ext_text_stats": f"""
SELECT lang, source, COUNT(*) AS n_docs,
       {sql_dec_sum('n_chars', 0)} AS sum_chars,
       {sql_dec_avg('n_chars')} AS avg_chars,
       {sql_dec_avg(f'len({SQL_TOKENS})')} AS avg_tokens
FROM documents GROUP BY lang, source
""",
    "ext_text_quality": f"""
SELECT doc_id, length(text) AS n_chars_seen,
       len({SQL_TOKENS}) AS n_tokens,
       round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
             / length(text), 6) AS punct_ratio,
       round(len(list_filter({SQL_TOKENS},
                 x -> list_contains(['the','and','of','to','in','is','that',
                                     'it','was','for'], x)))::DOUBLE
             / len({SQL_TOKENS}), 6) AS stopword_ratio,
       length(text) >= 100 AND
         round(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
               / length(text), 6) <= 0.1 AS keep
FROM documents
""",
    "ext_text_langid": f"""
SELECT doc_id,
       {_votes_sql('en')} AS votes_en,
       {_votes_sql('de')} AS votes_de,
       {_votes_sql('es')} AS votes_es,
       {_votes_sql('fr')} AS votes_fr,
       CASE
         WHEN length(regexp_replace(text, '[^\\p{{Han}}]', '', 'g')) * 5
              > length(text) THEN 'zh'
         WHEN {_votes_sql('en')} >= {_votes_sql('de')}
          AND {_votes_sql('en')} >= {_votes_sql('es')}
          AND {_votes_sql('en')} >= {_votes_sql('fr')} THEN 'en'
         WHEN {_votes_sql('de')} >= {_votes_sql('es')}
          AND {_votes_sql('de')} >= {_votes_sql('fr')} THEN 'de'
         WHEN {_votes_sql('es')} >= {_votes_sql('fr')} THEN 'es'
         ELSE 'fr'
       END AS pred_lang
FROM documents
""",
    "ext_text_fingerprint": f"""
WITH toks AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents)
SELECT doc_id,
       list_min([md5(array_to_string(tk[i:i+4], ' '))
                 for i in generate_series(1, greatest(len(tk) - 4, 1))])
         AS fingerprint
FROM toks
""",
    "ext_text_unigram_logprob": f"""
WITH tk AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
ex AS (SELECT doc_id, unnest(tk) AS tok FROM tk),
freq AS (SELECT tok, COUNT(*) AS cnt FROM ex GROUP BY tok),
tot AS (SELECT SUM(cnt) AS total FROM freq),
logp AS (SELECT tok, round(ln(cnt::DOUBLE / total), 6) AS lp
         FROM freq, tot)
SELECT doc_id, COUNT(*) AS n_tokens, {sql_dec_avg('lp')} AS avg_logprob
FROM ex JOIN logp USING (tok) GROUP BY doc_id
""",
    "ext_text_entropy": """
WITH ch AS (
  SELECT doc_id, length(text) AS total,
         unnest([substr(text, i, 1)
                 for i in generate_series(1, length(text))]) AS c
  FROM documents WHERE length(text) > 0
),
counts AS (
  SELECT doc_id, total, c, COUNT(*) AS cnt FROM ch GROUP BY 1, 2, 3
)
SELECT doc_id, total AS n_chars,
       round(CAST(SUM(CAST(round(-(cnt::DOUBLE / total) *
                                 ln(cnt::DOUBLE / total), 9)
                           AS DECIMAL(18,9))) AS DECIMAL(28,9))::DOUBLE,
             6) AS entropy,
       COUNT(*) AS n_distinct_chars
FROM counts GROUP BY doc_id, total
""",
    "ext_text_perplexity_bucket": f"""
WITH tk AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
ex AS (SELECT doc_id, unnest(tk) AS tok FROM tk),
freq AS (SELECT tok, COUNT(*) AS cnt FROM ex GROUP BY tok),
tot AS (SELECT SUM(cnt) AS total FROM freq),
logp AS (SELECT tok, round(ln(cnt::DOUBLE / total), 6) AS lp
         FROM freq, tot),
scored AS (
  SELECT doc_id, COUNT(*) AS n_tokens, {sql_dec_avg('lp')} AS avg_logprob
  FROM ex JOIN logp USING (tok) GROUP BY doc_id
)
SELECT doc_id, n_tokens, avg_logprob,
       (['head', 'middle', 'tail'])[
         ntile(3) OVER (ORDER BY avg_logprob DESC, doc_id ASC)] AS bucket
FROM scored
""",
    "ext_text_bigram_logprob": f"""
WITH tk AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
bg AS (
  SELECT doc_id,
         unnest([tk[i] || ' ' || tk[i + 1]
                 for i in generate_series(1, greatest(len(tk) - 1, 0))])
           AS bigram
  FROM tk
),
c12 AS (SELECT bigram, COUNT(*) AS c12 FROM bg GROUP BY bigram),
ctx AS (SELECT string_split(bigram, ' ')[1] AS w1, SUM(c12) AS c1
        FROM c12 GROUP BY 1),
model AS (
  SELECT bigram, round(ln(c12::DOUBLE / c1), 6) AS lp
  FROM c12 JOIN ctx ON string_split(c12.bigram, ' ')[1] = ctx.w1
)
SELECT doc_id, COUNT(*) AS n_bigrams, {sql_dec_avg('lp')} AS avg_logprob
FROM bg JOIN model USING (bigram) GROUP BY doc_id
""",
    "ext_text_tfidf_top": f"""
WITH tk AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
ex AS (SELECT doc_id, unnest(tk) AS term FROM tk),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM ex GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
idf AS (SELECT term, round(ln(n_docs::DOUBLE / df), 6) AS idf
        FROM df, nd),
scored AS (SELECT doc_id, t.term, round(tf * idf, 6) AS tfidf
           FROM tf t JOIN idf USING (term)),
ranked AS (SELECT doc_id, term, tfidf,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY tfidf DESC, term) AS rnk
           FROM scored)
SELECT doc_id, rnk, term, tfidf FROM ranked WHERE rnk <= 3
""",
    "ext_text_chunk": f"""
WITH tk AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents)
SELECT doc_id,
       CAST((s - 1) // {CHUNK_S} AS INT) AS chunk_idx,
       len(tk[s:s + {CHUNK_W - 1}])::BIGINT AS n_chunk_tokens,
       array_to_string(tk[s:s + {CHUNK_W - 1}], ' ') AS chunk_text
FROM (SELECT doc_id, tk,
             unnest(generate_series(1, len(tk), {CHUNK_S})) AS s
      FROM tk)
WHERE s = 1 OR s + {CHUNK_W - CHUNK_S} <= len(tk)
""",
    "ext_text_pmi": f"""
WITH tk AS (SELECT doc_id, {SQL_TOKENS} AS tk FROM documents),
bg AS (
  SELECT unnest([tk[i] || ' ' || tk[i + 1]
                 for i in generate_series(1, greatest(len(tk) - 1, 0))])
           AS bigram
  FROM tk
),
uni AS (SELECT unnest(tk) AS tok FROM tk),
c12 AS (SELECT bigram, COUNT(*) AS c12 FROM bg GROUP BY bigram),
c1 AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok),
t_uni AS (SELECT SUM(c) AS t_uni FROM c1),
t_bg AS (SELECT SUM(c12) AS t_bg FROM c12)
SELECT bigram, c12,
       round(ln(c12::DOUBLE * t_uni * t_uni
                / (t_bg::DOUBLE * w1.c * w2.c)), 6) AS pmi
FROM c12
JOIN c1 w1 ON string_split(c12.bigram, ' ')[1] = w1.tok
JOIN c1 w2 ON string_split(c12.bigram, ' ')[2] = w2.tok
CROSS JOIN t_uni CROSS JOIN t_bg
WHERE c12 >= {PMI_MIN_COUNT}
""",
    # keep is derived FROM keep_prob (one sigmoid, computed once) so the
    # two can never diverge at the 0.5 boundary.
    "ext_text_quality_score": f"""
WITH feats AS (
  SELECT doc_id,
         len(list_filter({SQL_TOKENS},
             x -> list_contains(['the','and','of','to','in','is','that',
                                 'it','was','for'], x)))::DOUBLE
           / len({SQL_TOKENS}) AS sr,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
           / length(text) AS pr,
         len({SQL_TOKENS}) AS nt
  FROM documents
),
scored AS (
  SELECT doc_id, sr, pr, nt,
         round(1.0 / (1.0 + exp(-({QSCORE_BIAS} + {QSCORE_W_STOP} * sr
                                 + {QSCORE_W_PUNCT} * pr
                                 + {QSCORE_W_LNTOK} * ln(nt::DOUBLE)))), 6)
           AS keep_prob
  FROM feats
)
SELECT doc_id,
       round(sr, 6) AS stop_ratio,
       round(pr, 6) AS punct_ratio,
       nt::BIGINT AS n_tokens,
       keep_prob,
       keep_prob >= 0.5 AS keep
FROM scored
""",
}
